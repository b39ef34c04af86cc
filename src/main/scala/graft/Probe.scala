package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SyntheticCorpus

/** Synthetic scale ladders past the testdata's sf0.1 ceiling. Each
  * kind points `graft.index.dir` at a fresh per-run root (every probed
  * store build is cold, whatever earlier runs left in the default
  * root), warms the JIT on a throwaway 500-doc corpus, then for each
  * mult m generates a 5000·m-doc corpus and times every cell twice
  * through the `noop` sink: pass 1 of a store's first cell IS the cold
  * build, pass 2 the steady serve. A failed pass records `null`.
  * α = log10(t_b/t_a)/log10(b/a) per adjacent mult step, per pass.
  *
  *  - `scale [--wide] [mult ...]` (default `1 10`): the corpus-bound
  *    registry queries over [[SyntheticCorpus.ensure]] (5000·m docs,
  *    2000·m vectors; m=1 matches sf0.1's corpus). `--wide` sweeps the
  *    whole LLM tier instead.
  *  - `serve [mult ...]` (default `1 10 100 1000`): the serve faces
  *    (runs postings, BM25, corpus LM, dHash) over the rich-vocabulary
  *    [[SyntheticCorpus.ensureText]] corpus (50k-word Zipf lexicon; an
  *    inverted index over the 31-word mix has only stopword lists).
  *
  * Usage: `scripts/run.sh graft.Probe scale|serve ...`. Prints one
  * JSON line on stdout (`scripts/probe_table.py` renders it); verbose
  * timing streams to stderr.
  */
object Probe {

  private val usage = "usage: Probe scale [--wide] [mult ...] | Probe serve [mult ...]"

  /** One timed cell: its JSON key and its frame over a corpus dir. */
  private type Cell = (String, String => DataFrame)

  /** A probe kind: the corpus generator for a doc count, the cells,
    * and the JSON fields that describe the ladder.
    */
  private final case class Ladder(metric: String, fields: String,
      defaultMults: Seq[Int], corpus: Long => String, cells: Seq[Cell])

  // order matters for attribution: a store's build query runs before
  // the queries that serve from it (q69's pass 1 carries the ONE
  // sig-lake build, so q38/q72 measure their own work; q67 before q68;
  // q87's pass 1 is the shard build, so q91 measures pure serving)
  private val scaleQueries = Seq(
    "q69_minhash_index_build",
    "q38_dedup_components",
    "q72_dedup_index_serve",
    "q67_ivf_pq_index_build",
    "q68_vector_store_serve",
    "q58_sequence_packing",
    "q86_substring_runs",
    "q87_pack_shards",
    "q91_serve_tokenize",
    // pass 1 IS the runs postings build; its probe batch is a 1%
    // corpus slice (the FIXED-batch serve ladder is `serve`'s `runs`)
    "q95_serve_runs")

  /** `--wide`: every registered query whose only inputs are the
    * documents/embeddings tables or the media lake derived from them,
    * store builds first so later queries measure their own work.
    */
  private def wideQueries(registry: QRegistry): Seq[String] = {
    val tier = registry.queries.keys.filter { n =>
      val num = n.drop(1).takeWhile(_.isDigit).toInt
      (num >= 30 && num <= 69) || (num >= 72 && num <= 110 &&
        !Set(74, 75, 76).contains(num))
    }.toSeq.sorted
    val builds = Seq("q69_minhash_index_build", "q67_ivf_pq_index_build",
      "q104_media_dhash_build", "q108_sp_unigram_train")
    builds ++ tier.filterNot(builds.contains)
  }

  private def scale(spark: SparkSession, wide: Boolean): Ladder = {
    val registry = new QRegistry(config.Tuning.current)
    val queries = if (wide) wideQueries(registry) else scaleQueries
    Ladder("scale_probe",
      s""""wide":$wide,"docs_per_mult":5000,"vecs_per_mult":2000""",
      Seq(1, 10),
      docs => SyntheticCorpus.ensure(spark, docs, docs * 2 / 5),
      queries.map(q => q.takeWhile(_ != '_') ->
        ((dir: String) => registry.queries(q)(spark, dir))))
  }

  private def serve(spark: SparkSession): Ladder = {
    val lexicon = 50000
    val headTerms = (0L until 8L).map(SyntheticCorpus.synthWord)
    val tailTerms = (lexicon - 9L until lexicon - 1L).map(SyntheticCorpus.synthWord)
    val search = new operators.Search(config.Tuning.current)
    val textOps = new operators.TextOps(config.Tuning.current)
    val mediaDedup = new operators.MediaDedup(config.Tuning.current)

    // a PINNED 32-doc corpus-replay batch under fresh ids (~3.3k
    // distinct window hashes, inside the literal h-prune path)
    def probeBatch(dir: String) = spark.read
      .parquet(s"$dir/documents.parquet")
      .where(col("doc_id") < 32)
      .select((col("doc_id") + 900000000L).as("id"), col("text"))
    // a FIXED 100k-doc frame, past the serve's collect cap, so the
    // n-gram prune takes the distributed semi-join fallback; the
    // serve-side localCheckpoint holds only this probe, so its cells
    // must stay corpus-flat
    lazy val bigProbeDir = SyntheticCorpus.ensureText(spark, 100000L, lexicon)
    def bigProbe = spark.read
      .parquet(s"$bigProbeDir/documents.parquet")
      .select((col("doc_id") + 800000000L).as("id"), col("text"))
    // `n` stored media blobs replayed under fresh ids
    def mediaProbe(dir: String, n: Int, shift: Long) =
      operators.Multimodal.MediaLake.table(spark, dir)
        .where(col("doc_id") < n)
        .select((col("doc_id") + shift).as("doc_id"), col("blob"))

    val cells: Seq[Cell] = Seq(
      "runs" -> (dir => search.serveRuns(spark, dir, probeBatch(dir))),
      // HEAD-rank terms: dense lists, cost grows with their df
      "bmhead" -> (dir => search.serveBm25(spark, dir, headTerms, 20)),
      // one head term: answered from the head-term top-K cache
      "bmhot" -> (dir => search.serveBm25(spark, dir, Seq(headTerms.head), 20)),
      // TAIL-rank terms: sparse lists, the scan reads touched slices
      "bmtail" -> (dir => search.serveBm25(spark, dir, tailTerms, 20)),
      // pass 1 carries the cold corpus-LM build
      "surprisal" -> (dir => textOps.serveSurprisal(spark, dir, probeBatch(dir))),
      "surprisal2" -> (dir => textOps.serveSurprisal(spark, dir, probeBatch(dir), order = 2)),
      "surprisal3" -> (dir => textOps.serveSurprisal(spark, dir, probeBatch(dir), order = 3)),
      "surprisal5" -> (dir => textOps.serveSurprisal(spark, dir, probeBatch(dir), order = 5)),
      "bigsurp3" -> (dir => textOps.serveSurprisal(spark, dir, bigProbe, order = 3)),
      // pass 1 carries media-fixture generation + the dHash lake build
      "bigdhash" -> (dir => mediaDedup.serveDhashMatches(spark, dir,
        mediaProbe(dir, 2000, 800000000L))),
      "dhash" -> (dir => mediaDedup.serveDhashMatches(spark, dir,
        mediaProbe(dir, 32, 900000000L))))
    Ladder("serve_probe", s""""docs_per_mult":5000,"lexicon":$lexicon""",
      Seq(1, 10, 100, 1000),
      docs => SyntheticCorpus.ensureText(spark, docs, lexicon), cells)
  }

  private def num(v: Double, dp: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))

  private def jnum(v: Double): String = if (v.isNaN) "null" else num(v, 2)

  /** The `"queries"` object: per key, `"m<m>":[pass1,pass2]` for each
    * mult, then `"a<a>_<b>":[α1,α2]` for each adjacent step (none for
    * a single mult). NaN times and the α next to them render `null`.
    */
  private[graft] def queriesJson(mults: Seq[Int], keys: Seq[String],
      results: Map[Int, Map[String, Seq[Double]]]): String = {
    val sorted = mults.sorted
    keys.map { q =>
      val per = sorted.map { m =>
        val p = results(m)(q)
        s""""m$m":[${jnum(p(0))},${jnum(p(1))}]"""
      }
      val alphas = sorted.sliding(2).collect { case Seq(a, b) =>
        val scale = math.log10(b.toDouble / a)
        val al = (0 to 1).map { i =>
          val (ta, tb) = (results(a)(q)(i), results(b)(q)(i))
          if (ta > 0 && !ta.isNaN && !tb.isNaN) math.log10(tb / ta) / scale
          else Double.NaN
        }
        s""""a${a}_$b":[${jnum(al(0))},${jnum(al(1))}]"""
      }
      s""""$q":{${(per ++ alphas).mkString(",")}}"""
    }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val kind = args.headOption.getOrElse("")
    val wide = args.contains("--wide")
    require(kind == "scale" || (kind == "serve" && !wide), usage)
    val multArgs = args.drop(1).filterNot(_.startsWith("--")).toSeq.map(_.toInt)
    // fresh store root BEFORE any module is built (each snapshots the
    // prop once per instance)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    sys.props("graft.index.dir") =
      s"${sys.props("java.io.tmpdir")}/graft-$kind-index-$runId"
    val spark = LocalSession(s"graft-$kind-probe", 32)
    val ladder = if (kind == "scale") scale(spark, wide) else serve(spark)
    val mults = if (multArgs.nonEmpty) multArgs else ladder.defaultMults

    // one noop-sink run; a failure is logged and timed as NaN
    def time(label: String, f: => DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { f.write.mode("overwrite").format("noop").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[probe] $label failed: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      if (ok) dt else Double.NaN
    }

    // JIT/codegen warmup on a throwaway corpus (its stores key by size
    // and fingerprint, so they cannot collide with a measured mult)
    val warm = ladder.corpus(500)
    ladder.cells.foreach { case (k, f) => time(s"warmup $k", f(warm)) }
    System.err.println("[probe] warmup done (500 docs)")

    val results = mults.map { m =>
      val docs = 5000L * m
      val g0 = System.nanoTime()
      val dir = ladder.corpus(docs)
      System.err.println(s"[probe] mult $m: $docs docs at $dir " +
        s"(ensure ${num((System.nanoTime() - g0) / 1e9, 1)} s)")
      m -> ladder.cells.map { case (k, f) =>
        val passes = (1 to 2).map(pass => time(s"$k m=$m pass=$pass", f(dir)))
        System.err.println(s"[probe] m=$m ${k.padTo(10, ' ')} " +
          s"pass1 ${num(passes(0), 2)} s  pass2 ${num(passes(1), 2)} s")
        k -> passes
      }.toMap
    }.toMap

    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"[probe] spark.stop failed (ignored): ${e.getMessage}")
    }
    val q = queriesJson(mults, ladder.cells.map(_._1), results)
    println(s"""{"metric":"${ladder.metric}","mults":[${mults.sorted.mkString(",")}],""" +
      s"""${ladder.fields},"queries":$q}""")
    System.out.flush()
  }
}
