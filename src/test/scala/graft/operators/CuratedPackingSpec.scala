package graft.operators

import graft.SparkTestBase
import graft.config.Tuning

/** The composed Lee et al. pipeline (q89: strip → curated BPE train →
  * pack) beyond the DuckDB hash gate: a full driver-local replay of
  * every stage downstream of the strip (vocabulary collapse,
  * [[Bpe.localMergeLoop]] training, per-word merge application, the
  * doc_id-ordered prefix-sum packing), plus the degenerate-corpus law
  * (no shared runs → q89 ≡ q84 bit-for-bit).
  *
  * The strip stage itself is pinned elsewhere (q88's oracle hashes the
  * surviving token sequence; SearchSpec cross-checks the island spine
  * against a quadratic DP) — here it is taken as input so the replay
  * is independent in everything the composition ADDS.
  */
class CuratedPackingSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"
  private val tuning = Tuning(bpeMerges = 12)
  private val bpe = new Bpe(tuning)
  private val search = new Search(tuning)

  private def q(name: String) = bpe.all.find(_.name == name).get

  /** toksExpr's driver twin: lowercase whitespace words, paren-words
    * dropped (they are outside the BPE vocabulary and count 0 tokens).
    */
  private def words(t: String): Array[String] =
    if (t == null) Array.empty
    else t.toLowerCase(java.util.Locale.ROOT).split("\\s+")
      .filter(w => w.nonEmpty && !w.contains("(") && !w.contains(")"))

  test("q89 equals a driver-local replay of curated train → count → pack") {
    import spark.implicits._
    val stripped = search.stripRuns(spark, sf)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(stripped.nonEmpty)

    val vocab = stripped.iterator.flatMap(d => words(d._2)).toSeq
      .groupBy(identity).map { case (w, g) => (w, g.size.toLong) }.toSeq
    val merges = Bpe.localMergeLoop(vocab, 12)
    assert(merges.nonEmpty)
    val ntOf: Map[String, Long] = vocab.iterator.map(_._1).map { w =>
      var toks = w.toCharArray.map(_.toString)
      merges.foreach { case (_, l, r, m, _) => toks = Bpe.applyMerge(toks, l, r, m) }
      w -> toks.length.toLong
    }.toMap

    var run = 0L
    val binned = stripped.map { case (id, t) =>
      val n = words(t).iterator.map(ntOf).sum
      val bin = run / 512L
      run += n
      (id, n, bin)
    }
    val expected = binned.groupBy(_._3).toSeq.sortBy(_._1).map { case (b, g) =>
      (b, g.length.toLong, g.map(_._2).sum, g.map(_._1).min, g.map(_._1).max)
    }

    val got = q("q89_curated_packing").spark(spark, sf).collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    }.toSeq
    assert(got == expected)
  }

  test("the curated packing differs from the raw packing on a boilerplated corpus") {
    val raw = q("q84_bpe_packing").spark(spark, sf).collect().map(_.toSeq).toSeq
    val cur = q("q89_curated_packing").spark(spark, sf).collect().map(_.toSeq).toSeq
    assert(raw != cur, "sf0.001 carries shared runs — the strip must move the packing")
    // every document still packs exactly once
    val docs = graft.Tables.t(spark, sf, "documents").count()
    assert(cur.map(_(1).asInstanceOf[Long]).sum == docs)
    // bins are contiguous from 0 and their doc_id ranges are ordered
    val bins = cur.map(_(0).asInstanceOf[Long])
    assert(bins == (0L until bins.length.toLong))
    val ranges = cur.map(r => (r(3).asInstanceOf[Long], r(4).asInstanceOf[Long]))
    ranges.sliding(2).foreach {
      case Seq((_, lastA), (firstB, _)) => assert(lastA < firstB)
      case _ =>
    }
  }

  test("on a run-free corpus the curated packing degenerates to q84") {
    import spark.implicits._
    val dir = new java.io.File(suiteTempDir("graft-curated"))
    // globally unique words: no 8-token window repeats, the strip is inert
    (0L until 40L).map { i =>
      (i, (0 until 20).map(j => s"u${i}x$j").mkString(" "), "en", "srcX", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val q84r = q("q84_bpe_packing").spark(spark, dir.getAbsolutePath)
      .collect().map(_.toSeq).toSeq
    val q89r = q("q89_curated_packing").spark(spark, dir.getAbsolutePath)
      .collect().map(_.toSeq).toSeq
    assert(q89r == q84r)
    assert(q84r.nonEmpty)
  }
}
