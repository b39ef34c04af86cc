package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.Tables.{spread, t}
import graft.Cols.{md5Long, md5LongSql, r4}
import graft.config.Tuning

/** Corpus search + exact-overlap operators over the documents table —
  * the retrieval half of a curation stack: BM25 keyword ranking (what
  * you run to AUDIT a corpus — "which documents dominate this topic")
  * and exact substring-run detection (the dedup family's sharpest
  * instrument: not "these docs look alike" but "these docs share this
  * literal 16+-token span", the signal used to strip boilerplate and
  * verbatim-copied passages from training data).
  *
  * Both are inverted-index-shaped: one explode, hash-partitioned joins
  * on the term/window key, bounded per-key fan-out. No all-pairs
  * anywhere — q86's candidate volume is bounded by [[Tuning.dfCap]]²
  * per window exactly like q31's posting-list cap.
  */
object Search {
  /** Stored-BM25-index observability counter (the
    * [[Similarity.indexBuilds]] pattern): incremented only when THIS
    * process performs the build — the spec hook proving a second
    * session reuses the artifact instead of rebuilding.
    */
  private[operators] val bm25Builds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Stored-runs-postings twin of [[bm25Builds]] — the spec hook
    * proving [[Search!.serveRuns]]' artifact builds once and replays.
    */
  private[operators] val runsBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** DML observability ([[graft.operators.Bpe.shardAdds]] pattern):
    * segments installed / generations folded per store, incremented
    * only when THIS process performed the install.
    */
  private[operators] val bm25Adds = new java.util.concurrent.atomic.AtomicInteger(0)
  private[operators] val bm25Compactions = new java.util.concurrent.atomic.AtomicInteger(0)
  private[operators] val runsAdds = new java.util.concurrent.atomic.AtomicInteger(0)
  private[operators] val runsCompactions = new java.util.concurrent.atomic.AtomicInteger(0)
}

final class Search(tuning: Tuning) {
  private val nfcOn = tuning.normalizeNfc == 1
  private val toksExpr = Dedup.toksExprOf(nfcOn)
  private val toksSqlDuck = Dedup.toksSqlDuckOf(nfcOn)

  /** BM25 query terms — a fixed audit probe set drawn from the corpus
    * domain vocabulary. A production deployment parameterizes these per
    * audit; the registry pins one set so the oracle can replay it.
    */
  private[operators] val terms = Seq("spark", "window", "hash", "stream")
  private val termsSql = terms.map(w => s"'$w'").mkString("(", ", ", ")")

  /** q85: BM25 ranking (Robertson k1=1.2, b=0.75, Lucene's
    * non-negative idf = ln(1 + (N−df+0.5)/(df+0.5))) of every document
    * against the probe term set; top 20 by score.
    *
    * Shape at scale: corpus stats (N, avgdl) are ONE map-side-combinable
    * aggregate, and the ≤|terms| per-term dfs fold into the same row as
    * a `tk → df` map ([[withTermStats]]) — one 1-row broadcast, no hash
    * relation; the tf table is the only corpus-sized intermediate
    * and it's already filtered to the probe terms AT THE EXPLODE, so the
    * shuffle carries matching (doc, term) rows only — the inverted-index
    * slice, not the corpus. Final top-k is a TakeOrdered, not a sort.
    */
  private val q85 = Q(
    "q85_bm25_search",
    (s, d) => {
      import s.implicits._
      val docs = spread(t(s, d, "documents"))
        .withColumn("toks", expr(toksExpr))
        .select($"doc_id", size($"toks").cast("double").as("dl"), $"toks")
      val stats = docs.agg(
        count(lit(1)).cast("double").as("n_docs"),
        avg($"dl").as("avgdl"))
      val tf = docs
        .select($"doc_id", $"dl", explode($"toks").as("tk"))
        .where($"tk".isin(terms: _*))
        .groupBy($"doc_id", $"dl", $"tk")
        .agg(count(lit(1)).cast("double").as("tf"))
      val dfTerm = tf.groupBy($"tk")
        .agg(countDistinct($"doc_id").cast("double").as("df"))
      bm25TopK(withTermStats(tf, stats, dfTerm), 20)
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, CAST(len($toksSqlDuck) AS DOUBLE) AS dl,
               $toksSqlDuck AS toks
        FROM documents),
      st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM d),
      x AS (SELECT doc_id, dl, unnest(toks) AS tk FROM d),
      tf AS (SELECT doc_id, dl, tk, CAST(count(*) AS DOUBLE) AS tf
             FROM x WHERE tk IN $termsSql
             GROUP BY doc_id, dl, tk),
      dft AS (SELECT tk, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
              FROM tf GROUP BY tk),
      sc AS (SELECT tf.doc_id,
               ln(1 + (st.n_docs - dft.df + 0.5) / (dft.df + 0.5)) * tf.tf * 2.2 /
                 (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl)) AS s
             FROM tf JOIN dft USING (tk) CROSS JOIN st)
      SELECT doc_id, round(sum(s), 4) AS bm25, count(*) AS n_terms
      FROM sc
      GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id
      LIMIT 20"""))

  // ------------------------------------------------------------------
  // The SERVED search face: a stored BM25 inverted index (the q67
  // build-once/serve-many pattern) + `serveBm25` overloads, so search
  // joins the other tiers' ad-hoc serving surfaces instead of staying
  // pinned to the registry's constant probe set. The artifact holds
  //   stats(n_docs, avgdl, n_dl, sum_dl) — 1 row, the corpus-wide
  //                               aggregate + recomposition partials
  //   docs(doc_id, dl)          — every id (the DML id guard's view)
  //   termdf(tk, df, tkb)       — per-term document frequency
  //   postings(doc_id, dl, tf, tk, tkb) — the full inverted index
  // one such layout per LAYER — base, delta segment, generation: the
  // index takes addBm25Docs/ingestBm25Stream DML (writeBm25Layer has
  // the partials story)
  // with both term tables PARTITIONED on tkb = md5Long(tk) % 64: a
  // probe set prunes to its terms' partitions at the SCAN (literal
  // partition predicates), so a served query reads the posting slices
  // it touches, never the corpus — the property that matters when the
  // postings table is 100 TB-corpus-sized. Building costs one corpus
  // pass (the same tf derivation q85 compiles, unfiltered); q85 itself
  // keeps its direct filtered-at-the-explode plan — for a one-shot
  // audit that is strictly cheaper than materializing the index.
  // ------------------------------------------------------------------

  /** Bump when the index derivation changes. v2: the artifact is a
    * DML-able delta store — `stats` carries the recomposition partials
    * (`n_dl`, `sum_dl`) and a `docs(doc_id, dl)` table backs the
    * [[addBm25Docs]] id guard (postings alone can't see a zero-token
    * document). v3: + the `headk` head-term top-K cache (the
    * single-term hot-lookup face).
    */
  private val bm25Version = 3

  /** Head-term cache geometry. A term is HEAD when its posting list
    * exceeds n_docs/[[headDfDivisor]] documents — by pigeonhole at
    * most divisor × avg-distinct-terms-per-doc terms qualify WHATEVER
    * the corpus size, so the cache is bounded at that × [[headK]]
    * rows. [[headK]] caps the k a cache hit can serve; larger asks
    * fall back to the ranked scan.
    */
  private val headDfDivisor = 64L
  private val headK = 256

  /** Term-partition count. 64 dirs: enough that one partition of a
    * 100 TB postings table is ~1.6 TB (splittable further by parquet),
    * few enough that the test-scale artifact stays manageable.
    */
  private val bm25Buckets = 64

  /** Snapshot the root once per instance (spec isolation — the
    * [[Similarity]] rationale).
    */
  @transient private lazy val bm25Root: String = ArtifactLake.indexRoot

  /** `:nfc` only when on — the stored tokens differ under the knob, so
    * the store keys must split; default keys unchanged.
    */
  private val nfcKey = if (nfcOn) ":nfc" else ""

  private[operators] def bm25Path(d: String): String =
    ArtifactLake.keyedPath(bm25Root, "bm25",
      ArtifactLake.sourceKey(d, s"$bm25Version$nfcKey"), bm25Version,
      ArtifactLake.docsFingerprint(d))

  /** Driver-side twin of the write-side `pmod(md5Long(tk), 64)` —
    * the partition-pruning path must compute the same bucket for a
    * collected probe term that the build computed for the stored one.
    */
  private def bucketOf(tk: String): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(tk.getBytes("UTF-8"))
    val hex = md.map("%02x".format(_)).mkString.take(15)
    (new java.math.BigInteger(hex, 16)
      .mod(java.math.BigInteger.valueOf(bm25Buckets))).intValue
  }

  /** The `(doc_id, dl, toks)` view over a `(doc_id, text)` frame — ONE
    * derivation for the corpus build and the DML batch side
    * ([[windowHashes]]' rationale), so layers can never tokenize
    * differently.
    */
  private def bm25DocView(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id").cast("long").as("doc_id"),
        col("text").cast("string").as("text"))
      .withColumn("toks", expr(toksExpr))
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        col("toks"))

  /** Write one BM25 layer — the base artifact and every delta segment
    * share this exact derivation, differing only in input rows:
    *   stats(n_docs, avgdl, n_dl, sum_dl)  — 1 row; n_dl/sum_dl are the
    *     recomposition partials (integral doubles — layer sums are
    *     exact, so [[serveBm25]]'s recomposed corpus stats are
    *     bit-equal to a from-scratch build's)
    *   docs(doc_id, dl)                    — every id (the DML guard's
    *     view; a zero-token doc has no postings row)
    *   postings(doc_id, dl, tf, tk, tkb)   — the inverted index,
    *     PARTITIONED on tkb
    *   termdf(tk, df, tkb)                 — per-term doc counts (a
    *     PARTIAL in a segment — layers are id-disjoint so df adds)
    * `nFiles` bounds a batch-sized segment's file count (None = the
    * corpus build keeps the scan's parallelism).
    */
  private def writeBm25Layer(root: String, docs: DataFrame,
      nFiles: Option[Int]): Unit = {
    val s = docs.sparkSession
    import s.implicits._
    def sized(df: DataFrame): DataFrame =
      nFiles.map(df.repartition(_)).getOrElse(df)
    docs.agg(
        count(lit(1)).cast("double").as("n_docs"),
        avg($"dl").as("avgdl"),
        count($"dl").cast("double").as("n_dl"),
        sum($"dl").as("sum_dl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/stats")
    sized(docs.select($"doc_id", $"dl"))
      .write.mode("overwrite").parquet(s"$root/docs")
    val tf = docs
      .select($"doc_id", $"dl", explode($"toks").as("tk"))
      .groupBy($"doc_id", $"dl", $"tk")
      .agg(count(lit(1)).cast("double").as("tf"))
      .withColumn("tkb", pmod(md5Long($"tk"), lit(bm25Buckets)).cast("int"))
    sized(tf)
      .write.mode("overwrite").partitionBy("tkb").parquet(s"$root/postings")
    // (doc_id, tk) is unique after the groupBy, so df = plain count
    sized(tf.groupBy($"tk")
        .agg(count(lit(1)).cast("double").as("df"))
        .withColumn("tkb", pmod(md5Long($"tk"), lit(bm25Buckets)).cast("int")))
      .write.mode("overwrite").partitionBy("tkb").parquet(s"$root/termdf")
  }

  /** The head-term top-K answer cache: for every term whose posting
    * list exceeds n_docs/[[headDfDivisor]] docs, the top-[[headK]]
    * `(rank, doc_id, bm25)` rows under the EXACT serve arithmetic and
    * the serve's (bm25 desc, doc_id) total order — materialized at
    * build time from the base tables and RE-materialized at compact
    * time against the folded layer set (`layerRoots` = base + the new
    * generation), so a no-unconsumed-adds single-term probe answers
    * from ≤ [[headK]] rows instead of ranking a corpus-proportional
    * posting list (the measured bmhot bound). Validity is positional:
    * the cache lives in the dir of the topmost layer it was computed
    * against (base root, or the generation dir), so the serve can
    * never read a cache whose stats a newer layer has invalidated.
    *
    * Per-term ranking is a bounded mergeable top-K aggregate
    * ([[graft.functions.TopKScored]], the KMinValues pattern): each
    * map task reduces its slice of a term's postings to ≤ [[headK]]
    * entries before the shuffle — never a per-term global sort (a
    * head term's posting list is exactly the thing too big to funnel
    * through one task) and never a corpus-partition Window.
    */
  private def writeHeadCache(s: SparkSession, layerRoots: Seq[String],
      out: String): Unit = {
    import s.implicits._
    // corpus stats, EXACTLY as the serve computes them: one layer
    // reads the stored (n_docs, avgdl) doubles (the base-only fast
    // path); multiple layers recompose from the additive partials
    // (sums over ≤ 2 layer rows — order-independent doubles)
    val (nDocs, avgdl) =
      if (layerRoots.lengthCompare(1) == 0) {
        val st = s.read.parquet(s"${layerRoots.head}/stats").head()
        (st.getAs[Double]("n_docs"), st.getAs[Double]("avgdl"))
      } else {
        val st = ArtifactLake.layerUnion(s, layerRoots, "stats").get
          .agg(sum($"n_docs").as("n_docs"),
            (sum($"sum_dl") / sum($"n_dl")).as("avgdl")).head()
        (st.getAs[Double]("n_docs"), st.getAs[Double]("avgdl"))
      }
    val cutoff = (nDocs / headDfDivisor.toDouble).toLong
    val termdf = {
      val u = ArtifactLake.layerUnion(s, layerRoots, "termdf").get
      if (layerRoots.lengthCompare(1) == 0) u
      else u.groupBy($"tk").agg(sum($"df").as("df"))
    }
    val heads = termdf.where($"df" > cutoff.toDouble).select($"tk", $"df")
    val scored = ArtifactLake.layerUnion(s, layerRoots, "postings").get
      .join(broadcast(heads), Seq("tk"))
      .withColumn("idf",
        log(lit(1.0) + (lit(nDocs) - $"df" + lit(0.5)) / ($"df" + lit(0.5))))
      .withColumn("s",
        $"idf" * $"tf" * lit(2.2) /
          ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / lit(avgdl))))
      // a single-term serve aggregates ONE row per doc: its rounded
      // sum is r4 of this s — cached bm25 is bit-equal by construction
      .select($"tk", $"tkb", $"doc_id", r4($"s").as("bm25"))
    scored
      .groupBy($"tk", $"tkb")
      .agg(graft.functions.TopKScored
        .topKScored($"bm25", $"doc_id", headK).as("top"))
      .select($"tk", $"tkb", posexplode($"top"))
      .select($"tk", $"tkb", ($"pos" + 1).cast("long").as("rank"),
        $"col.doc_id".as("doc_id"), $"col.bm25".as("bm25"))
      .sortWithinPartitions($"tkb", $"tk", $"rank")
      .write.mode("overwrite").partitionBy("tkb").parquet(s"$out/headk")
  }

  private[operators] def ensureBm25Index(s: SparkSession, d: String): Unit = synchronized {
    ArtifactLake.buildOnce(bm25Path(d), Search.bm25Builds) { staging =>
      writeBm25Layer(staging.getAbsolutePath,
        bm25DocView(spread(t(s, d, "documents"))), nFiles = None)
      writeHeadCache(s, Seq(staging.getAbsolutePath),
        staging.getAbsolutePath)
    }
  }

  // ------------------------------------------------------------------
  // BM25 DML: the shard lake's segment recipe ([[Bpe.addShardDocs]])
  // applied to the LAST rebuild-whole search artifact. A new batch's
  // postings/termdf/stats land as one content-keyed delta segment with
  // layer-PARTIAL statistics; serving recomposes exact corpus stats
  // (layers are id-disjoint, so df, n_docs, and Σdl all ADD — integral
  // doubles, exact sums), so a served score after DML is bit-equal to
  // a from-scratch rebuild over corpus ∪ batches. The registered q85
  // never reads the artifact at all (its one-shot plan is cheaper) —
  // oracle bytes can't move under DML by construction.
  // ------------------------------------------------------------------

  /** Append a batch of NEW documents (`doc_id` castable to LONG,
    * `text` STRING) to the stored BM25 index as one delta segment.
    * Returns true iff THIS call installed it. Replays no-op
    * ([[ArtifactLake.dmlAdd]]: an installed content key, or a folded
    * batch whose ids are all still held — also after a vacuum); a
    * different batch claiming indexed ids fails loudly.
    */
  def addBm25Docs(s: SparkSession, d: String, docs: DataFrame): Boolean = synchronized {
    graft.functions.GraftFunctions.ensureRegistered(s)
    ensureBm25Index(s, d)
    ArtifactLake.dmlAddDocs(s, bm25Path(d), docs, "addBm25Docs",
      tuning.storeMaxSegments, Search.bm25Adds)(
      (b, root) => writeBm25Layer(root, bm25DocView(b.rows), Some(b.files)))(
      () => { compactBm25Index(s, d); () })
  }

  /** Continuous document ingest into the BM25 index — [[addBm25Docs]]
    * attached to any streaming frame with `doc_id`/`text` columns, one
    * delta segment per non-empty micro-batch. Effectively-once: a
    * replayed micro-batch reproduces its content key and no-ops.
    */
  def ingestBm25Stream(d: String, stream: DataFrame, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ArtifactLake.ingest(stream, checkpoint) { batch =>
      addBm25Docs(batch.sparkSession, d,
        batch.select(col("doc_id"), col("text")))
    }

  /** Fold the previous generation and every unconsumed BM25 segment
    * into ONE new generation — postings unioned, per-term df partials
    * summed, stats partials summed — sized to the DML'd docs, never
    * the corpus (the base is immutable and never re-read by a fold)...
    * EXCEPT the head cache, which is re-materialized here against the
    * FULL folded layer set (base + this generation): exact stats are
    * already in hand at a fold, and rebuilding restores the hot
    * single-term path that the first add segment invalidated. The
    * cache lives INSIDE the generation dir, so its validity is
    * positional — a serve reads it only while this generation is the
    * topmost layer.
    */
  def compactBm25Index(s: SparkSession, d: String): Boolean = synchronized {
    import s.implicits._
    ensureBm25Index(s, d)
    val p = bm25Path(d)
    val installed = ArtifactLake.compactStore(p) { (v, out) =>
      val roots = v.overlays.map(_.getAbsolutePath)
      ArtifactLake.layerUnion(s, roots, "postings").foreach(
        _.write.mode("overwrite").partitionBy("tkb").parquet(s"$out/postings"))
      ArtifactLake.layerUnion(s, roots, "termdf").foreach(
        _.groupBy($"tk").agg(sum($"df").as("df"))
          .withColumn("tkb", pmod(md5Long($"tk"), lit(bm25Buckets)).cast("int"))
          .write.mode("overwrite").partitionBy("tkb").parquet(s"$out/termdf"))
      ArtifactLake.layerUnion(s, roots, "stats").foreach(
        _.agg(
            sum($"n_docs").as("n_docs"),
            (sum($"sum_dl") / sum($"n_dl")).as("avgdl"),
            sum($"n_dl").as("n_dl"),
            sum($"sum_dl").as("sum_dl"))
          .coalesce(1).write.mode("overwrite").parquet(s"$out/stats"))
      ArtifactLake.layerUnion(s, roots, "docs").foreach(
        _.write.mode("overwrite").parquet(s"$out/docs"))
      writeHeadCache(s, Seq(p, out), out)
    }
    if (installed) Search.bm25Compactions.incrementAndGet()
    installed
  }

  /** Maintenance-window reclamation for the BM25 store: consumed
    * segments + superseded generations ([[ArtifactLake.vacuumStore]]'s
    * cumulative-fold guarantee). Returns dirs removed.
    */
  def vacuumBm25Index(s: SparkSession, d: String): Int = synchronized {
    ensureBm25Index(s, d)
    ArtifactLake.vacuumStore(bm25Path(d))
  }

  /** Probe sets up to this size collect to the driver for partition
    * pruning (a BM25 query's term set is query-sized by nature);
    * larger sets stay fully distributed via semi-joins.
    */
  private val bm25CollectCap = 4096

  /** Serve a BM25 ranking for an ad-hoc probe-term batch against the
    * STORED index — the same scoring tail as q85 (Robertson k1=1.2,
    * b=0.75, Lucene idf), so serving the registry's pinned term set
    * reproduces q85 bit-for-bit (ServeBm25Spec). Terms are lowercased
    * on entry (the index tokenizes lowercased text).
    *
    * Scale shape: small probe sets (≤ [[bm25CollectCap]]) prune the
    * postings/termdf scans to their md5-bucket partitions with literal
    * predicates — the scan reads only the touched slices; larger sets
    * degrade to distributed semi-joins over the full postings scan.
    * df rides a broadcast hash join on `tk` and stats a one-row
    * broadcast. q85's map lookup ([[withTermStats]]) is not used here:
    * it lost to the join at every probe size timed (8 to 4000 terms),
    * and a served frame's hash relation is freed with the frame. Top-k
    * is a TakeOrdered.
    */
  def serveBm25(s: SparkSession, d: String, terms: Seq[String]): DataFrame =
    serveBm25(s, d, terms, 20)

  def serveBm25(s: SparkSession, d: String, terms: Seq[String],
      k: Int): DataFrame = {
    import s.implicits._
    require(k > 0, s"serveBm25: k must be positive, got $k")
    // driver-side normalization mirroring the DataFrame overload's
    // lower()/non-empty/distinct (UTF8String lowercases non-ASCII via
    // String.toLowerCase — same JVM, same bytes): a query-sized Seq
    // probe launches ZERO normalization jobs, so a cache-hit
    // single-term serve is exactly one job (the pruned headk collect).
    // A probe past the collect cap degrades to the DataFrame path.
    val norm = terms.iterator.filter(_ != null).map(_.toLowerCase)
      .filter(_.nonEmpty).toSeq.distinct
    if (norm.lengthCompare(bm25CollectCap) <= 0)
      serveBm25From(s, d, Some(norm), norm.toDF("tk"), k)
    else serveBm25(s, d, terms.toDF("tk"), k)
  }

  /** DataFrame overload — `termsDf` must carry a string column `tk`.
    *
    * DML composition: with no installed segments the plan is exactly
    * the base-only one (the oracle-parity fast path); after
    * [[addBm25Docs]] the postings union base ∪ generation ∪ unconsumed
    * segments (each layer pruned identically at its scan), per-term df
    * partials SUM (layers are id-disjoint), and corpus stats recompose
    * from the layers' (n_docs, n_dl, Σdl) partials — integral doubles,
    * so the recomposed score is bit-equal to a from-scratch rebuild
    * over corpus ∪ batches (Bm25DmlSpec pins it).
    */
  def serveBm25(s: SparkSession, d: String, termsDf: DataFrame,
      k: Int = 20): DataFrame = {
    import s.implicits._
    require(k > 0, s"serveBm25: k must be positive, got $k")
    val probe = termsDf.select(lower(col("tk")).as("tk"))
      .where($"tk".isNotNull && $"tk" =!= "").distinct()
    val collected = {
      val c = probe.limit(bm25CollectCap + 1).collect().map(_.getString(0))
      if (c.length <= bm25CollectCap) Some(c.toSeq) else None
    }
    serveBm25From(s, d, collected, probe, k)
  }

  /** The shared serving tail: `collected` is the driver-side probe set
    * when it fit the cap (enables partition pruning and the hot path),
    * `probe` the distributed fallback frame for over-cap sets.
    */
  private def serveBm25From(s: SparkSession, d: String,
      collected: Option[Seq[String]], probe: DataFrame,
      k: Int): DataFrame = {
    import s.implicits._
    ensureBm25Index(s, d)
    val p = bm25Path(d)
    val v = ArtifactLake.deltaView(p)
    // the single-term HOT path: a probe for ONE term with k ≤ headK
    // answers from the stored head cache — ≤ headK rows read from one
    // partition dir, corpus-FLAT — when the term is head (cache rows
    // exist); tail terms fall through to the pruned scan, which their
    // short posting lists already serve cheaply. The cache read is
    // POSITIONAL: the base's `headk` is valid only base-only, the
    // generation's `headk` (re-materialized at compact against the
    // folded stats) only while that generation is topmost with no
    // unconsumed adds — so a stale cache is unreachable by
    // construction. One job per cache-hit probe: the ≤ k rows are
    // collected once (emptiness IS the miss signal) and returned as a
    // local relation — no separate existence probe. Cached rank order
    // IS the serve's (bm25 desc, doc_id) total order, and the cached
    // score the serve's exact arithmetic (ServeBm25Spec pins
    // bit-equality against the ranked path, base and post-compact).
    collected match {
      case Some(Seq(term)) if v.adds.isEmpty && k <= headK =>
        val hkRoot = v.gen match {
          case Some(g) => new java.io.File(g, "headk")
          case None => new java.io.File(p, "headk")
        }
        // read ONLY the term's tkb partition dir (driver-side file
        // listing, no parallel-discovery job over 64 dirs); the ≤ k
        // rows sort on the driver — no shuffle, no sampling job
        val part = new java.io.File(hkRoot, s"tkb=${bucketOf(term)}")
        if (ArtifactLake.hasParquet(part)) {
          // explicit schema: parquet inference would cost a footer-
          // reading job of its own — the hot path stays at one job
          val hit = s.read
            .schema("tk STRING, rank BIGINT, doc_id BIGINT, bm25 DOUBLE")
            .parquet(part.getAbsolutePath)
            .where($"tk" === lit(term) && $"rank" <= k)
            .select($"rank", $"doc_id", $"bm25")
            .collect()
          if (hit.nonEmpty)
            return hit.toSeq.sortBy(_.getLong(0))
              .map(r => (r.getLong(1), r.getDouble(2), 1L))
              .toDF("doc_id", "bm25", "n_terms")
        }
      case _ =>
    }
    // one prune, applied at EVERY layer's scan (the literal predicates
    // push through the union to each parquet source)
    def pruned(df: DataFrame): DataFrame = collected match {
      case Some(ts) =>
        val buckets = ts.map(bucketOf).distinct.map(Int.box)
        df.where($"tkb".isin(buckets: _*) && $"tk".isin(ts: _*))
      case None => df.join(probe, Seq("tk"), "left_semi")
    }
    val overlayRoots = v.overlays.map(_.getAbsolutePath)
    val posts = pruned((s.read.parquet(s"$p/postings") +:
        ArtifactLake.layerUnion(s, overlayRoots, "postings").toSeq)
      .reduce(_ unionByName _))
    val (dfT, stats) =
      if (v.baseOnly)
        (pruned(s.read.parquet(s"$p/termdf")).select($"tk", $"df"),
          s.read.parquet(s"$p/stats").select($"n_docs", $"avgdl"))
      else {
        val df = pruned((s.read.parquet(s"$p/termdf") +:
            ArtifactLake.layerUnion(s, overlayRoots, "termdf").toSeq)
          .reduce(_ unionByName _))
          .groupBy($"tk").agg(sum($"df").as("df"))
        val st = ArtifactLake.layerUnion(s, p +: overlayRoots, "stats").get
          .agg(sum($"n_docs").as("n_docs"),
            (sum($"sum_dl") / sum($"n_dl")).as("avgdl"))
        (df, st)
      }
    bm25TopK(posts.join(broadcast(dfT.select($"tk", $"df")), Seq("tk"))
      .crossJoin(broadcast(stats)), k)
  }

  /** `rows` with `n_docs`, `avgdl` and its term's `df`, all from ONE
    * 1-row broadcast: `stats` plus `dfT(tk, df)` folded to a `tk → df`
    * map (every row's term has an entry: both derive from the same
    * postings). A string-keyed broadcast hash join would pin a whole
    * Tungsten page (~16 MiB) for a handful of rows. The lookup scans
    * the map's keys per row and the fold adds a stage, so this is for
    * q85's fixed terms only: on a 50k-doc synthetic store (`local[4]`)
    * it served 0.1 s slower than the join at 8 terms and 3.4× slower
    * at 4000.
    */
  private def withTermStats(rows: DataFrame, stats: DataFrame,
      dfT: DataFrame): DataFrame = {
    val dfMap = dfT.agg(
      map_from_entries(collect_list(struct(col("tk"), col("df")))).as("dfm"))
    rows.crossJoin(broadcast(stats.crossJoin(broadcast(dfMap))))
      .withColumn("df", element_at(col("dfm"), col("tk")))
  }

  /** The BM25 scoring tail of q85 and every served ranking, over
    * `doc_id, dl, tf, df, n_docs, avgdl` rows: top `k` docs by summed
    * score, (bm25 desc, doc_id).
    */
  private def bm25TopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("s",
        col("idf") * col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(r4(sum(col("s"))).as("bm25"), count(lit(1)).as("n_terms"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)

  /** Exact-substring window width in tokens — runs shorter than this
    * are invisible; [[Tuning.runMinTokens]] (≥ this) sets the report
    * threshold.
    */
  private val W = 8

  /** q86: exact shared-substring runs between document pairs — the
    * exact-substring dedup signal (Lee et al. 2021's suffix-array
    * method, re-expressed as a Spark-native inverted-index join): two
    * docs share a literal K-token span iff they share K−W+1 CONSECUTIVE
    * positional W-token windows on one alignment diagonal. Emits, per
    * pair with any run ≥ [[Tuning.runMinTokens]] tokens, the longest
    * run and the total aligned-window count.
    *
    * Plan: positional window hashes (one explode, 60-bit md5 keys so
    * the shuffle carries longs, not strings) → df-capped postings (the
    * q31 boilerplate cap — a window seen in > dfCap docs is dropped,
    * bounding pair volume at dfCap²/2 per window) → hash-partitioned
    * self-join → gaps-and-islands per (pair, diagonal) partition. The
    * island window function partitions by (doc_a, doc_b, diag), whose
    * size is bounded by ONE document's length — never a corpus-scale
    * window partition.
    */
  /** All maximal aligned-window islands between document pairs:
    * `(doc_a, doc_b, diag, len, start_a)` — one row per maximal run of
    * CONSECUTIVE shared positional W-token windows on one alignment
    * diagonal (gaps-and-islands per (pair, diagonal); the island
    * window partition is bounded by ONE document's length). `len` is
    * the WINDOW count — the island spans `len + W − 1` tokens starting
    * at token `start_a` in doc_a and `start_a − diag` in doc_b. The
    * shared spine of q86 (report) and q88 (strip).
    */
  private def runIslands(s: SparkSession, d: String): DataFrame = {
      import s.implicits._
      val pos = spread(t(s, d, "documents"))
        .withColumn("toks", expr(toksExpr))
        .where(size($"toks") >= W)
        .select($"doc_id", posexplode(expr(
          s"transform(sequence(0, size(toks) - $W), i -> concat_ws(' ', slice(toks, i + 1, $W)))"))
          .as(Seq("pos", "win")))
        .select($"doc_id", $"pos".cast("long").as("pos"), md5Long($"win").as("h"))
      val keep = pos.groupBy($"h")
        .agg(countDistinct($"doc_id").as("df"))
        .where($"df" >= 2 && $"df" <= tuning.dfCap)
        .select($"h")
      val p = pos.join(keep, Seq("h"))
      val pairs = p.as("a").join(p.as("b"), $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
        .select(
          $"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
          $"a.pos".as("pa"), ($"a.pos" - $"b.pos").as("diag"))
      pairs
        .withColumn("grp", $"pa" -
          row_number().over(Window.partitionBy($"doc_a", $"doc_b", $"diag").orderBy($"pa")))
        .groupBy($"doc_a", $"doc_b", $"diag", $"grp")
        .agg(count(lit(1)).as("len"), min($"pa").as("start_a"))
  }

  /** The oracle's replay of [[runIslands]], ending in
    * `runs(doc_a, doc_b, diag, len, start_a)`.
    */
  private val islandCtes = s"""tk AS (SELECT doc_id, $toksSqlDuck AS toks FROM documents),
      ix AS (SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks) - ${W - 2}, 1))) AS i
             FROM tk WHERE len(toks) >= $W),
      ph AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
               ${md5LongSql(s"array_to_string(list_slice(toks, i, i + ${W - 1}), ' ')")} AS h
             FROM ix),
      keep AS (SELECT h FROM ph GROUP BY h
               HAVING count(DISTINCT doc_id) BETWEEN 2 AND ${tuning.dfCap}),
      pk AS (SELECT ph.* FROM ph JOIN keep USING (h)),
      pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.pos AS pa, a.pos - b.pos AS diag
             FROM pk a JOIN pk b USING (h)
             WHERE a.doc_id < b.doc_id),
      g AS (SELECT doc_a, doc_b, diag, pa,
              pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
            FROM pr),
      runs AS (SELECT doc_a, doc_b, diag, grp, CAST(count(*) AS BIGINT) AS len,
                      min(pa) AS start_a
               FROM g GROUP BY doc_a, doc_b, diag, grp)"""

  private val q86 = Q(
    "q86_substring_runs",
    (s, d) => {
      import s.implicits._
      runIslands(s, d).groupBy($"doc_a", $"doc_b")
        .agg(
          (max($"len") + lit(W - 1).cast("long")).as("max_run_tokens"),
          sum($"len").as("n_aligned"))
        .where($"max_run_tokens" >= tuning.runMinTokens)
        .orderBy($"doc_a", $"doc_b")
    },
    Some(s"""
      WITH $islandCtes
      SELECT doc_a, doc_b,
             CAST(max(len) + ${W - 1} AS BIGINT) AS max_run_tokens,
             CAST(sum(len) AS BIGINT) AS n_aligned
      FROM runs
      GROUP BY doc_a, doc_b
      HAVING max(len) + ${W - 1} >= ${tuning.runMinTokens}
      ORDER BY doc_a, doc_b"""))

  /** Token positions covered by a reportable shared run, BOTH sides of
    * every qualifying island: `(doc_id, pos)`, distinct. The per-island
    * threshold is the Lee et al. rule — an island of `len` windows
    * spans `len + W − 1` tokens and qualifies when that span ≥
    * [[Tuning.runMinTokens]] (q86's report thresholds per PAIR on the
    * longest run; removal is per ISLAND — every qualifying span is
    * boilerplate wherever it sits).
    */
  private def coveredPositions(s: SparkSession, d: String): DataFrame = {
      import s.implicits._
      val big = runIslands(s, d)
        .where($"len" + lit(W - 1).cast("long") >= tuning.runMinTokens)
      val covA = big.select($"doc_a".as("doc_id"), $"start_a".as("st"), $"len")
      val covB = big.select($"doc_b".as("doc_id"),
        ($"start_a" - $"diag").as("st"), $"len")
      covA.unionAll(covB)
        .select($"doc_id",
          explode(expr(s"sequence(st, st + len + ${W - 2})")).as("pos"))
        .distinct()
  }

  /** BOILERPLATE REMOVAL — the second half of the Lee et al. (2021)
    * exact-substring signal: q86 detects shared literal spans, this
    * STRIPS them. Returns `(doc_id, text)` for the WHOLE corpus:
    * affected documents carry their kept tokens (covered positions
    * removed) re-joined with single spaces; untouched documents keep
    * their original text verbatim. Compose it in front of the q65
    * funnel / lake ingest (CurationPipelineSpec does) — removing the
    * shared spans is also what cuts q38's saturated-corpus candidate
    * mass at the root.
    *
    * Scale shape: the island spine is q86's (df-capped postings, no
    * all-pairs); coverage explodes one row per covered TOKEN of an
    * affected doc (bounded by the affected docs' length, not the
    * corpus); the rebuild groups one doc's tokens — sort_array over a
    * single document's kept tokens, never a cross-doc window.
    */
  def stripRuns(s: SparkSession, d: String): DataFrame = {
      import s.implicits._
      val cov = coveredPositions(s, d)
      val toks = spread(t(s, d, "documents"))
        .select($"doc_id", posexplode(expr(toksExpr)).as(Seq("pos", "tok")))
        .select($"doc_id", $"pos".cast("long").as("pos"), $"tok")
      val strippedText = toks
        .join(cov.select($"doc_id"), Seq("doc_id"), "left_semi")
        .join(cov, Seq("doc_id", "pos"), "left_anti")
        .groupBy($"doc_id")
        .agg(concat_ws(" ", expr(
          "transform(sort_array(collect_list(struct(pos, tok))), x -> x.tok)"))
          .as("stripped"))
      // the affected set is marked EXPLICITLY: a fully-covered document
      // has no kept tokens and therefore no strippedText row, but must
      // come back as the empty string, not its original text
      val affected = cov.select($"doc_id").distinct().withColumn("aff", lit(true))
      t(s, d, "documents").select($"doc_id", $"text")
        .join(affected, Seq("doc_id"), "left")
        .join(strippedText, Seq("doc_id"), "left")
        .select($"doc_id",
          when($"aff", coalesce($"stripped", lit(""))).otherwise($"text")
            .as("text"))
  }

  /** q88: the strip REPORT, oracle-checked — for every document that
    * loses tokens: total tokens, tokens removed, and the md5 of the
    * stripped token sequence, so the oracle pins exactly WHICH
    * positions were cut and what survived (a off-by-one in either
    * side's interval arithmetic hash-mismatches).
    */
  private val q88 = Q(
    "q88_boilerplate_strip",
    (s, d) => {
      import s.implicits._
      val cov = coveredPositions(s, d)
      val toks = spread(t(s, d, "documents"))
        .select($"doc_id", posexplode(expr(toksExpr)).as(Seq("pos", "tok")))
        .select($"doc_id", $"pos".cast("long").as("pos"), $"tok")
      val tot = toks.groupBy($"doc_id").agg(count(lit(1)).as("n_tokens"))
      val rem = cov.groupBy($"doc_id").agg(count(lit(1)).as("n_removed"))
      val kept = toks.join(cov, Seq("doc_id", "pos"), "left_anti")
        .groupBy($"doc_id")
        .agg(md5(concat_ws(" ", expr(
          "transform(sort_array(collect_list(struct(pos, tok))), x -> x.tok)")))
          .as("stripped_hash"))
      rem.join(tot, Seq("doc_id"))
        .join(kept, Seq("doc_id"), "left")
        .select($"doc_id", $"n_tokens", $"n_removed",
          coalesce($"stripped_hash", md5(lit(""))).as("stripped_hash"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH $stripCtes,
      tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
              FROM tp GROUP BY doc_id),
      rem AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
              FROM cov GROUP BY doc_id),
      sh AS (SELECT doc_id,
               md5(array_to_string(list(tok ORDER BY pos), ' ')) AS stripped_hash
             FROM kept GROUP BY doc_id)
      SELECT r.doc_id, t.n_tokens, r.n_removed,
             coalesce(sh.stripped_hash, md5('')) AS stripped_hash
      FROM rem r JOIN tot t USING (doc_id) LEFT JOIN sh USING (doc_id)
      ORDER BY doc_id"""))

  // ------------------------------------------------------------------
  // THE SERVED EXACT-SUBSTRING FACE: a stored positional window-hash
  // postings artifact + `serveRuns`, so a curation pipeline can ask
  // "does this incoming batch share ≥N-token literal spans with the
  // corpus" WITHOUT re-running the corpus-wide self-join (the last
  // tier that had no ad-hoc serving half). The artifact holds
  //   postings(doc_id, pos, h, hb) — every corpus document's
  //   positional W-token window hashes, boilerplate-capped at build
  //   (windows in more than dfCap documents drop, q86's cap; df = 1
  //   windows STAY — a probe matching a rare corpus span is exactly
  //   the signal), PARTITIONED on hb = pmod(h, 64) so a probe batch
  //   prunes the scan to its buckets with literal predicates.
  // Serving derives the batch's window hashes the same way, joins the
  // pruned postings slice, and runs q86's gaps-and-islands per
  // (probe doc, corpus doc, diagonal) — the window partition stays
  // bounded by ONE document's length. On a corpus-replay batch the
  // report IS q86's (ServeRunsSpec pins it; q95 oracle-checks the
  // whole path from the stored bytes). The store takes addRunsDocs /
  // ingestRunsStream DML — one layer layout per base/segment/
  // generation plus a full df table (writeRunsLayer has the
  // effective-cap story).
  // ------------------------------------------------------------------

  /** Bump when the postings derivation changes. v2: the artifact is a
    * DML-able delta store — a `df(h, df, hb)` table stores FULL
    * per-hash doc counts (over-cap hashes included) so serving can
    * recompose the effective df cap after adds, and a `docs(doc_id)`
    * table backs the [[addRunsDocs]] id guard (a short document has no
    * windows). The base `postings` stay cap-filtered — today's q95
    * bytes exactly.
    */
  private val runsVersion = 2

  /** Window-hash partition count (the [[bm25Buckets]] rationale). */
  private val runsBuckets = 64

  /** Keyed on the build-shaping knobs: dfCap bounds which windows are
    * stored.
    */
  private[operators] def runsPath(d: String): String =
    ArtifactLake.keyedPath(bm25Root, "runs",
      ArtifactLake.sourceKey(d, s"$W:${tuning.dfCap}$nfcKey:$runsVersion"),
      runsVersion, ArtifactLake.docsFingerprint(d))

  /** The positional window-hash table `(doc_id, pos, h)` over a
    * `(doc_id/id, text)` view — ONE derivation for the corpus build
    * and the probe side, so the two can never hash differently.
    */
  private def windowHashes(docs: DataFrame, idCol: String): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select(col(idCol).cast("long").as(idCol),
        col("text").cast("string").as("text"))
      .withColumn("toks", expr(toksExpr))
      .where($"toks".isNotNull && size($"toks") >= W)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, size(toks) - $W), i -> concat_ws(' ', slice(toks, i + 1, $W)))"))
        .as(Seq("pos", "win")))
      .select(col(idCol), $"pos".cast("long").as("pos"),
        md5Long($"win").as("h"))
  }

  /** Write one runs layer — base artifact and delta segments share
    * this derivation:
    *   docs(doc_id)          — every id (the DML guard's view)
    *   df(h, df, hb)         — FULL per-hash distinct-doc counts,
    *     over-cap hashes included: cap membership is a corpus-GLOBAL
    *     property later adds can change, so serving must be able to
    *     recompose the effective df (layers are id-disjoint — counts
    *     add) and re-apply the cap
    *   postings(doc_id, pos, h, hb) — positional window hashes;
    *     cap-filtered for the base (`capped` — the dominant storage
    *     win, and a base hash over cap stays over cap forever), RAW
    *     for segments (a segment hash's fate depends on the total df)
    */
  private def writeRunsLayer(root: String, docs: DataFrame,
      capped: Boolean, nFiles: Option[Int]): Unit = {
    val s = docs.sparkSession
    import s.implicits._
    def sized(df: DataFrame): DataFrame =
      nFiles.map(df.repartition(_)).getOrElse(df)
    sized(docs.select(col("doc_id").cast("long").as("doc_id")))
      .write.mode("overwrite").parquet(s"$root/docs")
    val pos = windowHashes(docs, "doc_id")
    val dfAll = pos.groupBy($"h")
      .agg(countDistinct($"doc_id").as("df"))
    sized(dfAll.withColumn("hb", pmod($"h", lit(runsBuckets)).cast("int")))
      .write.mode("overwrite").partitionBy("hb").parquet(s"$root/df")
    val kept =
      if (capped)
        pos.join(dfAll.where($"df" <= tuning.dfCap).select($"h"), Seq("h"))
      else pos
    sized(kept.withColumn("hb", pmod($"h", lit(runsBuckets)).cast("int")))
      .write.mode("overwrite").partitionBy("hb").parquet(s"$root/postings")
  }

  private[operators] def ensureRunsIndex(s: SparkSession, d: String): Unit = synchronized {
    ArtifactLake.buildOnce(runsPath(d), Search.runsBuilds) { staging =>
      writeRunsLayer(staging.getAbsolutePath,
        spread(t(s, d, "documents")).select(col("doc_id"), col("text")),
        capped = true, nFiles = None)
    }
  }

  // ------------------------------------------------------------------
  // RUNS DML: content-keyed delta segments for the positional postings
  // store — the last rebuild-whole artifact gains the shard lake's
  // lifecycle. The subtlety the BM25 store doesn't have: the build-side
  // df cap is corpus-GLOBAL (a window crossing dfCap docs drops from
  // EVERY layer, including base rows written when it was still rare),
  // so segments store raw postings plus df partials and serving
  // re-derives the effective cap on the probe's pruned hash slice —
  // never corpus-wide. Base-only serving keeps the exact pre-DML plan
  // (q95's oracle-pinned bytes).
  // ------------------------------------------------------------------

  /** Append a batch of NEW documents (`doc_id` castable to LONG,
    * `text` STRING) to the stored runs postings as one delta segment.
    * Same contract as [[addBm25Docs]]: content-keyed replay no-op,
    * loud id-conflict failure, true iff THIS call installed.
    */
  def addRunsDocs(s: SparkSession, d: String, docs: DataFrame): Boolean = synchronized {
    graft.functions.GraftFunctions.ensureRegistered(s)
    ensureRunsIndex(s, d)
    ArtifactLake.dmlAddDocs(s, runsPath(d), docs, "addRunsDocs",
      tuning.storeMaxSegments, Search.runsAdds)(
      (b, root) => writeRunsLayer(root, b.rows, capped = false, Some(b.files)))(
      () => { compactRunsIndex(s, d); () })
  }

  /** Continuous document ingest into the runs postings —
    * [[addRunsDocs]] per non-empty micro-batch, effectively-once via
    * the content key.
    */
  def ingestRunsStream(d: String, stream: DataFrame, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ArtifactLake.ingest(stream, checkpoint) { batch =>
      addRunsDocs(batch.sparkSession, d,
        batch.select(col("doc_id"), col("text")))
    }

  /** Fold generation + unconsumed runs segments into one new
    * generation: postings unioned raw, df partials summed per hash,
    * docs unioned — sized to the DML'd docs, never the corpus.
    */
  def compactRunsIndex(s: SparkSession, d: String): Boolean = synchronized {
    import s.implicits._
    ensureRunsIndex(s, d)
    val installed = ArtifactLake.compactStore(runsPath(d)) { (v, out) =>
      val roots = v.overlays.map(_.getAbsolutePath)
      ArtifactLake.layerUnion(s, roots, "postings").foreach(
        _.write.mode("overwrite").partitionBy("hb").parquet(s"$out/postings"))
      ArtifactLake.layerUnion(s, roots, "df").foreach(
        _.groupBy($"h").agg(sum($"df").as("df"))
          .withColumn("hb", pmod($"h", lit(runsBuckets)).cast("int"))
          .write.mode("overwrite").partitionBy("hb").parquet(s"$out/df"))
      ArtifactLake.layerUnion(s, roots, "docs").foreach(
        _.write.mode("overwrite").parquet(s"$out/docs"))
    }
    if (installed) Search.runsCompactions.incrementAndGet()
    installed
  }

  /** Maintenance-window reclamation for the runs store ([[
    * ArtifactLake.vacuumStore]]). Returns dirs removed.
    */
  def vacuumRunsIndex(s: SparkSession, d: String): Int = synchronized {
    ensureRunsIndex(s, d)
    ArtifactLake.vacuumStore(runsPath(d))
  }

  /** Probe batches up to this many DISTINCT window hashes push literal
    * h-predicates into the postings scan; larger batches keep the
    * (always collectible — ≤ 64 values) bucket prune and a semi-join.
    */
  private val runsCollectCap = 4096

  def serveRuns(s: SparkSession, d: String, docs: DataFrame): DataFrame =
    serveRuns(s, d, docs, tuning.runMinTokens)

  /** [[serveRuns]] without the deterministic result sort — for ad-hoc
    * callers feeding a downstream join/filter, where the gate's
    * (probe_id, doc_id) presentation order is a result-sized sort they
    * would pay for nothing.
    */
  def serveRunsUnordered(s: SparkSession, d: String,
      docs: DataFrame): DataFrame =
    serveRunsOf(s, d, docs, tuning.runMinTokens, ordered = false)

  /** Report every corpus document sharing a literal run of ≥
    * `minTokens` tokens with a probe document — `(probe_id, doc_id,
    * max_run_tokens, n_aligned)`, q86's per-pair shape with the probe
    * side directional. `docs` needs `id` (castable to LONG) and `text`
    * STRING; a probe whose id equals a corpus doc_id skips that
    * self-pair (the corpus-replay case — q86 never pairs a doc with
    * itself).
    *
    * Scale shape: the batch's window hashes derive in one explode
    * (batch-sized); the stored postings scan prunes to the probe's
    * hash buckets (literal partition predicates — at most 64 of them)
    * and, for ≤ [[runsCollectCap]]-hash probes, to the literal hashes
    * themselves; the islands window partitions by (probe, corpus doc,
    * diagonal), bounded by one document's length. Nothing corpus-sized
    * is rebuilt, shuffled, or collected.
    */
  def serveRuns(s: SparkSession, d: String, docs: DataFrame,
      minTokens: Int): DataFrame =
    serveRunsOf(s, d, docs, minTokens, ordered = true)

  private def serveRunsOf(s: SparkSession, d: String, docs: DataFrame,
      minTokens: Int, ordered: Boolean): DataFrame = {
    import s.implicits._
    require(minTokens >= W,
      s"serveRuns: minTokens must be >= $W (the window width — shorter runs are unobservable), got $minTokens")
    // ad-hoc batches never pass Tables.t — the engine functions
    // (nfc_normalize under the knob) must resolve here too
    graft.functions.GraftFunctions.ensureRegistered(s)
    ensureRunsIndex(s, d)
    val p = runsPath(d)
    val v = ArtifactLake.deltaView(p)
    val probe = windowHashes(docs, "id")
      .withColumnRenamed("pos", "pa") // the postings side keeps `pos`
      .localCheckpoint(true) // two consumers: the prune collect + join
    val hset = {
      val c = probe.select($"h").distinct()
        .limit(runsCollectCap + 1).collect().map(_.getLong(0))
      if (c.length <= runsCollectCap) Some(c.toSeq) else None
    }
    // the bucket prune is computed ONCE and applied at every layer's
    // scan; ≤ 4096-hash probes add literal h predicates, larger ones a
    // distributed semi-join
    val hbuckets: Seq[Integer] = hset match {
      case Some(hs) =>
        hs.map(h => (((h % runsBuckets) + runsBuckets) % runsBuckets).toInt)
          .distinct.map(Int.box)
      case None =>
        probe.select(pmod($"h", lit(runsBuckets)).cast("int").as("hb"))
          .distinct().as[Int].collect().toSeq.map(Int.box)
    }
    def prunedH(df: DataFrame): DataFrame = hset match {
      case Some(hs) =>
        df.where($"hb".isin(hbuckets: _*) && $"h".isin(hs.map(Long.box): _*))
      case None =>
        df.where($"hb".isin(hbuckets: _*))
          .join(probe.select($"h").distinct(), Seq("h"), "left_semi")
    }
    val basePosts = prunedH(s.read.parquet(s"$p/postings"))
    val posts =
      if (v.baseOnly) basePosts // the exact pre-DML plan — q95's bytes
      else {
        val overlayRoots = v.overlays.map(_.getAbsolutePath)
        val allPosts = (basePosts +:
            ArtifactLake.layerUnion(s, overlayRoots, "postings")
              .map(o => prunedH(o)).toSeq)
          .map(_.select($"doc_id", $"pos", $"h"))
          .reduce(_ unionByName _)
        // effective df over the probe's pruned slice only: layers are
        // id-disjoint so per-hash counts ADD; a hash the combined
        // corpus pushed past dfCap drops from EVERY layer's rows here
        // exactly as a from-scratch rebuild drops it at build
        val alive = (prunedH(s.read.parquet(s"$p/df")) +:
            ArtifactLake.layerUnion(s, overlayRoots, "df").map(o => prunedH(o)).toSeq)
          .map(_.select($"h", $"df"))
          .reduce(_ unionByName _)
          .groupBy($"h").agg(sum($"df").as("df"))
          .where($"df" <= tuning.dfCap)
          .select($"h")
        allPosts.join(alive, Seq("h"), "left_semi")
      }
    val pairs = probe
      .join(posts.select($"doc_id", $"pos", $"h"), Seq("h"))
      .where($"id" =!= $"doc_id")
      .select($"id", $"doc_id", $"pa", ($"pa" - $"pos").as("diag"))
    val report = pairs
      .withColumn("grp", $"pa" - row_number().over(
        Window.partitionBy($"id", $"doc_id", $"diag").orderBy($"pa")))
      .groupBy($"id", $"doc_id", $"diag", $"grp")
      .agg(count(lit(1)).as("len"))
      .groupBy($"id", $"doc_id")
      .agg(
        (max($"len") + lit(W - 1).cast("long")).as("max_run_tokens"),
        sum($"len").as("n_aligned"))
      .where($"max_run_tokens" >= minTokens)
      .select($"id".as("probe_id"), $"doc_id",
        $"max_run_tokens", $"n_aligned")
    if (ordered) report.orderBy($"probe_id", $"doc_id") else report
  }

  /** q95: the served exact-substring face under the gate — a pinned
    * probe batch (a deterministic corpus slice under shifted ids)
    * reported against the STORED postings artifact, while the oracle
    * re-derives every byte from the raw `documents` table: corpus
    * window hashes, the build-side df cap, the probe join, the
    * per-(probe, doc, diagonal) islands, the threshold. A wrong stored
    * posting, a prune that drops a live bucket, or an island slip all
    * hash-mismatch.
    */
  private val q95 = Q(
    "q95_serve_runs",
    (s, d) => {
      import s.implicits._
      val probes = t(s, d, "documents")
        .filter($"doc_id" % 100 === 7)
        .select(($"doc_id" + 900000000L).as("id"), $"text")
      serveRuns(s, d, probes)
    },
    Some(s"""
      WITH tk AS (SELECT doc_id, $toksSqlDuck AS toks FROM documents),
      ix AS (SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks) - ${W - 2}, 1))) AS i
             FROM tk WHERE len(toks) >= $W),
      ph AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
               ${md5LongSql(s"array_to_string(list_slice(toks, i, i + ${W - 1}), ' ')")} AS h
             FROM ix),
      keep AS (SELECT h FROM ph GROUP BY h
               HAVING count(DISTINCT doc_id) <= ${tuning.dfCap}),
      cp AS (SELECT ph.* FROM ph JOIN keep USING (h)),
      probes AS (SELECT doc_id + 900000000 AS id, text FROM documents
                 WHERE doc_id % 100 = 7),
      ptk AS (SELECT id, $toksSqlDuck AS toks FROM probes),
      pix AS (SELECT id, toks,
                unnest(range(1, greatest(len(toks) - ${W - 2}, 1))) AS i
              FROM ptk WHERE len(toks) >= $W),
      pph AS (SELECT id, CAST(i - 1 AS BIGINT) AS pa,
                ${md5LongSql(s"array_to_string(list_slice(toks, i, i + ${W - 1}), ' ')")} AS h
              FROM pix),
      pr AS (SELECT p.id, c.doc_id, p.pa, p.pa - c.pos AS diag
             FROM pph p JOIN cp c USING (h)
             WHERE p.id <> c.doc_id),
      g AS (SELECT id, doc_id, diag, pa,
              pa - row_number() OVER (PARTITION BY id, doc_id, diag ORDER BY pa) AS grp
            FROM pr),
      runs AS (SELECT id, doc_id, diag, grp, CAST(count(*) AS BIGINT) AS len
               FROM g GROUP BY id, doc_id, diag, grp)
      SELECT id AS probe_id, doc_id,
             CAST(max(len) + ${W - 1} AS BIGINT) AS max_run_tokens,
             CAST(sum(len) AS BIGINT) AS n_aligned
      FROM runs
      GROUP BY id, doc_id
      HAVING max(len) + ${W - 1} >= ${tuning.runMinTokens}
      ORDER BY probe_id, doc_id"""))

  /** [[islandCtes]] extended through the strip replay — ends with
    * `cov(doc_id, pos)` (positions covered by a qualifying run),
    * `tp(doc_id, pos, tok)` (every token position) and
    * `kept(doc_id, pos, tok)` (tokens surviving the strip). The shared
    * spine of q88's report oracle and q89's curated-corpus oracle.
    */
  private def stripCtes: String = s"""$islandCtes,
      big AS (SELECT * FROM runs WHERE len + ${W - 1} >= ${tuning.runMinTokens}),
      cov0 AS (SELECT doc_a AS doc_id,
                 unnest(range(start_a, start_a + len + ${W - 1})) AS pos FROM big
               UNION ALL
               SELECT doc_b AS doc_id,
                 unnest(range(start_a - diag, start_a - diag + len + ${W - 1})) AS pos
               FROM big),
      cov AS (SELECT DISTINCT doc_id, pos FROM cov0),
      tp AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS tok
             FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
                   FROM tk)),
      kept AS (SELECT tp.doc_id, tp.pos, tp.tok
               FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos
               WHERE cov.doc_id IS NULL)"""

  /** The oracle-side CURATED corpus, ending in `sdocs(doc_id, text)` —
    * the exact SQL twin of [[stripRuns]]: affected documents carry
    * their kept tokens re-joined with single spaces (the empty string
    * when fully covered), untouched documents their original text
    * verbatim. q89 trains and packs `FROM sdocs` where q82-q87 read
    * `FROM documents`.
    */
  private[operators] def strippedDocsCtes: String = s"""$stripCtes,
      aff AS (SELECT DISTINCT doc_id FROM cov),
      stx AS (SELECT doc_id,
                array_to_string(list(tok ORDER BY pos), ' ') AS stext
              FROM kept GROUP BY doc_id),
      sdocs AS (SELECT d.doc_id,
                  CASE WHEN a.doc_id IS NULL THEN d.text
                       ELSE coalesce(stx.stext, '') END AS text
                FROM documents d
                LEFT JOIN aff a ON d.doc_id = a.doc_id
                LEFT JOIN stx ON d.doc_id = stx.doc_id)"""

  val all: Seq[Q] = Seq(q85, q86, q88, q95)
}
