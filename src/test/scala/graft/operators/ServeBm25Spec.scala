package graft.operators

import graft.SparkTestBase

/** The served search face ([[Search.serveBm25]]): the stored BM25
  * index must reproduce the registry query bit-for-bit, both overloads
  * must agree, the artifact must be built once and reused, and the
  * partition-pruned path must agree with the distributed semi-join
  * fallback.
  */
class ServeBm25Spec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"
  private val search = new Search(graft.config.Tuning.current)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double, Long)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq

  test("serveBm25 on the registry's pinned term set reproduces q85 bit-for-bit") {
    val q85 = new graft.QRegistry(graft.config.Tuning.current)
      .queries("q85_bm25_search")(spark, sf)
    val served = search.serveBm25(spark, sf, search.terms)
    assert(rows(served) == rows(q85))
  }

  test("Seq and DataFrame overloads agree; terms are lowercased on entry") {
    import spark.implicits._
    val viaSeq = search.serveBm25(spark, sf, Seq("spark", "stream"), k = 10)
    val viaDf = search.serveBm25(spark, sf,
      Seq("SPARK", "Stream", "spark", "", null.asInstanceOf[String])
        .toDF("tk"), k = 10)
    assert(rows(viaSeq) == rows(viaDf))
    assert(rows(viaSeq).nonEmpty)
  }

  test("the index is built once and reused across instances") {
    val before = Search.bm25Builds.get()
    search.serveBm25(spark, sf, Seq("spark")).collect()
    val after1 = Search.bm25Builds.get()
    // a SECOND instance must find the
    // on-disk marker and reuse, not rebuild
    val other = new Search(graft.config.Tuning.current)
    other.serveBm25(spark, sf, Seq("window")).collect()
    assert(Search.bm25Builds.get() == after1)
    assert(after1 - before <= 1)
  }

  test("single-term head probes answer from the cache, bit-equal to the ranked path") {
    // the ranked path is forced by appending a matches-nothing filler
    // term: the pruned scan runs, and the real term's scores, order,
    // and n_terms are unchanged by a term with no postings
    for (term <- Seq("spark", "data", "the")) {
      val hot = search.serveBm25(spark, sf, Seq(term), k = 20)
      val ranked = search.serveBm25(spark, sf, Seq(term, "zz_no_such_term"), k = 20)
      assert(rows(hot) == rows(ranked), s"cache diverged for '$term'")
      assert(rows(hot).nonEmpty)
    }
    // an unknown term misses the cache and falls through cleanly
    assert(rows(search.serveBm25(spark, sf, Seq("zzqqx_unknown"), k = 5)).isEmpty)
    // k beyond the cache depth takes the ranked path
    val bigK = search.serveBm25(spark, sf, Seq("spark"), k = 300)
    val bigK2 = search.serveBm25(spark, sf, Seq("spark", "zz_no_such_term"), k = 300)
    assert(rows(bigK) == rows(bigK2))
  }

  /** True iff the frame is a driver-local relation — the signature of
    * a head-cache HIT (the hot path collects the ≤ k cached rows and
    * returns them as a local relation; every fallback path keeps
    * parquet scans in its plan).
    */
  private def isCacheHit(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

  test("a cache-hit single-term probe costs exactly one Spark job") {
    // warm the artifact first so build jobs don't count
    assert(isCacheHit(search.serveBm25(spark, sf, Seq("spark"), k = 5)))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = search.serveBm25(spark, sf, Seq("spark"), k = 5)
      assert(isCacheHit(out))
      assert(out.collect().nonEmpty) // local relation: no further jobs
      // the listener bus is async — wait for the count to stabilize
      val deadline = System.currentTimeMillis + 5000
      var last = -1
      while (System.currentTimeMillis < deadline && jobs.get != last) {
        last = jobs.get; Thread.sleep(200)
      }
      assert(jobs.get == 1,
        s"a cache-hit serve must cost exactly one job, saw ${jobs.get}")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("after DML + compact, single-term probes answer from the generation's rebuilt cache") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{length, lit}
    withTempRoot {
      val dir = suiteTempDir("graft-bm25hk-corpus")
      Seq(
        (0L, "spark window hash stream spark spark"),
        (1L, "window functions over spark streams window"),
        (2L, "unrelated words entirely"),
        (3L, "hash join hash probe side"))
        .toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("web"))
        .withColumn("n_chars", length($"text").cast("long"))
        .write.parquet(s"$dir/documents.parquet")
      val search = new Search(graft.config.Tuning())
      // base-only: the base cache answers
      assert(isCacheHit(search.serveBm25(spark, dir, Seq("spark"), k = 10)))
      // an unconsumed add segment invalidates EVERY cache → ranked path
      assert(search.addBm25Docs(spark, dir,
        Seq((10L, "spark hash window"), (11L, "stream stream spark"))
          .toDF("doc_id", "text")))
      assert(!isCacheHit(search.serveBm25(spark, dir, Seq("spark"), k = 10)),
        "an unconsumed segment must force the ranked path")
      // compact re-materializes the cache against the folded stats —
      // the hot path returns, bit-equal to the ranked path's scores
      assert(search.compactBm25Index(spark, dir))
      val hot = search.serveBm25(spark, dir, Seq("spark"), k = 10)
      assert(isCacheHit(hot),
        "a post-compact probe must answer from the generation's cache")
      val ranked = search.serveBm25(spark, dir,
        Seq("spark", "zz_no_such_term"), k = 10)
      assert(rows(hot) == rows(ranked))
      assert(rows(hot).map(_._1).exists(Set(10L, 11L)),
        "the folded cache must rank the DML'd documents too")
    }
  }

  test("an over-cap probe set takes the distributed path and agrees with the pruned path") {
    import spark.implicits._
    // force the fallback by exceeding the collect cap with filler terms
    // that match nothing; scores must equal the pruned path's
    val filler = (0 until 5000).map(i => s"zz_no_such_term_$i")
    val big = (search.terms ++ filler).toDF("tk")
    val pruned = search.serveBm25(spark, sf, search.terms)
    val fellBack = search.serveBm25(spark, sf, big)
    assert(rows(pruned) == rows(fellBack))
  }
}
