package graft.operators

import graft.SparkTestBase
import graft.config.Tuning

/** The bulk, DataFrame-native SERVE contract on both stores — the read
  * side of what BulkIngestSpec pins for the write side: a query batch
  * far beyond any sane driver-collect shape (100k synthetic vectors /
  * 20k synthetic documents built with `spark.range`, never
  * materialized on the driver) is served through the stored index with
  * only bounded driver state (the √n·dims codebook and one stats row),
  * and the DataFrame overloads agree exactly with the ad-hoc `Seq`
  * overloads on the same inputs.
  */
class BulkServeSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private val knobs = Tuning(annQueries = 3, lloydIters = 1, nprobe = 2,
    pqCentroids = 8)

  /** The BulkIngestSpec embedding recipe — deterministic per-id,
    * generated on executors (SQL) or the driver (assert probes).
    */
  private def emb(id: Long): Array[Float] = Array.tabulate(64)(i =>
    (1.0 + Math.floorMod(id * 31 + i * 7, 97) / 97.0).toFloat)
  private val embSql =
    "transform(sequence(0, 63), i -> " +
      "cast(1.0 + pmod(q_id * 31 + i * 7, 97) / 97.0 as float)) as embedding"

  test("100k-query DataFrame search serves every query, no driver batch") {
    withTempRoot {
      val sim = new Similarity(knobs)
      val big = spark.range(1000000L, 1100000L).toDF("q_id")
        .selectExpr("q_id", embSql)
      val res = sim.search(spark, sf, big, k = 1, refine = false)
      // k = 1: exactly one neighbor per served query; a query could
      // only go unserved if BOTH its probed cells had no rank-1 member
      // (possible in principle after Lloyd refinement, so the count is
      // asserted as near-total rather than exact)
      val agg = res.selectExpr(
        "count(1) as rows", "count(distinct q_id) as qs",
        "max(rk) as mrk").head()
      assert(agg.getAs[Long]("qs") > 95000L,
        s"expected ~100000 served queries, got ${agg.getAs[Long]("qs")}")
      assert(agg.getAs[Long]("rows") == agg.getAs[Long]("qs"))
      assert(agg.getAs[Long]("mrk") == 1L)
    }
  }

  test("DataFrame search agrees with the Seq overload, refine on and off") {
    withTempRoot {
      val sim = new Similarity(knobs)
      val ids = Seq(2000001L, 2000007L, 2000013L, 2000019L, 2000042L)
      val seqRes = sim.search(spark, sf, ids.map(id => id -> emb(id)),
        k = 3, refine = true).collect()
      val df = spark.createDataFrame(ids.map(Tuple1(_))).toDF("q_id")
        .selectExpr("q_id", embSql)
      val dfRes = sim.search(spark, sf, df, k = 3, refine = true).collect()
      assert(dfRes.length == seqRes.length)
      seqRes.zip(dfRes).foreach { case (a, b) =>
        assert(a.getAs[Long]("q_id") == b.getAs[Long]("q_id"))
        assert(a.getAs[Long]("rk") == b.getAs[Long]("rk"))
        assert(a.getAs[Long]("n_id") == b.getAs[Long]("n_id"),
          s"rank disagrees: $a vs $b")
        assert(math.abs(a.getAs[Double]("cosine") - b.getAs[Double]("cosine")) < 1e-3)
      }
      val seqAdc = sim.search(spark, sf, ids.map(id => id -> emb(id)),
        k = 3, refine = false).collect()
      val dfAdc = sim.search(spark, sf, df, k = 3, refine = false).collect()
      seqAdc.zip(dfAdc).foreach { case (a, b) =>
        assert(a.getAs[Long]("q_id") == b.getAs[Long]("q_id"))
        assert(a.getAs[Long]("n_id") == b.getAs[Long]("n_id"),
          s"ADC rank disagrees: $a vs $b")
        assert(math.abs(a.getAs[Double]("approx_d2") - b.getAs[Double]("approx_d2")) < 1e-3)
      }
      // identity property through the bulk path: a query equal to an
      // ADDED vector recovers it (serve sees installed segments)
      assert(sim.addVectors(spark, sf,
        Seq(3000001L -> emb(3000001L), 3000002L -> emb(3000002L))))
      val idDf = spark.createDataFrame(Seq(Tuple1(4000001L))).toDF("q_id")
        .selectExpr("cast(q_id - 1000000 as bigint) as probe_src", "q_id")
        .selectExpr("q_id",
          "transform(sequence(0, 63), i -> " +
            "cast(1.0 + pmod(probe_src * 31 + i * 7, 97) / 97.0 as float)) as embedding")
      val hit = sim.search(spark, sf, idDf, k = 1, refine = true).collect()
      assert(hit.head.getAs[Long]("n_id") == 3000001L,
        s"bulk serve missed an added vector: ${hit.mkString(", ")}")
    }
  }

  test("20k-document DataFrame near-dup serve runs executor-side and agrees with Seq") {
    withTempRoot {
      val dd = new Dedup(knobs)
      // bulk shape: 20k synthetic probes, no driver materialization
      val big = spark.range(600000L, 620000L).toDF("doc_id").selectExpr(
        "doc_id",
        "concat_ws(' ', transform(sequence(0, 11), " +
          "i -> concat('tok', pmod(doc_id * 13 + i * 5, 211)))) as text")
      val bulk = dd.serveNearDups(spark, sf, big)
      assert(bulk.columns.toSeq == Seq("probe_id", "match_id", "jaccard"))
      bulk.write.mode("overwrite").format("noop").save()

      // agreement: every 10th corpus document replayed as a probe batch
      // (the q72 shape) through BOTH overloads
      import spark.implicits._
      val replayDf = graft.Tables.t(spark, sf, "documents")
        .filter(org.apache.spark.sql.functions.expr("doc_id % 10 = 3"))
        .select($"doc_id", $"text")
      val seqRes = dd.serveNearDups(spark, sf,
        replayDf.as[(Long, String)].collect().toSeq).collect()
      val dfRes = dd.serveNearDups(spark, sf, replayDf).collect()
      assert(dfRes.length == seqRes.length,
        s"row count disagrees: seq ${seqRes.length} vs df ${dfRes.length}")
      seqRes.zip(dfRes).foreach { case (a, b) =>
        assert(a.getAs[Long]("probe_id") == b.getAs[Long]("probe_id"))
        assert(a.getAs[Long]("match_id") == b.getAs[Long]("match_id"))
        assert(a.getAs[Double]("jaccard") == b.getAs[Double]("jaccard"))
      }

      // simhash twin: same replay, both overloads, exact agreement
      val seqSim = dd.serveSimhashMatches(spark, sf,
        replayDf.as[(Long, String)].collect().toSeq).collect()
      val dfSim = dd.serveSimhashMatches(spark, sf, replayDf).collect()
      assert(seqSim.map(_.toSeq).toSeq == dfSim.map(_.toSeq).toSeq)

      // the distributed duplicate-id guard trips like the Seq one
      val dup = spark.range(0L, 2L).toDF("n")
        .selectExpr("cast(700000 as bigint) as doc_id", "'alpha beta gamma' as text")
      val e = intercept[IllegalArgumentException](dd.serveNearDups(spark, sf, dup))
      assert(e.getMessage.contains("duplicate doc_id"))
    }
  }
}
