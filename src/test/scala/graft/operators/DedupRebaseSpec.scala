package graft.operators

import graft.SparkTestBase
import graft.config.Tuning
import org.apache.spark.sql.Row

/** [[Dedup.rebase]] — full compaction into a new base. The contract
  * under test: (1) every serve surface is BIT-IDENTICAL across a
  * rebase (the fold is content-neutral), (2) storeStats shows the
  * generation reset and the base epoch advance, (3) the ROOT tables —
  * what the oracle-pinned q32/q38/q69 read — are untouched, (4) DML
  * and compaction keep working in the new epoch, and (5) vacuum
  * retires the subsumed generations and segments without changing
  * what is served.
  */
class DedupRebaseSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private def m(r: Row): Map[String, Long] =
    r.schema.fieldNames.map(f => f -> r.getAs[Long](f)).toMap

  private val probeText =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa"

  test("rebase folds the store into a new base, serve-identical, root untouched") {
    withTempRoot {
      import spark.implicits._
      val dd = new Dedup(Tuning())
      dd.ensureSigIndex(spark, sf)

      // churn: two adds (one compacted into a gen, one left as a
      // segment), one base-row tombstone, one added-row tombstone
      assert(dd.addDocs(spark, sf, Seq(
        920001L -> probeText, 920002L -> (probeText + " extra"))))
      assert(dd.removeDocs(spark, sf, Seq(3L, 920002L)))
      assert(dd.compact(spark, sf))
      assert(dd.addDocs(spark, sf, Seq(920003L -> (probeText + " more"))))

      val rootBands = new java.io.File(dd.sigPath(sf), "bands")
      val rootBefore = spark.read.parquet(rootBands.getAbsolutePath).count()
      val liveBefore = dd.liveSignatures(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      val serveBefore = dd.serveNearDups(spark, sf, Seq(990001L -> probeText))
        .collect().map(_.toString).toSeq
      val statsBefore = m(dd.storeStats(spark, sf).head())
      assert(statsBefore("generation") >= 0L && statsBefore("base_epoch") == 0L)

      val before = Dedup.sigRebases.get()
      assert(dd.rebase(spark, sf), "rebase should install a base")
      assert(Dedup.sigRebases.get() == before + 1)

      // (1) serve surfaces bit-identical
      assert(dd.liveSignatures(spark, sf)
        .collect().map(_.toString).sorted.toSeq == liveBefore)
      assert(dd.serveNearDups(spark, sf, Seq(990001L -> probeText))
        .collect().map(_.toString).toSeq == serveBefore)

      // (2) generation reset, epoch advanced, layers collapsed
      val stats = m(dd.storeStats(spark, sf).head())
      assert(stats("generation") == -1L, "gen must read as reset")
      assert(stats("base_epoch") == 1L)
      assert(stats("unconsumed_adds") == 0L && stats("unconsumed_dels") == 0L)
      assert(stats("generation_rows") == 0L && stats("tombstone_rows") == 0L)
      assert(stats("live_rows") == statsBefore("live_rows"))
      assert(stats("live_rows") == stats("base_rows"))

      // (3) root tables untouched — the oracle-pinned reads
      assert(spark.read.parquet(rootBands.getAbsolutePath).count() == rootBefore)

      // re-rebase with nothing new is a no-op
      assert(!dd.rebase(spark, sf))

      // (4) the new epoch: DML, auto-gen numbering, a second rebase
      assert(dd.addDocs(spark, sf, Seq(920004L -> (probeText + " newest"))))
      assert(dd.removeDocs(spark, sf, Seq(920001L)))
      val live2 = dd.liveSignatures(spark, sf).select($"doc_id").as[Long]
        .collect().toSet
      assert(live2.contains(920004L) && !live2.contains(920001L)
        && !live2.contains(3L))
      assert(dd.compact(spark, sf))
      val stats2 = m(dd.storeStats(spark, sf).head())
      assert(stats2("generation") > statsBefore("generation"),
        "post-rebase gen numbering must advance past the subsumed one")
      assert(dd.rebase(spark, sf))
      val stats3 = m(dd.storeStats(spark, sf).head())
      assert(stats3("base_epoch") == 2L && stats3("generation") == -1L)
      assert(stats3("live_rows") == stats2("live_rows"))

      // (5) vacuum retires subsumed gens + segments; serving unchanged
      val live3 = dd.liveSignatures(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(dd.vacuum(sf) > 0)
      assert(new java.io.File(dd.sigPath(sf), "gens").listFiles()
        .forall(f => !f.getName.startsWith("gen-")),
        "subsumed generations must be vacuumable")
      assert(dd.liveSignatures(spark, sf)
        .collect().map(_.toString).sorted.toSeq == live3)
    }
  }
}
