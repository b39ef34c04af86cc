package graft.operators

import graft.SparkTestBase
import graft.config.Tuning
import org.apache.spark.sql.Row

/** [[Similarity.rebase]] — full compaction of the vector store into a
  * new base. Same contract as [[DedupRebaseSpec]], plus the store's
  * one structural difference: tombstones retiring CORPUS rows survive
  * the fold (the corpus parquet is external and immutable), while
  * segment/generation dead weight is shed.
  */
class SimilarityRebaseSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private val knobs = Tuning(annQueries = 3, lloydIters = 1, nprobe = 2,
    pqCentroids = 8)

  private def m(r: Row): Map[String, Long] =
    r.schema.fieldNames.map(f => f -> r.getAs[Long](f)).toMap

  private def novel(seed: Int): Array[Float] =
    Array.tabulate(64)(i => if (i == seed % 64) 5f else 0.01f)

  test("rebase: serve-identical, gen reset, corpus tombstones carried, new epoch works") {
    withTempRoot {
      import spark.implicits._
      val sim = new Similarity(knobs)

      // churn: two adds (one folded into a gen), a corpus-row
      // tombstone AND an added-row tombstone, one post-gen segment
      assert(sim.addVectors(spark, sf, Seq(930001L -> novel(3), 930002L -> novel(7))))
      assert(sim.removeVectors(spark, sf, Seq(7L, 930002L)))
      assert(sim.compact(spark, sf))
      assert(sim.addVectors(spark, sf, Seq(930003L -> novel(11))))

      val liveBefore = sim.liveVectors(spark, sf).select($"vec_id").as[Long]
        .collect().sorted.toSeq
      val serveBefore = sim.search(spark, sf, Seq(42L -> novel(3)), k = 3)
        .collect().map(_.toString).toSeq
      val statsBefore = m(sim.storeStats(spark, sf).head())
      assert(statsBefore("generation") >= 0L && statsBefore("base_epoch") == 0L)

      val before = Similarity.indexRebases.get()
      assert(sim.rebase(spark, sf), "rebase should install a base")
      assert(Similarity.indexRebases.get() == before + 1)

      // serve surfaces bit-identical
      assert(sim.liveVectors(spark, sf).select($"vec_id").as[Long]
        .collect().sorted.toSeq == liveBefore)
      assert(sim.search(spark, sf, Seq(42L -> novel(3)), k = 3)
        .collect().map(_.toString).toSeq == serveBefore)

      // gen reset, epoch advanced, segments folded; the CORPUS-row
      // tombstone (id 7) survives — the corpus can't be rewritten
      val stats = m(sim.storeStats(spark, sf).head())
      assert(stats("generation") == -1L && stats("base_epoch") == 1L)
      assert(stats("unconsumed_adds") == 0L && stats("unconsumed_dels") == 0L)
      assert(stats("generation_rows") == 0L)
      assert(stats("tombstone_rows") == 1L, "corpus tombstone must carry")
      assert(stats("live_rows") == statsBefore("live_rows"))
      assert(!sim.liveVectors(spark, sf).select($"vec_id").as[Long]
        .collect().contains(7L))

      // re-rebase with nothing new is a no-op
      assert(!sim.rebase(spark, sf))

      // the new epoch: DML works, compact numbering advances, a
      // second rebase lands, vacuum retires subsumed gens + segments
      assert(sim.addVectors(spark, sf, Seq(930004L -> novel(19))))
      assert(sim.removeVectors(spark, sf, Seq(930001L)))
      assert(sim.compact(spark, sf))
      val stats2 = m(sim.storeStats(spark, sf).head())
      assert(stats2("generation") > statsBefore("generation"))
      assert(sim.rebase(spark, sf))
      val stats3 = m(sim.storeStats(spark, sf).head())
      assert(stats3("base_epoch") == 2L && stats3("generation") == -1L)
      assert(stats3("live_rows") == stats2("live_rows"))
      val live3 = sim.liveVectors(spark, sf).select($"vec_id").as[Long]
        .collect().sorted.toSeq
      assert(live3.contains(930004L) && !live3.contains(930001L))
      assert(sim.vacuum(sf) > 0)
      assert(sim.liveVectors(spark, sf).select($"vec_id").as[Long]
        .collect().sorted.toSeq == live3)
      val top = sim.search(spark, sf, Seq(77L -> novel(19)), k = 1).collect()
      assert(top.head.getAs[Long]("n_id") == 930004L,
        "post-vacuum serve lost the folded vector")
    }
  }
}
