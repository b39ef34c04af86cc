package graft.operators

import graft.SparkTestBase
import graft.config.Tuning
import org.apache.spark.sql.Row

/** The footer-only store profile ([[Similarity.storeStats]] /
  * [[Dedup.storeStats]]): its counts must track every DML step AND
  * agree with what the live views actually serve — the whole point of
  * a metadata-only surface is that it never lies about the data.
  */
class StoreStatsSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private val knobs = Tuning(annQueries = 3, lloydIters = 1, nprobe = 2,
    pqCentroids = 8)

  private def m(r: Row): Map[String, Long] =
    r.schema.fieldNames.map(f => f -> r.getAs[Long](f)).toMap

  test("vector store: stats track DML and match the served live view") {
    withTempRoot {
      val sim = new Similarity(knobs)
      val fresh = m(sim.storeStats(spark, sf).head())
      assert(fresh("generation") == -1L && fresh("unconsumed_adds") == 0L &&
        fresh("unconsumed_dels") == 0L && fresh("tombstone_rows") == 0L)
      assert(fresh("live_rows") == fresh("base_rows"))
      assert(fresh("live_rows") == sim.liveVectors(spark, sf).count())

      val vec = Array.tabulate(64)(i => if (i == 9) 3f else 0.05f)
      assert(sim.addVectors(spark, sf, Seq(910001L -> vec)))
      val added = m(sim.storeStats(spark, sf).head())
      assert(added("unconsumed_adds") == 1L && added("segment_rows") == 1L)
      assert(added("live_rows") == fresh("base_rows") + 1)

      assert(sim.removeVectors(spark, sf, Seq(910001L, 7L)))
      val removed = m(sim.storeStats(spark, sf).head())
      assert(removed("unconsumed_dels") == 1L && removed("tombstone_rows") == 2L)
      assert(removed("live_rows") == fresh("base_rows") - 1)
      assert(removed("live_rows") == sim.liveVectors(spark, sf).count())

      assert(sim.compact(spark, sf))
      val folded = m(sim.storeStats(spark, sf).head())
      assert(folded("generation") >= 0L)
      assert(folded("unconsumed_adds") == 0L && folded("unconsumed_dels") == 0L)
      assert(folded("consumed_segments") == 2L)
      // the add/remove pair cancels in the fold; only the base
      // tombstone (id 7) is carried forward
      assert(folded("generation_rows") == 0L && folded("tombstone_rows") == 1L)
      assert(folded("live_rows") == fresh("base_rows") - 1)
      assert(folded("live_rows") == sim.liveVectors(spark, sf).count())
    }
  }

  test("dedup lake: stats track DML and match the served live view") {
    withTempRoot {
      val dd = new Dedup(knobs)
      // a monitoring poll of an UNBUILT lake must not trigger the
      // corpus signing build: it reports gen −1 / zero rows instead
      val before = Dedup.sigBuilds.get()
      val unbuilt = m(dd.storeStats(spark, sf).head())
      assert(Dedup.sigBuilds.get() == before, "storeStats triggered a build")
      assert(unbuilt("generation") == -1L && unbuilt("base_rows") == 0L &&
        unbuilt("live_rows") == 0L)
      val fresh = m { // liveSignatures builds; stats then agree with it
        dd.liveSignatures(spark, sf)
        dd.storeStats(spark, sf).head()
      }
      assert(fresh("generation") == -1L && fresh("tombstone_rows") == 0L)
      assert(fresh("live_rows") == dd.liveSignatures(spark, sf).count())

      assert(dd.addDocs(spark, sf, Seq(820001L -> "one two three four five six seven eight nine")))
      val added = m(dd.storeStats(spark, sf).head())
      assert(added("unconsumed_adds") == 1L && added("segment_rows") == 1L)
      assert(added("live_rows") == fresh("live_rows") + 1)

      assert(dd.removeDocs(spark, sf, Seq(820001L, 3L)))
      val removed = m(dd.storeStats(spark, sf).head())
      assert(removed("unconsumed_dels") == 1L && removed("tombstone_rows") == 2L)
      assert(removed("live_rows") == fresh("live_rows") - 1)
      assert(removed("live_rows") == dd.liveSignatures(spark, sf).count())

      assert(dd.compact(spark, sf))
      val folded = m(dd.storeStats(spark, sf).head())
      assert(folded("generation") >= 0L && folded("unconsumed_adds") == 0L)
      assert(folded("live_rows") == dd.liveSignatures(spark, sf).count())
    }
  }
}
