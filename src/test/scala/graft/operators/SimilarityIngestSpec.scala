package graft.operators

import graft.SparkTestBase
import graft.config.Tuning
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The streaming-DML bridge: micro-batches of vectors flow through
  * [[Similarity.ingestStream]] into content-keyed delta segments, and
  * become searchable as they land — effectively-once via the add()
  * idempotence the batch DML already guarantees.
  */
class SimilarityIngestSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private val knobs = Tuning(annQueries = 3, lloydIters = 1, nprobe = 2,
    pqCentroids = 8)

  private def novel(seed: Int): Array[Float] =
    Array.tabulate(64)(i => if (i == seed % 64) 5f else 0.01f)

  test("streamed vectors land as per-batch segments and are served; a replayed batch is a no-op") {
    withTempRoot {
      withTempDir("graft-ingest") { tmp =>
        import spark.implicits._
        implicit val sqlCtx = spark.sqlContext
        val sim = new Similarity(knobs)
        sim.ensureIndex(spark, sf) // exclude the build from ingest counting

        val mem = MemoryStream[(Long, Array[Float])]
        val ckpt = s"$tmp/ckpt"
        val addsBefore = Similarity.indexAdds.get()
        val q = sim.ingestStream(sf,
          mem.toDF().toDF("vec_id", "embedding"), ckpt)
        try {
          val b1 = Seq(910001L -> novel(31), 910002L -> novel(47))
          val b2 = Seq(910003L -> novel(55))
          mem.addData(b1: _*)
          q.processAllAvailable()
          mem.addData(b2: _*)
          q.processAllAvailable()

          assert(Similarity.indexAdds.get() == addsBefore + 2,
            "each non-empty micro-batch must install exactly one segment")

          // every streamed vector is served: exact identity at rank 1
          val hits = sim.search(spark, sf,
            Seq(1L -> novel(31), 2L -> novel(47), 3L -> novel(55)), k = 1)
            .collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_id"))
            .toMap
          assert(hits == Map(1L -> 910001L, 2L -> 910002L, 3L -> 910003L),
            s"streamed vectors not served: $hits")

          // a replay of batch 1's content (an at-least-once redelivery)
          // reproduces the content key and no-ops instead of conflicting
          assert(!sim.addVectors(spark, sf, b1))
          assert(Similarity.indexAdds.get() == addsBefore + 2)
        } finally q.stop()
      }
    }
  }

  test("an empty micro-batch installs nothing") {
    withTempRoot {
      withTempDir("graft-ingest") { tmp =>
        import spark.implicits._
        implicit val sqlCtx = spark.sqlContext
        val sim = new Similarity(knobs)
        sim.ensureIndex(spark, sf)
        val mem = MemoryStream[(Long, Array[Float])]
        val ckpt = s"$tmp/ckpt"
        val before = Similarity.indexAdds.get()
        val q = sim.ingestStream(sf,
          mem.toDF().toDF("vec_id", "embedding")
            .filter("vec_id < 0"), ckpt) // everything filtered out
        try {
          mem.addData(920001L -> novel(9))
          q.processAllAvailable()
          assert(Similarity.indexAdds.get() == before)
        } finally q.stop()
      }
    }
  }
}
