package graft.operators

import graft.SparkTestBase
import graft.config.Tuning

/** The tombstone contract (FAISS remove_ids() over immutable
  * segments): retired ids disappear from serving, retirement is
  * permanent and monotone, re-removal is a content-key no-op, and the
  * oracle-pinned registered queries never see a tombstone.
  */
class SimilarityRemoveSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private val knobs = Tuning(annQueries = 3, lloydIters = 1, nprobe = 2,
    pqCentroids = 8)

  private def corpus: Map[Long, Array[Float]] = {
    import spark.implicits._
    graft.Tables.t(spark, sf, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toMap
  }

  private def novel(seed: Int): Array[Float] =
    Array.tabulate(64)(i => if (i == seed % 64) 5f else 0.01f)

  test("a removed corpus vector stops being served; others are untouched") {
    withTempRoot {
      val sim = new Similarity(knobs)
      val c = corpus
      // before: identity query resolves to itself
      val pre = sim.search(spark, sf, Seq(1L -> c(7L)), k = 3).collect()
      assert(pre.head.getAs[Long]("n_id") == 7L)

      assert(sim.removeVectors(spark, sf, Seq(7L)), "first remove must install")
      val post = sim.search(spark, sf, Seq(1L -> c(7L)), k = 3).collect()
      assert(post.forall(_.getAs[Long]("n_id") != 7L),
        s"tombstoned id still served: ${post.mkString(", ")}")
      assert(post.nonEmpty, "removal emptied unrelated results")

      // an unrelated identity query is unaffected
      val other = sim.search(spark, sf, Seq(2L -> c(42L)), k = 1).collect()
      assert(other.head.getAs[Long]("n_id") == 42L)
    }
  }

  test("a removed delta-added vector stops being served; re-removal is a no-op") {
    withTempRoot {
      val sim = new Similarity(knobs)
      assert(sim.addVectors(spark, sf, Seq(900050L -> novel(23))))
      assert(sim.search(spark, sf, Seq(1L -> novel(23)), k = 1)
        .collect().head.getAs[Long]("n_id") == 900050L)

      val before = Similarity.indexRemoves.get()
      assert(sim.removeVectors(spark, sf, Seq(900050L)))
      assert(Similarity.indexRemoves.get() == before + 1)
      assert(!sim.removeVectors(spark, sf, Seq(900050L)),
        "duplicate tombstone batch re-installed")
      assert(Similarity.indexRemoves.get() == before + 1)

      val rows = sim.search(spark, sf, Seq(1L -> novel(23)), k = 3).collect()
      assert(rows.forall(_.getAs[Long]("n_id") != 900050L))
    }
  }

  test("retirement is permanent: add rejects a tombstoned id, known or novel") {
    withTempRoot {
      val sim = new Similarity(knobs)
      sim.removeVectors(spark, sf, Seq(7L, 900060L)) // indexed + never-indexed
      val e1 = intercept[IllegalArgumentException] {
        sim.addVectors(spark, sf, Seq(7L -> novel(1)))
      }
      assert(e1.getMessage.contains("already indexed"))
      val e2 = intercept[IllegalArgumentException] {
        sim.addVectors(spark, sf, Seq(900060L -> novel(2)))
      }
      assert(e2.getMessage.contains("already indexed"))
    }
  }

  test("registered oracle-pinned queries stay base-only: q43 is unchanged by a tombstone") {
    withTempRoot {
      val sim = new Similarity(knobs)
      val q43 = sim.all.find(_.name == "q43_ann_ivf").get
      val pre = q43.spark(spark, sf).collect().map(_.toString).sorted
      assert(sim.removeVectors(spark, sf, Seq(7L)))
      val post = q43.spark(spark, sf).collect().map(_.toString).sorted
      assert(pre.sameElements(post),
        "q43 saw a tombstone — the oracle replays the corpus table only")
    }
  }
}
