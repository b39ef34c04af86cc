package graft.operators

import graft.SparkTestBase
import graft.config.Tuning

/** The incremental-add contract (FAISS add() on the trained index):
  * frozen quantizers, content-keyed immutable delta segments, id-
  * disjointness, and serving parity — an added vector is searchable
  * exactly like a built one, while the oracle-pinned registered
  * queries keep reading the base tables that mirror the corpus
  * parquet.
  */
class SimilarityAddSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private val knobs = Tuning(annQueries = 3, lloydIters = 1, nprobe = 2,
    pqCentroids = 8)

  private def corpus: Map[Long, Array[Float]] = {
    import spark.implicits._
    graft.Tables.t(spark, sf, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toMap
  }

  // a direction no uniform-random corpus vector points in: one strong
  // axis, tiny elsewhere — identity cosine 1.0, everything else far
  private def novel(seed: Int): Array[Float] =
    Array.tabulate(64)(i => if (i == seed % 64) 5f else 0.01f)

  test("an added vector is served by search: exact identity at rank 1") {
    withTempRoot {
      val sim = new Similarity(knobs)
      val added = 900001L -> novel(3)
      assert(sim.addVectors(spark, sf, Seq(added)), "first add must install")

      val rows = sim.search(spark, sf, Seq(42L -> added._2), k = 3).collect()
      val top = rows.filter(_.getAs[Long]("rk") == 1L)
      assert(top.length == 1 && top.head.getAs[Long]("n_id") == 900001L,
        s"identity query missed the added vector: ${rows.mkString(", ")}")
      assert(math.abs(top.head.getAs[Double]("cosine") - 1.0) < 1e-9)

      // corpus identity queries still resolve with a delta installed
      val c = corpus
      val base = sim.search(spark, sf, Seq(43L -> c(7L)), k = 1).collect()
      assert(base.head.getAs[Long]("n_id") == 7L,
        "corpus identity regressed after an add")
    }
  }

  test("re-adding the same batch is a no-op; a fresh session serves the segment without re-adding") {
    withTempRoot {
      val sim = new Similarity(knobs)
      val batch = Seq(900010L -> novel(5), 900011L -> novel(17))
      val before = Similarity.indexAdds.get()
      assert(sim.addVectors(spark, sf, batch))
      assert(Similarity.indexAdds.get() == before + 1)
      assert(!sim.addVectors(spark, sf, batch), "duplicate batch re-installed")
      assert(Similarity.indexAdds.get() == before + 1)
      val deltas = new java.io.File(s"${sim.indexPath(sf)}/deltas")
      assert(Option(deltas.listFiles()).toSeq.flatten
        .count(_.getName.startsWith("add-")) == 1)

      // a SECOND session: fresh instance, same knobs — must serve the
      // added vectors off the stored segment, no rebuild, no re-add
      val builds = Similarity.indexBuilds.get()
      val s2 = new Similarity(knobs)
      val rows = s2.search(spark, sf, Seq(1L -> novel(17)), k = 1).collect()
      assert(rows.head.getAs[Long]("n_id") == 900011L,
        "second session does not see the installed segment")
      assert(Similarity.indexBuilds.get() == builds, "second session rebuilt")
      assert(Similarity.indexAdds.get() == before + 1)
    }
  }

  test("ids already indexed are rejected; in-batch duplicates are rejected") {
    withTempRoot {
      val sim = new Similarity(knobs)
      // corpus id 7 is indexed by the base build
      val e1 = intercept[IllegalArgumentException] {
        sim.addVectors(spark, sf, Seq(7L -> novel(1)))
      }
      assert(e1.getMessage.contains("already indexed"))
      // an id added by a previous segment is just as taken
      assert(sim.addVectors(spark, sf, Seq(900020L -> novel(9))))
      val e2 = intercept[IllegalArgumentException] {
        sim.addVectors(spark, sf, Seq(900020L -> novel(2)))
      }
      assert(e2.getMessage.contains("already indexed"))
      val e3 = intercept[IllegalArgumentException] {
        sim.addVectors(spark, sf,
          Seq(900021L -> novel(1), 900021L -> novel(2)))
      }
      assert(e3.getMessage.contains("duplicate vec_id"))
    }
  }

  test("NULL/empty vectors are skipped; an all-skipped batch installs nothing") {
    withTempRoot {
      val sim = new Similarity(knobs)
      val before = Similarity.indexAdds.get()
      assert(!sim.addVectors(spark, sf,
        Seq(900030L -> null, 900031L -> Array.empty[Float])))
      assert(Similarity.indexAdds.get() == before)
    }
  }

  test("registered oracle-pinned queries stay base-only: q43 is unchanged by an add") {
    withTempRoot {
      val sim = new Similarity(knobs)
      val q43 = sim.all.find(_.name == "q43_ann_ivf").get
      val pre = q43.spark(spark, sf).collect().map(_.toString).sorted
      assert(sim.addVectors(spark, sf, Seq(900040L -> novel(11))))
      val post = q43.spark(spark, sf).collect().map(_.toString).sorted
      assert(pre.sameElements(post),
        "q43 saw the delta segment — the oracle replays the corpus table only")
    }
  }
}
