package graft.operators

import graft.SparkTestBase
import graft.config.Tuning

/** The relational access path to both stores ([[Similarity.liveVectors]]
  * / [[Dedup.liveSignatures]] and their temp-view registrations):
  * fresh-store identity with the corpus, DML visibility (adds appear,
  * removes disappear), and the documented snapshot semantics of a
  * registered view. The oracle gate (q79/q80) checks fresh-store
  * content equality against DuckDB; this spec drives the DML half the
  * oracle can't reach.
  */
class StoreViewSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private val knobs = Tuning(annQueries = 3, lloydIters = 1, nprobe = 2,
    pqCentroids = 8)

  test("liveVectors: fresh store is exactly the corpus — ids and floats") {
    withTempRoot {
      import spark.implicits._
      val sim = new Similarity(knobs)
      val live = sim.liveVectors(spark, sf)
        .as[(Long, Array[Float])].collect().toMap
      val base = graft.Tables.t(spark, sf, "embeddings")
        .select($"vec_id", $"embedding")
        .as[(Long, Array[Float])].collect().toMap
      assert(live.keySet == base.keySet)
      assert(base.forall { case (id, v) => live(id).sameElements(v) })
    }
  }

  test("liveVectors: an added vector appears, a removed one disappears") {
    withTempRoot {
      import spark.implicits._
      val sim = new Similarity(knobs)
      val vec = Array.tabulate(64)(i => if (i == 3) 5f else 0.01f)
      assert(sim.addVectors(spark, sf, Seq(900001L -> vec)))
      val afterAdd = sim.liveVectors(spark, sf)
        .filter($"vec_id" === 900001L)
        .as[(Long, Array[Float])].collect()
      assert(afterAdd.length == 1 && afterAdd.head._2.sameElements(vec))

      assert(sim.removeVectors(spark, sf, Seq(900001L, 7L)))
      val ids = sim.liveVectors(spark, sf)
        .select($"vec_id").as[Long].collect().toSet
      assert(!ids.contains(900001L) && !ids.contains(7L))
      assert(ids.contains(8L), "an untouched corpus id vanished")
    }
  }

  test("registered view is a snapshot; re-registering sees later DML") {
    withTempRoot {
      val sim = new Similarity(knobs)
      sim.registerView(spark, sf, "gv_snap")
      val before = spark.sql("SELECT count(*) FROM gv_snap").head().getLong(0)
      val vec = Array.tabulate(64)(i => if (i == 5) 4f else 0.02f)
      assert(sim.addVectors(spark, sf, Seq(900002L -> vec)))
      // the snapshot keeps serving the registration-time composition
      assert(spark.sql("SELECT count(*) FROM gv_snap").head().getLong(0) == before)
      sim.registerView(spark, sf, "gv_snap")
      assert(spark.sql("SELECT count(*) FROM gv_snap").head().getLong(0) == before + 1)
      spark.catalog.dropTempView("gv_snap")
    }
  }

  test("liveVectors: an id filter pushes down into the parquet scans") {
    // the reason the view is plan composition and not a DataSource
    // façade: Catalyst must keep seeing the scans through the union
    withTempRoot {
      import org.apache.spark.sql.functions.col
      val sim = new Similarity(knobs)
      assert(sim.addVectors(spark, sf,
        Seq(930001L -> Array.tabulate(64)(i => if (i == 1) 2f else 0.03f))))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val plan = sim.liveVectors(spark, sf)
          .filter(col("vec_id") === 930001L)
          .queryExecution.executedPlan.toString
        assert(plan.contains("PushedFilters: [IsNotNull(vec_id), EqualTo(vec_id,930001)]"),
          s"id filter not pushed into the scans:\n$plan")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("liveSignatures: adds appear with a real signature, removes disappear") {
    withTempRoot {
      import spark.implicits._
      val dd = new Dedup(knobs)
      val base = dd.liveSignatures(spark, sf)
      val baseN = base.count()
      assert(baseN > 0)
      assert(dd.addDocs(spark, sf, Seq(800001L -> "alpha beta gamma delta epsilon zeta")))
      val row = dd.liveSignatures(spark, sf)
        .filter($"doc_id" === 800001L).collect()
      assert(row.length == 1)
      assert(dd.removeDocs(spark, sf, Seq(800001L, 3L)))
      val ids = dd.liveSignatures(spark, sf)
        .select($"doc_id").as[Long].collect().toSet
      assert(!ids.contains(800001L) && !ids.contains(3L) && ids.contains(4L))
    }
  }
}
