package graft.operators

import graft.SparkTestBase
import graft.config.Tuning

/** The stored vector-index contract (the MediaLake pattern applied to
  * the ANN/PQ tier): built once per (sf dir, index-shaping knobs),
  * installed by staged rename, and REUSED — never rebuilt — by later
  * sessions, which is the build-once/search-many property that
  * separates a vector store from an ANN query.
  */
class IndexLakeSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  // small knobs keep the build cheap; annQueries is search-time-only
  private val knobs = Tuning(annQueries = 3, lloydIters = 1, nprobe = 2,
    pqCentroids = 8)

  private def mtimes(dir: java.io.File): Map[String, Long] = {
    def walk(f: java.io.File): Seq[(String, Long)] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f.getAbsolutePath -> f.lastModified)
    walk(dir).toMap
  }

  test("first search builds once; a second session reuses the artifact without rebuilding") {
    withTempRoot {
      val s1 = new Similarity(knobs)
      val before = Similarity.indexBuilds.get()
      s1.ensureIndex(spark, sf)
      assert(Similarity.indexBuilds.get() == before + 1, "first ensure must build")
      s1.ensureIndex(spark, sf)
      assert(Similarity.indexBuilds.get() == before + 1, "second ensure rebuilt")

      val dir = new java.io.File(s1.indexPath(sf))
      assert(new java.io.File(dir, "_SUCCESS").isFile)
      val stamp = mtimes(dir)

      // a SECOND session: fresh instance — must find the
      // _SUCCESS marker and serve searches off the stored artifact
      val s2 = new Similarity(knobs)
      val q43 = s2.all.find(_.name == "q43_ann_ivf").get
      val rows = q43.spark(spark, sf).collect()
      assert(rows.nonEmpty, "q43 over the stored index returned nothing")
      assert(Similarity.indexBuilds.get() == before + 1,
        "second session rebuilt the index instead of reusing it")
      assert(mtimes(dir) == stamp, "second session rewrote stored index files")
    }
  }

  test("the four index tables have the contracted shapes") {
    withTempRoot {
      val s1 = new Similarity(knobs)
      s1.ensureIndex(spark, sf)
      val p = s1.indexPath(sf)
      val n = graft.Tables.rowCount(spark, sf, "embeddings")

      val assign = spark.read.parquet(s"$p/ivf_assign")
      assert(assign.columns.toSet == Set("vec_id", "cell", "rk"))
      import org.apache.spark.sql.functions._
      val stats = assign.agg(max("rk"), countDistinct("vec_id")).head()
      assert(stats.getInt(0) <= knobs.nprobe, "assignment rk exceeds nprobe")
      assert(stats.getLong(1) == n, "assignment does not cover the corpus")

      val codes = spark.read.parquet(s"$p/pq_codes")
      assert(codes.columns.toSet == Set("n_id", "sub", "cent"))
      assert(codes.select("n_id").distinct().count() == n)

      val cb = spark.read.parquet(s"$p/ivf_codebook")
      assert(cb.columns.toSet == Set("cell", "dim", "cv"))
      val k = math.ceil(math.sqrt(n.toDouble) - 1e-9).toLong
      val stride = math.max(1L, n / k)
      val seeds = (n - 1) / stride + 1
      // Lloyd refinement may only drop emptied cells, never add
      assert(cb.select("cell").distinct().count() <= seeds)

      val pqCb = spark.read.parquet(s"$p/pq_codebook")
      assert(pqCb.columns.toSet == Set("cent", "sub", "sd", "cv"))
      // seeds are the vec_id % (n / pqCentroids) == 0 rows: ⌈n/stride⌉
      val pqStride = math.max(1L, n / knobs.pqCentroids)
      assert(pqCb.select("cent").distinct().count() <= (n - 1) / pqStride + 1)
    }
  }

  test("index-shaping knobs key distinct artifacts; search-time knobs do not") {
    withTempRoot {
      val s1 = new Similarity(knobs)
      assert(new Similarity(knobs.copy(nprobe = 3)).indexPath(sf)
        != s1.indexPath(sf), "nprobe must shape the artifact key")
      assert(new Similarity(knobs.copy(lloydIters = 0)).indexPath(sf)
        != s1.indexPath(sf), "lloydIters must shape the artifact key")
      assert(new Similarity(knobs.copy(annQueries = 100)).indexPath(sf)
        == s1.indexPath(sf), "annQueries is search-time-only")
      assert(new Similarity(knobs.copy(refineFactor = 2)).indexPath(sf)
        == s1.indexPath(sf), "refineFactor is search-time-only")
    }
  }

  test("regenerated corpus data re-keys the artifact (no stale index served)") {
    val s1 = new Similarity(knobs)
    // a fake sf dir whose embeddings table we can mutate
    val dir = new java.io.File(suiteTempDir("graft-fp-spec"))
    val table = new java.io.File(dir, "embeddings.parquet")
    table.mkdirs()
    val part = new java.io.File(table, "part-0.parquet")
    java.nio.file.Files.writeString(part.toPath, "v1-bytes")
    val p1 = s1.indexPath(dir.getAbsolutePath)
    // same listing → same key
    assert(s1.indexPath(dir.getAbsolutePath) == p1)
    // changed content (length/mtime) → different key
    java.nio.file.Files.writeString(part.toPath, "v2-bytes-longer")
    part.setLastModified(part.lastModified() + 5000)
    assert(s1.indexPath(dir.getAbsolutePath) != p1,
      "data change did not re-key the stored index")
  }

  test("the stored codebook re-assigns vectors to their stored cells (out-of-corpus entry)") {
    withTempRoot {
      val s1 = new Similarity(knobs)
      val cb = s1.loadIvfCodebook(spark, sf)
      assert(cb.nonEmpty)
      // assigning through the READ codebook must agree with the stored
      // assignment table — the consistency an out-of-corpus query relies on
      val fresh = s1.assignCells(spark, sf, cb, nProbe = 1)
        .filter("rk = 1").select("vec_id", "cell")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val stored = spark.read.parquet(s"${s1.indexPath(sf)}/ivf_assign")
        .filter("rk = 1").select("vec_id", "cell")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fresh == stored, "stored codebook and stored assignment disagree")
    }
  }

  test("a crashed writer's leftovers (dir without _SUCCESS) are healed") {
    withTempRoot {
      val s1 = new Similarity(knobs)
      val target = new java.io.File(s1.indexPath(sf))
      target.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(target, "garbage").toPath, "not an index")
      val before = Similarity.indexBuilds.get()
      s1.ensureIndex(spark, sf)
      assert(Similarity.indexBuilds.get() == before + 1)
      assert(new java.io.File(target, "_SUCCESS").isFile)
      assert(!new java.io.File(target, "garbage").exists(),
        "crashed leftovers survived the heal")
    }
  }

  test("searches scan the stored index parquet, not a mid-query rebuild") {
    withTempRoot {
      val s1 = new Similarity(knobs)
      val key = new java.io.File(s1.indexPath(sf)).getName
      for (q <- Seq("q44_ann_ivf_multiprobe", "q48_pq_adc_topk",
          "q49_ivf_pq_search")) {
        val df = s1.all.find(_.name == q).get.spark(spark, sf)
        assert(df.inputFiles.exists(_.contains(key)),
          s"$q does not scan the stored index: ${df.inputFiles.toSeq}")
      }
    }
  }

  test("q48 drops a stored code whose centroid the codebook lost (stale index)") {
    withTempRoot {
      import spark.implicits._
      val s1 = new Similarity(knobs)
      def q48(sim: Similarity) =
        sim.all.find(_.name == "q48_pq_adc_topk").get.spark(spark, sf)
          .select($"q_id", $"n_id").as[(Long, Long)].collect()
      val fresh = q48(s1)
      val victim = fresh.head._2
      // stale the stored codes in place: every code row of the victim
      // names a centroid absent from the stored codebook
      val p = s"${s1.indexPath(sf)}/pq_codes"
      val codes = spark.read.parquet(p).select($"n_id", $"sub", $"cent")
        .as[(Long, Int, Long)].collect()
      assert(codes.exists(_._1 == victim))
      codes.toSeq.map { case (n, sb, c) => (n, sb, if (n == victim) -1L else c) }
        .toDF("n_id", "sub", "cent").coalesce(1)
        .write.mode("overwrite").parquet(p)
      // a fresh registry serves the stale artifact without a crash, and
      // the vector with no known code is no longer ranked
      val stale = q48(new Similarity(knobs))
      assert(stale.nonEmpty)
      assert(!stale.exists(_._2 == victim), "a stale code row was ranked")
      assert(stale.map(_._1).toSet == fresh.map(_._1).toSet)
    }
  }
}
