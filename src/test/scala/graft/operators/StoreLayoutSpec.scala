package graft.operators

import graft.SparkTestBase
import graft.config.Tuning

/** The on-disk layout of the segment stores, pinned: a fixed DML script
  * (add → remove → compact → add → rebase, or the subset a store
  * offers; the dHash case also replays a folded batch before and after
  * a vacuum) must leave exactly these directory names under the store
  * root and exactly these `consumed.txt`/`gens.txt` contents. Segment
  * names are content keys and generation/base names hash the consumed
  * set, so the lists pin the whole naming contract: a store written by
  * an older build must keep being served and replayed the same way.
  */
class StoreLayoutSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private val knobs = Tuning(annQueries = 3, lloydIters = 1, nprobe = 2,
    pqCentroids = 8)

  /** Sorted relative names of every directory under `root`. */
  private def dirs(root: String): Seq[String] = {
    val r = new java.io.File(root).toPath
    def walk(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory)
        .flatMap(c => c +: walk(c))
    walk(new java.io.File(root)).map(f => r.relativize(f.toPath).toString).sorted
  }

  /** Every `consumed.txt`/`gens.txt` under `root`, by relative path. */
  private def ledgers(root: String): Map[String, Seq[String]] = {
    val r = new java.io.File(root).toPath
    (dirs(root).map(new java.io.File(root, _)) :+ new java.io.File(root))
      .flatMap(d => Seq("consumed.txt", "gens.txt").map(new java.io.File(d, _)))
      .filter(_.isFile)
      .map(f => r.relativize(f.toPath).toString ->
        java.nio.file.Files.readAllLines(f.toPath).toArray.toSeq.map(_.toString))
      .toMap
  }

  private def novel(seed: Int): Array[Float] =
    Array.tabulate(64)(i => if (i == seed % 64) 5f else 0.01f)

  test("vector store layout after add, remove, compact, add, rebase") {
    withTempRoot {
      val sim = new Similarity(knobs)
      assert(sim.addVectors(spark, sf,
        Seq(910001L -> novel(3), 910002L -> novel(17))))
      assert(sim.removeVectors(spark, sf, Seq(910001L, 7L)))
      assert(sim.compact(spark, sf))
      assert(sim.addVectors(spark, sf, Seq(910010L -> novel(29))))
      assert(sim.rebase(spark, sf))
      val root = sim.indexPath(sf)
      assert(dirs(root) == vectorDirs, dirs(root).mkString("\n", "\n", ""))
      assert(ledgers(root) == vectorLedgers, ledgers(root).toString)
    }
  }

  test("dedup lake layout after add, remove, compact, add, rebase") {
    withTempRoot {
      val dd = new Dedup(knobs)
      assert(dd.addDocs(spark, sf, Seq(
        810001L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        810002L -> "lorem ipsum dolor sit amet consectetur adipiscing elit sed do")))
      assert(dd.removeDocs(spark, sf, Seq(810001L, 3L)))
      assert(dd.compact(spark, sf))
      assert(dd.addDocs(spark, sf,
        Seq(810003L -> "one two three four five six seven eight nine ten")))
      assert(dd.rebase(spark, sf))
      val root = dd.sigPath(sf)
      assert(dirs(root) == dedupDirs, dirs(root).mkString("\n", "\n", ""))
      assert(ledgers(root) == dedupLedgers, ledgers(root).toString)
    }
  }

  test("shard store layout after add, add, compact, add") {
    withTempRoot {
      import spark.implicits._
      val bpe = new Bpe(Tuning(bpeMerges = 8))
      assert(bpe.addShardDocs(spark, sf,
        Seq((940001L, "first appended document")).toDF("doc_id", "text")))
      assert(bpe.addShardDocs(spark, sf,
        Seq((940002L, "second appended document")).toDF("doc_id", "text")))
      assert(bpe.compactShards(spark, sf))
      assert(bpe.addShardDocs(spark, sf,
        Seq((940003L, "third appended document")).toDF("doc_id", "text")))
      val root = bpe.shardsPath(sf)
      assert(dirs(root) == shardDirs, dirs(root).mkString("\n", "\n", ""))
      assert(ledgers(root) == shardLedgers, ledgers(root).toString)
    }
  }

  test("dHash lake layout after add, compact, replay, vacuum, replay, add") {
    withTempRoot {
      withTempDir("graft-layout-corpus") { dir =>
        import spark.implicits._
        import Multimodal.MediaFixtures
        (0L until 8L).toDF("doc_id")
          .withColumn("text", org.apache.spark.sql.functions.lit("doc"))
          .write.parquet(s"$dir/documents.parquet")
        val a = Seq((960001L, MediaFixtures.jpeg(3L)), (960002L, MediaFixtures.png(2L)))
          .toDF("doc_id", "blob")
        assert(MediaDedup.addMedia(spark, dir, a))
        assert(MediaDedup.compactDhash(spark, dir))
        // a replay of the folded batch no-ops, before and after vacuum
        assert(!MediaDedup.addMedia(spark, dir, a))
        assert(MediaDedup.vacuumDhash(spark, dir) == 1)
        assert(!MediaDedup.addMedia(spark, dir, a))
        assert(MediaDedup.addMedia(spark, dir,
          Seq((960003L, MediaFixtures.ppm(4L))).toDF("doc_id", "blob")))
        val root = MediaDedup.ensureDhash(spark, dir)
        assert(dirs(root) == dhashDirs, dirs(root).mkString("\n", "\n", ""))
        assert(ledgers(root) == dhashLedgers, ledgers(root).toString)
      }
    }
  }

  private val vectorDirs = Seq(
    "bases",
    "bases/base-00001-9beaf9e0d4b1",
    "bases/base-00001-9beaf9e0d4b1/ivf_assign",
    "bases/base-00001-9beaf9e0d4b1/pq_res_codes",
    "bases/base-00001-9beaf9e0d4b1/tombstones",
    "bases/base-00001-9beaf9e0d4b1/vectors",
    "deltas",
    "deltas/add-048bd108216a3389208daefff94fe0b5",
    "deltas/add-048bd108216a3389208daefff94fe0b5/ivf_assign",
    "deltas/add-048bd108216a3389208daefff94fe0b5/pq_res_codes",
    "deltas/add-048bd108216a3389208daefff94fe0b5/vectors",
    "deltas/add-50acd9845a95dcdb5fc32cdee603538f",
    "deltas/add-50acd9845a95dcdb5fc32cdee603538f/ivf_assign",
    "deltas/add-50acd9845a95dcdb5fc32cdee603538f/pq_res_codes",
    "deltas/add-50acd9845a95dcdb5fc32cdee603538f/vectors",
    "deltas/del-de7720fa010ac1cc63873440a9988262",
    "deltas/del-de7720fa010ac1cc63873440a9988262/ids",
    "gens",
    "gens/gen-00001-5d979ea62338",
    "gens/gen-00001-5d979ea62338/ivf_assign",
    "gens/gen-00001-5d979ea62338/pq_res_codes",
    "gens/gen-00001-5d979ea62338/tombstones",
    "gens/gen-00001-5d979ea62338/vectors",
    "ivf_assign",
    "ivf_codebook",
    "pq_codebook",
    "pq_codes",
    "pq_res_codebook",
    "pq_res_codes")
  private val vectorLedgers = Map(
    "bases/base-00001-9beaf9e0d4b1/consumed.txt" ->
      Seq("add-048bd108216a3389208daefff94fe0b5", "add-50acd9845a95dcdb5fc32cdee603538f", "del-de7720fa010ac1cc63873440a9988262"),
    "bases/base-00001-9beaf9e0d4b1/gens.txt" ->
      Seq("gen-00001-5d979ea62338"),
    "gens/gen-00001-5d979ea62338/consumed.txt" ->
      Seq("add-048bd108216a3389208daefff94fe0b5", "del-de7720fa010ac1cc63873440a9988262"))
  private val dedupDirs = Seq(
    "band_stats",
    "bands",
    "bases",
    "bases/base-00001-63bf801a4ee5",
    "bases/base-00001-63bf801a4ee5/band_stats",
    "bases/base-00001-63bf801a4ee5/bands",
    "bases/base-00001-63bf801a4ee5/docs",
    "bases/base-00001-63bf801a4ee5/sig",
    "deltas",
    "deltas/add-3ca5081d022e2d2be23026f95cec33c2",
    "deltas/add-3ca5081d022e2d2be23026f95cec33c2/band_stats",
    "deltas/add-3ca5081d022e2d2be23026f95cec33c2/bands",
    "deltas/add-3ca5081d022e2d2be23026f95cec33c2/docs",
    "deltas/add-3ca5081d022e2d2be23026f95cec33c2/sig",
    "deltas/add-a7154eb4704caeeac581f7d0425ab8f6",
    "deltas/add-a7154eb4704caeeac581f7d0425ab8f6/band_stats",
    "deltas/add-a7154eb4704caeeac581f7d0425ab8f6/bands",
    "deltas/add-a7154eb4704caeeac581f7d0425ab8f6/docs",
    "deltas/add-a7154eb4704caeeac581f7d0425ab8f6/sig",
    "deltas/del-89a879f505d82bfca8e5c3b458e3a680",
    "deltas/del-89a879f505d82bfca8e5c3b458e3a680/band_stats",
    "deltas/del-89a879f505d82bfca8e5c3b458e3a680/ids",
    "gens",
    "gens/gen-00001-9a26c6710533",
    "gens/gen-00001-9a26c6710533/band_stats",
    "gens/gen-00001-9a26c6710533/bands",
    "gens/gen-00001-9a26c6710533/docs",
    "gens/gen-00001-9a26c6710533/sig",
    "gens/gen-00001-9a26c6710533/tombstones",
    "sig")
  private val dedupLedgers = Map(
    "bases/base-00001-63bf801a4ee5/consumed.txt" ->
      Seq("add-3ca5081d022e2d2be23026f95cec33c2", "add-a7154eb4704caeeac581f7d0425ab8f6", "del-89a879f505d82bfca8e5c3b458e3a680"),
    "bases/base-00001-63bf801a4ee5/gens.txt" ->
      Seq("gen-00001-9a26c6710533"),
    "gens/gen-00001-9a26c6710533/consumed.txt" ->
      Seq("add-a7154eb4704caeeac581f7d0425ab8f6", "del-89a879f505d82bfca8e5c3b458e3a680"))
  private val shardDirs = Seq(
    "data",
    "data/shard=0",
    "data/shard=1",
    "data/shard=2",
    "data/shard=3",
    "deltas",
    "deltas/add-26d58c1a2fc6164e98068a3ad203ad3c",
    "deltas/add-26d58c1a2fc6164e98068a3ad203ad3c/data",
    "deltas/add-9f8c7364ed2665f6be907908eb7bcc99",
    "deltas/add-9f8c7364ed2665f6be907908eb7bcc99/data",
    "deltas/add-c4cf0d816cb21b939b19dac9037fdb45",
    "deltas/add-c4cf0d816cb21b939b19dac9037fdb45/data",
    "gens",
    "gens/gen-00001-5422289332a2",
    "gens/gen-00001-5422289332a2/data",
    "manifest",
    "merges",
    "vocab")
  private val shardLedgers = Map(
    "gens/gen-00001-5422289332a2/consumed.txt" ->
      Seq("add-26d58c1a2fc6164e98068a3ad203ad3c", "add-9f8c7364ed2665f6be907908eb7bcc99"))
  private val dhashDirs = Seq(
    "band_stats",
    "bands",
    "deltas",
    "deltas/add-e1e2280ae90d60cc1ddf77060c0b9a97",
    "deltas/add-e1e2280ae90d60cc1ddf77060c0b9a97/band_stats",
    "deltas/add-e1e2280ae90d60cc1ddf77060c0b9a97/bands",
    "deltas/add-e1e2280ae90d60cc1ddf77060c0b9a97/docs",
    "deltas/add-e1e2280ae90d60cc1ddf77060c0b9a97/sig",
    "docs",
    "gens",
    "gens/gen-00001-14b4af7bef9c",
    "gens/gen-00001-14b4af7bef9c/band_stats",
    "gens/gen-00001-14b4af7bef9c/bands",
    "gens/gen-00001-14b4af7bef9c/docs",
    "gens/gen-00001-14b4af7bef9c/sig",
    "sig")
  private val dhashLedgers = Map(
    "gens/gen-00001-14b4af7bef9c/consumed.txt" ->
      Seq("add-90d4c3c9e9eb1174e012d931f7bdc121"))
}
