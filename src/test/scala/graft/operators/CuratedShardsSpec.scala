package graft.operators

import graft.SparkTestBase
import graft.config.Tuning
import org.apache.spark.sql.functions._

/** The CURATED training shards ([[Bpe.ensureCuratedShards]], q90)
  * beyond the hash gate: the stored artifact must round-trip against
  * the q89 curated-bin manifest, decode back to the STRIPPED text
  * through its own vocab table, key separately from the raw-shard
  * artifact, replay as a no-op, and degenerate to q87 byte-for-byte
  * on a run-free corpus.
  */
class CuratedShardsSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"
  private val tuning = Tuning(bpeMerges = 12)
  private val bpe = new Bpe(tuning)
  private val search = new Search(tuning)

  private def q(name: String) = bpe.all.find(_.name == name).get

  private lazy val path = bpe.ensureCuratedShards(spark, sf)

  test("curated shard manifest ≡ q89 curated bins") {
    val manifest = spark.read.parquet(s"$path/manifest")
      .orderBy("bin").collect().map(_.toSeq).toSeq
    val q89 = q("q89_curated_packing")
      .spark(spark, sf).collect().map(_.toSeq).toSeq
    assert(manifest == q89)
  }

  test("sequences decode back to the STRIPPED words through the stored vocab") {
    import spark.implicits._
    val vocab = spark.read.parquet(s"$path/vocab").as[(Int, String)]
      .collect().toMap
    val stored = spark.read.parquet(s"$path/data")
      .select($"doc_id", $"token_ids").as[(Long, Seq[Int])]
      .collect().toMap
    val stripped = search.stripRuns(spark, sf)
      .as[(Long, String)].collect()
    // the raw and curated corpora must actually differ here, or the
    // spec proves nothing curated-specific
    val raw = graft.Tables.t(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(stripped.exists { case (id, t) => t != raw(id) })
    stripped.take(50).foreach { case (id, text) =>
      val words =
        if (text == null) Array.empty[String]
        else text.toLowerCase(java.util.Locale.ROOT).split("\\s+")
          .filter(w => w.nonEmpty && !w.contains("(") && !w.contains(")"))
      val decoded = stored(id).map(vocab).mkString
      assert(decoded == words.mkString, s"doc $id")
    }
  }

  test("curated and raw artifacts key separately; replay is a no-op") {
    assert(path != bpe.ensureShards(spark, sf))
    val before = Bpe.shardBuilds.get()
    bpe.ensureCuratedShards(spark, sf)
    assert(Bpe.shardBuilds.get() == before)
    val other = new Bpe(tuning)
    assert(other.ensureCuratedShards(spark, sf) == path)
    assert(Bpe.shardBuilds.get() == before)
  }

  test("on a run-free corpus the curated shards degenerate to q87") {
    import spark.implicits._
    val dir = new java.io.File(suiteTempDir("graft-curshard"))
    (0L until 40L).map { i =>
      (i, (0 until 20).map(j => s"v${i}y$j").mkString(" "), "en", "srcX", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val q87r = q("q87_pack_shards").spark(spark, dir.getAbsolutePath)
      .collect().map(_.toSeq).toSeq
    val q90r = q("q90_curated_shards").spark(spark, dir.getAbsolutePath)
      .collect().map(_.toSeq).toSeq
    assert(q90r == q87r)
    assert(q87r.nonEmpty)
  }
}
