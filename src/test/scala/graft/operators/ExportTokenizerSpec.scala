package graft.operators

import graft.SparkTestBase
import graft.config.Tuning
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** The tokenizer interchange export ([[Bpe.exportTokenizer]]):
  * merges.txt must parse back to the stored merge table line for line,
  * vocab.json (through a real JSON parser) to the stored id table
  * entry for entry, replay must reuse the files byte-for-byte, and a
  * deep supplied table must export through the same path.
  */
class ExportTokenizerSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"
  private val tuning = Tuning(bpeMerges = 12)
  private val bpe = new Bpe(tuning)

  private def bytes(p: String, name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p, name))

  test("merges.txt and vocab.json parse back to the stored tables") {
    import spark.implicits._
    val out = bpe.exportTokenizer(spark, sf)
    val p = bpe.ensureShards(spark, sf)

    val lines = new String(bytes(out, "merges.txt"), "UTF-8").split("\n")
    assert(lines.head == "#version: 0.2")
    val rules = lines.tail.map { ln =>
      val i = ln.indexOf(' '); (ln.substring(0, i), ln.substring(i + 1))
    }.toSeq
    val stored = spark.read.parquet(s"$p/merges").orderBy($"rank")
      .select($"l", $"r").as[(String, String)].collect().toSeq
    assert(rules == stored)

    val vocab = new ObjectMapper()
      .readTree(bytes(out, "vocab.json")).fields().asScala
      .map(e => e.getKey -> e.getValue.asInt()).toMap
    val storedVocab = spark.read.parquet(s"$p/vocab")
      .select($"tok", $"tid").as[(String, Int)].collect().toMap
    assert(vocab == storedVocab)
  }

  test("replay reuses the export; a curated export keys separately") {
    val out = bpe.exportTokenizer(spark, sf)
    val m0 = bytes(out, "merges.txt")
    assert(new Bpe(tuning).exportTokenizer(spark, sf) == out)
    assert(bytes(out, "merges.txt").sameElements(m0))
    val cur = bpe.exportTokenizer(spark, sf, curated = true)
    assert(cur != out)
    assert(new java.io.File(cur, "vocab.json").isFile)
  }

  test("a deep supplied table exports through the same path") {
    import spark.implicits._
    val deep = bpe.trainLocalMerges(spark, sf, 1500)
    val out = bpe.exportTokenizerFor(spark, sf, deep)
    val lines = new String(bytes(out, "merges.txt"), "UTF-8").split("\n")
    assert(lines.length == deep.size + 1)
    assert(lines(1) == s"${deep.head._2} ${deep.head._3}")
    // every merged token of a fired rule is in the exported vocab when
    // it survives to a final segmentation; spot-check the vocab parses
    // and covers the single-char alphabet of the corpus
    val vocab = new ObjectMapper()
      .readTree(bytes(out, "vocab.json")).fields().asScala
      .map(_.getKey).toSet
    val p = bpe.ensureShardsFor(spark, sf, deep)
    val storedToks = spark.read.parquet(s"$p/vocab")
      .select($"tok").as[String].collect().toSet
    assert(vocab == storedToks)
  }

  test("escape-off export REFUSES on a paren-bearing corpus; allowLossy and escape mode export") {
    import org.apache.spark.sql.functions.{length, lit}
    import spark.implicits._
    withTempRoot {
      val dir = suiteTempDir("graft-export-guard-corpus")
      Seq((0L, "call f(x) to compute the value"),
          (1L, "a plain second document with ordinary words"))
        .toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("web"))
        .withColumn("n_chars", length($"text").cast("long"))
        .write.parquet(s"$dir/documents.parquet")
      // escape off: f(x) silently dropped from the vocabulary → the
      // GPT-2 interchange files would be lossy → REFUSE, naming the fix
      val off = new Bpe(Tuning(bpeMerges = 6))
      val ex = intercept[IllegalStateException](off.exportTokenizer(spark, dir))
      assert(ex.getMessage.contains("bpeEscape"))
      intercept[IllegalStateException](
        off.exportTokenizerFor(spark, dir, off.trainLocalMerges(spark, dir, 6)))
      // the explicit opt-in exports anyway (warned, lossy)
      val lossy = off.exportTokenizer(spark, dir, allowLossy = true)
      assert(new java.io.File(lossy, "merges.txt").isFile)
      // escape mode needs no opt-in: every word is representable
      val on = new Bpe(Tuning(bpeMerges = 6, bpeEscape = 1))
      val full = on.exportTokenizer(spark, dir)
      assert(new java.io.File(full, "vocab.json").isFile)
      // …and the full export's vocab carries the paren characters
      val vocab = new ObjectMapper()
        .readTree(bytes(full, "vocab.json")).fields().asScala
        .map(_.getKey).toSet
      assert(vocab.contains("(") && vocab.contains(")"))
    }
  }
}
