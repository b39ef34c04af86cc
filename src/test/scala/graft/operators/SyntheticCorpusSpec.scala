package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The scale-probe corpus generator's contract: schema-identical to
  * the driver testdata (the probed queries must not be able to tell
  * the inputs apart), deterministic (ArtifactLake reuse depends on
  * it), and carrying the dup/cluster structure the dedup and cosine
  * tiers exercise.
  */
class SyntheticCorpusSpec extends SparkTestBase {

  private lazy val dir = {
    val root = suiteTempDir("graft-synth-spec")
    SyntheticCorpus.ensure(spark, 600, 250, root)
  }

  test("documents/embeddings schema matches the driver testdata") {
    val real = "/root/testdata/sf0.001"
    for (t <- Seq("documents", "embeddings")) {
      val want = spark.read.parquet(s"$real/$t.parquet").schema
        .fields.map(f => (f.name, f.dataType)).toSeq
      val got = spark.read.parquet(s"$dir/$t.parquet").schema
        .fields.map(f => (f.name, f.dataType)).toSeq
      assert(got == want, s"$t schema")
    }
  }

  test("generation is deterministic and the artifact is reused") {
    val d2 = SyntheticCorpus.ensure(spark, 600, 250,
      new java.io.File(dir).getParent)
    assert(d2 == dir) // same key → same installed artifact
    val root2 = suiteTempDir("graft-synth-spec2")
    val d3 = SyntheticCorpus.ensure(spark, 600, 250, root2)
    val a = spark.read.parquet(s"$dir/documents.parquet")
      .orderBy("doc_id").collect().toSeq
    val b = spark.read.parquet(s"$d3/documents.parquet")
      .orderBy("doc_id").collect().toSeq
    assert(a == b) // independent builds byte-agree
  }

  test("documents carry the measured distributions and dup structure") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(docs.count() == 600)
    // n_chars is derived from text; word counts inside 10..100
    assert(docs.filter(col("n_chars") =!= length(col("text"))).count() == 0)
    val wc = docs.select(size(split(col("text"), " ")).as("w"))
      .agg(min("w"), max("w")).head()
    assert(wc.getInt(0) >= 10 && wc.getInt(1) <= 100)
    // exact dups exist (id % 500 == 3 copies id-7)
    val dups = docs.groupBy("text").count().filter(col("count") > 1).count()
    assert(dups >= 1)
    // en is the plurality language, all five present
    val langs = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(langs.keySet == Set("en", "es", "fr", "de", "zh"))
    assert(langs("en") == langs.values.max)
    // near-dup rows share most words with their source row
    import spark.implicits._
    val byId = docs.select("doc_id", "text").as[(Long, String)]
      .collect().toMap
    val nearIds = (0L until 600L).filter(i =>
      i % 37 == 11 && i >= 1 && i % 500 != 3)
    assert(nearIds.nonEmpty)
    nearIds.foreach { i =>
      val a = byId(i).split(" ")
      val b = byId(i - 1).split(" ")
      val same = a.zip(b).count { case (x, y) => x == y }
      assert(a.length == b.length && same >= (a.length * 0.85).toInt,
        s"doc $i should be a near-dup of ${i - 1}")
    }
  }

  test("synthWord is injective — distinct lexicon ranks are distinct words") {
    // the '0' separator contract: no prefix/suffix parse ambiguity can
    // alias two ranks (the pre-v2 bug collapsed part of the lexicon)
    val words = (0L until 200000L).map(SyntheticCorpus.synthWord)
    assert(words.distinct.length == words.length)
    // every word parses back unambiguously: letters, one '0', letters
    assert(words.forall(_.matches("[a-z]{3,7}0[a-z]+")))
  }

  test("embeddings are unit-norm, 64-dim, 10-label clustered, with near-dup pairs") {
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
    assert(embs.count() == 250)
    val dims = embs.select(size(col("embedding")).as("d"))
      .distinct().collect().map(_.getInt(0)).toSeq
    assert(dims == Seq(64))
    val norms = embs.select(
      sqrt(aggregate(col("embedding"), lit(0.0d),
        (acc, x) => acc + x * x)).as("n"))
      .agg(min("n"), max("n")).head()
    assert(math.abs(norms.getDouble(0) - 1.0) < 1e-4)
    assert(math.abs(norms.getDouble(1) - 1.0) < 1e-4)
    assert(embs.select("label").distinct().count() == 10)
    // the injected pair (42 ≡ near-dup of 41) is near-cosine-1
    import spark.implicits._
    val byId = embs.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    val cos = byId(42L).zip(byId(41L)).map { case (x, y) => x * y }.sum
    assert(cos > 0.99, s"cos(41,42)=$cos")
    // two random rows are NOT near-dups (clusters have spread)
    val far = byId(10L).zip(byId(20L)).map { case (x, y) => x * y }.sum
    assert(far < 0.99, s"cos(10,20)=$far")
  }
}
