package graft.operators

import graft.SparkTestBase
import graft.config.Tuning
import org.apache.spark.sql.functions._

/** The [[Tuning.normalizeNfc]] knob's composition contract: with the
  * knob ON, NFC-equal documents (same rendered text, different
  * code-point sequences) fingerprint, tokenize, and shingle
  * IDENTICALLY across every surface — q30's exact dedup, the shared
  * `toksExpr` fragment, and the compiled JVM shingler — while the
  * knob OFF keeps the historical raw-byte behavior bit-unchanged.
  */
class NfcComposeSpec extends SparkTestBase {

  // "café du marché" — composed vs decomposed code points, same glyphs
  private val composed = "caf\u00e9 du march\u00e9 menu"
  private val decomposed = "cafe\u0301 du marche\u0301 menu"

  private lazy val dir: String = {
    import spark.implicits._
    val d = suiteTempDir("graft-nfc-spec")
    Seq(
      (0L, composed, "fr", "web"),
      (1L, decomposed, "fr", "web"),
      (2L, "an unrelated document entirely", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$d/documents.parquet")
    d
  }

  private def q30(t: Tuning) =
    new Dedup(t).all.find(_.name == "q30_dedup_exact").get.spark(spark, dir)

  test("the off-knob fragments are byte-identical to the historical vals") {
    // every shipped oracle interpolates these — a drift here would
    // silently re-key all default hashes
    assert(Dedup.toksExprOf(false) ==
      """filter(split(lower(text), '\\s+'), x -> x != '')""")
    assert(Dedup.toksSqlDuckOf(false) ==
      """list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')""")
    assert(Dedup.toksExpr == Dedup.toksExprOf(false))
    assert(Dedup.toksSqlDuck == Dedup.toksSqlDuckOf(false))
  }

  test("q30 merges NFC-equal docs only under the knob") {
    val off = q30(Tuning()).collect()
    assert(off.length == 3, "raw bytes differ → three fingerprints")
    val on = q30(Tuning(normalizeNfc = 1)).collect()
    assert(on.length == 2, "NFC-equal docs share one fingerprint")
    val merged = on.find(_.getAs[Long]("keeper") == 0L).get
    assert(merged.getAs[Long]("n_copies") == 2L)
  }

  test("toksExpr tokenizes NFC-equal docs identically under the knob") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    def toks(nfc: Boolean): Seq[Seq[String]] =
      Seq(composed, decomposed).toDF("text")
        .select(expr(Dedup.toksExprOf(nfc)))
        .as[Seq[String]].collect().toSeq
    val off = toks(false)
    assert(off(0) != off(1), "raw tokens differ by code-point sequence")
    val on = toks(true)
    assert(on(0) == on(1))
  }

  test("the compiled JVM shingler matches the declarative path under the knob") {
    import spark.implicits._
    // expression-side 3-gram shingles from NFC'd tokens…
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val exprSide = Seq((0L, composed), (1L, decomposed)).toDF("doc_id", "text")
      .select($"doc_id", expr(Dedup.toksExprOf(true)).as("toks"))
      .select($"doc_id", expr(
        """array_distinct(transform(
             sequence(1, greatest(size(toks) - 2, 0)),
             i -> concat_ws(' ', slice(toks, i, 3))))""").as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    // …must equal the mapPartitions shingler's with nfc = true
    val jvmSide = Dedup.shinglePostingsOf(
        Seq((0L, composed), (1L, decomposed)).toDS(), 3, nfc = true)
      .groupBy("doc_id").agg(collect_set($"t").as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(jvmSide(0L).toSet == exprSide(0L).toSet)
    assert(jvmSide(0L).toSet == jvmSide(1L).toSet,
      "NFC-equal docs shingle identically")
    // and with the knob off the two docs shingle differently
    val raw = Dedup.shinglePostingsOf(
        Seq((0L, composed), (1L, decomposed)).toDS(), 3, nfc = false)
      .groupBy("doc_id").agg(collect_set($"t").as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(raw(0L).toSet != raw(1L).toSet)
  }
}
