package graft.operators

import graft.SparkTestBase
import graft.config.Tuning
import org.apache.spark.sql.functions._

/** The GPT-2 pretokenizer knob ([[graft.config.Tuning.bpePretok]]):
  * whitespace words split further at contraction/punctuation
  * boundaries on every BPE surface — `don't` → `don` + `'t`, `word,`
  * shares `word`'s vocabulary entry, `o'clock` is three pretokens
  * (the contraction branches don't cover `'c`) — order-preserving,
  * partitioning (never dropping characters), composing with the
  * delimiter escape, and splitting the artifact keys. The q96/q97
  * gate queries pin the Spark↔DuckDB regex-dialect agreement; this
  * spec pins the intended SEMANTICS.
  */
class BpePretokSpec extends SparkTestBase {

  private def writeCorpus(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val d = suiteTempDir("graft-pretok-corpus")
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$d/documents.parquet")
    d
  }

  private def tokensOf(bpe: Bpe, text: String): Seq[String] = {
    import spark.implicits._
    bpe.tokenizeWith(spark, Seq((1L, text)).toDF("id", "text"), Seq.empty)
      .collect().head.getAs[scala.collection.Seq[String]]("tokens").toSeq
  }

  test("pretokens split at contraction/punctuation boundaries, in text order, partitioning the word") {
    val ptk = new Bpe(Tuning(bpeMerges = 4, bpePretok = 1))
    // zero merges → one token per pretoken CHARACTER, in text order;
    // the pretok boundaries show through the paren-drop contract below
    assert(tokensOf(ptk, "ab c.d") == Seq("a", "b", "c", ".", "d"))
    // don't → don + 't: both pretokens are paren-free, all chars kept
    assert(tokensOf(ptk, "don't") == Seq("d", "o", "n", "'", "t"))
  }

  test("pretok rescues the letters of paren-bearing words; escape composes to keep everything") {
    // whole-word mode: f(x) contains parens → the WHOLE word drops
    assert(tokensOf(new Bpe(Tuning(bpeMerges = 4)), "f(x) done")
      == Seq("d", "o", "n", "e"))
    // pretok alone: f, (, x, ) — only the paren PRETOKENS drop
    assert(tokensOf(new Bpe(Tuning(bpeMerges = 4, bpePretok = 1)), "f(x) done")
      == Seq("f", "x", "d", "o", "n", "e"))
    // pretok + escape: every pretoken is representable — nothing drops
    assert(tokensOf(new Bpe(
        Tuning(bpeMerges = 4, bpePretok = 1, bpeEscape = 1)), "f(x) done")
      == Seq("f", "(", "x", ")", "d", "o", "n", "e"))
  }

  test("q97 counts pretokens: the fixture's known word splits") {
    withTempRoot {
      // corpus doc "hello world" → fixture text "hello, world" + the
      // suffix; pretokens: hello,(2) world(1) six contractions(12)
      // o'clock(3) v2.0(4) x42(2) end!(2) = 26
      val dir = writeCorpus(Seq(
        (9L, "hello world"),
        (0L, "padding doc so the fixture filter selects only doc 9")))
      val bpe = new Bpe(Tuning(bpeMerges = 8))
      val q97 = bpe.all.find(_.name == "q97_bpe_pretok_tokenize").get
      val rows = q97.spark(spark, dir).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_words")).toMap
      assert(rows == Map(9L -> 26L), s"got $rows")
    }
  }

  test("the knob splits the shard-artifact keys") {
    val off = new Bpe(Tuning(bpeMerges = 8))
    val on = new Bpe(Tuning(bpeMerges = 8, bpePretok = 1))
    assert(off.shardsPath("/tmp") != on.shardsPath("/tmp"))
  }
}
