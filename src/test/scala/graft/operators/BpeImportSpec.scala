package graft.operators

import graft.SparkTestBase
import graft.config.Tuning

/** The tokenizer interchange IMPORT ([[Bpe.importTokenizer]] +
  * [[Bpe!.tokenizeWithVocab]]): the vocab.json parser must invert
  * [[Bpe.jsonEscape]] on hostile tokens and fail loudly on anything
  * malformed, merges.txt must parse external-style files (CRLF,
  * headers, blank lines), and tokenizing THROUGH the interchange files
  * must equal serving from the stored artifact — the round trip q98
  * gate-checks against the from-scratch SQL re-derivation.
  */
class BpeImportSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"
  private val tuning = Tuning(bpeMerges = 12, bpeEscape = 1)
  private val bpe = new Bpe(tuning)

  test("parseVocabJson inverts jsonEscape on hostile tokens") {
    val toks = Seq("plain", "quo\"te", "back\\slash", "\\q",
      "ctl", "tab\tnl\n", "𝕏😀",
      "(par)en", "")
    val json = "{" + toks.zipWithIndex.map { case (t, i) =>
      "\"" + Bpe.jsonEscape(t) + "\":" + i
    }.mkString(",") + "}"
    assert(Bpe.parseVocabJson(json) == toks.zipWithIndex)
  }

  test("parseVocabJson: whitespace, \\u escapes (surrogate pairs), empty object") {
    assert(Bpe.parseVocabJson("{}") == Seq.empty)
    assert(Bpe.parseVocabJson(" {\n \"a\" : 1 ,\n\t\"b\\u0041\": 2 } ") ==
      Seq("a" -> 1, "bA" -> 2))
    // a supplementary character as two \u escapes reconstructs exactly
    assert(Bpe.parseVocabJson("{\"\\ud835\\udd4f\": 7}") ==
      Seq("𝕏" -> 7))
  }

  test("parseVocabJson: loud errors, never a silent partial vocabulary") {
    def bad(s: String): Unit = {
      intercept[IllegalArgumentException](Bpe.parseVocabJson(s)); ()
    }
    bad("{\"a\":1")          // truncated
    bad("{\"a\":1}x")        // trailing content
    bad("{\"a\":}")          // missing integer
    bad("{\"a\":1,\"a\":2}") // duplicate token
    bad("{\"a\"=1}")         // wrong separator
    bad("{\"b\\u00zz\":1}")  // bad \u escape
    bad("{\"a\":1,}")        // dangling comma
  }

  test("importTokenizer parses an external-style file (CRLF, header, blanks)") {
    val dir = suiteTempDir("graft-import")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "merges.txt"),
      "#version: 0.2\r\nt h\r\nth e\r\n\r\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "vocab.json"),
      "{\"t\": 0, \"h\": 1, \"e\": 2, \"th\": 3, \"the\": 4}")
    val (m, v) = Bpe.importTokenizer(dir)
    assert(m == Seq((1L, "t", "h", "th", 0L), (2L, "th", "e", "the", 0L)))
    assert(v == Seq("t" -> 0, "h" -> 1, "e" -> 2, "th" -> 3, "the" -> 4))
  }

  test("only the FIRST line is a header: a rule whose left token starts with '#' parses") {
    // the published GPT-2 merges.txt contains rules like '# #'; only
    // line 1 may be the #version header
    val dir = suiteTempDir("graft-import-hash")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "merges.txt"),
      "#version: 0.2\n# #\n## x\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "vocab.json"), "{}")
    val (m, _) = Bpe.importTokenizer(dir)
    assert(m == Seq((1L, "#", "#", "##", 0L), (2L, "##", "x", "##x", 0L)))
  }

  test("a HEADERLESS file whose first rule's left token starts with '#' keeps it") {
    // only a first line spelled '#version…' is a header; a headerless
    // GPT-2-style file can legitimately open with a '# #' rule, and
    // dropping it would corrupt every segmentation it feeds
    val dir = suiteTempDir("graft-import-nohdr")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "merges.txt"), "# #\n## x\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "vocab.json"), "{}")
    val (m, _) = Bpe.importTokenizer(dir)
    assert(m == Seq((1L, "#", "#", "##", 0L), (2L, "##", "x", "##x", 0L)))
  }

  test("importTokenizer rejects a malformed merges line, naming it") {
    val dir = suiteTempDir("graft-import-bad")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "merges.txt"), "#version: 0.2\na b c\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "vocab.json"), "{}")
    val ex = intercept[IllegalArgumentException](Bpe.importTokenizer(dir))
    assert(ex.getMessage.contains("line 2"))
  }

  test("export → import → tokenizeWithVocab ≡ serveTokenize from the store") {
    import spark.implicits._
    val exp = bpe.exportTokenizer(spark, sf)
    val (m, v) = Bpe.importTokenizer(exp)
    // the parsed tables match the stored parquet entry for entry
    val p = bpe.ensureShards(spark, sf)
    val storedM = spark.read.parquet(s"$p/merges").orderBy($"rank")
      .select($"l", $"r").as[(String, String)].collect().toSeq
    assert(m.map(x => (x._2, x._3)) == storedM)
    val storedV = spark.read.parquet(s"$p/vocab")
      .select($"tok", $"tid").as[(String, Int)].collect().toMap
    assert(v.toMap == storedV)
    assert(v.size == v.toMap.size) // parser enforces distinct tokens
    // tokenizing THROUGH THE FILES equals serving from the store —
    // including paren words (escape mode), out-of-vocabulary subwords
    // (UNK -1), empty and NULL text
    val probes = Seq((1L, "the quick brown fox"), (2L, "wrap(par)ens too"),
      (3L, ""), (4L, null.asInstanceOf[String])).toDF("id", "text")
    val viaFiles = bpe.tokenizeWithVocab(spark, probes, m, v)
      .select($"id", $"token_ids").as[(Long, Seq[Int])].collect().toMap
    val viaStore = bpe.serveTokenize(spark, sf, probes)
      .select($"id", $"token_ids").as[(Long, Seq[Int])].collect().toMap
    assert(viaFiles == viaStore)
    assert(viaFiles(3L).isEmpty && viaFiles(4L).isEmpty)
  }
}
