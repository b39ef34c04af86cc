package graft.operators

import graft.SparkTestBase
import graft.config.Tuning
import org.apache.spark.sql.functions._

/** The [[Tuning.bpeEscape]] delimiter escape's contract: with the knob
  * ON, paren-bearing (and backslash-bearing, and non-BMP) words join
  * the BPE vocabulary and train/tokenize correctly — distributed ≡
  * driver-local bit-identity holds, merge outputs decode back to real
  * text, and the tie-break order is the ESCAPED byte order both
  * engines' ORDER BY actually sees. With the knob OFF the historical
  * drop-paren contract is bit-unchanged.
  */
class BpeEscapeSpec extends SparkTestBase {

  // ---- the pure encoding ----

  test("esc/unesc round-trips and is concatenation-homomorphic") {
    val nasty = Seq("f(x)", "a\\b", "\\q(z)", "𝕏(😀)x", "plain",
      "((", "))", "\\\\", "\\p", "(\\q)", "")
    nasty.foreach { w =>
      val e = Bpe.esc(w)
      assert(!e.contains('(') && !e.contains(')'),
        s"escaped form of '$w' leaks a raw paren: '$e'")
      assert(Bpe.unesc(e) == w, s"round-trip broke on '$w'")
    }
    for (a <- nasty; b <- nasty)
      assert(Bpe.esc(a + b) == Bpe.esc(a) + Bpe.esc(b),
        s"homomorphism broke on '$a' + '$b'")
    // the decode is prefix-free, not a replace chain: '\\p' is \ + p,
    // NOT \ + ( — the case a sequential replace chain mis-decodes
    assert(Bpe.unesc("\\\\p") == "\\p")
  }

  // ---- a paren-heavy corpus fixture ----

  private lazy val dir: String = {
    import spark.implicits._
    val d = suiteTempDir("graft-bpe-esc")
    Seq(
      (0L, "f(x) calls f(x) and g(y) twice", "en", "web"),
      (1L, "f(x) and g(y) appear here too f(x)", "en", "web"),
      (2L, "plain words without any parens at all", "en", "web"),
      (3L, "a\\b a\\b \\q(z) \\q(z) 𝕏(😀)x", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$d/documents.parquet")
    d
  }

  private def q(t: Tuning, name: String) =
    new Bpe(t).all.find(_.name == name).get.spark(spark, dir)

  private type M = (Long, String, String, String, Long)
  private def merges(t: Tuning): Seq[M] =
    q(t, "q82_bpe_train").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4))).toSeq

  test("escape-off keeps the drop-paren contract bit-unchanged") {
    import spark.implicits._
    val off = merges(Tuning(bpeMerges = 8))
    // no trained token may touch a paren word's characters (the
    // historical contract drops parens only — backslash words like
    // a\b were always admitted)
    off.foreach { case (_, l, r, m, _) =>
      Seq(l, r, m).foreach(x =>
        assert(!x.contains('(') && !x.contains(')')))
    }
    // and q83 counts only paren-free words: doc 0 has 6 words, 3 of
    // them paren-bearing (f(x) ×2, g(y))
    val w0 = q(Tuning(bpeMerges = 8), "q83_bpe_tokenize")
      .filter($"doc_id" === 0L).select($"n_words").as[Long].head()
    assert(w0 == 3L)
  }

  test("escape-on admits every word: distributed ≡ driver-local") {
    import spark.implicits._
    val t = Tuning(bpeMerges = 10, bpeEscape = 1)
    val dist = BpeDistributedReference.merges(spark, dir, t)
    val local = new Bpe(t).trainLocalMerges(spark, dir, 10)
    assert(dist == local)
    // paren characters reach the trained vocabulary (the corpus's
    // most frequent pair is inside f(x))
    assert(dist.exists { case (_, l, r, m, _) =>
      (l + r + m).exists(c => c == '(' || c == ')') })
    // and q83 now counts every word of doc 0
    val w0 = q(t, "q83_bpe_tokenize")
      .filter($"doc_id" === 0L).select($"n_words").as[Long].head()
    assert(w0 == 6L)
  }

  test("tie-breaks order by the ESCAPED byte form") {
    // vocabulary {"(a", "*a"} with equal freqs: both pairs count 2.
    // Real-domain order picks ("(","a") — '(' is 0x28 < '*' 0x2A —
    // but the seg domain both engines ORDER BY compares the escaped
    // forms, where '\p' (0x5C…) sorts AFTER '*': ("*","a") wins.
    val vb = Seq(("(a", 2L), ("*a", 2L))
    val esc = Bpe.localMergeLoop(vb, 1, escape = true)
    assert(esc.head._2 == "*" && esc.head._3 == "a")
    // …and the distributed reference agrees on the same corpus
    import spark.implicits._
    val d2 = suiteTempDir("graft-bpe-esc-tie")
    Seq((0L, "(a *a", "en", "web"), (1L, "(a *a", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$d2/documents.parquet")
    val dist = BpeDistributedReference
      .merges(spark, d2, Tuning(bpeMerges = 1, bpeEscape = 1))
      .map(m => (m._2, m._3))
    assert(dist == Seq(("*", "a")))
  }

  test("MergeTable encodes paren words ≡ rank-order replay") {
    val t = Tuning(bpeMerges = 10, bpeEscape = 1)
    val trained = merges(t)
    val mt = new Bpe.MergeTable(trained)
    Seq("f(x)", "\\q(z)", "𝕏(😀)x", "f(x)f(x)", "((", "plain").foreach { w =>
      val replay = trained.sortBy(_._1).foldLeft(Bpe.splitCodePoints(w)) {
        case (toks, (_, l, r, m, _)) => Bpe.applyMerge(toks, l, r, m)
      }
      assert(mt.encode(w).toSeq == replay.toSeq, s"encoder diverged on '$w'")
    }
  }

  test("the interchange export round-trips paren-bearing tokens") {
    // the escape mode is what makes the GPT-2-style files honest:
    // a full-coverage consumer expects every input representable, so
    // the exported merges/vocab must carry the REAL (unescaped) paren
    // tokens and parse back exactly
    import com.fasterxml.jackson.databind.ObjectMapper
    import scala.jdk.CollectionConverters._
    withTempRoot {
      import spark.implicits._
      val t = Tuning(bpeMerges = 10, bpeEscape = 1)
      val bpe = new Bpe(t)
      val trained = merges(t)
      val out = bpe.exportTokenizerFor(spark, dir, trained)
      val lines = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out, "merges.txt")), "UTF-8").split("\n")
      assert(lines.head == "#version: 0.2")
      val rules = lines.tail.map { ln =>
        val i = ln.indexOf(' '); (ln.substring(0, i), ln.substring(i + 1))
      }.toSeq
      assert(rules == trained.map(m => (m._2, m._3)))
      assert(rules.exists { case (l, r) =>
        (l + r).exists(c => c == '(' || c == ')') },
        "a paren-bearing rule must ship in real domain")
      val vocab = new ObjectMapper().readTree(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out, "vocab.json"))).fields().asScala
        .map(e => e.getKey -> e.getValue.asInt()).toMap
      val p = bpe.ensureShardsFor(spark, dir, trained)
      val stored = spark.read.parquet(s"$p/vocab")
        .select($"tok", $"tid").as[(String, Int)].collect().toMap
      assert(vocab == stored)
      // (a leak of ESCAPED forms would break this equality — stored
      // vocab is real-domain by construction; and note the fixture's
      // literal \q word means real tokens MAY legitimately contain
      // the escape-code bytes, so string inspection can't test leaks)
      assert(vocab.keys.exists(tok => tok.contains("(") || tok.contains(")")),
        "paren tokens reach the exported vocabulary")
    }
  }

  test("the escape-mode gate queries run green end-to-end on testdata") {
    // q93/q94 register under DEFAULT tuning (their escTwin flips the
    // knob): rows exist and decode cleanly on the real sf0.001 corpus
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val reg = new Bpe(Tuning(bpeMerges = 6))
    val q93 = reg.all.find(_.name == "q93_bpe_escape_train").get
      .spark(spark, sf).collect()
    assert(q93.length == 6)
    val q94 = reg.all.find(_.name == "q94_bpe_escape_tokenize").get
      .spark(spark, sf)
    // the fixture wraps every 'e' in parens — paren words must be
    // counted (every doc's n_words includes them)
    assert(q94.count() > 0)
  }
}
