package graft.operators

import graft.SparkTestBase
import graft.config.Tuning
import org.apache.spark.sql.functions._

/** The SentencePiece-style unigram-LM tokenizer ([[Sp]]): trainer
  * hand-checks (seed counts, char protection, EM recount + prune),
  * Viterbi determinism (longest-piece tie-break, unknown characters),
  * the export → import → tokenize round trip, artifact reuse, and the
  * pretok composition.
  */
class SpSpec extends SparkTestBase {

  private def writeCorpus(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val d = suiteTempDir("graft-sp-corpus")
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$d/documents.parquet")
    d
  }

  test("trainPieces: seed counts, char protection, and EM convergence on a tiny vocabulary") {
    // words: 'abab' ×4, 'ab' ×2 → 'ab' should dominate after EM
    val words = Seq(("abab", 4L), ("ab", 2L))
    val model = Sp.trainPieces(words, vocab = 6, maxLen = 2, iters = 2)
      .toMap
    // chars always present
    assert(model.contains("a") && model.contains("b"))
    // 'ab' survives with the dominant EM count: every Viterbi
    // segmentation of both words is pure 'ab' pieces → cnt = 4·2 + 2
    assert(model("ab") == 10L, s"model: $model")
    // chars are kept even at EM count 0 (everything segments as 'ab')
    assert(model("a") == 0L && model("b") == 0L)
    // 'ba' had seed support (from 'abab') but loses every Viterbi
    // round; cnt > 0 pruning drops it
    assert(!model.contains("ba"))
  }

  test("viterbi: longest-piece tie-break and deterministic unknown-char handling") {
    val logp = Map("a" -> math.log(0.25), "b" -> math.log(0.25),
      "ab" -> math.log(0.5))
    // ln(.5) > ln(.25)+ln(.25): the bigram wins outright
    assert(Sp.viterbi("ab", logp, 2) == List("ab"))
    // exact tie: p(ab) = p(a)·p(b) → the LONGEST piece wins
    val tied = Map("a" -> math.log(0.5), "b" -> math.log(0.5),
      "ab" -> math.log(0.25))
    assert(Sp.viterbi("ab", tied, 2) == List("ab"))
    // unknown chars: all candidates share the floor; the tie at the
    // LAST position resolves to the longest last piece ('yz'), then
    // the remainder segments the same way — deterministic, and the
    // identical choice the oracle's equality-max-k replay makes
    assert(Sp.viterbi("xyz", logp, 2) == List("x", "yz"))
    // empty word
    assert(Sp.viterbi("", logp, 2).isEmpty)
  }

  test("export → import → tokenizeWithSpModel ≡ serveSpTokenize from the store") {
    withTempRoot {
      import spark.implicits._
      val sp = new Sp(Tuning())
      val dir = writeCorpus(Seq(
        (0L, "the data engine data engine pipeline"),
        (1L, "data pipeline engine the data"),
        (2L, "engine pipeline the the data")))
      val probes = Seq((10L, "data engines pipeline"),
        (11L, "unseen qzj"), (12L, "")).toDF("id", "text")
      val served = sp.serveSpTokenize(spark, dir, probes)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getSeq[String](2).toList)).toMap
      // the exported TSV drives the SAME segmentation after a parse
      val exp = sp.exportSpModel(spark, dir, suiteTempDir("graft-sp-export"))
      val model = Sp.importSpModel(exp)
      val reimported = sp.tokenizeWithSpModel(probes, model)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getSeq[String](2).toList)).toMap
      assert(served == reimported)
      // sanity: pieces reassemble the words, zero-word docs are empty
      assert(served(10L)._2.mkString == "dataenginespipeline")
      assert(served(12L) == (0L, Nil))
      // malformed interchange lines are loud
      val bad = java.nio.file.Paths.get(suiteTempDir("graft-sp-bad"))
      java.nio.file.Files.writeString(bad.resolve("sp.vocab"),
        "ok\t-1.5\nnotab\n")
      intercept[IllegalArgumentException](Sp.importSpModel(bad.toString))
    }
  }

  test("exportSpModel without an outDir reuses one keyed dir under the store root") {
    withTempRoot {
      val sp = new Sp(Tuning())
      val dir = writeCorpus(Seq((0L, "the data engine data"),
        (1L, "engine the pipeline")))
      val first = sp.exportSpModel(spark, dir)
      val again = sp.exportSpModel(spark, dir)
      assert(first == again)
      val root = new java.io.File(sys.props("graft.index.dir")).getCanonicalPath
      assert(new java.io.File(first).getCanonicalPath.startsWith(root + "/"))
      val explicit = sp.exportSpModel(spark, dir, suiteTempDir("graft-sp-export"))
      def vocab(d: String) =
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(d, "sp.vocab"))
      assert(vocab(first).sameElements(vocab(explicit)))
    }
  }

  test("imported pieces LONGER than spPieceLen still match (foreign-model face)") {
    import spark.implicits._
    val sp = new Sp(Tuning()) // spPieceLen = 4
    // a foreign model whose best piece is 8 code points — legal in a
    // real sp.vocab; the Viterbi candidate window must stretch to it
    val dir = java.nio.file.Paths.get(suiteTempDir("graft-sp-foreign"))
    java.nio.file.Files.writeString(dir.resolve("sp.vocab"),
      "pipeline\t-0.5\npipe\t-2.0\nline\t-2.0\np\t-9.0\ni\t-9.0\n" +
        "e\t-9.0\nl\t-9.0\nn\t-9.0\n")
    val model = Sp.importSpModel(dir.toString)
    val out = sp.tokenizeWithSpModel(
        Seq((1L, "pipeline")).toDF("id", "text"), model)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](2).toList).toMap
    // the 8-cp piece wins over pipe+line (-0.5 > -4.0); under the old
    // L-capped window it could never even be a candidate
    assert(out(1L) == List("pipeline"))
  }

  test("the model builds once; fresh instances reuse the artifact") {
    withTempRoot {
      import spark.implicits._
      val dir = writeCorpus(Seq((0L, "alpha beta alpha"), (1L, "beta")))
      val before = Sp.builds.get()
      val probe = Seq((1L, "alpha")).toDF("id", "text")
      val first = new Sp(Tuning()).serveSpTokenize(spark, dir, probe).collect()
      assert(Sp.builds.get() == before + 1)
      val again = new Sp(Tuning()).serveSpTokenize(spark, dir, probe).collect()
      assert(Sp.builds.get() == before + 1)
      assert(first.map(_.toString).toSeq == again.map(_.toString).toSeq)
    }
  }

  test("pretok composition: contractions split before piece segmentation") {
    withTempRoot {
      import spark.implicits._
      val sp = new Sp(Tuning(bpePretok = 1))
      val dir = writeCorpus(Seq((0L, "don't stop don't wait")))
      val out = sp.serveSpTokenize(spark, dir,
          Seq((1L, "don't")).toDF("id", "text"))
        .collect().head.getSeq[String](2).toList
      // the GPT-2 pretok splits don't → don + 't BEFORE Viterbi, so
      // no piece ever spans the apostrophe boundary
      assert(out.mkString == "don't")
      val boundary = out.scanLeft(0)(_ + _.length).tail
      assert(boundary.contains(3), s"no piece boundary at don|'t: $out")
    }
  }
}
