package graft.operators

import graft.SparkTestBase
import graft.config.Tuning

/** The driver-local BPE trainer ([[Bpe.localMergeLoop]], which every
  * registered trainer runs) must be bit-identical to the per-round
  * distributed reference ([[BpeDistributedReference]]) on the same
  * input — rank, pair, merged token, and weighted count, every round —
  * with and without the training-sample knob. Plus hand-sized pins of
  * the two semantics that make or break equivalence: left-to-right
  * non-overlapping merge application and the (count desc, pair asc)
  * argmax total order.
  */
class BpeLocalSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private def distMerges(t: Tuning): Seq[(Long, String, String, String, Long)] =
    BpeDistributedReference.merges(spark, sf, t)

  test("local ≡ distributed on the full corpus") {
    val t = Tuning(bpeMerges = 12)
    assert(new Bpe(t).trainLocalMerges(spark, sf, 12) == distMerges(t))
  }

  test("local ≡ distributed under the training-sample knob") {
    val t = Tuning(bpeMerges = 12, bpeSampleMod = 2)
    val local = new Bpe(t).trainLocalMerges(spark, sf, 12)
    assert(local == distMerges(t))
    // and sampling genuinely changes the trajectory vs the full corpus
    val full = new Bpe(Tuning(bpeMerges = 12)).trainLocalMerges(spark, sf, 12)
    assert(local != full)
  }

  test("merge application is left-to-right non-overlapping") {
    // 'aaa': pairs (a,a)×2·freq3 = 6 → merge 'aa' leaves [aa, a]
    // (NOT [a, aa]); then (aa,a)=3 → 'aaa'; single token, early stop
    val m = Bpe.localMergeLoop(Seq(("aaa", 3L)), 10)
    assert(m == Seq((1L, "a", "a", "aa", 6L), (2L, "aa", "a", "aaa", 3L)))
  }

  test("argmax tie-break is pair-ascending") {
    // (a,b) and (b,a) both weigh 2 → (a,b) wins the tie
    val m = Bpe.localMergeLoop(Seq(("ab", 2L), ("ba", 2L)), 1)
    assert(m.head._2 == "a" && m.head._3 == "b")
  }

  test("no repeating pair ⇒ zero merges") {
    assert(Bpe.localMergeLoop(Seq(("ab", 1L), ("cd", 1L)), 5).isEmpty)
    assert(Bpe.localMergeLoop(Seq.empty, 5).isEmpty)
  }

  test("non-BMP words split by code point, not UTF-16 unit") {
    // U+1F600 is a surrogate pair in UTF-16; the engines' segmentation
    // regex '(.)' matches the code point, so the local loop must learn
    // the (emoji, emoji) pair — toCharArray would shear it into four
    // lone surrogates and learn surrogate pairs instead
    val e = new String(Character.toChars(0x1F600))
    val m = Bpe.localMergeLoop(Seq((e + e, 2L)), 1)
    assert(m == Seq((1L, e, e, e + e, 2L)))
    // and the encoder agrees end-to-end on the same table
    val mt = new Bpe.MergeTable(m)
    assert(mt.encode(e + e + e).toSeq == Seq(e + e, e))
  }
}
