package graft.operators

import graft.SparkTestBase
import graft.config.Tuning

/** BPE training/apply invariants beyond the oracle hash gate: the
  * greedy-merge trajectory's structural properties and the train↔apply
  * consistency the gate's per-query checks can't see across queries.
  */
class BpeSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private def q(t: Tuning, name: String) =
    new Bpe(t).all.find(_.name == name).get.spark(spark, sf)

  test("training trajectory: ranks consecutive, merged = l||r, counts non-increasing") {
    val rows = q(Tuning(), "q82_bpe_train").collect()
    assert(rows.length == Tuning().bpeMerges,
      "the sf0.001 corpus should sustain every configured round")
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i + 1L)
      assert(r.getString(3) == r.getString(1) + r.getString(2))
    }
    // a merge can only create pairs no more frequent than itself, so
    // the greedy argmax sequence is non-increasing in weighted count
    val counts = rows.map(_.getAs[Long]("pair_count"))
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a })
  }

  test("apply: per-doc token counts bounded by words below and chars above") {
    import spark.implicits._
    val tok = q(Tuning(), "q83_bpe_tokenize")
      .select($"doc_id", $"n_words", $"n_tokens")
      .as[(Long, Long, Long)].collect()
      .map { case (id, w, t) => id -> ((w, t)) }.toMap
    assert(tok.nonEmpty)
    val chars = graft.Tables.t(spark, sf, "documents")
      .selectExpr("doc_id",
        "aggregate(" + Dedup.toksExpr + ", 0L, (a, x) -> a + length(x)) as c")
      .as[(Long, Long)].collect().toMap
    tok.foreach { case (id, (w, t)) =>
      assert(t >= w, s"doc $id: fewer tokens than words")
      assert(t <= chars(id), s"doc $id: more tokens than characters")
    }
  }

  test("q84 packing conserves q83's token mass and q58's corpus coverage") {
    import spark.implicits._
    val bins = q(Tuning(), "q84_bpe_packing")
      .select($"n_docs", $"n_tokens").as[(Long, Long)].collect()
    val (docs, toks) = (bins.map(_._1).sum, bins.map(_._2).sum)
    // every document packs exactly once (including token-less ones)
    assert(docs == graft.Tables.t(spark, sf, "documents").count())
    // the packed token mass IS q83's corpus total
    val q83Toks = q(Tuning(), "q83_bpe_tokenize")
      .agg(org.apache.spark.sql.functions.sum($"n_tokens")).head().getLong(0)
    assert(toks == q83Toks)
  }

  test("fewer merge rounds yield a prefix of the merge table") {
    val full = q(Tuning(), "q82_bpe_train").collect().map(_.toString).toSeq
    val short = q(Tuning(bpeMerges = 7), "q82_bpe_train").collect()
      .map(_.toString).toSeq
    assert(short == full.take(7),
      "the greedy trajectory must not depend on the round cap")
  }

  test("bpeMinFreq/bpeVocabCap bound the training vocabulary exactly") {
    import spark.implicits._
    val unbounded = new Bpe(Tuning()).trainingVocab(spark, sf)
      .select($"w", $"freq").as[(String, Long)].collect()
    val bounded = new Bpe(Tuning(bpeMinFreq = 3, bpeVocabCap = 10))
      .trainingVocab(spark, sf)
      .select($"w", $"freq").as[(String, Long)].collect()
    // the hard row bound trainLocalMerges' collect inherits
    assert(bounded.length <= 10)
    assert(bounded.forall(_._2 >= 3), "frequency floor violated")
    // the cap is exactly top-K by (freq desc, w asc) over the floored set
    val want = unbounded.filter(_._2 >= 3)
      .sortBy { case (w, f) => (-f, w) }.take(10).toSet
    assert(bounded.toSet == want)
  }

  test("bounded training still yields a coherent oracle-shaped trajectory") {
    // the floor+cap registry trains fewer/different merges but the
    // same structural invariants hold, and the distributed reference
    // stays bit-identical to the local loop on the SAME bounded vocab
    val t = Tuning(bpeMerges = 8, bpeMinFreq = 2, bpeVocabCap = 12)
    val rows = BpeDistributedReference.merges(spark, sf, t)
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r._4 == r._2 + r._3))
    import spark.implicits._
    val vb = new Bpe(t).trainingVocab(spark, sf)
      .select($"w", $"freq").as[(String, Long)].collect().toSeq
    val local = Bpe.localMergeLoop(vb, 8)
    assert(rows == local)
    // and q82 serves exactly that table under the bounded registry
    assert(q(t, "q82_bpe_train").collect().map(r => (r.getLong(0),
      r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
      == local)
  }

  test("q82 runs a fixed number of Spark jobs, whatever the round count") {
    // training collects the vocabulary once and merges on the driver:
    // building and collecting q82 costs the same jobs at 8 rounds as at
    // 40, where a per-round loop would add jobs with every round
    def jobs(t: Tuning): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          n.incrementAndGet(); ()
        }
      }
      org.apache.spark.ListenerDrain(sc)
      sc.addSparkListener(l)
      try {
        val rows = q(t, "q82_bpe_train").collect()
        assert(rows.length == t.bpeMerges)
        org.apache.spark.ListenerDrain(sc)
        n.get()
      } finally sc.removeSparkListener(l)
    }
    val (j8, j40) = (jobs(Tuning(bpeMerges = 8)), jobs(Tuning(bpeMerges = 40)))
    assert(j8 == j40, s"jobs grow with rounds: $j8 at 8, $j40 at 40")
    assert(j40 <= 5, s"q82 ran $j40 jobs")
  }
}
