package graft.operators

import graft.SparkTestBase
import graft.config.Tuning

/** Cross-"session" interleavings on the delta stores. The DML methods
  * are `synchronized` — but on the INSTANCE monitor, so two store
  * instances over the same lake (the two-sessions shape: separate
  * registries in one JVM, or separate processes on shared storage)
  * serialize nothing between each other. The safety story under that
  * interleaving is structural, not lock-based, and this spec drives it
  * directly:
  *
  *  - concurrent writers installing DIFFERENT-id segments are in
  *    contract (content-keyed staged-rename installs are per-writer-
  *    unique; id-disjointness is the writers' own guard);
  *  - a compact racing those installs folds whatever segment set it
  *    LISTED; a segment installing after the listing simply stays
  *    unconsumed — served via the segment union either way;
  *  - two compacts racing from different instances may both install a
  *    same-sequence generation over different consumed sets; the
  *    lexicographic currentGen winner defines the view, and every
  *    segment it did NOT consume is still served from its dir — so
  *    either winner serves the complete corpus;
  *  - SHARED-id concurrent writers remain out of contract (the
  *    check-then-act id guard is only serialized per instance) — the
  *    single-logical-writer-per-id-space contract documented on
  *    [[Similarity.addVectors]] stands; this spec does not soften it.
  */
class ConcurrentStoreSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private val knobs = Tuning(annQueries = 3, lloydIters = 1, nprobe = 2,
    pqCentroids = 8)

  private def novel(seed: Int): Array[Float] =
    Array.tabulate(64)(i => if (i == seed % 64) 5f else 0.01f)

  /** Run thunks concurrently from a common start barrier; rethrow the
    * first failure after all finish.
    */
  private def race(thunks: (() => Unit)*): Unit = {
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = thunks.map { f =>
      new Thread(() => {
        start.await()
        try f() catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(300000))
    if (!errs.isEmpty) throw errs.peek()
  }

  test("vector store: two writer sessions + a racing compactor lose nothing") {
    withTempRoot {
      val simA = new Similarity(knobs)
      val simB = new Similarity(knobs)
      // settle the base index once, before the race
      assert(simA.addVectors(spark, sf, Seq(940000L -> novel(1))))

      // 5 rounds: each round races a writer on A, a writer on B (always
      // disjoint ids), and a compact on B
      for (round <- 0 until 5) {
        val idA = 941000L + round
        val idB = 942000L + round
        race(
          () => { simA.addVectors(spark, sf, Seq(idA -> novel(2 * round + 3))); () },
          () => { simB.addVectors(spark, sf, Seq(idB -> novel(2 * round + 4))); () },
          () => { simB.compact(spark, sf); () })
      }

      // every id installed by either session is served, through
      // whatever mix of generations and unconsumed segments the races
      // left behind
      val probes = (0 until 5).flatMap(r => Seq(
        (10L + r) -> novel(2 * r + 3), (20L + r) -> novel(2 * r + 4)))
      val served = simA.search(spark, sf, probes, k = 1).collect()
        .filter(_.getAs[Long]("rk") == 1L)
        .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_id")).toMap
      for (r <- 0 until 5) {
        assert(served(10L + r) == 941000L + r,
          s"session A's round-$r segment lost (served: $served)")
        assert(served(20L + r) == 942000L + r,
          s"session B's round-$r segment lost (served: $served)")
      }

      // two compacts racing from DIFFERENT instances: both list, both
      // fold, at most one new generation per distinct consumed set;
      // whatever won, a final quiesced compact+serve is complete
      assert(simA.addVectors(spark, sf, Seq(943000L -> novel(50))))
      race(
        () => { simA.compact(spark, sf); () },
        () => { simB.compact(spark, sf); () })
      val fin = simB.search(spark, sf, Seq(1L -> novel(50)), k = 1).collect()
      assert(fin.head.getAs[Long]("n_id") == 943000L)
      // the view quiesces: one more compact folds any straggler, then
      // nothing is left
      simA.compact(spark, sf)
      assert(!simA.compact(spark, sf), "store did not quiesce after races")
    }
  }

  test("dedup lake: concurrent addDocs sessions + compactor keep every batch served") {
    withTempRoot {
      val ddA = new Dedup(knobs)
      val ddB = new Dedup(knobs)
      def text(i: Long) = (0 to 11).map(j =>
        "tok" + Math.floorMod(i * 13 + j * 5, 211)).mkString(" ")
      assert(ddA.addDocs(spark, sf, Seq(850000L -> text(850000L))))

      for (round <- 0 until 4) {
        val idA = 851000L + round
        val idB = 852000L + round
        race(
          () => { ddA.addDocs(spark, sf, Seq(idA -> text(idA))); () },
          () => { ddB.addDocs(spark, sf, Seq(idB -> text(idB))); () },
          () => { ddB.compact(spark, sf); () })
      }
      for (r <- 0 until 4; id <- Seq(851000L + r, 852000L + r)) {
        val m = ddA.serveSimhashMatches(spark, sf, Seq(1L -> text(id))).collect()
        assert(m.exists(_.getAs[Long]("match_id") == id),
          s"doc $id lost across the racing compact")
      }
      ddA.compact(spark, sf)
      assert(!ddA.compact(spark, sf), "lake did not quiesce after races")
    }
  }
}
