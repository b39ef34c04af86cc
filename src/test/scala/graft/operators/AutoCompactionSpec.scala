package graft.operators

import graft.SparkTestBase
import graft.config.Tuning

/** The automatic compaction trigger on both delta lakes — the WAL's
  * bounded-segment fold (`walMaxSegments`) applied to the stores: a
  * DML install that pushes the UNCONSUMED segment count past
  * [[Tuning.storeMaxSegments]] folds a generation by itself, so a
  * long-lived store's per-serve union list stays bounded with no
  * operator intervention. Nothing is deleted by the fold (vacuum stays
  * explicit), and serving stays bit-identical across it.
  */
class AutoCompactionSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  // fold once a DML install leaves MORE than 3 unconsumed segments
  private val knobs = Tuning(annQueries = 3, lloydIters = 1, nprobe = 2,
    pqCentroids = 8, storeMaxSegments = 3)

  private def novel(seed: Int): Array[Float] =
    Array.tabulate(64)(i => if (i == seed % 64) 5f else 0.01f)

  private def gens(store: String): Seq[String] = {
    val root = new java.io.File(sys.props("graft.index.dir"))
    Option(root.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(store)).flatMap(ix =>
        Option(new java.io.File(ix, "gens").listFiles()).toSeq.flatten)
      .filter(f => new java.io.File(f, "_SUCCESS").isFile)
      .map(_.getName).sorted
  }

  test("vector store: the N+1th segment install folds a generation by itself") {
    withTempRoot {
      val sim = new Similarity(knobs)
      assert(sim.addVectors(spark, sf, Seq(920001L -> novel(3))))
      assert(sim.addVectors(spark, sf, Seq(920002L -> novel(17))))
      assert(sim.removeVectors(spark, sf, Seq(920001L)))
      assert(gens("index-").isEmpty,
        "3 unconsumed segments must not trigger a fold")

      val probes = Seq(1L -> novel(3), 2L -> novel(17))
      def serve(): Seq[(Long, Long, Long)] =
        sim.search(spark, sf, probes, k = 2).collect().toSeq
          .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rk"),
            r.getAs[Long]("n_id")))
      val before = serve()
      assert(before.contains((2L, 1L, 920002L)))
      assert(!before.exists(_._3 == 920001L))

      val compactsBefore = Similarity.indexCompacts.get()
      // the 4th segment: 4 > 3 — the install itself must fold
      assert(sim.addVectors(spark, sf, Seq(920010L -> novel(29))))
      assert(Similarity.indexCompacts.get() == compactsBefore + 1,
        "the N+1th install must trigger exactly one fold")
      assert(gens("index-").size == 1, s"generations: ${gens("index-")}")
      assert(serve() == before, "serve changed across the automatic fold")
      // the folded view serves the triggering batch too
      val hit = sim.search(spark, sf, Seq(9L -> novel(29)), k = 1).collect()
      assert(hit.head.getAs[Long]("n_id") == 920010L)
      // everything folded: a manual compact has nothing left to do
      assert(!sim.compact(spark, sf), "auto-fold must consume all segments")
      // the fold deleted nothing — vacuum is still the explicit step
      assert(sim.vacuum(sf) == 4, "auto-fold must not delete segments")
    }
  }

  test("dedup lake: steady ingest folds once per threshold crossing") {
    withTempRoot {
      val dd = new Dedup(knobs)
      val texts = Seq(
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
        "one two three four five six seven eight nine ten eleven",
        "red orange yellow green blue indigo violet cyan magenta black",
        "north south east west up down left right forward backward sideways",
        "spark scala parquet shuffle broadcast partition executor driver stage task")
      def serve(i: Int): Seq[(Long, Long)] =
        dd.serveSimhashMatches(spark, sf, Seq(1L -> texts(i)))
          .collect().toSeq
          .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("match_id")))

      val compactsBefore = Dedup.sigCompacts.get()
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(dd.addDocs(spark, sf, Seq((820001L + i) -> t)))
      }
      // 6 installs at threshold 3: fold at the 4th (4 > 3); the 5th and
      // 6th leave 1-2 unconsumed — exactly one fold happened
      assert(Dedup.sigCompacts.get() == compactsBefore + 1,
        "steady ingest must fold exactly once per threshold crossing")
      assert(gens("dedup-").size == 1)
      // every batch — folded or unconsumed — is served
      texts.indices.foreach { i =>
        assert(serve(i).contains((1L, 820001L + i)),
          s"batch $i lost across the automatic fold")
      }
      // two more installs cross the threshold again → second generation
      assert(dd.addDocs(spark, sf, Seq(830001L -> "a quick brown fox jumps over the lazy dog today")))
      assert(dd.addDocs(spark, sf, Seq(830002L -> "pack my box with five dozen liquor jugs right now")))
      assert(Dedup.sigCompacts.get() == compactsBefore + 2)
      assert(gens("dedup-").size == 2)
      texts.indices.foreach { i =>
        assert(serve(i).contains((1L, 820001L + i)),
          s"batch $i lost across the second fold")
      }
    }
  }
}
