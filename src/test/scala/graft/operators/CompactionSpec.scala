package graft.operators

import graft.SparkTestBase
import graft.config.Tuning

/** The compaction contract on both delta lakes: N add segments +
  * tombstones fold into ONE generation; serving is bit-identical
  * before and after (and after vacuum); a tombstoned id whose only
  * rows lived in a folded segment becomes re-addable, while a
  * tombstoned BASE id stays permanently retired (the base tables are
  * oracle-pinned and never rewritten); re-compacting with nothing new
  * is a no-op.
  */
class CompactionSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private val knobs = Tuning(annQueries = 3, lloydIters = 1, nprobe = 2,
    pqCentroids = 8)

  private def novel(seed: Int): Array[Float] =
    Array.tabulate(64)(i => if (i == seed % 64) 5f else 0.01f)

  test("vector store: fold segments+tombstones, serve identical, re-add compacted id") {
    withTempRoot {
      val sim = new Similarity(knobs)
      // two add segments, two tombstone segments (one added id, one corpus id)
      assert(sim.addVectors(spark, sf,
        Seq(910001L -> novel(3), 910002L -> novel(17))))
      assert(sim.addVectors(spark, sf, Seq(910010L -> novel(29))))
      assert(sim.removeVectors(spark, sf, Seq(910001L)))
      assert(sim.removeVectors(spark, sf, Seq(7L)))

      val probes = Seq(1L -> novel(17), 2L -> novel(29), 3L -> novel(3))
      def serve(): Seq[(Long, Long, Long)] =
        sim.search(spark, sf, probes, k = 2).collect().toSeq
          .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rk"),
            r.getAs[Long]("n_id")))
      val before = serve()
      // sanity on the pre-compact view: live adds served, tombstoned not
      assert(before.contains((1L, 1L, 910002L)))
      assert(before.contains((2L, 1L, 910010L)))
      assert(!before.exists(_._3 == 910001L), "tombstoned add still served")

      val compactsBefore = Similarity.indexCompacts.get()
      assert(sim.compact(spark, sf), "compact must install a generation")
      assert(Similarity.indexCompacts.get() == compactsBefore + 1)
      assert(serve() == before, "serve changed across compact")
      assert(!sim.compact(spark, sf), "nothing unconsumed — compact must no-op")

      // an at-least-once replay of content the generation folded AND
      // kept live is still the quiet no-op, not a conflict
      assert(!sim.addVectors(spark, sf, Seq(910010L -> novel(29))),
        "replay of folded live content must no-op")

      // the folded-away tombstoned ADD id is free again...
      assert(sim.addVectors(spark, sf, Seq(910001L -> novel(40))),
        "compacted-away id must be re-addable")
      val after = sim.search(spark, sf, Seq(9L -> novel(40)), k = 1).collect()
      assert(after.head.getAs[Long]("n_id") == 910001L)
      // ...while the BASE id stays retired (base is oracle-pinned)
      val e = intercept[IllegalArgumentException](
        sim.addVectors(spark, sf, Seq(7L -> novel(5))))
      assert(e.getMessage.contains("already indexed"))

      // a second compact folds the NEW segment into generation 2
      assert(sim.compact(spark, sf))
      assert(serve() == before)

      // vacuum drops every consumed segment dir; serving is unaffected
      assert(sim.vacuum(sf) >= 4, "vacuum must remove the folded segments")
      assert(serve() == before, "serve changed after vacuum")
    }
  }

  test("dedup lake: fold, serve identical, re-add compacted id, vacuum") {
    withTempRoot {
      val dd = new Dedup(knobs)
      val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val tB = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
      assert(dd.addDocs(spark, sf, Seq(810001L -> tA)))
      assert(dd.addDocs(spark, sf, Seq(810002L -> tB)))
      assert(dd.removeDocs(spark, sf, Seq(810001L)))
      assert(dd.removeDocs(spark, sf, Seq(3L))) // corpus doc

      def serve(): Seq[(Long, Long)] =
        dd.serveSimhashMatches(spark, sf, Seq(1L -> tA, 2L -> tB))
          .collect().toSeq
          .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("match_id")))
      val before = serve()
      assert(before.contains((2L, 810002L)), "live add not served")
      assert(!before.exists(_._2 == 810001L), "tombstoned add still served")

      val compactsBefore = Dedup.sigCompacts.get()
      assert(dd.compact(spark, sf), "compact must install a generation")
      assert(Dedup.sigCompacts.get() == compactsBefore + 1)
      assert(serve() == before, "serve changed across compact")
      assert(!dd.compact(spark, sf))

      assert(!dd.addDocs(spark, sf, Seq(810002L -> tB)),
        "replay of folded live content must no-op")
      assert(dd.addDocs(spark, sf, Seq(810001L -> tA)),
        "compacted-away id must be re-addable")
      assert(serve().contains((1L, 810001L)))
      val e = intercept[IllegalArgumentException](
        dd.addDocs(spark, sf, Seq(3L -> "anything at all here")))
      assert(e.getMessage.contains("already indexed"))

      assert(dd.compact(spark, sf))
      assert(dd.vacuum(sf) >= 4)
      assert(serve().contains((1L, 810001L)), "serve changed after vacuum")
    }
  }

  /** Names of the complete `gen-`/`base-` dirs under `root/sub`. */
  private def layers(root: String, sub: String): Seq[String] =
    Option(new java.io.File(root, sub).listFiles()).toSeq.flatten
      .map(_.getName).filter(n => n.startsWith("gen-") || n.startsWith("base-"))
      .sorted

  test("vector store: vacuum reclaims superseded generations and bases") {
    withTempRoot {
      val sim = new Similarity(knobs)
      val probes = Seq(1L -> novel(3), 2L -> novel(17), 3L -> novel(29))
      def serve(): Seq[(Long, Long, Long)] =
        sim.search(spark, sf, probes, k = 2).collect().toSeq
          .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rk"),
            r.getAs[Long]("n_id")))
      val root = sim.indexPath(sf)

      assert(sim.addVectors(spark, sf, Seq(910101L -> novel(3))))
      assert(sim.compact(spark, sf))
      assert(sim.addVectors(spark, sf, Seq(910102L -> novel(17))))
      assert(sim.compact(spark, sf))
      val folded = serve()
      assert(sim.vacuum(sf) > 0)
      val gens = layers(root, "gens")
      assert(gens.length == 1 && gens.head.startsWith("gen-00002"),
        s"expected only gen-00002, got $gens")
      assert(serve() == folded, "serve changed after vacuum")

      assert(sim.addVectors(spark, sf, Seq(910103L -> novel(29))))
      assert(sim.rebase(spark, sf))
      assert(sim.addVectors(spark, sf, Seq(910104L -> novel(40))))
      assert(sim.rebase(spark, sf))
      val rebased = serve()
      assert(sim.vacuum(sf) > 0)
      val bases = layers(root, "bases")
      assert(bases.length == 1 && bases.head.startsWith("base-00002"),
        s"expected only base-00002, got $bases")
      assert(layers(root, "gens").isEmpty, "a subsumed generation survived")
      assert(serve() == rebased, "serve changed after vacuum")
    }
  }

  test("dedup lake: vacuum reclaims superseded generations and bases") {
    withTempRoot {
      val dd = new Dedup(knobs)
      val texts = Seq(
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
        "one two three four five six seven eight nine ten eleven",
        "red orange yellow green blue indigo violet black white grey")
      def serve(): Seq[(Long, Long)] =
        dd.serveSimhashMatches(spark, sf,
            texts.zipWithIndex.map { case (t, i) => (i + 1L) -> t })
          .collect().toSeq
          .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("match_id")))
      val root = dd.sigPath(sf)

      assert(dd.addDocs(spark, sf, Seq(810101L -> texts(0))))
      assert(dd.compact(spark, sf))
      assert(dd.addDocs(spark, sf, Seq(810102L -> texts(1))))
      assert(dd.compact(spark, sf))
      val folded = serve()
      assert(folded.contains((2L, 810102L)))
      assert(dd.vacuum(sf) > 0)
      val gens = layers(root, "gens")
      assert(gens.length == 1 && gens.head.startsWith("gen-00002"),
        s"expected only gen-00002, got $gens")
      assert(serve() == folded, "serve changed after vacuum")

      assert(dd.addDocs(spark, sf, Seq(810103L -> texts(2))))
      assert(dd.rebase(spark, sf))
      assert(dd.addDocs(spark, sf, Seq(810104L -> texts(3))))
      assert(dd.rebase(spark, sf))
      val rebased = serve()
      assert(rebased.contains((4L, 810104L)))
      assert(dd.vacuum(sf) > 0)
      val bases = layers(root, "bases")
      assert(bases.length == 1 && bases.head.startsWith("base-00002"),
        s"expected only base-00002, got $bases")
      assert(layers(root, "gens").isEmpty, "a subsumed generation survived")
      assert(serve() == rebased, "serve changed after vacuum")
    }
  }
}
