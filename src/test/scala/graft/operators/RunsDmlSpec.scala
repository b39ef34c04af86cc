package graft.operators

import graft.SparkTestBase
import graft.config.Tuning
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Runs-postings DML ([[Search.addRunsDocs]]): new documents append to
  * the stored positional window-hash postings as content-keyed delta
  * segments, and serving recomposes the EFFECTIVE df cap — the
  * corpus-GLOBAL property DML can change: a window pushed past dfCap
  * by an add must drop from every layer's rows (base rows written when
  * it was rare included), exactly as a from-scratch rebuild drops it
  * at build. Segment-only rare windows serve immediately; replays
  * no-op; conflicts fail loudly (zero-window docs included); segments
  * auto-fold; the registered q86/q95 stay bit-unchanged (base-only).
  */
class RunsDmlSpec extends SparkTestBase {

  private val knobs = Tuning(runMinTokens = 9, dfCap = 2)

  private val span10 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val spanNew = "nu xi omicron pi rho sigma tau upsilon phi chi"

  private val baseDocs = Seq(
    (0L, s"$span10 filler words in this one"),
    (1L, s"prefix tokens then $span10 and a tail"),
    (2L, "an entirely unrelated document with its own words"),
    (7L, s"doc seven shares nothing nine ten eleven twelve thirteen fourteen"))
  // doc 10 pushes span10's windows to df = 3 > dfCap = 2; doc 11
  // carries a FRESH span (df = 1, alive); doc 12 has zero windows
  private val batch1 = Seq(
    (10L, s"$span10 trailing junk words"),
    (11L, spanNew))
  private val batch2 = Seq((12L, ""))

  private def writeCorpus(root: String, docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val d = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(root), "corpus").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$d/documents.parquet")
    d
  }

  private def report(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("doc_id"),
      r.getAs[Long]("max_run_tokens"), r.getAs[Long]("n_aligned"))).toSeq

  test("cap crossings kill windows in EVERY layer; segment-only spans serve; serve ≡ from-scratch") {
    withTempRoot {
      withTempDir("graft-runsdml") { tmp =>
        import spark.implicits._
        val dir = writeCorpus(tmp, baseDocs)
        val search = new Search(knobs)
        val probeSpan = Seq((500L, span10)).toDF("id", "text")
        val probeNew = Seq((501L, spanNew)).toDF("id", "text")

        // base-only: span10 lives in 2 docs (df = cap), reportable
        assert(report(search.serveRuns(spark, dir, probeSpan)).map(_._2).sorted
          == Seq(0L, 1L))
        assert(report(search.serveRuns(spark, dir, probeNew)).isEmpty)
        // the unordered face returns the same SET without the result sort
        assert(report(search.serveRunsUnordered(spark, dir, probeSpan)).sorted
          == report(search.serveRuns(spark, dir, probeSpan)).sorted)

        val adds0 = Search.runsAdds.get()
        assert(search.addRunsDocs(spark, dir, batch1.toDF("doc_id", "text")))
        assert(search.addRunsDocs(spark, dir, batch2.toDF("doc_id", "text")),
          "a zero-window batch still installs (docs-table-only segment)")
        assert(Search.runsAdds.get() == adds0 + 2)
        assert(!search.addRunsDocs(spark, dir,
          batch1.reverse.toDF("doc_id", "text")), "content-keyed replay no-ops")

        // THE sharp edge: doc 10 pushed span10's windows to df = 3 > 2 —
        // a from-scratch rebuild drops them at build, so serving must
        // drop them from the BASE layer's stored rows too
        assert(report(search.serveRuns(spark, dir, probeSpan)).isEmpty,
          "over-cap windows must die in every layer")
        // …while the segment-only fresh span serves immediately
        assert(report(search.serveRuns(spark, dir, probeNew))
          == Seq((501L, 11L, 10L, 3L)))

        // full corpus-replay probe batch: DML'd store ≡ from-scratch
        // store over corpus ∪ batches, byte for byte
        val combined = baseDocs ++ batch1 ++ batch2
        val fresh = writeCorpus(tmp, combined)
        val replay = combined.map { case (id, tx) => (id + 900000000L, tx) }
          .toDF("id", "text")
        assert(report(search.serveRuns(spark, dir, replay))
          == report(new Search(knobs).serveRuns(spark, fresh, replay)))

        // conflicts fail loudly — the zero-window doc included (only the
        // docs table can see it)
        val ex = intercept[IllegalArgumentException] {
          search.addRunsDocs(spark, dir,
            Seq((12L, "now has ten words one two three four five six seven"))
              .toDF("doc_id", "text"))
        }
        assert(ex.getMessage.contains("already indexed"))
        intercept[IllegalArgumentException] {
          search.addRunsDocs(spark, dir,
            Seq((0L, "shadows a corpus doc")).toDF("doc_id", "text"))
        }
        intercept[IllegalArgumentException] {
          search.addRunsDocs(spark, dir,
            Seq((20L, "a"), (20L, "b")).toDF("doc_id", "text"))
        }
        assert(!search.addRunsDocs(spark, dir,
          Seq.empty[(Long, String)].toDF("doc_id", "text")))
      }
    }
  }

  test("q86/q95 bit-unchanged under DML; segments auto-fold; vacuum honors consumed names") {
    withTempRoot {
      withTempDir("graft-runsdml") { tmp =>
        import spark.implicits._
        val dir = writeCorpus(tmp, baseDocs)
        val search = new Search(knobs.copy(storeMaxSegments = 2))
        val q86 = search.all.find(_.name == "q86_substring_runs").get
        val q95 = search.all.find(_.name == "q95_serve_runs").get
        val q86Before = q86.spark(spark, dir).collect().toSeq
        val q95Before = q95.spark(spark, dir).collect().toSeq

        val comps0 = Search.runsCompactions.get()
        val bs = Seq(
          Seq((30L, s"alpha alone here with filler words one two three")),
          Seq((31L, spanNew)), // spanNew now df = 2 (docs 31 only — 11 absent here)
          Seq((32L, "thirty two's own words repeated nowhere else at all")))
        assert(search.addRunsDocs(spark, dir, bs(0).toDF("doc_id", "text")))
        assert(search.addRunsDocs(spark, dir, bs(1).toDF("doc_id", "text")))
        assert(Search.runsCompactions.get() == comps0, "under the bound: no fold")
        assert(search.addRunsDocs(spark, dir, bs(2).toDF("doc_id", "text")))
        assert(Search.runsCompactions.get() == comps0 + 1)

        // folded view ≡ from-scratch over everything
        val combined = baseDocs ++ bs.flatten
        val fresh = writeCorpus(tmp, combined)
        val replay = combined.map { case (id, tx) => (id + 900000000L, tx) }
          .toDF("id", "text")
        val served = report(search.serveRuns(spark, dir, replay))
        assert(served ==
          report(new Search(knobs).serveRuns(spark, fresh, replay)))
        assert(served.exists(_._2 == 31L), "the folded segment's span serves")

        // registered queries read base-only — DML must not move a byte
        assert(q86.spark(spark, dir).collect().toSeq == q86Before)
        assert(q95.spark(spark, dir).collect().toSeq == q95Before)

        // vacuum reclaims the three folded segments; folded replays
        // still no-op off consumed.txt; the served view is unchanged
        assert(search.vacuumRunsIndex(spark, dir) == 3)
        assert(!search.addRunsDocs(spark, dir, bs(1).toDF("doc_id", "text")))
        assert(report(search.serveRuns(spark, dir, replay)) == served)
      }
    }
  }

  test("layered serve plan: every layer's scan partition-prunes to the probe's hash buckets") {
    withTempRoot {
      withTempDir("graft-runsdml") { tmp =>
        import spark.implicits._
        val dir = writeCorpus(tmp, baseDocs)
        val search = new Search(knobs)
        assert(search.addRunsDocs(spark, dir, batch1.toDF("doc_id", "text")))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try {
          val p = search
            .serveRuns(spark, dir, Seq((500L, span10)).toDF("id", "text"))
            .queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          // four pruned scans: postings and df, base AND segment — the
          // probe's hb bucket predicates reach every layer's partition
          // pruning (the filter pushes through the unions)
          val pruned = p.linesIterator
            .count(l => l.contains("PartitionFilters") && l.contains("hb"))
          assert(pruned >= 4, s"expected >= 4 hb-pruned layer scans, got $pruned\n$p")
          // …and the literal h-predicates push into the scans too
          assert(p.linesIterator.exists(l =>
            l.contains("PushedFilters") && l.contains("In(h")), p)
          // no cartesian anywhere in the layered composition
          assert(!p.contains("CartesianProduct") &&
            !p.contains("BroadcastNestedLoopJoin"), p)
        } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
    }
  }

  test("streamed micro-batches land as segments through ingestRunsStream") {
    withTempRoot {
      withTempDir("graft-runsdml") { tmp =>
        import spark.implicits._
        implicit val sqlCtx = spark.sqlContext
        val dir = writeCorpus(tmp, baseDocs)
        val search = new Search(knobs)
        search.ensureRunsIndex(spark, dir)
        val adds0 = Search.runsAdds.get()
        val mem = MemoryStream[(Long, String)]
        val ckpt = s"$tmp/ckpt"
        val q = search.ingestRunsStream(dir,
          mem.toDF().toDF("doc_id", "text"), ckpt)
        try {
          mem.addData(40L -> spanNew)
          q.processAllAvailable()
          mem.addData(41L -> "another streamed doc with its own ten words here")
          q.processAllAvailable()
          assert(Search.runsAdds.get() == adds0 + 2,
            "one segment per non-empty micro-batch")
          val probeNew = Seq((501L, spanNew)).toDF("id", "text")
          assert(report(search.serveRuns(spark, dir, probeNew))
            == Seq((501L, 40L, 10L, 3L)))
        } finally q.stop()
      }
    }
  }
}
