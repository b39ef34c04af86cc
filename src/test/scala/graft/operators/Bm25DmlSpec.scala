package graft.operators

import graft.SparkTestBase
import graft.config.Tuning
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** BM25-index DML ([[Search.addBm25Docs]]): new documents append to
  * the stored inverted index as content-keyed delta segments with
  * layer-partial statistics, and serving recomposes EXACT corpus stats
  * — a served ranking after DML must equal a from-scratch index built
  * over corpus ∪ batches (df, n_docs, and avgdl all shift with every
  * add, so every document's score moves — not just the added ones).
  * Replays no-op, id conflicts fail loudly, segments auto-fold past
  * storeMaxSegments, vacuum honors consumed names, and the registered
  * q85 (which never reads the artifact) is bit-unchanged.
  */
class Bm25DmlSpec extends SparkTestBase {

  private val baseDocs = Seq(
    (0L, "spark window hash stream spark spark"),
    (1L, "window functions over spark streams window"),
    (2L, "unrelated words entirely"),
    (3L, "hash join hash probe side"))
  private val batch1 = Seq(
    (10L, "spark hash window"),
    (11L, "stream stream stream spark"))
  private val batch2 = Seq(
    (12L, ""), // zero tokens: stats-only, invisible to postings
    (13L, "window shuffle window"))

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

  private val terms = Seq("spark", "window", "hash", "stream")

  private def ranking(search: Search, d: String): Seq[(Long, Double, Long)] =
    search.serveBm25(spark, d, terms, 20).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25"),
        r.getAs[Long]("n_terms"))).toSeq

  test("serve after DML ≡ a from-scratch index over corpus ∪ batches; replays no-op; conflicts fail") {
    withTempRoot {
      withTempDir("graft-bm25dml") { tmp =>
        import spark.implicits._
        val dir = writeCorpus(tmp, baseDocs)
        val search = new Search(Tuning())

        val before = ranking(search, dir)
        assert(before.nonEmpty)

        val adds0 = Search.bm25Adds.get()
        assert(search.addBm25Docs(spark, dir, batch1.toDF("doc_id", "text")))
        assert(search.addBm25Docs(spark, dir, batch2.toDF("doc_id", "text")))
        assert(Search.bm25Adds.get() == adds0 + 2)
        // content-keyed replay no-ops (same rows, different order)
        assert(!search.addBm25Docs(spark, dir,
          batch1.reverse.toDF("doc_id", "text")))
        assert(Search.bm25Adds.get() == adds0 + 2)

        // the DML'd store serves the EXACT ranking a from-scratch index
        // over corpus ∪ batches serves — base-doc scores included (df,
        // n_docs, avgdl all moved)
        val fresh = writeCorpus(tmp, baseDocs ++ batch1 ++ batch2)
        val after = ranking(search, dir)
        assert(after == ranking(new Search(Tuning()), fresh))
        assert(after != before, "stats recomposition must shift base scores")
        assert(after.map(_._1).contains(10L) && after.map(_._1).contains(11L))

        // a different batch claiming a taken id fails loudly — including
        // the ZERO-TOKEN doc only the docs table can see
        val ex = intercept[IllegalArgumentException] {
          search.addBm25Docs(spark, dir,
            Seq((12L, "now has words")).toDF("doc_id", "text"))
        }
        assert(ex.getMessage.contains("already indexed"))
        intercept[IllegalArgumentException] {
          search.addBm25Docs(spark, dir,
            Seq((0L, "shadows a corpus doc")).toDF("doc_id", "text"))
        }
        // duplicate in-batch ids rejected; empty batch installs nothing
        intercept[IllegalArgumentException] {
          search.addBm25Docs(spark, dir,
            Seq((20L, "a"), (20L, "b")).toDF("doc_id", "text"))
        }
        assert(!search.addBm25Docs(spark, dir,
          Seq.empty[(Long, String)].toDF("doc_id", "text")))
      }
    }
  }

  test("q85 is bit-unchanged under DML; segments auto-fold; vacuum honors consumed names") {
    withTempRoot {
      withTempDir("graft-bm25dml") { tmp =>
        import spark.implicits._
        val dir = writeCorpus(tmp, baseDocs ++ Seq(
          (4L, "spark spark spark"), (5L, "window window")))
        // storeMaxSegments=2: the THIRD install auto-folds
        val search = new Search(Tuning(storeMaxSegments = 2))
        val q85 = search.all.find(_.name == "q85_bm25_search").get
        val q85Before = q85.spark(spark, dir).collect().toSeq

        val comps0 = Search.bm25Compactions.get()
        val b = Seq(
          Seq((30L, "spark stream")), Seq((31L, "hash window")),
          Seq((32L, "window stream spark")))
        assert(search.addBm25Docs(spark, dir, b(0).toDF("doc_id", "text")))
        assert(search.addBm25Docs(spark, dir, b(1).toDF("doc_id", "text")))
        assert(Search.bm25Compactions.get() == comps0, "under the bound: no fold")
        assert(search.addBm25Docs(spark, dir, b(2).toDF("doc_id", "text")))
        assert(Search.bm25Compactions.get() == comps0 + 1)

        // folded view ≡ from-scratch over everything
        val fresh = writeCorpus(tmp, baseDocs ++ Seq(
          (4L, "spark spark spark"), (5L, "window window")) ++ b.flatten)
        assert(ranking(search, dir) == ranking(new Search(Tuning()), fresh))

        // q85 reads the corpus directly — bit-unchanged under DML
        assert(q85.spark(spark, dir).collect().toSeq == q85Before)

        // vacuum reclaims the three folded segments; folded replays
        // still no-op off consumed.txt and the served view is unchanged
        assert(search.vacuumBm25Index(spark, dir) == 3)
        assert(!search.addBm25Docs(spark, dir, b(0).toDF("doc_id", "text")))
        assert(ranking(search, dir) == ranking(new Search(Tuning()), fresh))
      }
    }
  }

  test("layered serve plan: every layer's scan partition-prunes to the probe's term buckets") {
    withTempRoot {
      withTempDir("graft-bm25dml") { tmp =>
        import spark.implicits._
        val dir = writeCorpus(tmp, baseDocs)
        val search = new Search(Tuning())
        assert(search.addBm25Docs(spark, dir, batch1.toDF("doc_id", "text")))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try {
          val p = search.serveBm25(spark, dir, terms, 20)
            .queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          // four pruned scans: postings and termdf, base AND segment —
          // the probe's tkb bucket predicates reach every layer
          val pruned = p.linesIterator
            .count(l => l.contains("PartitionFilters") && l.contains("tkb"))
          assert(pruned >= 4, s"expected >= 4 tkb-pruned layer scans, got $pruned\n$p")
          // the literal term predicates push into the scans
          assert(p.linesIterator.exists(l =>
            l.contains("PushedFilters") && l.contains("In(tk")), p)
          // top-k stays a TakeOrdered, never a full sort
          assert(p.contains("TakeOrderedAndProject"), p)
        } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
    }
  }

  test("streamed micro-batches land as segments through ingestBm25Stream") {
    withTempRoot {
      withTempDir("graft-bm25dml") { tmp =>
        import spark.implicits._
        implicit val sqlCtx = spark.sqlContext
        val dir = writeCorpus(tmp, baseDocs)
        val search = new Search(Tuning())
        search.ensureBm25Index(spark, dir)
        val adds0 = Search.bm25Adds.get()
        val mem = MemoryStream[(Long, String)]
        val ckpt = s"$tmp/ckpt"
        val q = search.ingestBm25Stream(dir,
          mem.toDF().toDF("doc_id", "text"), ckpt)
        try {
          mem.addData(40L -> "spark streamed body")
          q.processAllAvailable()
          mem.addData(41L -> "window streamed body", 42L -> "hash streamed")
          q.processAllAvailable()
          assert(Search.bm25Adds.get() == adds0 + 2,
            "one segment per non-empty micro-batch")
          val ids = ranking(search, dir).map(_._1)
          assert(Seq(40L, 41L, 42L).forall(ids.contains))
        } finally q.stop()
      }
    }
  }
}
