package graft.operators

import graft.SparkTestBase
import graft.config.Tuning

import org.apache.spark.sql.functions._

/** The COMPOSED curation pipeline, end to end — the thing a user
  * actually deploys, driven as one flow rather than argued from its
  * individually-pinned pieces: a document stream runs through the q65
  * funnel's row-local gates ([[TextOps.curateStream]]), survivors
  * ingest into the signature lake as streaming DML
  * ([[Dedup.ingestStream]], one content-keyed segment per batch), and
  * the keeper manifest (q81's max-struct rule) is computed over what
  * the LIVE lake then serves. Replay safety is asserted the way the
  * store defines it: at-least-once delivery × content-keyed idempotent
  * install = effectively-once.
  */
class CurationPipelineSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  // crafted incoming documents, one per funnel gate
  private val varied = (0 until 96).map(i => s"alpha$i").mkString(" ")
  private val good1 = s"the a of and in $varied"
  private val good2 = good1.replace("alpha50", "beta50")  // near-dup of good1
  private val spanish = "el la de que y " + (0 until 60).map(i => s"casa$i").mkString(" ")
  private val lowq = "the the the the the the"            // stopword soup, repetitive
  private val pii = s"the a of and in $varied contact me at bob@example.com"

  test("stream -> funnel gates -> lake DML -> keeper manifest over the live view") {
    withTempRoot {
      withTempDir("graft-curation") { tmp =>
        import spark.implicits._
        val dd = new Dedup(Tuning())
        dd.ensureSigIndex(spark, sf)
        val baseLive = dd.liveSignatures(spark, sf).count()

        // the gates, asserted doc-for-doc on the same transform the
        // stream runs (curateStream is stateless: batch == streaming)
        val gates = TextOps.curateStream(Seq(
            910001L -> good1, 910002L -> good2, 910003L -> spanish,
            910004L -> lowq, 910005L -> pii).toDF("doc_id", "text"))
          .collect().map(r => r.getAs[Long]("doc_id") ->
            (r.getAs[Boolean]("kept"), r.getAs[String]("pred"),
              r.getAs[Int]("n_pii"))).toMap
        assert(gates(910001L)._1 && gates(910002L)._1, "good docs must pass")
        assert(!gates(910003L)._1 && gates(910003L)._2 == "es", "language gate")
        assert(!gates(910004L)._1, "quality/repetition gate")
        assert(!gates(910005L)._1 && gates(910005L)._3 > 0, "PII gate")

        // the composed stream: MemoryStream -> gates -> DML ingest
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val mem = MemoryStream[(Long, String)]
        val curated = TextOps.curateStream(mem.toDF().toDF("doc_id", "text"))
          .filter($"kept").select($"doc_id", $"text")
        val ckpt = s"$tmp/ckpt"
        val q = dd.ingestStream(sf, curated, ckpt)
        try {
          mem.addData(910001L -> good1, 910003L -> spanish, 910004L -> lowq)
          q.processAllAvailable()
          mem.addData(910002L -> good2, 910005L -> pii)
          q.processAllAvailable()
        } finally q.stop()

        // exactly the two survivors landed, one segment per non-empty batch
        val stats = dd.storeStats(spark, sf).head()
        assert(stats.getAs[Long]("unconsumed_adds") == 2L)
        assert(stats.getAs[Long]("live_rows") == baseLive + 2)

        // effectively-once: replaying a committed batch is a no-op
        // (content-keyed install), not a duplicate segment
        assert(!dd.addDocs(spark, sf, Seq(910002L -> good2).toDF("doc_id", "text")),
          "replayed batch installed a second segment")
        assert(dd.storeStats(spark, sf).head().getAs[Long]("unconsumed_adds") == 2L)

        // keeper manifest over what the live lake SERVES: probe the
        // survivors, cluster the verified near-dup edges (q38's
        // machinery), pick per-cluster keepers by q81's max-struct rule
        val served = dd.serveNearDups(spark, sf,
          Seq(910001L -> good1, 910002L -> good2))
        val edges = served.filter($"jaccard" >= Tuning().ccEdgeJaccard)
          .select(least($"probe_id", $"match_id").as("a_id"),
            greatest($"probe_id", $"match_id").as("b_id"))
          .distinct()
        assert(edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          == Set((910001L, 910002L)), "the near-dup pair must be served as an edge")
        val comp = Dedup.components(edges)
        val scores = TextOps.curateStream(Seq(
            910001L -> good1, 910002L -> good2).toDF("doc_id", "text"))
          .select($"doc_id", $"score")
        val manifest = comp.join(scores, "doc_id")
          .groupBy($"component")
          .agg(max(struct($"score", (lit(0L) - $"doc_id").as("nid"),
            $"doc_id".as("kid"))).as("k"), max($"n_members").as("n_members"))
          .select($"component", $"k.kid".as("keeper_id"), $"n_members")
          .collect()
        assert(manifest.length == 1)
        assert(manifest(0).getAs[Long]("keeper_id") == 910001L,
          "equal-score tie must keep the lower doc_id")
        assert(manifest(0).getAs[Long]("n_members") == 2L)
      }
    }
  }

  test("boilerplate strip composes in front of the funnel: stripped text runs the q65 gates") {
    import spark.implicits._
    // STRIP → GATES: the corpus with its >=runMinTokens shared literal
    // spans removed (Search.stripRuns, q88's operator face) feeds the
    // same row-local gates the stream runs — the Lee et al. order
    // (remove verbatim boilerplate BEFORE quality/dedup decisions)
    val search = new Search(Tuning.current)
    val stripped = search.stripRuns(spark, sf)
    val gated = TextOps.curateStream(stripped)
    val rows = gated.collect()
    val total = graft.Tables.t(spark, sf, "documents").count()
    assert(rows.length.toLong == total, "strip must preserve the corpus row-for-row")
    // the strip genuinely changed some documents' gate inputs: compare
    // against the unstripped funnel on the kept flag OR score
    val before = TextOps.curateStream(
        graft.Tables.t(spark, sf, "documents").select($"doc_id", $"text"))
      .select($"doc_id", $"score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val after = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(after.keySet == before.keySet)
    assert(after.exists { case (id, sc) => before(id) != sc },
      "no document's funnel score changed — the strip did nothing on this fixture")
    // and every gate column is present and well-typed for the DML tail
    val kept = gated.filter($"kept").select($"doc_id", $"text")
    assert(kept.columns.toSeq == Seq("doc_id", "text"))
  }
}
