package graft.operators

import graft.SparkTestBase
import graft.config.Tuning
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The composed cross-store ingest ([[CorpusIngest]]): one batch
  * through curation fans into the dedup signature lake, the BPE shard
  * lake, the BM25 index, and the runs postings — and the SAME document
  * is then served by `serveNearDups`, `serveTokenize`/`shardDocSeqs`,
  * `serveBm25`, and `serveRuns`. A mid-pipeline kill (some stores
  * updated, some not) heals on replay: updated stores no-op off their
  * content keys, the rest install. A curation-rejected document
  * reaches NO store.
  */
class CorpusIngestSpec extends SparkTestBase {

  private val knobs = Tuning(bpeMerges = 8)

  // a 16-token span (the default runMinTokens) the runs probe replays
  private val span16 = "every large corpus needs careful curation and " +
    "the tooling of a modern data engine in production"
  // long enough + stopword-balanced to clear the quality gate
  private val text1 = s"$span16 because quality signals language " +
    "detection repetition measures and stopword ratios decide which " +
    "documents deserve training compute alongside deduplication " +
    "fingerprints similarity indexes and tokenizer statistics gathered " +
    "across enormous heterogeneous collections of webpages books and " +
    "reference articles curated with distributed analytical engines"
  // Spanish marker words dominate → pred = es → rejected by the gate
  private val spanish = "el la de que y el gato la casa de que y un " +
    "perro el dia la noche de que y siempre"

  private val baseDocs = Seq(
    (0L, "the quick brown fox jumps over a lazy dog and then rests in " +
      "the shade of an old oak tree during a warm afternoon"),
    (1L, "distributed query engines partition work across executors " +
      "and shuffle the intermediate results of a large analytical plan"),
    (2L, "an inverted index maps terms to the documents containing " +
      "them and a postings list records positions for phrase search"),
    (3L, "byte pair encoding merges frequent adjacent symbol pairs and " +
      "the trained table segments unseen words into subword units"))

  private def writeCorpus(root: String): String = {
    import spark.implicits._
    val d = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(root), "corpus").toString
    baseDocs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$d/documents.parquet")
    d
  }

  test("one batch fans into all four stores; a mid-pipeline kill heals on replay; rejections reach no store") {
    withTempRoot {
      withTempDir("graft-corpusingest") { tmp =>
        import spark.implicits._
        val dir = writeCorpus(tmp)
        val ing = new CorpusIngest(knobs)
        val dedup = new Dedup(knobs)
        val bpe = new Bpe(knobs)
        val search = new Search(knobs)

        // fixture sanity: the gate admits doc 100 and rejects doc 101
        val batch = Seq((100L, text1), (101L, spanish)).toDF("doc_id", "text")
        val gate = new TextOps(knobs).curateStream(batch)
          .select($"doc_id", $"kept").collect()
          .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
        assert(gate == Map(100L -> true, 101L -> false),
          s"fixture must straddle the gate, got $gate")

        // SIMULATED MID-PIPELINE KILL: the dedup lake took the kept
        // rows, then the process died before the other three stores
        assert(dedup.addDocs(spark, dir, Seq((100L, text1)).toDF("doc_id", "text")))

        // the composed replay HEALS: dedup no-ops off its content key,
        // the other three stores install
        val r = ing.ingestBatch(spark, dir, batch)
        assert(r.kept == 1L)
        assert(!r.dedupInstalled, "the already-updated store must no-op")
        assert(r.shardsInstalled && r.bm25Installed && r.runsInstalled &&
          r.lmInstalled)

        // a FULL replay no-ops in every store
        val r2 = ing.ingestBatch(spark, dir, batch)
        assert(r2.kept == 1L && !r2.dedupInstalled && !r2.shardsInstalled &&
          !r2.bm25Installed && !r2.runsInstalled && !r2.lmInstalled)

        // …and the SAME document is served by all four faces:
        // (1) near-dup — an identical-text probe matches doc 100
        val nd = dedup.serveNearDups(spark, dir, Seq((900L, text1)))
          .collect().map(_.getAs[Long]("match_id"))
        assert(nd.contains(100L))
        // (2) shard lake — the stored sequence ≡ the frozen tokenizer's
        val stored = bpe.shardDocSeqs(spark, dir).filter($"doc_id" === 100L)
          .collect().map(_.getAs[scala.collection.Seq[Int]]("token_ids"))
        assert(stored.length == 1)
        val served = bpe.serveTokenize(spark, dir,
            Seq((100L, text1)).toDF("id", "text"))
          .collect().map(_.getAs[scala.collection.Seq[Int]]("token_ids"))
        assert(stored.head == served.head)
        // (3) BM25 — a term unique to doc 100 ranks it
        val bm = search.serveBm25(spark, dir, Seq("curation"))
          .collect().map(_.getAs[Long]("doc_id"))
        assert(bm.toSeq == Seq(100L))
        // (4) runs — a probe carrying the 16-token span reports doc 100
        // (5) corpus LM — the ingested doc's vocabulary lowers the served
        // surprisal of its unique term below the OOV ceiling
        val lmOut = new TextOps(knobs).serveSurprisal(spark, dir,
            Seq((910L, "curation"), (911L, "zzneverseen")).toDF("id", "text"))
          .collect().map(r0 => r0.getAs[Long]("id") ->
            r0.getAs[Double]("nats")).toMap
        assert(lmOut(910L) < lmOut(911L),
          "the ingested term must be in-vocabulary for the served LM")
        val rr = search.serveRuns(spark, dir,
            Seq((901L, span16)).toDF("id", "text"))
          .collect().map(_.getAs[Long]("doc_id"))
        assert(rr.toSeq == Seq(100L))

        // the REJECTED doc reached no store
        assert(bpe.shardDocSeqs(spark, dir).filter($"doc_id" === 101L).count() == 0L)
        assert(dedup.serveNearDups(spark, dir, Seq((902L, spanish)))
          .collect().isEmpty)
        assert(search.serveBm25(spark, dir, Seq("gato"))
          .collect().isEmpty)
        assert(search.serveRuns(spark, dir,
          Seq((903L, spanish)).toDF("id", "text")).collect().isEmpty)
        // …and its id is still FREE: adding it later with new text works
        assert(ing.ingestBatch(spark, dir, Seq(
          (101L, "the formerly rejected id returns with a clean and " +
            "sufficiently long english document about analytical engines " +
            "partitioning shuffles aggregation pipelines and the storage " +
            "layouts of columnar formats in modern warehouses built for " +
            "petabyte collections and curated training corpora"))
          .toDF("doc_id", "text")).kept == 1L)
        assert(bpe.shardDocSeqs(spark, dir).filter($"doc_id" === 101L).count() == 1L)
      }
    }
  }

  test("a batch carrying embeddings lands in the vector store too; the kill between store 5 and 6 heals") {
    withTempRoot {
      withTempDir("graft-corpusingest") { tmp =>
        import spark.implicits._
        val dir = writeCorpus(tmp)
        // a small embeddings table so the IVF-PQ index can train
        def vec(seed: Int): Array[Float] = {
          val raw = Array.tabulate(8)(i =>
            math.sin(seed * 13.7 + i * 2.3).toFloat + (if (i == seed % 8) 2f else 0f))
          val n = math.sqrt(raw.map(x => x * x.toDouble).sum).toFloat
          raw.map(_ / n)
        }
        (0 until 40).map(i => (i.toLong, vec(i), i % 4))
          .toDF("vec_id", "embedding", "label")
          .write.parquet(s"$dir/embeddings.parquet")

        val vknobs = Tuning(bpeMerges = 8, annQueries = 3, lloydIters = 1,
          nprobe = 2, pqCentroids = 8, pqSubspaces = 2, pqSubDim = 4)
        val ing = new CorpusIngest(vknobs)
        val sim = new Similarity(vknobs)
        val emb100 = vec(77)

        // SIMULATED KILL between store 5 and 6: the five TEXT stores
        // took the batch (no embedding column), then the process died
        val r1 = ing.ingestBatch(spark, dir,
          Seq((100L, text1)).toDF("doc_id", "text"))
        assert(r1.kept == 1L && r1.dedupInstalled && r1.lmInstalled &&
          !r1.vectorsInstalled)

        // the replay WITH the embedding column heals: the five text
        // stores no-op off their content keys (same doc bytes), the
        // vector store installs
        val r2 = ing.ingestBatch(spark, dir,
          Seq((100L, text1, emb100)).toDF("doc_id", "text", "embedding"))
        assert(r2.kept == 1L && !r2.dedupInstalled && !r2.shardsInstalled &&
          !r2.bm25Installed && !r2.runsInstalled && !r2.lmInstalled)
        assert(r2.vectorsInstalled, "the vector store must install on replay")

        // doc and vector ids agree: an identity query serves doc 100's id
        val top = sim.search(spark, dir, Seq(42L -> emb100), k = 1).collect()
        assert(top.length == 1 && top.head.getAs[Long]("n_id") == 100L,
          s"vec_id must equal doc_id: ${top.mkString(", ")}")

        // a FULL replay no-ops in all six stores
        val r3 = ing.ingestBatch(spark, dir,
          Seq((100L, text1, emb100)).toDF("doc_id", "text", "embedding"))
        assert(!r3.vectorsInstalled && !r3.dedupInstalled && !r3.lmInstalled)

        // a curation-REJECTED doc contributes neither text nor vector
        val rj = ing.ingestBatch(spark, dir,
          Seq((101L, spanish, vec(78))).toDF("doc_id", "text", "embedding"))
        assert(rj.kept == 0L && !rj.vectorsInstalled)
        val miss = sim.search(spark, dir, Seq(43L -> vec(78)), k = 1).collect()
        assert(miss.forall(_.getAs[Long]("n_id") != 101L),
          "a rejected doc's vector must not be searchable")
      }
    }
  }

  test("redact mode keeps a PII-bearing good document with REDACTED bytes in every store") {
    withTempRoot {
      withTempDir("graft-corpusingest") { tmp =>
        import spark.implicits._
        val dir = writeCorpus(tmp)
        val ing = new CorpusIngest(knobs)
        val bpe = new Bpe(knobs)
        val search = new Search(knobs)

        val dirty = s"$text1 contact mail bob@example.org for details"
        val clean = s"$text1 contact mail <EMAIL> for details"
        val batch = Seq((200L, dirty)).toDF("doc_id", "text")

        // without redaction the PII gate drops it wholesale
        assert(ing.ingestBatch(spark, dir, batch).kept == 0L)

        // with redaction it is kept and every store holds REDACTED bytes
        val r = ing.ingestBatch(spark, dir, batch, redact = true)
        assert(r.kept == 1L && r.dedupInstalled && r.shardsInstalled &&
          r.bm25Installed && r.runsInstalled && r.lmInstalled)
        // the shard sequence is the redacted text's, not the dirty one's
        val stored = bpe.shardDocSeqs(spark, dir).filter($"doc_id" === 200L)
          .collect().map(_.getAs[scala.collection.Seq[Int]]("token_ids"))
        val servedClean = bpe.serveTokenize(spark, dir,
            Seq((200L, clean)).toDF("id", "text"))
          .collect().map(_.getAs[scala.collection.Seq[Int]]("token_ids"))
        val servedDirty = bpe.serveTokenize(spark, dir,
            Seq((200L, dirty)).toDF("id", "text"))
          .collect().map(_.getAs[scala.collection.Seq[Int]]("token_ids"))
        assert(stored.length == 1 && stored.head == servedClean.head)
        assert(stored.head != servedDirty.head)
        // BM25 finds the marker token, never the address
        assert(search.serveBm25(spark, dir, Seq("<email>"))
          .collect().map(_.getAs[Long]("doc_id")).toSeq == Seq(200L))
        assert(search.serveBm25(spark, dir, Seq("bob@example.org"))
          .collect().isEmpty)

        // replay of the redacted batch no-ops everywhere (content keys
        // derive from the redacted bytes)
        val r2 = ing.ingestBatch(spark, dir, batch, redact = true)
        assert(r2.kept == 1L && !r2.dedupInstalled && !r2.shardsInstalled &&
          !r2.bm25Installed && !r2.runsInstalled && !r2.lmInstalled)
      }
    }
  }

  test("streamed batches fan out under one checkpoint; a cross-run replay no-ops everywhere") {
    withTempRoot {
      withTempDir("graft-corpusingest") { tmp =>
        import spark.implicits._
        implicit val sqlCtx = spark.sqlContext
        val dir = writeCorpus(tmp)
        val ing = new CorpusIngest(knobs)
        val bpe = new Bpe(knobs)
        val search = new Search(knobs)

        def run(data: Seq[(Long, String)]): Unit = {
          val mem = MemoryStream[(Long, String)]
          val ckpt = java.nio.file.Files
            .createTempDirectory(java.nio.file.Paths.get(tmp), "ckpt").toString
          val q = ing.ingestAll(dir, mem.toDF().toDF("doc_id", "text"), ckpt)
          try { mem.addData(data: _*); q.processAllAvailable() }
          finally q.stop()
        }

        val counters = Seq(Bpe.shardAdds, Search.bm25Adds, Search.runsAdds,
          TextOps.lmAdds)
        val before = counters.map(_.get())
        run(Seq(100L -> text1))
        assert(counters.map(_.get()) == before.map(_ + 1),
          "the streamed batch must land one segment per store")
        // a NEW run replaying the same batch (fresh checkpoint — the
        // at-least-once worst case) no-ops off the content keys
        run(Seq(100L -> text1))
        assert(counters.map(_.get()) == before.map(_ + 1),
          "the cross-run replay must no-op in every store")
        assert(bpe.shardDocSeqs(spark, dir).filter($"doc_id" === 100L).count() == 1L)
        assert(search.serveBm25(spark, dir, Seq("curation"))
          .collect().map(_.getAs[Long]("doc_id")).toSeq == Seq(100L))
      }
    }
  }
}
