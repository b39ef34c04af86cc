package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.Tuning

/** The COMPOSED corpus-ingest face: one streaming attachment point
  * that drives each micro-batch through the curation gates
  * ([[TextOps.curateStream]]) and fans the kept documents into every
  * store a production pipeline maintains —
  *
  *   - the dedup signature lake ([[Dedup.addDocs]] → `serveNearDups`)
  *   - the BPE training-shard lake ([[Bpe.addShardDocs]] →
  *     `shardDocSeqs`/`serveTokenize`)
  *   - the BM25 inverted index ([[Search.addBm25Docs]] → `serveBm25`)
  *   - the runs postings ([[Search.addRunsDocs]] → `serveRuns`)
  *   - the corpus LM ([[TextOps.addLmDocs]] → `serveSurprisal`)
  *   - the IVF-PQ vector store ([[Similarity!.addVectors]] →
  *     `search`), when the batch carries an `embedding` column
  *
  * so "a crawl batch arrived" is ONE call, not six store-specific
  * wires that can drift apart.
  *
  * Delivery composes because every store is independently
  * effectively-once: each derives its own content key from the SAME
  * kept rows and installs idempotently, so a mid-pipeline crash — some
  * stores updated, some not — heals on the replay Structured Streaming
  * guarantees: already-updated stores no-op off their keys/consumed
  * names, the rest install, and the batch converges with every store
  * holding it exactly once (CorpusIngestSpec kills the pipeline
  * between stores — including between the text stores and the vector
  * store — and replays). The curation gate runs BEFORE the fan-out,
  * so a rejected document reaches no store at all, and every store
  * agrees on doc ids and bytes by construction (one kept frame,
  * persisted once, feeds every add; vec_id = doc_id).
  */
final class CorpusIngest(tuning: Tuning) extends Serializable {
  @transient private lazy val textOps = new TextOps(tuning)
  @transient private lazy val dedup = new Dedup(tuning)
  @transient private lazy val bpe = new Bpe(tuning)
  @transient private lazy val search = new Search(tuning)
  @transient private lazy val similarity = new Similarity(tuning)

  /** Install flags for one batch — which stores THIS call updated
    * (false = empty kept set, an idempotent replay no-op, or — for
    * the vector store — a batch that carried no `embedding` column).
    */
  final case class BatchResult(kept: Long, dedupInstalled: Boolean,
    shardsInstalled: Boolean, bm25Installed: Boolean,
    runsInstalled: Boolean, lmInstalled: Boolean,
    vectorsInstalled: Boolean = false)

  /** Curate one batch and fan the kept docs into every store.
    * `batch` needs `doc_id` (castable to LONG) and `text` (STRING);
    * when it ALSO carries `embedding` (castable to ARRAY&lt;FLOAT&gt;),
    * the kept documents' vectors land in the IVF-PQ vector store as
    * the sixth fan-out ([[Similarity!.addVectors]], vec_id = doc_id —
    * one id domain across all six stores), under the same curation
    * gate: a rejected document contributes neither text nor vector.
    * Idempotent per store — safe to re-run on replay.
    *
    * With `redact = true`, PII is REMOVED first
    * ([[TextOps.redactPii]]) and curation plus every store sees the
    * REDACTED bytes — the production alternative to dropping a
    * PII-bearing but otherwise-good document wholesale (the curation
    * PII gate then passes by construction: the typed markers carry no
    * PII, so only the language/quality/repetition gates decide).
    * Content keys derive from the redacted text, so replay idempotence
    * is unchanged; the mode must stay FIXED per store lineage — the
    * same raw batch ingested under both modes is two different
    * contents (and ids collide, failing loudly in the id guards).
    */
  def ingestBatch(s: SparkSession, d: String, batch: DataFrame,
      redact: Boolean = false): BatchResult = {
    val hasEmb = batch.columns.contains("embedding")
    val input0 = batch.select(col("doc_id"), col("text"))
    val input = if (!redact) input0
      else textOps.redactPii(input0)
        .select(col("doc_id"), col("text_red").as("text"))
    val kept = textOps.curateStream(input)
      .where(col("kept"))
      .select(col("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = kept.count()
      if (n == 0L) BatchResult(0L, false, false, false, false, false)
      else BatchResult(n,
        dedup.addDocs(s, d, kept),
        bpe.addShardDocs(s, d, kept),
        search.addBm25Docs(s, d, kept),
        search.addRunsDocs(s, d, kept),
        textOps.addLmDocs(s, d, kept),
        // the curation gate decides for the vector too: only KEPT
        // docs' embeddings enter the index (semi-join on the one
        // persisted kept frame — batch-sized, never the corpus)
        hasEmb && similarity.addVectors(s, d,
          batch.select(col("doc_id"), col("embedding"))
            .join(kept.select(col("doc_id")), Seq("doc_id"), "left_semi")
            .select(col("doc_id").as("vec_id"), col("embedding"))))
    } finally { kept.unpersist(); () }
  }

  /** Continuous composed ingest — [[ingestBatch]] per micro-batch
    * under ONE checkpoint, so ALL stores (the vector store included,
    * when the stream carries `embedding`) share a single replay
    * domain. Upstream owns id-uniqueness across batches (the
    * per-store contracts); a cross-batch duplicate id fails the query
    * loudly in whichever store sees it first.
    */
  def ingestAll(d: String, stream: DataFrame, checkpoint: String,
      redact: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val cols = Seq(col("doc_id"), col("text")) ++
      (if (stream.columns.contains("embedding")) Seq(col("embedding"))
       else Nil)
    ArtifactLake.ingest(stream, checkpoint) { batch =>
      ingestBatch(batch.sparkSession, d, batch.select(cols: _*), redact)
    }
  }
}
