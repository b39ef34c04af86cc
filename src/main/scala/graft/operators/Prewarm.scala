package graft.operators

import org.apache.spark.sql.SparkSession

/** One-call warmup for the disk-persisted artifacts the registry's
  * queries install lazily on first touch, all but the BM25 index: the
  * IVF/PQ vector index ([[Similarity.ensureIndex]]), the MinHash/SimHash
  * signature lake ([[Dedup.ensureSigIndex]]), the synthetic media
  * fixture ([[Multimodal.MediaLake.ensure]]), the raw and curated BPE
  * training shards ([[Bpe.ensureShards]], [[Bpe.ensureCuratedShards]]),
  * the runs postings ([[Search.ensureRunsIndex]]), the dHash lake
  * ([[MediaDedup.ensureDhash]]), the SP model ([[Sp.ensureSp]]) and the
  * corpus LM ([[TextOps.ensureLm]]).
  *
  * Benchmarks call this up front so a measured pass times SERVING, not
  * a one-time build that happened to land on the first query touching
  * the store (every build is an idempotent [[ArtifactLake.buildOnce]] /
  * `ensure` install, so this is purely a timing-attribution move —
  * correctness is identical without it).
  */
object Prewarm {
  /** Index artifacts are knob-keyed, so the warmup must build under the
    * SAME tuning the measured registry serves with — default-knob, i.e.
    * what [[graft.QRegistry.default]] and the driver contract run.
    */
  def artifacts(s: SparkSession, d: String,
      tuning: graft.config.Tuning = graft.config.Tuning.current): Unit = {
    new Similarity(tuning).ensureIndex(s, d)
    new Dedup(tuning).ensureSigIndex(s, d)
    Multimodal.MediaLake.ensure(s, d)
    // the packed training shards (q87 raw, q90 curated) — the
    // heaviest install of the BPE tier; q90's build also carries the
    // one-time boilerplate strip
    val bpe = new Bpe(tuning)
    bpe.ensureShards(s, d)
    bpe.ensureCuratedShards(s, d)
    // the BM25 postings' exact-substring sibling — q95 serves from it
    new Search(tuning).ensureRunsIndex(s, d)
    // r15: the perceptual-hash lake (q104-q106) and the SP unigram
    // model (q108/q109); the corpus LM (q103/q107) is built by
    // TextOps.ensureLm on first serve — cheap, but attribute it here
    // too so pass 1 of q103 times serving
    MediaDedup.ensureDhash(s, d)
    new Sp(tuning).ensureSp(s, d)
    new TextOps(tuning).ensureLm(s, d)
    ()
  }
}
