package graft.operators

import graft.config.Tuning
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** An independent reference for the BPE trainer
  * ([[Bpe.localMergeLoop]]): merge rounds computed by Spark over the
  * delimited `seg` strings, the way the DuckDB oracle replays them.
  * Each round is one pair aggregation, one collected argmax row (count
  * desc, then l, r ascending in the seg domain — escaped under
  * [[Tuning.bpeEscape]]) and one engine `replace`. The equality specs
  * compare the driver-local trainer against this, not against itself.
  */
object BpeDistributedReference {
  type Merge = Bpe.Merge

  /** The reference merge table over the training vocabulary that
    * `new Bpe(t)` would collect from the corpus at `d`.
    */
  def merges(s: SparkSession, d: String, t: Tuning): Seq[Merge] =
    mergeRounds(s, new Bpe(t).trainingVocab(s, d), t.bpeMerges,
      t.bpeEscape == 1)

  private def segToks(seg: org.apache.spark.sql.Column) =
    regexp_extract_all(seg, lit("""\(([^()]*)\)"""), lit(1))

  /** Up to `nRounds` rounds over `vocab0(w, freq, seg)`; stops early
    * when no pair repeats.
    */
  def mergeRounds(s: SparkSession, vocab0: DataFrame, nRounds: Int,
      escape: Boolean): Seq[Merge] = {
    import s.implicits._
    def unesc(x: String): String = if (escape) Bpe.unesc(x) else x
    var seg = vocab0.localCheckpoint(true)
    val out = Vector.newBuilder[Merge]
    var r = 0
    var done = false
    while (r < nRounds && !done) {
      val best = seg
        .select($"freq", segToks($"seg").as("t"))
        .filter(size($"t") >= 2)
        .select($"freq", expr(
          """zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
               (a, b) -> named_struct('l', a, 'r', b))""").as("ps"))
        .select(explode($"ps").as("p"), $"freq")
        .groupBy($"p.l".as("l"), $"p.r".as("r"))
        .agg(sum($"freq").as("cnt"))
        .filter($"cnt" >= 2)
        .orderBy($"cnt".desc, $"l", $"r")
        .limit(1)
        .collect()
      if (best.isEmpty) done = true
      else {
        // the argmax row lives in the SEG domain: the replace pattern
        // uses it as-is, the output merge tuple decodes to real text
        val (lE, rE, cnt) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        val (l, rr) = (unesc(lE), unesc(rE))
        out += ((r + 1L, l, rr, l + rr, cnt))
        val old = seg
        seg = seg.withColumn("seg", call_function("replace",
            $"seg", lit(s"($lE)($rE)"), lit(s"($lE$rE)")))
          .localCheckpoint(true)
        old.unpersist()
      }
      r += 1
    }
    seg.unpersist()
    out.result()
  }
}
