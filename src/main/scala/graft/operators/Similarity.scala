package graft.operators

import graft.{Q, Cols, Tables}
import Cols._
import Tables.{t, spread}
import graft.config.Tuning
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`Array[Float]`, 64-dim).
  *
  * The tiers:
  *  - q40: brute-force cosine top-k — the correctness baseline.
  *  - q41: multi-table sign-bit LSH (L independent axis-hyperplane
  *    tables, union of bucket candidates) — the constant-bucket-size
  *    scale path: pairing happens only inside buckets, and the table
  *    count is the recall knob.
  *  - q42: per-label centroids — the coarse-quantizer building block.
  *  - q43/q44: IVF with ⌈√n⌉ Lloyd-refined cells, single-probe and
  *    configurable-nprobe multi-probe search.
  *
  * Every quality dial (tables, bucket cap, nprobe, Lloyd iterations)
  * comes from [[graft.config.Tuning]]; the oracle SQL interpolates the
  * same instance, so a tuned run stays hash-checkable.
  *
  * Dot products run through the codegen'd posexplode → equi-join →
  * hash-agg pipeline, NOT array higher-order functions: HOF lambdas are
  * interpreted row-at-a-time and measured ~10× slower than the
  * codegen'd join at the same arithmetic. The exploded dimension table
  * is cached — it is read by every tier's join sides and the norm
  * aggregate, and is tiny relative to the pair volume it feeds.
  */
object Similarity {

  /** (vec_id, label, i, v): one row per vector component, double-cast.
    * Cached (multi-consumer). NULL embeddings contribute no rows, like
    * the oracle's unnest(NULL).
    */
  private[operators] def unpacked(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    spread(t(s, d, "embeddings"))
      .select($"vec_id", $"label",
        posexplode(expr("transform(embedding, x -> cast(x as double))")))
      .withColumnRenamed("pos", "i")
      .withColumnRenamed("col", "v")
      .cache()
  }

  /** [[unpacked]] plus a `bits`-bit sign bucket attached to every
    * component row (sign of the first `bits` dimensions — axis
    * hyperplanes, so both engines agree bit-for-bit). Used by Dedup's
    * q34 cosine blocking; the ANN tiers build their bucket tables
    * separately so the exploded table can be shared un-bucketed. The
    * bucket expression is a static codegen'd sum, not a HOF
    * (interpreted lambdas measured ~10× slower).
    */
  private[operators] def unpackedBucketed(s: SparkSession, d: String,
      bits: Int): DataFrame = {
    import s.implicits._
    val bucketExpr = (0 until bits)
      .map(j => s"(CASE WHEN embedding[$j] > 0 THEN ${1L << j}L ELSE 0L END)")
      .mkString(" + ")
    spread(t(s, d, "embeddings"))
      .select($"vec_id", $"label",
        expr(s"CAST($bucketExpr AS BIGINT)").as("bucket"),
        posexplode(expr("transform(embedding, x -> cast(x as double))")))
      .withColumnRenamed("pos", "i")
      .withColumnRenamed("col", "v")
      .cache()
  }

  private[operators] def norms(u: DataFrame): DataFrame =
    u.groupBy("vec_id").agg(sqrt(sum(expr("v * v"))).as("nrm"))

  /** The per-query ANN context: corpus count (from parquet footers — no
    * scan), ONE cached exploded component table, and the norms derived
    * from it. Threaded through every tier a query runs so q45 (which by
    * construction runs brute force + all three approximate searches)
    * materializes the n×64 explode once, not three times.
    */
  private[operators] case class AnnCtx(n0: Long, u: DataFrame, n: DataFrame)

  private[operators] def annCtx(s: SparkSession, d: String): AnnCtx = {
    val u = unpacked(s, d)
    AnnCtx(Tables.rowCount(s, d, "embeddings"), u, norms(u))
  }

  /** Partition count for a compute-bound grouped pass (guide §2):
    * one task per group up to 16× the session parallelism, never
    * below the session parallelism. Group bytes are small (packed
    * vectors) but group compute is heavy, so an explicit
    * user-specified count — which AQE's byte-based coalescing leaves
    * alone — is the scale-true sizing: locally it restores
    * all-core parallelism; on a cluster it tracks cluster width and
    * the group population, not a constant. Deterministic (footer
    * estimates), costs no job. Shared by the Similarity group passes
    * and Dedup's q34 blocked pairing.
    */
  private[operators] def groupParts(s: SparkSession, estGroups: Long,
      groupsPerTask: Long = 1L): Int = {
    val p = s.sparkContext.defaultParallelism
    val tasks = (estGroups + groupsPerTask - 1L) / groupsPerTask
    math.max(p.toLong, math.min(tasks, 16L * p)).toInt
  }

  /** Adaptive hyperplane count: bucket count ≈ n/64 so expected bucket
    * size stays constant as the corpus grows. ε-guarded so Spark and the
    * DuckDB oracle (greatest(4, ceil(log2(n/64.0) - 1e-9))) agree even
    * if their log2 differs by an ulp. Shared by q41 and Dedup's q34.
    */
  private[operators] def signBits(n: Long): Int =
    math.min(64, math.max(4,
      math.ceil(math.log(n / 64.0) / math.log(2.0) - 1e-9).toInt))

  /** An IVF codebook: (cell id, centroid vector). ⌈√n⌉ entries ⇒ 16 MB
    * at n = 10⁹ — always broadcastable.
    */
  private[operators] type Codebook = Array[(Long, Array[Double])]

  /** Dense codebook from sparse (cell, dim, cv) rows — the lake-table
    * form ([[Similarity#ensureIndex]]). Sparse dims (possible with
    * ragged embeddings) fill with 0.0: contributes nothing to ‖c‖² or
    * the dot, same as the oracle's absent (cell, dim) row.
    */
  private[operators] def rowsToCodebook(rows: Array[(Long, Int, Double)]): Codebook =
    rows.groupBy(_._1).toArray.sortBy(_._1).map { case (cell, rs) =>
      val arr = new Array[Double](rs.map(_._2).max + 1)
      rs.foreach { case (_, i, cv) => arr(i) = cv }
      (cell, arr)
    }

  /** Count of ACTUAL index builds this JVM has run — spec hook proving
    * a second registry/session reuses the stored artifact instead of
    * rebuilding ([[graft.operators.IndexLakeSpec]]).
    */
  private[operators] val indexBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Count of delta segments actually INSTALLED this JVM — spec hook
    * proving add() idempotence and cross-session segment reuse
    * ([[graft.operators.SimilarityAddSpec]]).
    */
  private[operators] val indexAdds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Count of tombstone segments actually INSTALLED this JVM
    * ([[graft.operators.SimilarityRemoveSpec]]). */
  private[operators] val indexRemoves = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Count of generations actually INSTALLED this JVM ([[compact]]). */
  private[operators] val indexCompacts = new java.util.concurrent.atomic.AtomicInteger(0)
  private[operators] val indexRebases = new java.util.concurrent.atomic.AtomicInteger(0)

  /** One vector's nProbe nearest cells — the [[Similarity#assignCells]]
    * scoring loop factored out so the out-of-corpus serving path
    * ([[Similarity#search]]) assigns ad-hoc query vectors against the
    * READ codebook with the identical determinism (r6-rounded
    * ‖c‖²−2⟨v,c⟩, cell-id tiebreak). Returns (cell, rank 1..nProbe).
    */
  private[operators] def nearestCells(v: Array[Double], cells: Codebook,
      nProbe: Int): Array[(Long, Int)] =
    cells.map { case (cid, cv) =>
      var dot = 0.0
      var cn2 = 0.0
      var i = 0
      while (i < cv.length) {
        cn2 += cv(i) * cv(i)
        if (i < v.length) dot += v(i) * cv(i)
        i += 1
      }
      (math.floor((cn2 - 2.0 * dot) * 1e6 + 0.5) / 1e6, cid)
    }.sortBy(x => (x._1, x._2)).take(nProbe)
      .zipWithIndex.map { case ((_, cid), idx) => (cid, idx + 1) }

}

/** The tuned ANN tier: one instance per knob set. The oracle SQL strings
  * interpolate THIS instance's `tuning`, so every registry stays
  * hash-checkable against its own knobs, and two registries with
  * different knobs can coexist in one JVM (the [[graft.QRegistry]]
  * contract). Serializable because compiled hot-path closures
  * (PQ assignment passes) call instance helpers; the captured state is
  * the knob case class only.
  */
final class Similarity(val tuning: Tuning) extends Serializable {
  import Similarity._

  /** The deterministic initial codebook: the ⌈√n⌉ vectors with
    * `vec_id % stride = 0`, collected once. Column-predicate filter
    * BEFORE the typed view so seed selection stays codegen'd (a lambda
    * filter would deserialize all n rows to pick the √n seeds); NULL
    * embeddings are skipped like the oracle's unnest(NULL).
    */
  private def seedCodebook(s: SparkSession, d: String, stride: Long): Codebook = {
    import s.implicits._
    t(s, d, "embeddings")
      .filter($"vec_id" % stride === 0 && $"embedding".isNotNull)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect()
      .map { case (sid, v) => (sid, v.map(_.toDouble)) }
      .sortBy(_._1)
  }

  /** IVF coarse assignment as broadcast-codebook + compiled map — the
    * production IVF shape: the codebook is broadcast and each vector's
    * nProbe nearest cells are computed in a tight per-row loop — a
    * narrow map stage with NO shuffle at all (the earlier declarative
    * form materialized n×64×k posexplode-join rows and shuffled n×k
    * partial dot products).
    *
    * Determinism mirrors the oracle exactly: score = ‖c‖²−2⟨v,c⟩ in
    * dimension order, rounded with the same floor(x·10⁶+0.5)/10⁶ as
    * [[graft.Cols.r6]], cell-id tiebreak. Emits (vec_id, cell, rk) for
    * rk = 1..nProbe.
    */
  private[operators] def assignCells(s: SparkSession, d: String,
      cb: Codebook, nProbe: Int): DataFrame = {
    import s.implicits._
    val emb = t(s, d, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
    val bc = s.sparkContext.broadcast(cb)
    emb.mapPartitions { it =>
      val cells = bc.value
      it.flatMap { case (id, vf) =>
        // NULL embedding ⇒ unassigned, matching the oracle (no rows)
        if (vf == null) Iterator.empty
        else
          // ‖c‖² over ALL centroid dims (the oracle's sum(cv*cv)); the
          // dot only over dims the vector has — see [[nearestCells]]
          Similarity.nearestCells(vf.map(_.toDouble), cells, nProbe)
            .iterator.map { case (cid, rk) => (id, cid, rk) }
      }
    }.toDF("vec_id", "cell", "rk")
  }

  /** Lloyd-refined IVF codebook: `iters` deterministic k-means
    * iterations over the seed codebook — assign every vector to its
    * nearest cell (broadcast-codebook map, no shuffle), then recompute
    * centroids as the dimension-wise r6-rounded mean (one n×dims →
    * k×dims hash agg; k×dims rows collected, √n·64 doubles). Refined
    * centroids sit at their cells' mass centers, so Voronoi cells are
    * tighter and nearest-neighbor recall improves (measured by q45)
    * at UNCHANGED asymptotics: 2 extra map passes + 2 small aggs,
    * still no pairing outside cells.
    *
    * Both engines replay the identical refinement (assignment CTE →
    * centroid agg, `iters` times, in the generated oracle SQL):
    * centroids are rounded to 6 dp on both sides, assignment scores are
    * rounded + cell-id tiebroken, so the quantizer stays
    * bit-deterministic. Cells that lose all members simply drop out on
    * both sides. Cell ids remain the original seed vec_ids.
    */
  /** The Lloyd-refined IVF codebook in its SPARSE lake-table form: one (cell, dim,
    * cv) row per dimension PRESENT in the refinement aggregate — exactly
    * the oracle's cb{iters} CTE rows, which is what the stored
    * `ivf_codebook` table must hold for the index-build query to
    * hash-pin it.
    */
  private[operators] def refinedCodebookRows(s: SparkSession, d: String,
      stride: Long, u: DataFrame, iters: Int): Array[(Long, Int, Double)] = {
    import s.implicits._
    // iters = 0: the seed vectors' full component rows (the oracle's
    // cb0 = u filtered to the stride seeds — every dim present)
    var rows: Array[(Long, Int, Double)] = seedCodebook(s, d, stride)
      .flatMap { case (sid, v) => v.indices.map(i => (sid, i, v(i))) }
    for (_ <- 1 to iters) {
      val cb = rowsToCodebook(rows)
      val assign = assignCells(s, d, cb, nProbe = 1).select($"vec_id", $"cell")
      rows = u.select($"vec_id", $"i", $"v")
        .join(assign, "vec_id")
        .groupBy($"cell", $"i")
        .agg(r6(avg($"v")).as("cv"))
        .as[(Long, Int, Double)]
        .collect()
    }
    rows
  }

  /** Brute-force cosine top-5 for the configured query set (vec_id <
    * annQueries) — the exact-search scale shape: the nq query vectors
    * broadcast (nq×64 doubles), ONE compiled pass over the corpus
    * computes every (query, vector) cosine in a tight dim-order loop
    * and keeps a bounded per-partition top-5 heap per query (the
    * q07/q48 prune pattern), so NOTHING pair-sized ever materializes
    * or shuffles — the nq-partition ranking window sees ≤ 5·P·nq rows.
    * (The previous posexplode equi-join form materialized and shuffled
    * n·nq·1 aggregated pair rows from a 320M-row join at sf0.1 —
    * correct, but the join is pure overhead when one side broadcasts.)
    *
    * Determinism mirrors the oracle's join-form arithmetic: dots sum
    * over SHARED dims in dimension order, norms over each side's own
    * dims, ranking by the shared floor-rounded cosine + n_id tiebreak
    * — the [[assignCells]] recipe, fp summation-order differences
    * absorbed by r6/r4.
    */
  private def bruteforceDF(s: SparkSession, d: String): DataFrame = {
      import s.implicits._
      val queries: Array[(Long, Array[Double], Double)] =
        t(s, d, "embeddings")
          .filter($"vec_id" < tuning.annQueries && $"embedding".isNotNull)
          .select($"vec_id", $"embedding").as[(Long, Array[Float])]
          .collect()
          .map { case (id, vf) =>
            val v = vf.map(_.toDouble)
            var qn2 = 0.0
            var i = 0
            while (i < v.length) { qn2 += v(i) * v(i); i += 1 }
            (id, v, math.sqrt(qn2))
          }.sortBy(_._1)
      val bc = s.sparkContext.broadcast(queries)
      val emb = spread(t(s, d, "embeddings"))
        .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      val pruned = emb.mapPartitions { it =>
        val qs = bc.value
        // per-query bounded heap, worst candidate on top
        val best = scala.collection.mutable.HashMap[Long,
          scala.collection.mutable.PriorityQueue[(Double, Long, Double)]]()
        it.foreach { case (nid, vf) =>
          if (vf != null) {
            val v = vf.map(_.toDouble)
            var cn2 = 0.0
            var i = 0
            while (i < v.length) { cn2 += v(i) * v(i); i += 1 }
            val cn = math.sqrt(cn2)
            qs.foreach { case (qid, qv, qn) =>
              if (qid != nid) {
                var dot = 0.0
                val lim = math.min(qv.length, v.length)
                var j = 0
                while (j < lim) { dot += qv(j) * v(j); j += 1 }
                val cos = dot / (qn * cn)
                val r = math.floor(cos * 1e6 + 0.5) / 1e6
                val heap = best.getOrElseUpdate(qid,
                  scala.collection.mutable.PriorityQueue
                    .empty[(Double, Long, Double)](
                      Ordering.by(x => (-x._1, x._2))))
                heap.enqueue((r, nid, cos))
                if (heap.size > 5) heap.dequeue()
              }
            }
          }
        }
        best.iterator.flatMap { case (q, heap) =>
          heap.iterator.map { case (_, nid, cos) => (q, nid, cos) }
        }
      }.toDF("q_id", "n_id", "cosine")
      val w = Window.partitionBy($"q_id")
        .orderBy(r6($"cosine").desc, $"n_id")
      pruned.withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 5)
        .select($"q_id", $"rk", $"n_id", r4($"cosine").as("cosine"))
        .orderBy($"q_id", $"rk")
  }

  private val q40 = Q(
    "q40_ann_bruteforce",
    (s, d) => bruteforceDF(s, d),
    Some(s"""
      WITH e AS (SELECT vec_id, embedding FROM embeddings),
      n AS (SELECT vec_id,
              sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
            FROM e),
      u AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
              unnest(embedding)::DOUBLE AS v FROM e),
      d AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, sum(q.v * c.v) AS dot
            FROM (SELECT * FROM u WHERE vec_id < ${tuning.annQueries}) q
            JOIN u c ON q.i = c.i AND q.vec_id <> c.vec_id
            GROUP BY 1, 2),
      scored AS (SELECT q_id, n_id, dot / (nq.nrm * nc.nrm) AS cosine
                 FROM d JOIN n nq ON q_id = nq.vec_id JOIN n nc ON n_id = nc.vec_id),
      ranked AS (SELECT q_id, n_id, cosine,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY round(cosine, 6) DESC, n_id) AS rk
                 FROM scored)
      SELECT q_id, rk, n_id, round(cosine, 4) AS cosine
      FROM ranked WHERE rk <= 5
      ORDER BY q_id, rk"""))

  /** Multi-table sign-bit LSH: L independent hyperplane tables, each
    * bucketing on the sign pattern of `bits` dimensions; a query's
    * candidate set is the UNION of its cohabitants across tables, and
    * the nearest neighbor is picked from that union.
    *
    * Scale-true bucketing:
    *  - `bits` GROWS with the corpus: bits = ⌈log2(n/64)⌉, so bucket
    *    count ≈ n/64 and expected bucket size stays ~64 per table
    *    regardless of n. Within-bucket all-pairs is then O(n·64·L)
    *    TOTAL — linear in n — instead of O(n²/2^bits). Both engines
    *    derive `bits` from the same count with the same ε-guarded
    *    formula, so buckets agree bit-for-bit (axis hyperplanes,
    *    integer bucket ids).
    *  - table ℓ reads dimensions (ℓ·bits+j) mod 64 — disjoint
    *    axis-hyperplane sets while ℓ·bits < 64, wrapping (correlated
    *    but still distinct-offset) beyond; L is the
    *    [[graft.config.Tuning.lshTables]] recall knob: a true neighbor
    *    is found if it cohabits in ANY table, recall ≈ 1−(1−p^bits)^L.
    *    Round 3 ran L = 1 and measured recall@1 = 0.0 at sf0.1 — a
    *    dead tier; the union is the standard fix.
    *  - skew guard: a (table, bucket) holding > lshBucketCap vectors
    *    (8× expected — only a pathological sign-degenerate region,
    *    e.g. all-zero embeddings) is non-discriminative and is dropped
    *    whole, the same rule as the q32 LSH bucket cap; the oracle
    *    applies the identical cap. The overfull set is tiny, so it
    *    anti-joins as a broadcast — no extra shuffle on the big side.
    *  - a pair cohabiting in several tables is scored identically in
    *    each (same compiled dim-order loop over the same arrays), and
    *    only per-group bests reach the global rank — duplicates
    *    collapse there, no pair-level DISTINCT shuffle needed.
    */
  private def lshDF(s: SparkSession, d: String, ctx: AnnCtx): DataFrame = {
      import s.implicits._
      val T = tuning
      val bits = signBits(ctx.n0)
      // (vec_id, tbl, bucket): row-local sign buckets for all L tables,
      // one scan, static codegen'd expressions (no HOF)
      val tblCols = (0 until T.lshTables).map { l =>
        val sum = (0 until bits)
          .map(j => s"(CASE WHEN embedding[${(l * bits + j) % 64}] > 0 THEN ${1L << j}L ELSE 0L END)")
          .mkString(" + ")
        expr(s"named_struct('tbl', $l, 'bucket', CAST($sum AS BIGINT))")
      }
      val bt = t(s, d, "embeddings")
        .filter($"embedding".isNotNull)
        .select($"vec_id", explode(array(tblCols: _*)).as("tb"))
        .select($"vec_id", $"tb.tbl".as("tbl"), $"tb.bucket".as("bucket"))
      val over = bt.groupBy($"tbl", $"bucket").agg(count(lit(1)).as("cnt"))
        .filter($"cnt" > T.lshBucketCap).select($"tbl", $"bucket")
      val btc = bt.join(broadcast(over), Seq("tbl", "bucket"), "left_anti")
      // ONE shuffle of the bucketed VECTORS (n·L rows, cap-bounded
      // groups), then all within-bucket pairing runs in a compiled
      // per-group loop that emits only each vector's PER-GROUP BEST
      // neighbor (r6 + id tiebreak — the group-local order equals the
      // global rank order, so max-over-group-bests IS the global best).
      // The previous form shuffled the candidate pairs × 64 exploded
      // components (~200M rows at sf0.1, n·L·bucket·64 at scale) through
      // a pair-keyed aggregation; the arithmetic is identical, the
      // materialized volume is now n·L rows in and ≤ n·L best-rows out.
      val emb = t(s, d, "embeddings")
        .filter($"embedding".isNotNull)
        .select($"vec_id", $"embedding")
      // ~L·n/64 buckets of ~64 vectors each: pin the group shuffle's
      // width (groupParts) — byte-based AQE coalescing collapsed this
      // compute-bound pass to 1-2 tasks (see cellLocalBest note)
      val estGroups = tuning.lshTables.toLong * math.max(1L, ctx.n0 / 64L)
      // ~64 ≈cap²·dims-flop buckets per task: one bucket is ~0.1 ms of
      // compute, so one-task-per-group pays more scheduling than work
      val grouped = btc.join(emb, "vec_id")
        .select($"tbl", $"bucket", $"vec_id", $"embedding")
        .repartition(groupParts(s, estGroups, groupsPerTask = 64L),
          $"tbl", $"bucket")
        .as[(Int, Long, Long, Array[Float])]
        .groupBy($"tbl", $"bucket")
        .as[(Int, Long), (Int, Long, Long, Array[Float])]
      val best = grouped.flatMapGroups { (_: (Int, Long), it: Iterator[(Int, Long, Long, Array[Float])]) =>
        val vs = it.map(r => (r._3, r._4.map(_.toDouble))).toArray.sortBy(_._1)
        val norms = vs.map { case (_, v) =>
          var s2 = 0.0
          var i = 0
          while (i < v.length) { s2 += v(i) * v(i); i += 1 }
          math.sqrt(s2)
        }
        (0 until vs.length).iterator.flatMap { ai =>
          val (aId, av) = vs(ai)
          var bestR = Double.NegativeInfinity
          var bestB = Long.MaxValue
          var bestCos = 0.0
          var bi = 0
          while (bi < vs.length) {
            if (bi != ai) {
              val (bId, bv) = vs(bi)
              var dot = 0.0
              val lim = math.min(av.length, bv.length)
              var j = 0
              while (j < lim) { dot += av(j) * bv(j); j += 1 }
              val cos = dot / (norms(ai) * norms(bi))
              val r = math.floor(cos * 1e6 + 0.5) / 1e6
              if (r > bestR || (r == bestR && bId < bestB)) {
                bestR = r; bestB = bId; bestCos = cos
              }
            }
            bi += 1
          }
          if (bestB == Long.MaxValue) Iterator.empty
          else Iterator((aId, bestB, bestCos))
        }
      }.toDF("a_id", "nn_id", "cosine")
      val w = Window.partitionBy($"a_id")
        .orderBy(r6($"cosine").desc, $"nn_id")
      best.withColumn("rk", row_number().over(w))
        .filter($"rk" === 1)
        .select($"a_id", $"nn_id", r4($"cosine").as("cosine"))
        .orderBy($"a_id")
  }

  private def lshOracle: String = {
    val T = tuning
    s"""
      WITH params AS (SELECT least(64, greatest(4,
                        CAST(ceil(log2(count(*) / 64.0) - 1e-9) AS INT))) AS bits
                      FROM embeddings),
      tb AS (SELECT vec_id, tbl,
               CAST(list_sum(list_transform(range(0, bits),
                 j -> CASE WHEN embedding[((tbl * bits + j) % 64) + 1] > 0
                           THEN 1::BIGINT << j ELSE 0 END)) AS BIGINT) AS bucket
             FROM embeddings, params, (SELECT unnest(range(0, ${T.lshTables})) AS tbl) ts
             WHERE embedding IS NOT NULL),
      over_cap AS (SELECT tbl, bucket FROM tb GROUP BY tbl, bucket
                   HAVING count(*) > ${T.lshBucketCap}),
      tbc AS (SELECT tb.* FROM tb ANTI JOIN over_cap o
                ON tb.tbl = o.tbl AND tb.bucket = o.bucket),
      cand AS (SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
               FROM tbc x JOIN tbc y
                 ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id <> y.vec_id),
      u AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
              unnest(embedding)::DOUBLE AS v FROM embeddings
            WHERE embedding IS NOT NULL),
      n AS (SELECT vec_id,
              sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
            FROM embeddings WHERE embedding IS NOT NULL),
      d AS (SELECT c.a_id, c.b_id, sum(ua.v * ub.v) AS dot
            FROM cand c
            JOIN u ua ON ua.vec_id = c.a_id
            JOIN u ub ON ub.vec_id = c.b_id AND ub.i = ua.i
            GROUP BY 1, 2),
      scored AS (SELECT a_id, b_id, dot / (na.nrm * nb.nrm) AS cosine
                 FROM d JOIN n na ON a_id = na.vec_id JOIN n nb ON b_id = nb.vec_id),
      ranked AS (SELECT a_id, b_id AS nn_id, cosine,
                   row_number() OVER (PARTITION BY a_id
                     ORDER BY round(cosine, 6) DESC, b_id) AS rk
                 FROM scored)
      SELECT a_id, nn_id, round(cosine, 4) AS cosine
      FROM ranked WHERE rk = 1
      ORDER BY a_id"""
  }

  private val q41 = Q(
    "q41_ann_lsh_bucket",
    (s, d) => lshDF(s, d, annCtx(s, d)),
    Some(lshOracle))

  /** Per-label centroids: dimension-wise mean — the reduce side of an
    * IVF/k-means coarse quantizer.
    */
  private val q42 = Q(
    "q42_label_centroids",
    (s, d) => {
      import s.implicits._
      t(s, d, "embeddings")
        .select($"label", posexplode(expr("transform(embedding, x -> cast(x as double))")))
        .withColumn("dim", ($"pos" + 1).cast("long"))
        .groupBy($"label", $"dim")
        .agg(r6(avg($"col")).as("centroid"), count(lit(1)).as("n"))
        .orderBy($"label", $"dim")
    },
    Some("""
      WITH u AS (SELECT label, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
                   unnest(embedding)::DOUBLE AS v
                 FROM embeddings)
      SELECT label, dim, round(avg(v), 6) AS centroid, count(*) AS n
      FROM u
      GROUP BY 1, 2
      ORDER BY label, dim"""))

  /** Embedding-space outlier scan — the embedding tier's quality
    * filter (the step CLIP-style curation runs to surface mislabeled /
    * noise vectors): for every label, the `outlierK` vectors FARTHEST
    * from their label centroid by cosine, with rank and rounded score.
    *
    * Scale shape: the centroid aggregate is q42's one exploded
    * partial-agg shuffle (labels × dims rows out); scoring joins the
    * BROADCAST centroid components back to the shared exploded table
    * (codegen'd equi-join + hash-agg, the house dot-product pipeline —
    * not HOF lambdas, see the module doc) — one more map-side-
    * combinable shuffle keyed on vec_id; the per-label bottom-k runs
    * through [[graft.functions.KMinValues]], the bounded k-min
    * aggregate, so per-group state is k longs and NO per-label window
    * ever sorts a label's full vector population in one task (10
    * labels over 10⁹ vectors would otherwise funnel 10⁸-row
    * partitions through single reducers).
    *
    * Determinism: centroid components are r6-rounded (absorbing
    * group-sum order noise exactly as q42's gate-checked output does)
    * before the dot product, and the cosine is compared in r6 MICROS
    * encoded with the vec_id tiebreak into one sortable long:
    * `(micros + 2·10⁶) · 2⁴¹ + vec_id` — ascending encodes ascending
    * (rounded cosine, vec_id), so the k-min array IS the rank order.
    * Bound: vec_id must fit 41 bits (~2.2·10¹²) — an id-space
    * contract ENFORCED in the plan (`raise_error` on violation, the
    * validated-contract house style), cheap to widen if ids outgrow it.
    * Zero-norm vectors (no cosine) are excluded on both engines.
    */
  private val q78 = Q(
    "q78_centroid_outliers",
    (s, d) => {
      import s.implicits._
      val up = unpacked(s, d)
      val cent = up.groupBy($"label", $"i")
        .agg(r6(avg($"v")).as("c"))
      val nc = cent.groupBy($"label").agg(sum($"c" * $"c").as("nc"))
      val scored = up.join(broadcast(cent), Seq("label", "i"))
        .groupBy($"vec_id", $"label")
        .agg(sum($"v" * $"c").as("dot"), sum($"v" * $"v").as("nv"))
        .join(broadcast(nc), Seq("label"))
        .filter($"nv" > 0.0 && $"nc" > 0.0)
      // the 41-bit id-space contract, enforced rather than assumed: an
      // out-of-range vec_id would silently corrupt BOTH the decoded id
      // (the mask wraps) and the k-min rank order — fail loudly instead
      val vid = when($"vec_id".between(0L, (1L << 41) - 1), $"vec_id")
        .otherwise(raise_error(concat(
          lit("q78_centroid_outliers: vec_id outside the 41-bit encode contract: "),
          $"vec_id".cast("string"))))
      val enc = ((floor($"dot" / sqrt($"nv" * $"nc") * lit(1e6) + lit(0.5))
        .cast("long") + lit(2000000L)) * lit(1L << 41) + vid).as("enc")
      scored.select($"label", enc)
        .groupBy($"label")
        .agg(graft.functions.KMinValues.kMinValues($"enc", tuning.outlierK).as("mins"))
        .select($"label", posexplode($"mins"))
        .select($"label",
          ($"pos" + 1).cast("long").as("rank"),
          $"col".bitwiseAND(lit((1L << 41) - 1)).as("vec_id"),
          // decode via shift/mask, NOT long `/` (Spark's `/` is double
          // division — lossy above 2⁵³)
          ((shiftright($"col", 41) - lit(2000000L))
            .cast("double") / lit(1e6)).as("cosine"))
        .orderBy($"label", $"rank")
    },
    Some(s"""
      WITH u AS (SELECT vec_id, label,
                   CAST(generate_subscripts(embedding, 1) AS BIGINT) AS i,
                   unnest(embedding)::DOUBLE AS v
                 FROM embeddings),
      cent AS (SELECT label, i, round(avg(v), 6) AS c
               FROM u GROUP BY 1, 2),
      nc AS (SELECT label, sum(c * c) AS nc FROM cent GROUP BY 1),
      sc AS (SELECT u.vec_id, u.label,
               sum(u.v * cent.c) AS dot, sum(u.v * u.v) AS nv
             FROM u JOIN cent ON u.label = cent.label AND u.i = cent.i
             GROUP BY 1, 2),
      r AS (SELECT sc.label, sc.vec_id,
              round(sc.dot / sqrt(sc.nv * nc.nc), 6) AS cosine
            FROM sc JOIN nc ON sc.label = nc.label
            WHERE sc.nv > 0 AND nc.nc > 0),
      rk AS (SELECT label, vec_id, cosine,
               row_number() OVER (PARTITION BY label
                 ORDER BY cosine, vec_id) AS rank
             FROM r)
      SELECT label, CAST(rank AS BIGINT) AS rank, vec_id, cosine
      FROM rk WHERE rank <= ${tuning.outlierK}
      ORDER BY label, rank"""))

  /** IVF-style ANN: coarse-quantize every vector to its NEAREST cell
    * seed, then search only inside the assigned cell. Assignment
    * minimizes ‖c‖²−2·⟨v,c⟩ (≡ squared distance, per-vector constant
    * dropped), rounded + seed-id-tiebroken for engine determinism.
    *
    * Scale-true cell count (round-2 fix — round 1 used the 10 labels as
    * cells, a CONSTANT, leaving within-cell work quadratic in n): the
    * codebook starts from k = ⌈√n⌉ seed vectors picked
    * deterministically by `vec_id % ⌊n/k⌋ = 0` (both engines derive k
    * and the stride from the same count with the same ε-guarded sqrt)
    * and is then Lloyd-refined for Tuning.lloydIters deterministic
    * k-means iterations ([[refinedCodebookRows]] — tighter cells, higher
    * recall, same asymptotics; the oracle replays the identical
    * refinement). Expected cell size is √n, the classic IVF balance
    * point: assignment is n·k broadcast-codebook dot products and
    * within-cell pairing totals k·(√n)² = n^1.5 — both sub-quadratic,
    * both shrinking per-cell as n grows.
    */
  /** The shared IVF setup — stride from the corpus count, the shared
    * [[AnnCtx]], and the Lloyd-refined codebook — computed once and
    * reused by q43, q44 and q45 (which runs both searches and would
    * otherwise pay for two identical refinements).
    */
  /** Search-side IVF context: the shared exploded/norm tables. The
    * coarse-quantizer CODEBOOK is not here — the query set is corpus
    * vectors whose probe cells are already in the stored `ivf_assign`
    * table, so searches never collect the codebook (an out-of-corpus
    * query vector would read `ivf_codebook` and assign itself against
    * the broadcast — the q67-pinned table exists exactly for that).
    */
  private case class IvfCtx(n0: Long)

  private def ivfCtx(s: SparkSession, d: String, ctx: AnnCtx): IvfCtx = {
    ensureIndex(s, d)
    IvfCtx(ctx.n0)
  }

  /** NOTE on shape (round 9): within-cell pairing ran as an exploded
    * equi-join through round 8 — distribute-the-pair-space reasoning —
    * but the wide scale probe measured that shape at α ≈ 2.0 on a
    * clustered 20k-vector corpus (q44 293 s steady): the join
    * materializes pairs × 64 component rows through the shuffle, and
    * clustered data concentrates the per-cell pair mass the uniform
    * testdata never showed. This is now the q41 compiled grouped pass
    * PLUS probe-side blocking, which keeps BOTH properties: vectors
    * shuffle packed (n·nprobe rows of float arrays, never exploded
    * pairs), and per-task work stays bounded on the uncapped ~√n cells
    * because a cell's probe side splits into ⌈probes/cell ÷ 4096⌉
    * deterministic id-blocks, the home side replicating per block (at
    * n = 10⁹: ~123 blocks × √n homes ≈ 4096·31k ≈ 10⁸ dots per task —
    * bounded — versus one (√n)² task per cell un-blocked, and versus
    * 16n^1.5 · 64 shuffled rows for the old join). Block count derives
    * from the footer row count, so plans stay deterministic; results
    * are block-invariant by construction (per-block best → global
    * best).
    */

  /** Blocked cell-local exact pairing: every `probes` row (a_id, cell)
    * scores against every `home` row (b_id ≠ a_id, same cell) by full
    * double cosine, emitting each probe's per-cell best (r6-rounded
    * compare, id tiebreak — the q41 group-local order, which composes
    * to the global rank order). One shuffle of packed vectors in,
    * ≤ |probes| best-rows out.
    */
  private[operators] def cellLocalBest(s: SparkSession, d: String,
      probes: DataFrame, home: DataFrame, nBlocks: Int, n0: Long): DataFrame = {
    import s.implicits._
    val emb = t(s, d, "embeddings")
      .filter($"embedding".isNotNull && size($"embedding") > 0)
      .select($"vec_id", $"embedding")
    val pr = probes.join(emb, $"a_id" === $"vec_id")
      .select($"cell", pmod($"a_id", lit(nBlocks)).cast("int").as("blk"),
        $"a_id".as("id"), $"embedding", lit(true).as("isProbe"))
    val hr = home.join(emb, $"b_id" === $"vec_id")
      .select($"cell", explode(sequence(lit(0), lit(nBlocks - 1))).as("blk"),
        $"b_id".as("id"), $"embedding", lit(false).as("isProbe"))
    // ~√n cells × nBlocks groups of bounded compute; pin the group
    // shuffle's partition count to the group population (groupParts)
    // instead of letting AQE size it by BYTES — the packed vectors are
    // a few MB here while the per-group pairing is O(probes·√n·dims)
    // compute, so byte-based coalescing funnels the whole pass onto
    // 1-2 tasks (measured: the 3 heaviest q45 stages were 1-task).
    val estGroups = math.ceil(math.sqrt(math.max(1L, n0).toDouble)).toLong * nBlocks
    pr.unionAll(hr)
      .repartition(groupParts(s, estGroups), $"cell", $"blk")
      .as[(Long, Int, Long, Array[Float], Boolean)]
      .groupBy($"cell", $"blk")
      .as[(Long, Int), (Long, Int, Long, Array[Float], Boolean)]
      .flatMapGroups { (key: (Long, Int), it: Iterator[(Long, Int, Long, Array[Float], Boolean)]) =>
        val rows = it.toArray
        val homes = rows.filter(!_._5)
          .map(r => (r._3, r._4.map(_.toDouble))).sortBy(_._1)
        val hNorm = homes.map { case (_, v) =>
          var s2 = 0.0
          var i = 0
          while (i < v.length) { s2 += v(i) * v(i); i += 1 }
          math.sqrt(s2)
        }
        if (homes.isEmpty) Iterator.empty
        else rows.iterator.filter(_._5).flatMap { case (_, _, aId, aEmb, _) =>
          val av = aEmb.map(_.toDouble)
          var aN = 0.0
          var i = 0
          while (i < av.length) { aN += av(i) * av(i); i += 1 }
          val an = math.sqrt(aN)
          var bestR = Double.NegativeInfinity
          var bestB = Long.MaxValue
          var bestCos = 0.0
          var bi = 0
          while (bi < homes.length) {
            val (bId, bv) = homes(bi)
            if (bId != aId) {
              var dot = 0.0
              val lim = math.min(av.length, bv.length)
              var j = 0
              while (j < lim) { dot += av(j) * bv(j); j += 1 }
              val cos = dot / (an * hNorm(bi))
              val r = math.floor(cos * 1e6 + 0.5) / 1e6
              if (r > bestR || (r == bestR && bId < bestB)) {
                bestR = r; bestB = bId; bestCos = cos
              }
            }
            bi += 1
          }
          if (bestB == Long.MaxValue) Iterator.empty
          else Iterator((key._1, aId, bestB, bestCos))
        }
      }.toDF("cell", "a_id", "nn_id", "cosine")
  }

  private def groupParts(s: SparkSession, estGroups: Long,
      groupsPerTask: Long = 1L): Int =
    Similarity.groupParts(s, estGroups, groupsPerTask)

  /** Probe-side block count: expected probes per cell over a 4096-row
    * per-task target, from the footer count — deterministic, no job.
    */
  private def ivfBlocks(n0: Long, probesPerVec: Int): Int = {
    val perCell = probesPerVec * math.sqrt(math.max(1L, n0).toDouble)
    math.max(1, math.ceil(perCell / 4096.0).toInt)
  }

  private def ivfSearch(s: SparkSession, d: String, ctx: IvfCtx,
      shared: Option[DataFrame] = None): DataFrame = {
      import s.implicits._
      // the home cell is the STORED assignment table's rank-1 row (q45
      // passes its shared cached read; standalone q43 reads it directly)
      val assign = shared.getOrElse(probedDF(s, d))
        .filter($"rk" === 1)
        .select($"vec_id", $"cell")
      // a probe's only cell is its home cell, so its per-cell best IS
      // its global best — no final window needed
      cellLocalBest(s, d,
          probes = assign.select($"vec_id".as("a_id"), $"cell"),
          home = assign.select($"vec_id".as("b_id"), $"cell"),
          nBlocks = ivfBlocks(ctx.n0, 1), n0 = ctx.n0)
        .select($"a_id", $"cell".cast("long").as("cell"),
          $"nn_id", r4($"cosine").as("cosine"))
        .orderBy($"a_id")
  }

  /** The oracle's replay of [[refinedCodebookRows]] + the final assignment,
    * GENERATED for Tuning.lloydIters iterations: cb0 = stride seeds,
    * then per iteration i the chain n_i (cell norms) → d_i (dots) →
    * a_i (rank-1 assignment) → cb_{i+1} (r6 centroids), ending in the
    * final-assignment CTE `fa` (rk over rounded score, cell-id
    * tiebreak). Shared verbatim by q43 (rk = 1), q44 (rk <= nprobe
    * probes / rk = 1 home), and q45 via composition.
    */
  private def ivfOracleCtes(iters: Int): String = {
    val head = """
      params AS (SELECT greatest(1, count(*) //
                   CAST(ceil(sqrt(count(*)) - 1e-9) AS BIGINT)) AS stride
                 FROM embeddings),
      u AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
              unnest(embedding)::DOUBLE AS v FROM embeddings),
      n AS (SELECT vec_id,
              sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
            FROM embeddings),
      cb0 AS (SELECT vec_id AS cell, i AS dim, v AS cv FROM u
              WHERE vec_id % (SELECT stride FROM params) = 0)"""
    val steps = (0 until iters).map { i =>
      s"""
      n$i AS (SELECT cell, sum(cv * cv) AS cn2 FROM cb$i GROUP BY cell),
      d$i AS (SELECT u.vec_id, cb$i.cell, sum(u.v * cb$i.cv) AS dot
             FROM u JOIN cb$i ON u.i = cb$i.dim GROUP BY 1, 2),
      a$i AS (SELECT vec_id, cell FROM (
               SELECT d.vec_id, d.cell,
                      row_number() OVER (PARTITION BY d.vec_id
                        ORDER BY round(n$i.cn2 - 2.0 * d.dot, 6), d.cell) AS rk
               FROM d$i d JOIN n$i ON d.cell = n$i.cell)
             WHERE rk = 1),
      cb${i + 1} AS (SELECT a.cell, u.i AS dim, round(avg(u.v), 6) AS cv
              FROM u JOIN a$i a ON u.vec_id = a.vec_id GROUP BY 1, 2)"""
    }
    val fin = s"""
      n$iters AS (SELECT cell, sum(cv * cv) AS cn2 FROM cb$iters GROUP BY cell),
      d$iters AS (SELECT u.vec_id, cb$iters.cell, sum(u.v * cb$iters.cv) AS dot
             FROM u JOIN cb$iters ON u.i = cb$iters.dim GROUP BY 1, 2),
      fa AS (SELECT d.vec_id, d.cell,
                    row_number() OVER (PARTITION BY d.vec_id
                      ORDER BY round(n$iters.cn2 - 2.0 * d.dot, 6), d.cell) AS rk
             FROM d$iters d JOIN n$iters ON d.cell = n$iters.cell)"""
    // Single join over the whole CTE list: at iters=0 `steps` is empty and
    // the old prefix/suffix mkString emitted a bare "," (invalid SQL).
    (head +: steps :+ fin).mkString(",")
  }

  private val q43 = Q(
    "q43_ann_ivf",
    (s, d) => ivfSearch(s, d, ivfCtx(s, d, annCtx(s, d))),
    Some(s"""
      WITH ${ivfOracleCtes(tuning.lloydIters)},
      assign AS (SELECT vec_id, cell FROM fa WHERE rk = 1),
      ua AS (SELECT u.vec_id, a.cell, u.i, u.v FROM u JOIN assign a ON u.vec_id = a.vec_id),
      pd AS (SELECT x.vec_id AS a_id, x.cell, y.vec_id AS b_id, sum(x.v * y.v) AS dot
             FROM ua x JOIN ua y
               ON x.i = y.i AND x.cell = y.cell AND x.vec_id <> y.vec_id
             GROUP BY 1, 2, 3),
      scored AS (SELECT a_id, cell, b_id, dot / (na.nrm * nb.nrm) AS cosine
                 FROM pd JOIN n na ON a_id = na.vec_id JOIN n nb ON b_id = nb.vec_id),
      ranked AS (SELECT a_id, CAST(cell AS BIGINT) AS cell, b_id AS nn_id, cosine,
                   row_number() OVER (PARTITION BY a_id
                     ORDER BY round(cosine, 6) DESC, b_id) AS rk
                 FROM scored)
      SELECT a_id, cell, nn_id, round(cosine, 4) AS cosine
      FROM ranked WHERE rk = 1
      ORDER BY a_id"""))

  /** Multi-probe IVF (nprobe = Tuning.nprobe): every vector searches
    * its nprobe nearest cells instead of one — the standard IVF recall
    * knob, now a config dial. Corpus vectors are indexed once in their
    * home cell (rank-1 assignment); a query's candidate set is every
    * vector homed in any probed cell, so the boundary-vector recall
    * loss of single-probe IVF (nearest true neighbor just across the
    * Voronoi edge) is recovered at exactly nprobe× the single-probe
    * pairing cost — still n·√n-class total, same broadcast codebook,
    * same cell-local shuffles as q43. A pair can't double-count: the
    * candidate's HOME cell is unique, so (a, b) appears via at most
    * one probe.
    */
  private def ivfMultiprobeSearch(s: SparkSession, d: String, ctx: IvfCtx,
      shared: Option[DataFrame] = None): DataFrame = {
      import s.implicits._
      // the STORED n×nprobe probe table (home is its rank-1 row); q45
      // passes ONE shared cached read so its multiprobe and ivfadc
      // tiers scan the assignment table once, not twice
      val probed = shared.getOrElse(probedDF(s, d))
      // per-cell bests → global best: a pair can't double-count (the
      // candidate's home cell is unique), and max over per-cell (r6,
      // id)-ordered bests equals the global (r6 desc, id) rank-1
      val best = cellLocalBest(s, d,
        probes = probed.select($"vec_id".as("a_id"), $"cell"),
        home = probed.filter($"rk" === 1).select($"vec_id".as("b_id"), $"cell"),
        nBlocks = ivfBlocks(ctx.n0, tuning.nprobe), n0 = ctx.n0)
      best.withColumn("rk", row_number().over(
          Window.partitionBy($"a_id").orderBy(r6($"cosine").desc, $"nn_id")))
        .filter($"rk" === 1)
        .select($"a_id", $"nn_id", r4($"cosine").as("cosine"))
        .orderBy($"a_id")
  }

  private val q44 = Q(
    "q44_ann_ivf_multiprobe",
    (s, d) => ivfMultiprobeSearch(s, d, ivfCtx(s, d, annCtx(s, d))),
    Some(s"""
      WITH ${ivfOracleCtes(tuning.lloydIters)},
      probes AS (SELECT vec_id, cell FROM fa WHERE rk <= ${tuning.nprobe}),
      home AS (SELECT vec_id, cell FROM fa WHERE rk = 1),
      pd AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id, sum(x.v * y.v) AS dot
             FROM (SELECT p.vec_id, p.cell, u.i, u.v
                   FROM u JOIN probes p ON u.vec_id = p.vec_id) x
             JOIN (SELECT h.vec_id, h.cell, u.i, u.v
                   FROM u JOIN home h ON u.vec_id = h.vec_id) y
               ON x.i = y.i AND x.cell = y.cell AND x.vec_id <> y.vec_id
             GROUP BY 1, 2),
      scored AS (SELECT a_id, b_id, dot / (na.nrm * nb.nrm) AS cosine
                 FROM pd JOIN n na ON a_id = na.vec_id JOIN n nb ON b_id = nb.vec_id),
      rnk AS (SELECT a_id, b_id AS nn_id, cosine,
                row_number() OVER (PARTITION BY a_id
                  ORDER BY round(cosine, 6) DESC, b_id) AS rk
              FROM scored)
      SELECT a_id, nn_id, round(cosine, 4) AS cosine
      FROM rnk WHERE rk = 1
      ORDER BY a_id"""))

  /** Recall@1 report: how often each approximate tier (q41 LSH, q43
    * IVF, q44 multi-probe IVF) returns the TRUE nearest neighbor (q40
    * brute force) for the configured query set (vec_id < annQueries). A query whose
    * approximate tier returns nothing (bucket dropped / singleton cell)
    * counts as a miss — that IS the recall cost of the blocking scheme.
    * Everything here is deterministic (rounded scores, id tiebreaks),
    * so the report is oracle-checkable end-to-end: the quality dial for
    * the `lshTables` / `nprobe` / `lloydIters` knobs is itself a tested
    * query, not a side-channel script. (No reference analog — the
    * LLM-pipeline completeness item from the round-2 review.)
    *
    * ONE shared [[AnnCtx]] feeds brute force, LSH, and (via the shared
    * [[IvfCtx]]) both IVF tiers: the n×64 explode and the norm table
    * materialize once per query, not per tier (round-3 ran three
    * separate caches of the identical table — a third of q45's cost).
    */
  private val q45 = Q(
    "q45_ann_recall",
    (s, d) => {
      import s.implicits._
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val ctx = annCtx(s, d)
      // the ground-truth frame joins into EVERY method branch of the
      // union; materialize its ≤ annQueries rows ONCE (eager
      // localCheckpoint) instead of re-running the brute-force corpus
      // pass per branch — the 6-method union re-executed the whole
      // bruteforce subtree (collect + compiled heap pass + window) six
      // times, ~6 of the query's ~22 s stage-time at sf0.1. Guide §2.4
      // (shared subtree within one action) + §5 (lineage truncation);
      // same rows, bit-identical arithmetic. Runs on a driver thread so
      // the corpus pass overlaps the index reads/collects below (§2.6 —
      // back-fill idle cores instead of serializing the checkpoints).
      // ensureIndex is idempotent+synchronized, so racing it is safe.
      val gtF = Future {
        bruteforceDF(s, d).filter($"rk" === 1)
          .select($"q_id", $"n_id".as("true_nn"))
          .localCheckpoint()
      }
      val ictx = ivfCtx(s, d, ctx)
      val probed = probedDF(s, d).cache()
      // EVERY method branch materializes its ≤ annQueries-row NN frame
      // on its own driver thread (eager localCheckpoint): within one
      // action AQE interleaves the union's stages only partially (the
      // measured job overlap was ~1.8× across an 11 s job-run sum), so
      // running the six independent branch chains as concurrent jobs
      // lets each branch's stage tail back-fill the others' idle cores
      // (guide §2.6) and leaves a trivially cheap final union. The
      // checkpoints also truncate lineage: the un-truncated q45 plan
      // carried 107 Exchanges, and plan size is real optimizer cost
      // (§5). Same rows, bit-identical arithmetic per branch —
      // oracle-gated. ensureIndex is idempotent+synchronized and the
      // shared probed/u/norms caches race benignly (first computation
      // populates, the rest read).
      val iadcF = Future {
        ivfadcScoredDF(s, d, resAdcCtx(s, d, Some(probed)), Some(probed))
          .localCheckpoint()
      }
      def nnF(df: => DataFrame) = Future {
        df.select($"a_id", $"nn_id").localCheckpoint()
      }
      val ivfF = nnF(ivfSearch(s, d, ictx, Some(probed)))
      val mpF = nnF(ivfMultiprobeSearch(s, d, ictx, Some(probed)))
      val lshF = nnF(lshDF(s, d, ctx))
      val adcF = nnF(adcRankedDF(s, adcCtx(s, d, pqCtx(s, d)))
        .filter($"rk" === 1)
        .select($"q_id".as("a_id"), $"n_id".as("nn_id")))
      val iadcNNF = iadcF.map(sc => sc
        .withColumn("rk", row_number().over(
          Window.partitionBy($"q_id").orderBy(r6($"d2"), $"n_id")))
        .filter($"rk" === 1)
        .select($"q_id".as("a_id"), $"n_id".as("nn_id"))
        .localCheckpoint())
      val refF = iadcF.map(sc =>
        refinedDF(s, d, ctx, sc)
          .select($"a_id", $"nn_id").localCheckpoint())
      val gt = Await.result(gtF, Duration.Inf)
      def recallOf(method: String, f: Future[DataFrame]) = {
        val df = Await.result(f, Duration.Inf)
        gt.join(df.select($"a_id".as("q_id"), $"nn_id"), Seq("q_id"), "left")
          .agg(count(lit(1)).as("n_queries"),
            sum(when($"nn_id" === $"true_nn", 1L).otherwise(0L)).as("hits"))
          .select(lit(method).as("method"),
            $"n_queries".cast("long").as("n_queries"),
            $"hits".cast("long").as("hits"),
            r4($"hits".cast("double") / $"n_queries").as("recall_at_1"))
      }
      recallOf("ivf", ivfF)
        .unionAll(recallOf("ivf_multiprobe", mpF))
        .unionAll(recallOf("lsh", lshF))
        .unionAll(recallOf("pq_adc", adcF))
        .unionAll(recallOf("ivfadc", iadcNNF))
        .unionAll(recallOf("ivfadc_refined", refF))
        .orderBy($"method")
    },
    Some(s"""
      WITH gt AS (SELECT q_id, n_id AS true_nn
                  FROM (${q40.oracle.get}) bf WHERE rk = 1),
      m_lsh AS (SELECT a_id, nn_id FROM (${q41.oracle.get}) x),
      m_ivf AS (SELECT a_id, nn_id FROM (${q43.oracle.get}) x),
      m_mp AS (SELECT a_id, nn_id FROM (${q44.oracle.get}) x),
      m_adc AS (SELECT q_id AS a_id, n_id AS nn_id FROM ($adcOracleSql) x
                WHERE x.rk = 1),
      m_iadc AS (SELECT q_id AS a_id, n_id AS nn_id FROM ($ivfadcOracleSql) x
                 WHERE x.rk = 1),
      m_ref AS (SELECT a_id, nn_id FROM ($refinedOracleSql) x),
      r AS (
        SELECT 'ivf' AS method, CAST(count(*) AS BIGINT) AS n_queries,
               CAST(sum(CASE WHEN m.nn_id = gt.true_nn THEN 1 ELSE 0 END) AS BIGINT) AS hits
        FROM gt LEFT JOIN m_ivf m ON gt.q_id = m.a_id
        UNION ALL
        SELECT 'ivf_multiprobe', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN m.nn_id = gt.true_nn THEN 1 ELSE 0 END) AS BIGINT)
        FROM gt LEFT JOIN m_mp m ON gt.q_id = m.a_id
        UNION ALL
        SELECT 'lsh', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN m.nn_id = gt.true_nn THEN 1 ELSE 0 END) AS BIGINT)
        FROM gt LEFT JOIN m_lsh m ON gt.q_id = m.a_id
        UNION ALL
        SELECT 'pq_adc', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN m.nn_id = gt.true_nn THEN 1 ELSE 0 END) AS BIGINT)
        FROM gt LEFT JOIN m_adc m ON gt.q_id = m.a_id
        UNION ALL
        SELECT 'ivfadc', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN m.nn_id = gt.true_nn THEN 1 ELSE 0 END) AS BIGINT)
        FROM gt LEFT JOIN m_iadc m ON gt.q_id = m.a_id
        UNION ALL
        SELECT 'ivfadc_refined', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN m.nn_id = gt.true_nn THEN 1 ELSE 0 END) AS BIGINT)
        FROM gt LEFT JOIN m_ref m ON gt.q_id = m.a_id)
      SELECT method, n_queries, hits,
             round(CAST(hits AS DOUBLE) / n_queries, 4) AS recall_at_1
      FROM r ORDER BY method"""))

  /** Symmetric int8 scalar quantization of the embedding column — the
    * standard 4× storage/IO cut for large vector stores (per-vector
    * max-abs scale, q = round(v/scale·127)) — reported as per-label
    * reconstruction error (RMSE + worst-case) so the compression is a
    * measured decision, not a guess. All row-local except one tiny
    * per-vector scale agg and the final per-label agg; both engines
    * compute the identical round-half-up quantizer (floor(x + 0.5)),
    * so the report is hash-checked. Zero vectors quantize to zero
    * (scale 0 guard) rather than NaN.
    */
  private val q46 = Q(
    "q46_embedding_quantization",
    (s, d) => {
      import s.implicits._
      val u = unpacked(s, d)
      val mx = u.groupBy($"vec_id").agg(max(abs($"v")).as("mx"))
      val qd = u.join(mx, "vec_id")
        .withColumn("dq", when($"mx" === 0, 0.0)
          .otherwise(floor($"v" / $"mx" * 127 + 0.5) * $"mx" / 127))
      qd.groupBy($"label")
        .agg(count(lit(1)).as("n_vals"),
          r6(sqrt(avg(($"v" - $"dq") * ($"v" - $"dq")))).as("rmse"),
          r6(max(abs($"v" - $"dq"))).as("max_err"))
        .orderBy($"label")
    },
    Some("""
      WITH u AS (SELECT vec_id, label,
                   generate_subscripts(embedding, 1) AS i,
                   unnest(embedding)::DOUBLE AS v
                 FROM embeddings),
      mx AS (SELECT vec_id, max(abs(v)) AS mx FROM u GROUP BY vec_id),
      qd AS (SELECT u.label, u.v,
               CASE WHEN mx.mx = 0 THEN 0.0
                    ELSE floor(u.v / mx.mx * 127 + 0.5) * mx.mx / 127 END AS dq
             FROM u JOIN mx ON u.vec_id = mx.vec_id)
      SELECT label, count(*) AS n_vals,
             round(sqrt(avg((v - dq) * (v - dq))), 6) AS rmse,
             round(max(abs(v - dq)), 6) AS max_err
      FROM qd
      GROUP BY label
      ORDER BY label"""))

  /** Product quantization (the Jégou/Douze/Schmid PQ scheme every
    * production vector store ships beside scalar quantization): the
    * 64-dim vector splits into 8 subspaces of 8 dims; each subspace
    * gets its own small codebook (⌈n/stride⌉ ≈ 16 deterministic seed
    * sub-vectors, one Lloyd refinement with r6-rounded centroids and
    * rounded-score/centroid-id tiebreaks, exactly the q43 recipe per
    * subspace), and a vector stores one centroid id per subspace —
    * 8 × 4 bits here vs 256 float bytes, a 64× cut, with the
    * reconstruction error reported per label so PQ vs int8 (q46) is a
    * measured trade, not a guess.
    *
    * Scale shape — the q43 broadcast-codebook recipe, NOT a join+window
    * (round 2 already replaced that anti-pattern for IVF: the
    * assignment join shuffled n×k partial scores): codebooks are m×k×8
    * doubles, always broadcast; each pass is ONE compiled map over the
    * vectors (assign all 8 subspaces in a tight loop, emit either the
    * centroid-sum contributions or the per-element errors) feeding one
    * map-side-combinable agg. No shuffle carries a ×k fan-out, no
    * window at all. The oracle replays seed → assign → refine →
    * assign → reconstruct verbatim in SQL; dims absent from a centroid
    * or vector reconstruct as 0.0 on both engines (ragged guard), and
    * assignment distances sum only dims both sides hold, like the
    * oracle's equi-join.
    */
  /** Per-subspace codebook: (centroid id, subspace) → present
    * (dim-in-sub, value) pairs — sparse so ragged seeds mirror the
    * oracle's absent rows.
    */
  private type PqCodebook = Array[(Long, Int, Array[(Int, Double)])]

  /** The codebook re-grouped by subspace ONCE (not per row — the
    * assignment runs per vector on the hot path): sub → sorted
    * (centroid id, present (dim, value) pairs).
    */
  private def pqBySub(cb: PqCodebook): Array[Array[(Long, Array[(Int, Double)])]] = {
    val maxSub = if (cb.isEmpty) -1 else cb.map(_._2).max
    val out = Array.fill(maxSub + 1)(Array.empty[(Long, Array[(Int, Double)])])
    cb.groupBy(_._2).foreach { case (sub, cents) =>
      out(sub) = cents.map(c => (c._1, c._3)).sortBy(_._1)
    }
    out
  }

  /** Nearest centroid per subspace for one vector — rounded score +
    * centroid-id tiebreak, the [[assignCells]] determinism recipe.
    * Returns nearest-centroid id indexed by subspace (-1 = empty sub).
    */
  private def pqNearest(v: Array[Double],
      bySub: Array[Array[(Long, Array[(Int, Double)])]],
      subDim: Int): Array[Long] = {
    val out = new Array[Long](bySub.length)
    var sub = 0
    while (sub < bySub.length) {
      var bestScore = Double.MaxValue
      var bestCent = -1L
      bySub(sub).foreach { case (cent, pairs) =>
        var d2 = 0.0
        pairs.foreach { case (sd, cv) =>
          val idx = sub * subDim + sd
          // the oracle's d2 is an equi-join on (sub, sd): a dim absent
          // from EITHER side contributes nothing to assignment (absent
          // dims surface only at reconstruction, as v−0)
          if (idx < v.length) { val e = v(idx) - cv; d2 += e * e }
        }
        val r = math.floor(d2 * 1e6 + 0.5) / 1e6
        // strict < keeps the lowest centroid id on ties (ids ascend)
        if (r < bestScore) { bestScore = r; bestCent = cent }
      }
      out(sub) = bestCent
      sub += 1
    }
    out
  }

  /** The q47/q48 oracle's shared CTE chain: stride seeds → assign →
    * r6 centroid means → final assignment `a1`, beside the exploded
    * `us` and refined codebook `cb1`.
    */
  private def pqOracleCtes: String = s"""pparams AS (SELECT greatest(1, count(*) // ${tuning.pqCentroids}) AS stride FROM embeddings),
      pu AS (SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS i,
              unnest(embedding)::DOUBLE AS v FROM embeddings),
      pus AS (SELECT vec_id, label, CAST(i // ${tuning.pqSubDim} AS INT) AS sub,
               CAST(i % ${tuning.pqSubDim} AS INT) AS sd, v FROM pu),
      pcb0 AS (SELECT vec_id AS cent, sub, sd, v AS cv FROM pus
              WHERE vec_id % (SELECT stride FROM pparams) = 0
                AND sub < ${tuning.pqSubspaces}),
      pd0 AS (SELECT pus.vec_id, pus.sub, c.cent,
               sum((pus.v - c.cv) * (pus.v - c.cv)) AS d2
             FROM pus JOIN pcb0 c ON pus.sub = c.sub AND pus.sd = c.sd
             GROUP BY 1, 2, 3),
      pa0 AS (SELECT vec_id, sub, cent FROM (
               SELECT vec_id, sub, cent,
                      row_number() OVER (PARTITION BY vec_id, sub
                        ORDER BY round(d2, 6), cent) AS rk
               FROM pd0) WHERE rk = 1),
      pcb1 AS (SELECT a.sub, a.cent, pus.sd, round(avg(pus.v), 6) AS cv
              FROM pus JOIN pa0 a ON pus.vec_id = a.vec_id AND pus.sub = a.sub
              GROUP BY 1, 2, 3),
      pd1 AS (SELECT pus.vec_id, pus.sub, c.cent,
               sum((pus.v - c.cv) * (pus.v - c.cv)) AS d2
             FROM pus JOIN pcb1 c ON pus.sub = c.sub AND pus.sd = c.sd
             GROUP BY 1, 2, 3),
      pa1 AS (SELECT vec_id, sub, cent FROM (
               SELECT vec_id, sub, cent,
                      row_number() OVER (PARTITION BY vec_id, sub
                        ORDER BY round(d2, 6), cent) AS rk
               FROM pd1) WHERE rk = 1)"""

  /** The shared PQ context: the cached typed embeddings view and the
    * Lloyd-refined per-subspace codebook (seed on `vec_id % stride`,
    * one compiled assignment pass, r6-rounded centroid means) — built
    * once, consumed by q47 (reconstruction error) and q48 (ADC search).
    */
  private case class PqCtx(
      emb: org.apache.spark.sql.Dataset[(Long, String, Array[Float])],
      cb1: PqCodebook)

  /** The cached typed embeddings view — the corpus scan every PQ stage
    * shares (LUT query side, q47's exploded recon view, the build).
    */
  private def pqEmb(s: SparkSession, d: String) = {
    import s.implicits._
    spread(t(s, d, "embeddings"))
      .select($"vec_id", $"label", $"embedding")
      .as[(Long, String, Array[Float])].cache()
  }

  /** [[pqEmb]] widened to double components (exact), the raw-vector
    * input of the flat PQ build. */
  private def pqEmbD(s: SparkSession, d: String) = {
    import s.implicits._
    pqEmb(s, d)
      .select($"vec_id", $"label",
        expr("transform(embedding, x -> cast(x as double))").as("embedding"))
      .as[(Long, String, Array[Double])]
  }

  /** The residual view x − centroid(home cell) — the input FAISS's
    * IVFADC trains its PQ on. Home is the rank-1 cell of the SAME
    * [[Similarity.nearestCells]] arithmetic the stored assignment
    * replays; centroid dims absent from the sparse row set subtract
    * 0.0 (the oracle's LEFT JOIN … coalesce(cv, 0)); NULL embeddings
    * stay NULL (skipped by the builder like the oracle's empty
    * unnest). Build-side only — one compiled broadcast-codebook map,
    * no shuffle.
    */
  private def resEmbD(s: SparkSession, d: String, cb: Codebook) = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(cb)
    pqEmb(s, d).mapPartitions { it =>
      val cells = bc.value
      val byId = cells.toMap
      it.map { case (id, label, vf) =>
        if (vf == null) (id, label, null.asInstanceOf[Array[Double]])
        else {
          val v = vf.map(_.toDouble)
          val home = Similarity.nearestCells(v, cells, 1).head._1
          val c = byId(home)
          (id, label, Array.tabulate(v.length)(i =>
            v(i) - (if (i < c.length) c(i) else 0.0)))
        }
      }
    }.toDF("vec_id", "label", "embedding")
      .as[(Long, String, Array[Double])]
  }

  /** READ-side PQ context: the corpus view plus the STORED refined
    * codebook ([[ensureIndex]] — built once per (sf dir, knobs), read
    * thereafter).
    */
  private def pqCtx(s: SparkSession, d: String): PqCtx =
    PqCtx(pqEmb(s, d), loadPqCodebook(s, d))

  /** BUILD-side PQ codebook: seed on `vec_id % stride`, one compiled
    * Lloyd pass, r6-rounded centroid means. Runs only inside
    * [[buildIndex]] — queries read the stored table. Takes DOUBLE
    * components so the residual half ([[resEmbD]] — x − centroid,
    * computed in double on both engines) trains without a lossy
    * float round-trip; the raw half converts float→double upstream
    * (exact).
    */
  private def buildPqCodebook(s: SparkSession, d: String,
      emb: org.apache.spark.sql.Dataset[(Long, String, Array[Double])]): PqCodebook = {
    import s.implicits._
    val n0 = Tables.rowCount(s, d, "embeddings")
    val stride = math.max(1L, n0 / tuning.pqCentroids)
    // seed codebook: stride sub-vectors, driver-collected (tiny)
    val cb0: PqCodebook = emb
      .filter($"vec_id" % stride === 0 && $"embedding".isNotNull)
      .select($"vec_id", $"embedding").as[(Long, Array[Double])]
      .collect()
      .flatMap { case (sid, v) =>
        (0 until tuning.pqSubspaces).map { sub =>
          val pairs = (0 until tuning.pqSubDim).flatMap { sd =>
            val idx = sub * tuning.pqSubDim + sd
            if (idx < v.length) Some((sd, v(idx))) else None
          }.toArray
          (sid, sub, pairs)
        }.filter(_._3.nonEmpty)
      }.sortBy(c => (c._1, c._2))
    // one compiled Lloyd pass: assign on seeds, emit centroid
    // contributions, r6-rounded means become the refined codebook
    val bc = s.sparkContext.broadcast(cb0)
    val subDim = tuning.pqSubDim
    val cb1: PqCodebook = emb.mapPartitions { it =>
        val bySub = pqBySub(bc.value)  // regrouped once per partition
        it.flatMap { case (_, _, v) =>
          if (v == null) Iterator.empty
          else {
            val asg = pqNearest(v, bySub, subDim)
            // bound by the codebook's subspace count: a corpus vector
            // longer than every seed has no centroids (hence no oracle
            // assignment rows) past bySub.length — skip, don't index
            val lim = math.min(v.length, bySub.length * subDim)
            (0 until lim).iterator.map { i =>
              (i / subDim, asg(i / subDim), i % subDim, v(i))
            }
          }
        }
      }.toDF("sub", "cent", "sd", "v")
      .groupBy($"sub", $"cent", $"sd")
      .agg(r6(avg($"v")).as("cv"))
      .as[(Int, Long, Int, Double)]
      .collect()
      .groupBy(c => (c._2, c._1)).toArray
      .map { case ((cent, sub), rows) =>
        (cent, sub, rows.map(r => (r._3, r._4)).sortBy(_._1))
      }.sortBy(c => (c._1, c._2))
    cb1
  }

  // ------------------------------------------------------------------
  // The stored vector index — build once per (sf dir, knobs), search
  // many. The MediaLake pattern (Multimodal.scala): a keyed parquet
  // artifact installed by staged rename, idempotent, crash-healed;
  // every ANN/PQ search READS the stored tables instead of recomputing
  // the Lloyd refinement, corpus assignment, and PQ codes per query.
  // At 100 TB the build is hours while a search is ms — this is the
  // difference between "an ANN query" and a vector store.
  //
  // Four tables under one root:
  //   ivf_codebook(cell, dim, cv)   — the Lloyd-refined coarse quantizer
  //                                   (sparse rows = the oracle's
  //                                   cb{lloydIters} CTE; tiny, read →
  //                                   broadcast)
  //   ivf_assign(vec_id, cell, rk)  — every vector's nprobe nearest
  //                                   cells (rk = 1 is the home cell)
  //   pq_codebook(cent, sub, sd, cv)— the refined per-subspace PQ
  //                                   codebook (tiny, read → broadcast)
  //   pq_codes(n_id, sub, cent)     — the corpus PQ codes the flat ADC
  //                                   scan (q48) ranks on
  //   pq_res_codebook(cent,sub,sd,cv)— the RESIDUAL PQ codebook,
  //                                   trained on x − centroid(home) —
  //                                   FAISS IVFADC proper
  //   pq_res_codes(n_id, sub, cent) — the corpus residual codes the
  //                                   IVF-gated ADC (q49, q45 ivfadc
  //                                   tiers) ranks on
  //
  // The key hashes the sf dir plus every knob that SHAPES the artifact
  // (lloydIters, nprobe, pqSubspaces, pqSubDim, pqCentroids) — a tuned
  // registry gets its own index; annQueries/refineFactor are
  // search-time-only and deliberately excluded. The stored content is
  // bit-deterministic (r6 rounding, id tiebreaks), so losing an
  // install race to another process is success, and the index-build
  // query (q67) hash-pins the whole artifact against the oracle's
  // from-scratch SQL replay.
  // ------------------------------------------------------------------

  /** Bump when the index derivation changes: stale artifacts keyed by
    * older versions can never be served against new oracle arithmetic.
    * v2: added the residual-PQ half (pq_res_codebook / pq_res_codes).
    */
  private val indexVersion = 2

  /** Snapshot the root once per instance: ensure and the subsequent
    * reads must resolve the SAME path even if the property changes
    * mid-session (spec isolation).
    */
  @transient private lazy val indexRoot: String = ArtifactLake.indexRoot

  /** Fingerprint of the embeddings table's FILE LISTING (names, sizes,
    * mtimes) — a stat-only walk, no data read. Part of the index key:
    * the artifact depends on the corpus CONTENT, not just the dir
    * path, so a regenerated table at the same path re-keys and can
    * never be served a stale stored index (the failure would otherwise
    * surface as oracle hash-mismatches misdiagnosed as engine bugs —
    * or, for the oracle-less [[search]], as silently wrong neighbors).
    * Non-local paths fall back to path-only keying ("nofp").
    */
  private[operators] def dataFingerprint(d: String): String =
    ArtifactLake.fingerprint(new java.io.File(s"$d/embeddings.parquet"))

  private[operators] def indexPath(d: String): String = {
    val knobs = s"${tuning.lloydIters}:${tuning.nprobe}:${tuning.pqSubspaces}:" +
      s"${tuning.pqSubDim}:${tuning.pqCentroids}"
    ArtifactLake.keyedPath(indexRoot, "index",
      ArtifactLake.sourceKey(d, s"$knobs:$indexVersion"), indexVersion,
      dataFingerprint(d))
  }

  /** Install-or-reuse via the shared [[ArtifactLake]] machinery; the
    * build is deterministic and the path keys knobs + data fingerprint,
    * so losing an install race to another process is success. A second
    * instance (the "second session") finds the marker and reuses the
    * artifact, which IndexLakeSpec proves via [[Similarity.indexBuilds]].
    */
  private[operators] def ensureIndex(s: SparkSession, d: String): Unit = synchronized {
    ArtifactLake.buildOnce(indexPath(d), Similarity.indexBuilds) { staging =>
      buildIndex(s, d, staging.getAbsolutePath)
    }
  }

  /** One pass over the corpus per index half: IVF (Lloyd-refined
    * codebook + nprobe cell assignment) and PQ (refined codebook +
    * corpus codes), written as parquet into the staging dir. Codebooks
    * are driver-tiny and written single-file; the corpus-sized tables
    * (`ivf_assign`, `pq_codes`) write with the scan's partitioning —
    * at production scale they are the distributed outputs of the two
    * compiled assignment maps, no extra shuffle.
    */
  private def buildIndex(s: SparkSession, d: String, staging: String): Unit = {
    import s.implicits._
    val ctx = annCtx(s, d)
    val k = math.ceil(math.sqrt(ctx.n0.toDouble) - 1e-9).toLong
    val stride = math.max(1L, ctx.n0 / k)
    val cbRows = refinedCodebookRows(s, d, stride, ctx.u, tuning.lloydIters)
    cbRows.toSeq.toDF("cell", "dim", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$staging/ivf_codebook")
    assignCells(s, d, Similarity.rowsToCodebook(cbRows), nProbe = tuning.nprobe)
      .write.mode("overwrite").parquet(s"$staging/ivf_assign")
    val embD = pqEmbD(s, d)
    val cb1 = buildPqCodebook(s, d, embD)
    cb1.toSeq
      .flatMap { case (cent, sub, pairs) =>
        pairs.map { case (sd, cv) => (cent, sub, sd, cv) }
      }.toDF("cent", "sub", "sd", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$staging/pq_codebook")
    buildPqCodes(s, embD, cb1)
      .write.mode("overwrite").parquet(s"$staging/pq_codes")
    // residual half (FAISS IVFADC proper): train and encode on
    // x − centroid(home cell) so the PQ spends its centroids on the
    // within-cell displacement, not on re-describing the cell layout —
    // same builder, residual input
    val rEmb = resEmbD(s, d, Similarity.rowsToCodebook(cbRows))
    val rcb1 = buildPqCodebook(s, d, rEmb)
    rcb1.toSeq
      .flatMap { case (cent, sub, pairs) =>
        pairs.map { case (sd, cv) => (cent, sub, sd, cv) }
      }.toDF("cent", "sub", "sd", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$staging/pq_res_codebook")
    buildPqCodes(s, rEmb, rcb1)
      .write.mode("overwrite").parquet(s"$staging/pq_res_codes")
    // deliberately NO unpersist: Spark caches by logical plan, so the
    // entries built here are the SAME entries the triggering query's
    // own annCtx/pqCtx share — evicting them would force the first-
    // build query to re-materialize the n×64 explode for every later
    // tier. The per-query harness (Verify/Bench) clears the cache
    // between queries.
  }

  /** Corpus PQ codes `(n_id, sub, cent)` — the compiled assignment map
    * over the refined codebook (the oracle's pa1 / ra1). Build-side
    * only; double components for the same reason as
    * [[buildPqCodebook]].
    */
  private def buildPqCodes(s: SparkSession,
      emb: org.apache.spark.sql.Dataset[(Long, String, Array[Double])],
      cb1: PqCodebook): DataFrame = {
    import s.implicits._
    val bc1 = s.sparkContext.broadcast(cb1)
    val subDim = tuning.pqSubDim
    emb.mapPartitions { it =>
      val bySub = pqBySub(bc1.value)
      it.flatMap { case (id, _, v) =>
        if (v == null) Iterator.empty
        else {
          val asg = pqNearest(v, bySub, subDim)
          val nSubs = math.min(bySub.length, (v.length + subDim - 1) / subDim)
          (0 until nSubs).iterator
            .filter(sub => asg(sub) >= 0)
            .map(sub => (id, sub, asg(sub)))
        }
      }
    }.toDF("n_id", "sub", "cent")
  }

  /** The stored coarse quantizer, read → dense → broadcast-small: the
    * entry point for assigning an OUT-OF-CORPUS query vector to its
    * probe cells (corpus vectors are pre-assigned in `ivf_assign`).
    * Exercised by IndexLakeSpec; the registry's own query set is
    * corpus-drawn, so the registered searches go through [[probedDF]].
    */
  private[operators] def loadIvfCodebook(s: SparkSession, d: String): Codebook = {
    ensureIndex(s, d)
    import s.implicits._
    Similarity.rowsToCodebook(
      s.read.parquet(s"${indexPath(d)}/ivf_codebook")
        .select($"cell", $"dim", $"cv").as[(Long, Int, Double)].collect())
  }

  /** The stored nprobe cell-assignment table (rk = 1 is the home cell). */
  private def probedDF(s: SparkSession, d: String): DataFrame = {
    ensureIndex(s, d)
    s.read.parquet(s"${indexPath(d)}/ivf_assign")
  }

  /** The stored PQ codebook, regrouped to the in-memory shape. */
  private def loadPqCodebook(s: SparkSession, d: String): PqCodebook = {
    ensureIndex(s, d)
    import s.implicits._
    s.read.parquet(s"${indexPath(d)}/pq_codebook")
      .select($"cent", $"sub", $"sd", $"cv").as[(Long, Int, Int, Double)]
      .collect()
      .groupBy(c => (c._1, c._2)).toArray
      .map { case ((cent, sub), rows) =>
        (cent, sub, rows.map(r => (r._3, r._4)).sortBy(_._1))
      }.sortBy(c => (c._1, c._2))
  }

  /** The stored corpus PQ codes — what the flat ADC scan ranks on. */
  private def codesDF(s: SparkSession, d: String): DataFrame = {
    ensureIndex(s, d)
    s.read.parquet(s"${indexPath(d)}/pq_codes")
  }

  /** The stored corpus RESIDUAL codes — what [[search]] and the
    * IVF-gated tiers rank on. */
  private def resCodesDF(s: SparkSession, d: String): DataFrame = {
    ensureIndex(s, d)
    s.read.parquet(s"${indexPath(d)}/pq_res_codes")
  }

  /** The stored RESIDUAL PQ codebook, regrouped to the in-memory
    * shape — the quantizer [[search]] and [[addVectors]] encode
    * against. */
  private def loadResPqCodebook(s: SparkSession, d: String): PqCodebook = {
    ensureIndex(s, d)
    import s.implicits._
    s.read.parquet(s"${indexPath(d)}/pq_res_codebook")
      .select($"cent", $"sub", $"sd", $"cv").as[(Long, Int, Int, Double)]
      .collect()
      .groupBy(c => (c._1, c._2)).toArray
      .map { case ((cent, sub), rows) =>
        (cent, sub, rows.map(r => (r._3, r._4)).sortBy(_._1))
      }.sortBy(c => (c._1, c._2))
  }

  /** The SERVING path of the vector store: ANN top-k for AD-HOC query
    * vectors (not drawn from the corpus) over the STORED index, end to
    * end — no index build, no corpus floats except the refine
    * shortlist:
    *
    *  1. assign each query to its `nprobe` nearest cells against the
    *     READ coarse codebook (driver-side [[Similarity.nearestCells]]
    *     — the codebook is √n·dims, always small);
    *  2. candidates = corpus vectors HOMED in the probed cells, from
    *     the stored `ivf_assign` (broadcast query-probe table joined
    *     into the corpus-sized assignment — one equi-join);
    *  3. rank by RESIDUAL PQ asymmetric distance (the q49 arithmetic):
    *     per-(query, probed cell) LUT computed driver-side — the
    *     query's residual w.r.t. each probed centroid against the READ
    *     residual codebook (nq×nprobe×subs×cents rows, broadcast) —
    *     summed over the stored `pq_res_codes` — 8 lookups per
    *     candidate, floats untouched;
    *  4. optionally (`refine = true`) re-rank the top
    *     `refineFactor × k` shortlist by exact cosine over the corpus
    *     floats — the only step that touches them.
    *
    * Every corpus-sized read (assignment, codes, refine floats) is the
    * base table ∪ the installed [[addVectors]] delta segments, so
    * added vectors are served exactly like built ones.
    *
    * Not a driver-contract query (ad-hoc input has no oracle);
    * spec-covered by SimilaritySearchSpec, which feeds known vectors
    * and checks the exact-identity and brute-force agreement
    * properties. Queries with NULL/empty vectors return no rows.
    */
  def search(s: SparkSession, d: String,
      queryVecs: Seq[(Long, Array[Float])], k: Int = 5,
      refine: Boolean = true): DataFrame = {
    import s.implicits._
    ensureIndex(s, d)
    val qs = queryVecs.filter(q => q._2 != null && q._2.nonEmpty)
      .map { case (qid, vf) => (qid, vf.map(_.toDouble)) }
    val cb = loadIvfCodebook(s, d)
    val probesLocal = qs.flatMap { case (qid, v) =>
      Similarity.nearestCells(v, cb, tuning.nprobe)
        .map { case (cell, _) => (qid, cell) }
    }
    val qprobes = probesLocal.toDF("q_id", "cell")
    val qcomp = qs.flatMap { case (qid, v) =>
      v.iterator.zipWithIndex.map { case (x, i) => (qid, i, x) }
    }.toDF("q_id", "i", "qv")
    val qn = qs.map { case (qid, v) =>
      var s2 = 0.0
      var i = 0
      while (i < v.length) { s2 += v(i) * v(i); i += 1 }
      (qid, math.sqrt(s2))
    }.toDF("q_id", "qn")
    // queries, probes and both codebooks are driver-held — the residual
    // LUT is pure driver arithmetic ([[denseResidualLut]]); zero LUT jobs
    val dense = denseResidualLut(s, qs, probesLocal, cb,
      loadResPqCodebook(s, d))
    searchFrom(s, d, qprobes, qcomp, qn, k, refine, bcast = true, Some(dense))
  }

  /** Bulk, DataFrame-native serve — [[search]] for a query BATCH that
    * never materializes on the driver (the write side's [[addVectors]]
    * DataFrame contract, mirrored onto the read side): probe
    * assignment runs as the same broadcast-codebook compiled map the
    * index build and the DML encode use ([[assignCells]] arithmetic —
    * the codebook is the one driver-held object, √n·dims by
    * construction), the exploded query components and norms are
    * derived declaratively, and every query-sized frame joins WITHOUT
    * a driver-materializing broadcast hint — AQE picks the strategy
    * from runtime sizes, so a million-query re-scoring batch shuffles
    * where the ad-hoc path would broadcast.
    *
    * `queries` needs `q_id` (castable to LONG) and `embedding`
    * (castable to ARRAY&lt;FLOAT&gt;); NULL/empty embeddings are
    * dropped like the `Seq` overload's. Output schema and arithmetic
    * are identical to the `Seq` overload (BulkServeSpec pins the
    * agreement); no default arguments because the `Seq` overload
    * carries them.
    */
  def search(s: SparkSession, d: String, queries: DataFrame, k: Int,
      refine: Boolean): DataFrame = {
    import s.implicits._
    ensureIndex(s, d)
    val norm = queries.selectExpr(
        "cast(q_id as bigint) as q_id",
        "cast(embedding as array<float>) as embedding")
      .filter("q_id is not null and embedding is not null and size(embedding) > 0")
    val bcCb = s.sparkContext.broadcast(loadIvfCodebook(s, d))
    val np = tuning.nprobe
    val qprobes = norm.as[(Long, Array[Float])].mapPartitions { it =>
      val cells = bcCb.value
      it.flatMap { case (qid, vf) =>
        Similarity.nearestCells(vf.map(_.toDouble), cells, np)
          .iterator.map { case (cid, _) => (qid, cid) }
      }
    }.toDF("q_id", "cell")
    val qcomp = norm
      .select($"q_id", posexplode(
        expr("transform(embedding, x -> cast(x as double))")))
      .select($"q_id", $"pos".as("i"), $"col".as("qv"))
    val qn = qcomp.groupBy($"q_id")
      .agg(sqrt(sum($"qv" * $"qv")).as("qn"))
    searchFrom(s, d, qprobes, qcomp, qn, k, refine, bcast = false, None)
  }

  /** The shared serving tail behind both [[search]] overloads, from
    * probe table to ranked output. `qprobes` = (q_id, cell), `qcomp` =
    * the exploded (q_id, i, qv) query components, `qn` = (q_id, qn)
    * norms; `bcast` keeps the ad-hoc overload's broadcast hints on the
    * query-sized frames (nq is Seq-bounded there) and drops them for
    * the bulk overload (AQE decides from runtime sizes).
    */
  private def searchFrom(s: SparkSession, d: String, qprobes: DataFrame,
      qcomp: DataFrame, qn: DataFrame, k: Int, refine: Boolean,
      bcast: Boolean, dense: Option[DenseLut]): DataFrame = {
    import s.implicits._
    def hint(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df
    // ONE composition snapshot for the whole serve: every live
    // view below (assignment, tombstones, codes, refine floats) is
    // composed against the same view, so a compact/rebase installing
    // mid-plan-construction cannot yield a mixed old-list/new-tombstone
    // view that briefly serves a retired vector
    val v = ArtifactLake.deltaView(indexPath(d))
    // base ∪ installed delta segments: added vectors are served the
    // moment their segment's marker lands ([[addVectors]]); tombstoned
    // ids drop out here, upstream of codes and refine ([[removeVectors]])
    val home = ArtifactLake.minusTombstones(
      ArtifactLake.withLayers(s, v, probedDF(s, d), "ivf_assign",
          baseReplacesRoot = true)
        .filter($"rk" === 1)
        .select($"vec_id".as("n_id"), $"cell"),
      ArtifactLake.liveTombstones(s, v), "n_id")
    val cand = home.join(hint(qprobes), "cell")
      .select($"q_id", $"n_id", $"cell")
    // RESIDUAL ADC — the q49 arithmetic. Ad-hoc batches (`dense`
    // present: queries, probes and codebooks are driver-held) score via
    // the dense broadcast LUT — one array load per code row, no
    // broadcast hash relation ([[DenseLut]]); the bulk overload keeps
    // the plan-side LUT derivation ([[residualLut]]): a million-query
    // batch's LUT is computed distributed, never on the driver.
    val codesView = ArtifactLake.withLayers(s, v, resCodesDF(s, d),
      "pq_res_codes", baseReplacesRoot = true)
    val scored = (dense match {
      case Some(dl) =>
        cand.join(codesView, "n_id")
          .withColumn("pd2", dl.pd2($"q_id", $"cell", $"sub", $"cent"))
      case None =>
        cand.join(codesView, "n_id")
          .join(residualLut(s, d, qprobes, qcomp),
            Seq("q_id", "cell", "sub", "cent"))
    }).groupBy($"q_id", $"n_id")
      .agg(sum($"pd2").as("d2"))
      .filter($"d2".isNotNull) // the dense path's missing-key drop
    val ranked = scored.withColumn("rk", row_number().over(
      Window.partitionBy($"q_id").orderBy(r6($"d2"), $"n_id")))
    if (!refine)
      ranked.filter($"rk" <= k)
        .select($"q_id", $"rk".cast("long").as("rk"), $"n_id",
          r4($"d2").as("approx_d2"))
        .orderBy($"q_id", $"rk")
    else {
      val topR = ranked.filter($"rk" <= tuning.refineFactor.toLong * k)
        .select($"q_id", $"n_id")
      // exact-refine floats, PACKED: the corpus table ∪ the generation's
      // folded vectors ∪ each unconsumed segment's stored vectors, kept
      // as arrays and joined to the shortlist on n_id — ONE corpus scan,
      // no n×dims explode, and candidate norms computed per shortlist
      // row (the previous form ran a full-corpus norms AGGREGATE per
      // serve call — corpus-proportional serve work — plus a
      // shortlist×dims broadcast hash relation). The `aggregate` HOF
      // accumulates i-ascending in double, the exact order the norms
      // hash aggregate consumed the posexplode rows, and the dot's
      // per-(q, n) sum still reduces i-ascending — cosine doubles are
      // bit-unchanged (oracle-gated).
      // isNotNull preserves the pre-packed drop semantics: posexplode
      // of a NULL embedding emitted no rows, so a null-embedding
      // candidate vanished rather than carrying null cn/dot forward
      val e0 = t(s, d, "embeddings")
        .filter($"embedding".isNotNull)
        .select($"vec_id",
          expr("transform(embedding, x -> cast(x as double))").as("embedding"))
      val emb = v.tables("vectors").foldLeft(e0)((acc, f) =>
        acc.unionByName(s.read.parquet(f.getAbsolutePath).select($"vec_id",
          expr("transform(embedding, x -> cast(x as double))").as("embedding"))))
      val pairs = hint(topR)
        .join(emb.withColumnRenamed("vec_id", "n_id"), "n_id")
        .withColumn("cn", sqrt(expr(
          "aggregate(embedding, cast(0 as double), (a, x) -> a + x * x)")))
      val scoredRef = pairs.join(hint(qcomp), "q_id")
        .select($"q_id", $"n_id", $"cn",
          ($"qv" * $"embedding"($"i")).as("pd"))
        .groupBy($"q_id", $"n_id")
        .agg(sum($"pd").as("dot"), max($"cn").as("cn"))
      scoredRef.join(hint(qn), "q_id")
        .withColumn("cosine", $"dot" / ($"qn" * $"cn"))
        .withColumn("rk", row_number().over(
          Window.partitionBy($"q_id").orderBy(r6($"cosine").desc, $"n_id")))
        .filter($"rk" <= k)
        .select($"q_id", $"rk".cast("long").as("rk"), $"n_id",
          r4($"cosine").as("cosine"))
        .orderBy($"q_id", $"rk")
    }
  }

  /** The LIVE vector view of the stored index as one DataFrame
    * `(vec_id, embedding)`: every id [[search]] would serve — base
    * corpus ∪ the snapshot generation's folded vectors ∪ each
    * unconsumed add segment's stored vectors, minus live tombstones.
    * ONE generation-pointer read composes the whole view (the same
    * snapshot isolation every serve call gets).
    *
    * This IS the engine's relational access path to the store —
    * deliberately a DataFrame-composing function, NOT a custom
    * DataSource: the view is a union of parquet scans plus one
    * broadcast anti-join, and leaving it as plan composition keeps
    * Catalyst's pushdown/pruning and whole-stage codegen across the
    * boundary (a DSv2 façade would re-implement the parquet reader
    * behind an opaque wall; a DSv1 RDD bridge would sever codegen).
    * [[registerView]] names it for pure-SQL users.
    */
  def liveVectors(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // NO ensureIndex: the view's base is the corpus parquet, and delta
    // segments only exist if a DML ran (which ensured the index
    // itself) — so composing from whatever is on disk is already
    // exactly what a post-build search would serve, without forcing
    // the full IVF+PQ build as a side effect of a read
    val v = ArtifactLake.deltaView(indexPath(d))
    val base = t(s, d, "embeddings").select($"vec_id", $"embedding")
    val all = v.tables("vectors").foldLeft(base)((acc, f) =>
      acc.unionByName(s.read.parquet(f.getAbsolutePath).select($"vec_id", $"embedding")))
    ArtifactLake.minusTombstones(all, ArtifactLake.liveTombstones(s, v), "vec_id")
  }

  /** Register [[liveVectors]] as a session temp view (default
    * `graft_vectors`) so a pure-SQL user reads the store with
    * `spark.sql`. The view is a SNAPSHOT of the live composition at
    * registration time — the same generation-snapshot isolation every
    * serve call gets; DML installed later is visible after
    * re-registering, exactly as a new serve call sees it.
    */
  def registerView(s: SparkSession, d: String,
      name: String = "graft_vectors"): Unit =
    liveVectors(s, d).createOrReplaceTempView(name)

  /** The vector-store SQL-surface gate, q79's twin: reads the store
    * through [[registerView]] + `spark.sql` only, emitting per-vector
    * dims and the r6-rounded component sum (a sequential left-fold on
    * BOTH engines — Spark's `aggregate` HOF and DuckDB's `list_sum`
    * accumulate in index order, so the doubles match bit-for-bit
    * before rounding). The oracle recomputes from the corpus parquet:
    * on the fresh store the live view must be EXACTLY the corpus —
    * ids, lengths, and contents — through the union/anti-join
    * composition and the temp-view plumbing. The HOF (interpreted,
    * not codegen'd) is fine HERE because the gate's job is content
    * equality, not throughput; the serving paths keep the compiled
    * dot-product pipeline.
    */
  private val q80 = Q(
    "q80_vector_view_sql",
    (s, d) => {
      registerView(s, d, "graft_vectors_q80")
      s.sql("""
        SELECT vec_id,
               CAST(size(embedding) AS BIGINT) AS dims,
               -- 1e6/0.5D double literals: a 1000000.0 literal parses
               -- as DECIMAL in Spark SQL and drags the whole rounding
               -- into decimal math the oracle's double floor won't match
               (floor(aggregate(embedding, 0D, (a, x) -> a + cast(x as double))
                      * 1e6 + 0.5D) / 1e6) AS comp_sum
        FROM graft_vectors_q80 ORDER BY vec_id""")
    },
    Some("""
      SELECT vec_id,
             CAST(len(embedding) AS BIGINT) AS dims,
             round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS comp_sum
      FROM embeddings ORDER BY vec_id"""))

  /** One-row operational profile of the stored index — the numbers an
    * operator watches to decide when to compact/vacuum and to verify
    * DML landed: current generation (−1 = none), folded vs unconsumed
    * segment counts, and row volumes per layer (base corpus, the
    * generation's folded adds, unconsumed add segments, live
    * tombstones). All counts come from parquet FOOTERS and directory
    * listings — metadata reads proportional to file count, zero
    * executor scans, safe to poll from a monitoring loop at any
    * corpus size. Derived liveness (`base + generation + segments −
    * tombstones`) holds because every DML guard enforces one present
    * row per live tombstone.
    */
  def storeStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // no ensureIndex — a monitoring poll must not trigger an index
    // build (see liveVectors); an unbuilt store reports gen −1,
    // zero segments, corpus-sized base
    val v = ArtifactLake.deltaView(indexPath(d))
    val genSeq = v.gen.map(_.getName.split('-')(1).toLong).getOrElse(-1L)
    val baseEpoch = v.base.map(_.getName.split('-')(1).toLong).getOrElse(0L)
    def cnt(path: String): Long = Tables.layerCount(s, path)
    // the corpus parquet stays the bottom layer at every epoch; a
    // rebase base only EXTENDS it with folded DML vectors, and its
    // corpus-shadowing tombstones count in tombstone_rows
    val baseRows = Tables.rowCount(s, d, "embeddings") +
      v.base.flatMap(b => ArtifactLake.tableIfPresent(Some(b), "vectors"))
        .map(f => cnt(f.getAbsolutePath)).getOrElse(0L)
    val genRows = ArtifactLake.tableIfPresent(v.gen, "vectors")
      .map(f => cnt(f.getAbsolutePath)).getOrElse(0L)
    val segRows = v.adds.map(dir => cnt(s"${dir.getAbsolutePath}/vectors")).sum
    val tsRows =
      v.base.flatMap(b => ArtifactLake.tableIfPresent(Some(b), "tombstones"))
        .map(f => cnt(f.getAbsolutePath)).getOrElse(0L) +
      ArtifactLake.tableIfPresent(v.gen, "tombstones")
        .map(f => cnt(f.getAbsolutePath)).getOrElse(0L) +
      v.dels.map(dir => cnt(s"${dir.getAbsolutePath}/ids")).sum
    Seq((genSeq, baseEpoch, v.consumed.size.toLong,
      v.adds.size.toLong, v.dels.size.toLong,
      baseRows, genRows, segRows, tsRows,
      baseRows + genRows + segRows - tsRows))
      .toDF("generation", "base_epoch", "consumed_segments",
        "unconsumed_adds", "unconsumed_dels", "base_rows",
        "generation_rows", "segment_rows",
        "tombstone_rows", "live_rows")
  }

  // ------------------------------------------------------------------
  // Incremental add — the vector store's DML half. FAISS add()
  // semantics: the quantizers (coarse + PQ codebooks) are TRAINED once
  // by the stored build and FROZEN; adding vectors encodes them against
  // the frozen quantizers and installs one immutable delta segment —
  // no retrain, no rebuild, no touch of the existing corpus or
  // segments. Segments are SERVING-side state: [[search]] unions them;
  // the registered q43-q49 stay base-only because the base tables
  // mirror the corpus parquet the DuckDB oracle replays (an ad-hoc add
  // has no oracle). When the corpus table itself changes,
  // [[dataFingerprint]] re-keys the whole index and old segments age
  // out with it.
  //
  // Known trade-off, stated rather than hidden: every search lists and
  // reads each installed segment, so segment COUNT is the small-files
  // pressure point under long-running fine-grained ingest. Batch-sized
  // triggers keep it low; an online compactor that merges served
  // segments would need reader-epoch tracking to delete safely (the
  // MediaLake race class) and is deliberately out of scope — the
  // durable fix at corpus scale is folding adds into the next corpus
  // regeneration, which re-keys the index wholesale.
  // ------------------------------------------------------------------

  /** FAISS-style `add()`: encode a batch of NEW vectors against the
    * FROZEN stored quantizers and install them as one immutable,
    * content-keyed delta segment under the index —
    *
    *   `deltas/add-<content key>/{ivf_assign, pq_res_codes, vectors}`
    *
    * (content key = the DataFrame overload's order-independent row-hash
    * digest, [[ArtifactLake.dmlAdd]]; pre-r9 Seq-shaped segments used
    * `md5(sorted batch)` — the Seq overload still probes that legacy
    * name for replay no-ops).
    *
    * installed atomically by [[ArtifactLake.ensure]]. Consequences:
    *
    *  - idempotent: re-adding the same batch (an at-least-once ingest
    *    retry) finds its own content key installed and is a no-op;
    *  - crash-safe: a died add leaves only an unmarked staging dir;
    *  - disjoint: ids already indexed are rejected loudly
    *    ([[indexedIds]]); NULL/empty vectors are skipped like the
    *    build's NULL-embedding rows.
    *
    * The encode is the same two broadcast-codebook compiled maps as
    * the build ([[assignCells]] / [[buildPqCodes]] arithmetic), run
    * over the parallelized batch — a bulk ingest is this method over a
    * bigger batch, cost linear in the batch size alone. The segment
    * stores the raw floats beside the codes so [[search]]'s exact
    * refine covers added vectors too.
    *
    * Concurrency: the instance monitor serializes in-JVM writers (the
    * id guard is check-then-act, so unsynchronized interleaving could
    * install two overlapping-id segments). ACROSS processes the
    * contract is one logical writer per index — the [[ingestStream]]
    * shape; a cross-process race on the SAME batch stays benign
    * (content key), only concurrent different-batch writers sharing
    * ids are out of contract.
    *
    * Returns true iff THIS call installed the segment (false = same
    * batch already installed, or lost the install race to it).
    */
  def addVectors(s: SparkSession, d: String,
      vecs: Seq[(Long, Array[Float])]): Boolean = {
    import s.implicits._
    // upgrade note: pre-r9 builds keyed Seq-shaped segments as
    // `add-<md5(sorted batch)>`; probe that legacy name first so an
    // at-least-once replay of a batch installed by the old binary
    // stays a quiet no-op instead of tripping the id guard
    val batch = vecs.filter(v => v._2 != null && v._2.nonEmpty).sortBy(_._1)
    if (batch.nonEmpty) {
      val md = java.security.MessageDigest.getInstance("MD5")
      val bb = java.nio.ByteBuffer.allocate(8)
      batch.foreach { case (id, vf) =>
        bb.clear(); bb.putLong(id); md.update(bb.array(), 0, 8)
        vf.foreach { x =>
          bb.clear(); bb.putInt(java.lang.Float.floatToIntBits(x))
          md.update(bb.array(), 0, 4)
        }
      }
      val legacy = md.digest().take(8).map("%02x".format(_)).mkString
      if (new java.io.File(
          s"${indexPath(d)}/deltas/add-$legacy/_SUCCESS").isFile) return false
    }
    addVectors(s, d, s.createDataset(vecs).toDF("vec_id", "embedding"))
  }

  /** Bulk, DataFrame-native `add()`: the same contract as the `Seq`
    * overload (which delegates here), but the batch never materializes
    * on the driver — the content key is a distributed order-independent
    * digest (one aggregate job: count, id-distinctness, id envelope,
    * and two `bit_xor`-combined `xxhash64` row hashes), the id guard is
    * a join against the live assignment rather than a collected id
    * list, the encode is the broadcast-codebook compiled maps over the
    * executors, and the segment writes land distributed (file count
    * sized to the batch, `ceil(n / 64k)` capped at 64). Driver memory
    * held: one stats row and at most eight conflicting ids.
    *
    * `vecs` needs `vec_id` (castable to LONG) and `embedding`
    * (castable to ARRAY&lt;FLOAT&gt;); NULL/empty embeddings are
    * skipped like the build's NULL-embedding rows.
    */
  def addVectors(s: SparkSession, d: String, vecs: DataFrame): Boolean = synchronized {
    import s.implicits._
    ensureIndex(s, d)
    val norm = vecs.selectExpr(
        "cast(vec_id as bigint) as vec_id",
        "cast(embedding as array<float>) as embedding")
      .filter("embedding is not null and size(embedding) > 0")
    // the key's xxhash64 covers the full row content (id + every
    // float's bits); held ids are the live home-cell assignments
    ArtifactLake.dmlAdd(s, indexPath(d), norm, "addVectors",
        ("vec_id, embedding", "embedding, vec_id"),
        tuning.storeMaxSegments, Similarity.indexAdds)(v =>
      ArtifactLake.withLayers(s, v, probedDF(s, d), "ivf_assign",
        baseReplacesRoot = true).filter($"rk" === 1))({ (b, out) =>
      val cb = loadIvfCodebook(s, d)
      val bySub = pqBySub(loadResPqCodebook(s, d))
      val subDim = tuning.pqSubDim
      val nprobe = tuning.nprobe
      val ds = b.rows.repartition(b.files).as[(Long, Array[Float])]
      val bcCb = s.sparkContext.broadcast(cb)
      val bcPq = s.sparkContext.broadcast(bySub)
      ds.mapPartitions { it =>
        val cells = bcCb.value
        it.flatMap { case (id, vf) =>
          Similarity.nearestCells(vf.map(_.toDouble), cells, nprobe)
            .iterator.map { case (cid, rk) => (id, cid, rk) }
        }
      }.toDF("vec_id", "cell", "rk")
        .write.mode("overwrite").parquet(s"$out/ivf_assign")
      // RESIDUAL codes — encoded exactly like the base build: the
      // vector's displacement from its home-cell centroid, against the
      // frozen residual codebook
      ds.mapPartitions { it =>
        val cells = bcCb.value
        val byId = cells.toMap
        val bs = bcPq.value
        it.flatMap { case (id, vf) =>
          val v = vf.map(_.toDouble)
          val home = Similarity.nearestCells(v, cells, 1).head._1
          val c = byId(home)
          val rv = Array.tabulate(v.length)(i =>
            v(i) - (if (i < c.length) c(i) else 0.0))
          val asg = pqNearest(rv, bs, subDim)
          val nSubs = math.min(bs.length, (rv.length + subDim - 1) / subDim)
          (0 until nSubs).iterator.filter(i => asg(i) >= 0)
            .map(i => (id, i, asg(i)))
        }
      }.toDF("n_id", "sub", "cent")
        .write.mode("overwrite").parquet(s"$out/pq_res_codes")
      ds.toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$out/vectors")
    })(() => { compact(s, d); () })
  }

  /** FAISS-style `remove_ids()`: retire ids via one immutable,
    * content-keyed tombstone segment — `deltas/del-<md5(sorted ids)>/
    * ids(vec_id)` — installed by the same [[ArtifactLake]] recipe.
    * [[search]] anti-joins tombstones out of the home-cell candidates,
    * which suffices end to end: ADC codes and refine floats are only
    * ever reached THROUGH the candidate set.
    *
    * Tombstones are monotone: a retired id stays retired permanently,
    * whether it came from the base build, a delta segment, or was
    * never indexed at all — in a lake of immutable segments,
    * resurrecting an id would require compaction, and the base is
    * oracle-pinned ([[addVectors]] therefore rejects tombstoned ids;
    * a new identity is a new id). Re-removing the same id set is a
    * content-key no-op; the registered q43-q49 stay base-only exactly
    * as with add; the instance monitor serializes in-JVM writers like
    * [[addVectors]]. Returns true iff THIS call installed the segment.
    */
  def removeVectors(s: SparkSession, d: String,
      ids: Seq[Long]): Boolean = {
    import s.implicits._
    removeVectors(s, d, ids.toDF("vec_id"))
  }

  /** Bulk, DataFrame-native `remove_ids()` — the `Seq` overload
    * delegates here. Same no-driver-materialization shape as the
    * DataFrame [[addVectors]]: one aggregate job derives the
    * order-independent content key, the tombstone segment writes
    * distributed. `ids` needs a `vec_id` column castable to LONG.
    */
  def removeVectors(s: SparkSession, d: String, ids: DataFrame): Boolean = synchronized {
    ensureIndex(s, d)
    ArtifactLake.dmlRemove(s, indexPath(d), ids, "vec_id", "removeVectors",
        tuning.storeMaxSegments, Similarity.indexRemoves)((_, _) => ())(
      () => { compact(s, d); () })
  }

  /** Fold every unconsumed delta segment and tombstone into ONE new
    * generation ([[ArtifactLake.compactStore]]) — the lake's answer to
    * FAISS `remove_ids()`'s physical compaction, sized to the DELTAS,
    * not the corpus:
    *
    *  - merged `ivf_assign` / `pq_res_codes` / `vectors` = the union of
    *    the previous generation's and the folded add segments' tables
    *    with every live-tombstoned row physically dropped;
    *  - carried-forward `tombstones` = only the live tombstoned ids
    *    that still shadow a BASE row (the oracle-pinned base tables are
    *    immutable, so retiring a corpus vector must stay a serve-time
    *    anti-join) — a tombstoned id whose only rows lived in a folded
    *    segment is GONE, and [[addVectors]] accepts it again.
    *
    * Nothing is deleted, so a reader racing the compact serves either
    * view — both identical by construction ([[vacuum]] is the
    * separate, maintenance-window deletion). Returns true iff a new
    * generation was installed (false = nothing unconsumed to fold).
    */
  def compact(s: SparkSession, d: String): Boolean = synchronized {
    import s.implicits._
    ensureIndex(s, d)
    val installed = ArtifactLake.compactStore(indexPath(d)) { (v, out) =>
      val ts = ArtifactLake.liveTombstones(s, v)
      def foldOf(table: String, idCol: String): Option[DataFrame] =
        ArtifactLake.layerUnion(s, v.overlays.map(_.getAbsolutePath), table)
          .map(ArtifactLake.minusTombstones(_, ts, idCol))
      val mergedAssign = foldOf("ivf_assign", "vec_id")
      val nLive = mergedAssign.map(_.filter($"rk" === 1).count()).getOrElse(0L)
      val nFiles = ArtifactLake.segmentFiles(nLive)
      if (nLive > 0) {
        mergedAssign.foreach(
          _.repartition(nFiles).write.mode("overwrite").parquet(s"$out/ivf_assign"))
        foldOf("pq_res_codes", "n_id").foreach(
          _.repartition(nFiles).write.mode("overwrite").parquet(s"$out/pq_res_codes"))
        foldOf("vectors", "vec_id").foreach(
          _.repartition(nFiles).write.mode("overwrite").parquet(s"$out/vectors"))
      }
      // carried tombstones: live ts ids still shadowing a BOTTOM-LAYER
      // row — the root home cells, or the rebase base's assignment table
      // when one exists (it covers both corpus rows and folded adds, so
      // a tombstone retiring a base-folded add survives the compact
      // instead of vanishing while its rows stay). Ids that only
      // shadowed folded segments — or nothing — drop out, and ids the
      // rebase base already records permanently are not re-carried
      // (they would double-count in every stats subtraction).
      val baseTs = ArtifactLake.tableIfPresent(v.base, "tombstones")
        .map(f => s.read.parquet(f.getAbsolutePath))
      def rootIds = probedDF(s, d).filter($"rk" === 1).select($"vec_id")
      val bottomIds = v.base match {
        case Some(_) => ArtifactLake.tableIfPresent(v.base, "ivf_assign")
          .map(f => s.read.parquet(f.getAbsolutePath)
            .filter($"rk" === 1).select($"vec_id"))
          .getOrElse(rootIds.limit(0))
        case None => rootIds
      }
      ts.map(t0 => ArtifactLake.minusTombstones(t0, baseTs, "vec_id")
          .join(bottomIds, Seq("vec_id"), "left_semi").distinct())
        .foreach { c =>
          if (c.limit(1).count() > 0)
            c.repartition(1).write.mode("overwrite").parquet(s"$out/tombstones")
        }
    }
    if (installed) Similarity.indexCompacts.incrementAndGet()
    installed
  }

  /** FULL compaction into a NEW base ([[ArtifactLake.rebaseStore]]):
    * fold the entire live composition (root-or-base index tables ∪
    * generation ∪ unconsumed segments, tombstones applied) into one
    * immutable base that serving resolves INSTEAD of the root derived
    * tables. One structural difference from the dedup lake: the corpus
    * parquet is external and immutable, so ids retiring CORPUS rows are
    * carried forward as the base's own tombstone table (they can never
    * be physically applied to the bottom layer) — only
    * segment/generation dead weight is actually shed. Root tables
    * untouched (the oracle-pinned q43-q49 reads); nothing deleted
    * ([[vacuum]]); returns true iff THIS call installed a new base.
    */
  def rebase(s: SparkSession, d: String): Boolean = synchronized {
    import s.implicits._
    ensureIndex(s, d)
    val installed = ArtifactLake.rebaseStore(indexPath(d)) { (v, out) =>
      val ts = ArtifactLake.liveTombstones(s, v)
      // the full folds ARE the live views: base-or-root ∪ gen ∪ segments
      // minus every live tombstone — serve-identical by construction
      val assign = ArtifactLake.minusTombstones(ArtifactLake.withLayers(s, v,
        probedDF(s, d), "ivf_assign", baseReplacesRoot = true), ts, "vec_id")
      val codes = ArtifactLake.minusTombstones(ArtifactLake.withLayers(s, v,
        resCodesDF(s, d), "pq_res_codes", baseReplacesRoot = true), ts, "n_id")
      val vecFold = v.tables("vectors").map(f => s.read.parquet(f.getAbsolutePath))
        .reduceOption(_ unionByName _)
        .map(ArtifactLake.minusTombstones(_, ts, "vec_id"))
      // corpus-shadowing tombstones survive the fold (see the scaladoc)
      val carried = ts.map(_.join(
          probedDF(s, d).filter($"rk" === 1).select($"vec_id"),
          Seq("vec_id"), "left_semi")
        .distinct())
      val nLive = assign.filter($"rk" === 1).count()
      val nFiles = ArtifactLake.segmentFiles(nLive)
      if (nLive > 0) {
        assign.repartition(nFiles).write.mode("overwrite").parquet(s"$out/ivf_assign")
        codes.repartition(nFiles).write.mode("overwrite").parquet(s"$out/pq_res_codes")
      }
      vecFold.foreach { df =>
        if (df.limit(1).count() > 0)
          df.repartition(nFiles).write.mode("overwrite").parquet(s"$out/vectors")
      }
      carried.foreach { c =>
        if (c.limit(1).count() > 0)
          c.repartition(1).write.mode("overwrite").parquet(s"$out/tombstones")
      }
    }
    if (installed) Similarity.indexRebases.incrementAndGet()
    installed
  }

  /** Delete the segments, generations and bases the newest layers
    * subsume ([[ArtifactLake.vacuumStore]]). MAINTENANCE-WINDOW ONLY:
    * safe iff no reader holds an older view open (the
    * single-logical-writer contract extended to a no-reader window —
    * the reader-epoch tracking a hot vacuum would need is out of scope
    * by design). Returns the number of dirs removed.
    */
  def vacuum(d: String): Int = synchronized {
    ArtifactLake.vacuumStore(indexPath(d))
  }

  /** Continuous vector ingest — the vector store's streaming DML.
    * Attaches [[addVectors]] to any streaming frame with `vec_id`
    * (castable to LONG) and `embedding` (ARRAY&lt;FLOAT&gt;) columns,
    * one delta segment per non-empty micro-batch.
    *
    * Delivery: Structured Streaming re-runs an interrupted micro-batch
    * with identical content (replayable source + checkpoint); the
    * replayed batch reproduces its content key, finds the installed
    * segment, and no-ops — at-least-once replay × content-keyed
    * idempotent install = effectively-once index ingest, the same
    * recipe as the engine's WAL'd socket source (same-named segment =
    * same bytes). Upstream owns id-uniqueness ACROSS batches
    * (`dropDuplicates` under a watermark); a cross-batch duplicate id
    * is a real conflict and fails the query loudly, by design.
    *
    * The micro-batch DataFrame passes straight into the DataFrame-native
    * [[addVectors]] — no driver materialization at any batch size: the
    * content key, id guard, encode, and segment write all run on
    * executors, so the trigger's admission control bounds WORK per
    * batch, not driver heap.
    */
  def ingestStream(d: String, stream: DataFrame, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ArtifactLake.ingest(stream, checkpoint) { batch =>
      addVectors(batch.sparkSession, d, batch.select(col("vec_id"), col("embedding")))
    }

  private val q47 = Q(
    "q47_embedding_pq",
    (s, d) => {
      import s.implicits._
      val PqCtx(emb, cb1) = pqCtx(s, d)
      val subDim = tuning.pqSubDim
      // reconstruction over the STORED index: the corpus codes and the
      // refined codebook are both read off the lake, so this measures
      // exactly what a search would decode — the Spark plan mirrors the
      // oracle's recon CTE (inner-join codes, left-join codebook,
      // absent dims reconstruct as 0.0)
      val pus = emb.select($"vec_id", $"label",
          posexplode(expr("transform(embedding, x -> cast(x as double))")))
        .select($"vec_id", $"label",
          expr(s"CAST(pos div $subDim AS INT)").as("sub"),
          expr(s"CAST(pos % $subDim AS INT)").as("sd"), $"col".as("v"))
      val codes = codesDF(s, d).withColumnRenamed("n_id", "vec_id")
      val cbDf = cb1.toSeq
        .flatMap { case (cent, sub, pairs) =>
          pairs.map { case (sd, cv) => (sub, cent, sd, cv) }
        }.toDF("sub", "cent", "sd", "cv")
      pus.join(codes, Seq("vec_id", "sub"))
        .join(broadcast(cbDf), Seq("sub", "cent", "sd"), "left")
        .select($"label", ($"v" - coalesce($"cv", lit(0.0))).as("err"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n_vals"),
          r6(sqrt(avg($"err" * $"err"))).as("rmse"),
          r6(max(abs($"err"))).as("max_err"))
        .orderBy($"label")
    },
    Some(s"""
      WITH $pqOracleCtes,
      recon AS (SELECT pus.label, pus.v, coalesce(pcb1.cv, 0.0) AS dq
                FROM pus
                JOIN pa1 ON pus.vec_id = pa1.vec_id AND pus.sub = pa1.sub
                LEFT JOIN pcb1 ON pcb1.sub = pus.sub AND pcb1.cent = pa1.cent
                             AND pcb1.sd = pus.sd)
      SELECT label, count(*) AS n_vals,
             round(sqrt(avg((v - dq) * (v - dq))), 6) AS rmse,
             round(max(abs(v - dq)), 6) AS max_err
      FROM recon GROUP BY label ORDER BY label"""))

  /** PQ asymmetric-distance search (ADC — the production FAISS-style
    * scan): each query builds a LOOKUP TABLE lut(q, sub, cent) =
    * ‖q_sub − c‖² against the refined PQ codebook, and a corpus
    * vector's approximate distance is just the sum of 8 table lookups
    * on its stored codes — no touch of the vector's floats at query
    * time. Top-5 per query by rounded approx distance + id tiebreak,
    * oracle-replayed end-to-end (codes, LUT, scan, rank).
    *
    * Scale shape: codes are n×8 ints (the compiled assignment map);
    * the LUT is nq×8×k rows — broadcast; the scan is one equi-join of
    * codes against the broadcast LUT + a (q, vec) hash agg; the final
    * rank pre-prunes per-partition top-5 per query in a bounded
    * compiled pass (the q07 pattern), so the nq-partition ranking
    * window sees ≤ 5·P·nq rows, never the n×nq scan output.
    */
  /** The shared ADC context: corpus PQ codes `(n_id, sub, cent)` — the
    * compiled assignment map — and the per-query lookup table as a
    * DENSE broadcast ([[denseResidualLut]]'s rationale applied to the
    * non-residual half): `bcLut(q_id)` is an array indexed
    * `sub * width + centIdx(cent)`. The two halves every ADC-ranked
    * search composes: q48's full-corpus scan and q45's adc tier.
    */
  private case class AdcCtx(codes: DataFrame,
      bcLut: org.apache.spark.broadcast.Broadcast[Map[Long, Array[Double]]],
      bcCent: org.apache.spark.broadcast.Broadcast[Map[Long, Int]],
      width: Int, n0: Long)

  private def adcCtx(s: SparkSession, d: String, pc: PqCtx): AdcCtx = {
    import s.implicits._
    val PqCtx(emb, cb1) = pc
    val subDim = tuning.pqSubDim
    // corpus PQ codes come off the STORED index table — the vectors'
    // floats are not touched to produce candidates or ranks
    val codes = codesDF(s, d)
    // The LUT is nq × subs × cents ADC partial distances against the
    // DRIVER-HELD codebook — ~26M flops of arithmetic that the previous
    // form computed as a plan-side posexplode ⋈ codebook ⋈ partial-agg
    // subtree and broadcast as a HASH RELATION (the q49 lesson: seconds
    // of framing/hash-build per query vs the arithmetic itself).
    // Compute it on the driver from a bounded collect of the
    // ≤ annQueries query vectors. pd2 sums (qv − cv)² in sd-ascending
    // pair order — the row order the hash aggregate consumed
    // (posexplode emits i ascending), so the doubles are unchanged.
    val qs = emb.filter($"vec_id" < tuning.annQueries && $"embedding".isNotNull)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect()
      .map { case (id, v) => (id, v.map(_.toDouble)) }
    val cents = cb1.map(_._1).distinct.sorted
    val centIdx = cents.zipWithIndex.toMap
    val width = cents.length
    val nSubs = if (cb1.isEmpty) 0 else cb1.map(_._2).max + 1
    val lut = qs.map { case (qid, qv) =>
      val arr = new Array[Double](nSubs * width)
      cb1.foreach { case (cent, sub, pairs) =>
        var acc = 0.0
        var pi = 0
        while (pi < pairs.length) { // pairs sorted by sd — i-ascending
          val (sd, cv) = pairs(pi)
          val i = sub * subDim + sd
          if (i < qv.length) {
            val diff = qv(i) - cv
            acc += diff * diff
          }
          pi += 1
        }
        arr(sub * width + centIdx(cent)) = acc
      }
      qid -> arr
    }.toMap
    AdcCtx(codes, s.sparkContext.broadcast(lut),
      s.sparkContext.broadcast(centIdx), width,
      Tables.rowCount(s, d, "embeddings"))
  }

  /** q48's ranked full-corpus ADC scan, top-5 per query, as ONE
    * compiled pass (the FAISS scan shape): codes co-located per n_id,
    * each vector's d2 against every query accumulated from the dense
    * broadcast LUT, per-partition top-5 heaps per query. The previous
    * form joined codes against the broadcast LUT relation — an
    * n×8×nq-row join output pushed through a (q, n)-keyed hash
    * aggregate (2M groups at sf0.1) before the heap prune; the fused
    * pass emits ≤ 5·P·nq rows with no intermediate aggregation.
    * d2 accumulates per (n_id, sub)-ascending row — the same addends
    * the hash aggregate summed (r6/r4 absorb order ulps, as before).
    */
  private def adcRankedDF(s: SparkSession, adc: AdcCtx): DataFrame = {
    import s.implicits._
    val bl = adc.bcLut
    val bcix = adc.bcCent
    val w = adc.width
    // co-locate each n_id's 8 code rows (a parquet split boundary can
    // straddle a vector), with an explicit scale-derived width that
    // AQE's byte-based coalescing leaves alone (narrow rows, heavy
    // per-row compute: nq adds each)
    val parts = math.max(s.sparkContext.defaultParallelism.toLong,
      adc.n0 * 8L / 2000000L).toInt
    val pruned = adc.codes.select($"n_id", $"sub", $"cent")
      .repartition(parts, $"n_id")
      .sortWithinPartitions($"n_id", $"sub")
      .as[(Long, Int, Long)]
      .mapPartitions { it =>
        val lut = bl.value
        val cix = bcix.value
        val qids = lut.keysIterator.toArray.sorted
        val luts = qids.map(lut)
        val nq = qids.length
        val heaps = Array.fill(nq)(
          scala.collection.mutable.PriorityQueue.empty[(Double, Long, Double)](
            Ordering.by(x => (x._1, x._2)))) // max-heap: worst on top
        val acc = new Array[Double](nq)
        var cur = Long.MinValue
        var open = false
        def flush(): Unit = if (open) {
          var qi = 0
          while (qi < nq) {
            if (qids(qi) != cur) { // the scan's n_id <> q_id filter
              val d2 = acc(qi)
              val r = math.floor(d2 * 1e6 + 0.5) / 1e6
              val heap = heaps(qi)
              heap.enqueue((r, cur, d2))
              if (heap.size > 5) heap.dequeue()
            }
            acc(qi) = 0.0
            qi += 1
          }
        }
        it.foreach { case (nid, sub, cent) =>
          if (nid != cur) { flush(); cur = nid; open = false }
          // a stale index can hold a code whose centroid the codebook
          // no longer has: skip that addend, as DenseLut.pd2's null
          // does; a vector with no known code is never ranked
          val ci = cix.getOrElse(cent, -1)
          if (ci >= 0) {
            open = true
            val idx = sub * w + ci
            var qi = 0
            while (qi < nq) { acc(qi) += luts(qi)(idx); qi += 1 }
          }
        }
        flush()
        qids.iterator.zipWithIndex.flatMap { case (q, qi) =>
          heaps(qi).iterator.map { case (_, v, d2) => (q, v, d2) }
        }
      }.toDF("q_id", "n_id", "d2")
    pruned
      .withColumn("rk", row_number().over(
        Window.partitionBy($"q_id").orderBy(r6($"d2"), $"n_id")).cast("long"))
      .filter($"rk" <= 5)
  }

  /** The RESIDUAL ADC context — FAISS IVFADC's query side over the
    * stored residual half: corpus residual codes (`pq_res_codes` —
    * each vector encoded as x − centroid(home cell)), and the
    * per-(query, probed cell) lookup table: the query's residual
    * w.r.t. EACH probed cell's centroid, scored against the residual
    * PQ codebook. The LUT rides as a DENSE broadcast ([[DenseLut]]) —
    * FAISS's per-probe LUT recomputation, done on the driver.
    */
  private case class ResAdcCtx(codes: DataFrame, lut: DenseLut)

  /** The residual ADC LUT as FAISS holds it: dense primitive arrays,
    * computed DRIVER-side from the driver-held codebooks (the coarse
    * codebook is √n×dims, the residual PQ codebook subs×cents×subDim —
    * both always driver-small) and the ≤ annQueries query vectors.
    * Replaces the previous plan-side LUT derivation whose
    * nq × nprobe × subs × cents row output (3.3M rows at the default
    * knobs) was collected and built into a broadcast HASH RELATION on
    * the driver for every serving call — seconds of single-threaded
    * driver work per query (measured: the 2.4 s flat gap in q49's job
    * timeline) against ~26M flops of actual arithmetic. The dense form
    * broadcasts the same doubles as flat arrays (no per-row unsafe-row
    * framing, no hash build) and the scored join's 4-key hash probe
    * becomes one array load ([[ivfadcScoredDF]]).
    *
    * Bit-compat: pd2 sums (rqv − cv)² over the codebook's present sd
    * pairs in sd-ascending order with rqv = qv − coalesce(coarse, 0) —
    * exactly the row order the previous hash aggregate consumed
    * (posexplode emits i ascending; a (q, cell, sub, cent) group never
    * spans partitions), so the scored d2 doubles are unchanged.
    *
    * `lut((q, cell))` is an array indexed `sub * width + centIdx(cent)`;
    * a (sub, cent) with no contributing dims holds 0.0 — the same d2
    * the previous inner join produced by dropping that addend.
    */
  private case class DenseLut(
      bcLut: org.apache.spark.broadcast.Broadcast[Map[(Long, Long), Array[Double]]],
      bcCent: org.apache.spark.broadcast.Broadcast[Map[Long, Int]],
      width: Int) {
    /** pd2 as a column over (q_id, cell, sub, cent) — the array load
      * that replaces the broadcast-hash LUT probe. Guarded like the
      * hash-relation join it replaced: a (q_id, cell) absent from the
      * LUT or a cent absent from the codebook returns null — the old
      * inner join dropped such rows, and callers mirror the drop
      * (sum() skips null addends; an all-null group sums to null and
      * is filtered).
      */
    def pd2(q: org.apache.spark.sql.Column, cell: org.apache.spark.sql.Column,
        sub: org.apache.spark.sql.Column, cent: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column = {
      val w = width
      val bl = bcLut
      val bcix = bcCent
      val f = udf((qv: Long, cl: Long, sb: Int, ct: Long) =>
        (for {
          arr <- bl.value.get((qv, cl))
          ci <- bcix.value.get(ct)
        } yield java.lang.Double.valueOf(arr(sb * w + ci))).orNull)
      f(q, cell, sub, cent)
    }
  }

  private def denseResidualLut(s: SparkSession,
      qs: Seq[(Long, Array[Double])], probes: Seq[(Long, Long)],
      coarse: Codebook, rcb: PqCodebook): DenseLut = {
    val subDim = tuning.pqSubDim
    val coarseById = coarse.toMap
    val cents = rcb.map(_._1).distinct.sorted
    val centIdx = cents.zipWithIndex.toMap
    val width = cents.length
    val nSubs = if (rcb.isEmpty) 0 else rcb.map(_._2).max + 1
    val qById = qs.toMap
    val lut = probes.iterator.flatMap { case (qid, cell) =>
      qById.get(qid).map { qv =>
        val c = coarseById.getOrElse(cell, Array.empty[Double])
        val arr = new Array[Double](nSubs * width)
        rcb.foreach { case (cent, sub, pairs) =>
          var acc = 0.0
          var pi = 0
          while (pi < pairs.length) { // pairs sorted by sd — i-ascending
            val (sd, cv) = pairs(pi)
            val i = sub * subDim + sd
            if (i < qv.length) {
              val rqv = qv(i) - (if (i < c.length) c(i) else 0.0)
              val diff = rqv - cv
              acc += diff * diff
            }
            pi += 1
          }
          arr(sub * width + centIdx(cent)) = acc
        }
        ((qid, cell), arr)
      }
    }.toMap
    DenseLut(s.sparkContext.broadcast(lut),
      s.sparkContext.broadcast(centIdx), width)
  }

  private def resAdcCtx(s: SparkSession, d: String,
      shared: Option[DataFrame] = None): ResAdcCtx = {
    import s.implicits._
    ensureIndex(s, d)
    val codes = resCodesDF(s, d)
    // driver-side LUT inputs: the ≤ annQueries query vectors (row-group
    // pruned by the vec_id predicate) and their stored probe cells
    // (annQueries × nprobe rows) — two bounded collects replacing the
    // corpus-independent but 3.3M-row plan-side LUT subtree
    val qs = t(s, d, "embeddings")
      .filter($"vec_id" < tuning.annQueries && $"embedding".isNotNull)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toSeq
      .map { case (id, v) => (id, v.map(_.toDouble)) }
    val probes = shared.getOrElse(probedDF(s, d))
      .filter($"vec_id" < tuning.annQueries)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toSeq
    ResAdcCtx(codes, denseResidualLut(s, qs, probes,
      loadIvfCodebook(s, d), loadResPqCodebook(s, d)))
  }

  /** The residual LUT derivation, shared by the corpus tiers
    * ([[resAdcCtx]]) and the serving path ([[search]]): per-(query,
    * probed cell) residual of the query against that cell's stored
    * centroid, scored against the stored residual codebook — all
    * plan-side (two broadcast joins + one partial agg), so an
    * nq × nprobe × subs × cents LUT is computed distributed, never
    * materialized on the driver.
    *
    * @param qprobes `(q_id, cell)` — each query's probed cells
    * @param qcomp   `(q_id, i, qv)` — the query vectors' double
    *                components, 0-based dims
    */
  private def residualLut(s: SparkSession, d: String,
      qprobes: DataFrame, qcomp: DataFrame): DataFrame = {
    import s.implicits._
    ensureIndex(s, d)
    val p = indexPath(d)
    val subDim = tuning.pqSubDim
    // stored coarse centroids, 0-based dims like the explode
    val cbRows = s.read.parquet(s"$p/ivf_codebook")
      .select($"cell", $"dim".as("i"), $"cv")
    val rq = qprobes.join(qcomp, "q_id")
      .join(broadcast(cbRows), Seq("cell", "i"), "left")
      .select($"q_id", $"cell",
        expr(s"CAST(i div $subDim AS INT)").as("sub"),
        expr(s"CAST(i % $subDim AS INT)").as("sd"),
        ($"qv" - coalesce($"cv", lit(0.0))).as("rqv"))
    val rcb = s.read.parquet(s"$p/pq_res_codebook")
      .select($"sub", $"cent", $"sd", $"cv")
    rq.join(broadcast(rcb), Seq("sub", "sd"))
      .groupBy($"q_id", $"cell", $"sub", $"cent")
      .agg(sum(($"rqv" - $"cv") * ($"rqv" - $"cv")).as("pd2"))
  }

  /** q49's IVF-gated ADC scores `(q_id, n_id, d2)`: candidates are the
    * vectors HOMED (rank-1) in the query's nprobe probed cells, scored
    * by RESIDUAL PQ asymmetric distance — the candidate's code was
    * encoded w.r.t. its home cell, so the LUT row is keyed by that
    * same cell (which IS the probed cell that surfaced it).
    * Full-precision corpus floats touched by neither candidate
    * generation nor ranking.
    */
  private def ivfadcScoredDF(s: SparkSession, d: String,
      radc: ResAdcCtx, shared: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    val probed = shared.getOrElse(probedDF(s, d))
    val qprobes = probed.filter($"vec_id" < tuning.annQueries)
      .select($"vec_id".as("q_id"), $"cell")
    val home = probed.filter($"rk" === 1)
      .select($"vec_id".as("n_id"), $"cell")
    val cand = qprobes.join(home, "cell")
      .filter($"q_id" =!= $"n_id")
      .select($"q_id", $"n_id", $"cell")
    cand.join(radc.codes, "n_id")
      .withColumn("pd2", radc.lut.pd2($"q_id", $"cell", $"sub", $"cent"))
      .groupBy($"q_id", $"n_id")
      .agg(sum($"pd2").as("d2"))
      .filter($"d2".isNotNull) // the old inner join's missing-key drop
  }

  /** FAISS's refine step — the production IVFADC search path: take the
    * ADC scan's top `refineFactor × 5` candidates per query and re-rank
    * them by EXACT cosine over the full-precision floats (a
    * nq·R-pair-sized join against the cached exploded table — the
    * expensive precision is paid only for the shortlist). Emits the
    * refined nearest neighbor per query `(a_id, nn_id)`.
    */
  private def refinedDF(s: SparkSession, d: String, ctx: AnnCtx,
      scored: DataFrame): DataFrame = {
    import s.implicits._
    val topR = scored.withColumn("rk", row_number().over(
        Window.partitionBy($"q_id").orderBy(r6($"d2"), $"n_id")))
      .filter($"rk" <= tuning.refineFactor * 5)
      .select($"q_id", $"n_id")
    // PACKED exact re-rank (the [[searchFrom]] refine shape): shortlist
    // joined to the corpus table's arrays — no shortlist×dims broadcast
    // hash relation, no corpus-sized norm-table broadcasts (the previous
    // form broadcast ctx.n — n rows — twice); candidate norms come from
    // the same join row's array, i-ascending like the norms aggregate,
    // query norms from the ctx.n cache pruned to the annQueries set.
    // isNotNull preserves the pre-packed drop semantics (see searchFrom)
    val emb = t(s, d, "embeddings")
      .filter($"embedding".isNotNull)
      .select($"vec_id".as("n_id"),
        expr("transform(embedding, x -> cast(x as double))").as("embedding"))
    val pairs = broadcast(topR).join(emb, "n_id")
      .withColumn("cn", sqrt(expr(
        "aggregate(embedding, cast(0 as double), (a, x) -> a + x * x)")))
    val qU = ctx.u.filter($"vec_id" < tuning.annQueries)
      .select($"vec_id".as("q_id"), $"i", $"v".as("qv"))
    val dots = pairs.join(broadcast(qU), "q_id")
      .select($"q_id", $"n_id", $"cn",
        ($"qv" * $"embedding"($"i")).as("pd"))
      .groupBy($"q_id", $"n_id")
      .agg(sum($"pd").as("dot"), max($"cn").as("cn"))
    dots
      .join(broadcast(ctx.n.filter($"vec_id" < tuning.annQueries)
        .select($"vec_id".as("q_id"), $"nrm".as("qn"))), "q_id")
      .withColumn("cosine", $"dot" / ($"qn" * $"cn"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"q_id").orderBy(r6($"cosine").desc, $"n_id")))
      .filter($"rk" === 1)
      .select($"q_id".as("a_id"), $"n_id".as("nn_id"))
  }

  /** The shared `ql` CTE (per-query ADC lookup table, oracle side). */
  private def adcLutOracleCte: String = s"""
      ql AS (SELECT pus.vec_id AS q_id, pus.sub, c.cent,
               sum((pus.v - c.cv) * (pus.v - c.cv)) AS pd2
             FROM pus JOIN pcb1 c ON pus.sub = c.sub AND pus.sd = c.sd
             WHERE pus.vec_id < ${tuning.annQueries}
             GROUP BY 1, 2, 3)"""

  /** The RESIDUAL-PQ training replay (FAISS IVFADC): residual
    * components `ru` = u − home-cell centroid (the ivf chain's
    * 1-based dims → 0-based sub/sd), then the identical stride-seed →
    * assign → r6-refine → assign recipe as the flat chain,
    * r-prefixed. Requires [[ivfOracleCtes]] (u, cb{iters}, fa) and
    * [[pqOracleCtes]] (pparams) upstream.
    */
  private def resPqOracleCtes: String = s"""
      rhome AS (SELECT vec_id, cell FROM fa WHERE rk = 1),
      ru AS (SELECT u.vec_id, u.i, u.v - coalesce(cb.cv, 0) AS v
             FROM u JOIN rhome h ON u.vec_id = h.vec_id
             LEFT JOIN cb${tuning.lloydIters} cb
               ON cb.cell = h.cell AND cb.dim = u.i),
      rus AS (SELECT vec_id, CAST((i - 1) // ${tuning.pqSubDim} AS INT) AS sub,
               CAST((i - 1) % ${tuning.pqSubDim} AS INT) AS sd, v FROM ru),
      rcb0 AS (SELECT vec_id AS cent, sub, sd, v AS cv FROM rus
              WHERE vec_id % (SELECT stride FROM pparams) = 0
                AND sub < ${tuning.pqSubspaces}),
      rd0 AS (SELECT rus.vec_id, rus.sub, c.cent,
               sum((rus.v - c.cv) * (rus.v - c.cv)) AS d2
             FROM rus JOIN rcb0 c ON rus.sub = c.sub AND rus.sd = c.sd
             GROUP BY 1, 2, 3),
      ra0 AS (SELECT vec_id, sub, cent FROM (
               SELECT vec_id, sub, cent,
                      row_number() OVER (PARTITION BY vec_id, sub
                        ORDER BY round(d2, 6), cent) AS rk
               FROM rd0) WHERE rk = 1),
      rcb1 AS (SELECT a.sub, a.cent, rus.sd, round(avg(rus.v), 6) AS cv
              FROM rus JOIN ra0 a ON rus.vec_id = a.vec_id AND rus.sub = a.sub
              GROUP BY 1, 2, 3),
      rd1 AS (SELECT rus.vec_id, rus.sub, c.cent,
               sum((rus.v - c.cv) * (rus.v - c.cv)) AS d2
             FROM rus JOIN rcb1 c ON rus.sub = c.sub AND rus.sd = c.sd
             GROUP BY 1, 2, 3),
      ra1 AS (SELECT vec_id, sub, cent FROM (
               SELECT vec_id, sub, cent,
                      row_number() OVER (PARTITION BY vec_id, sub
                        ORDER BY round(d2, 6), cent) AS rk
               FROM rd1) WHERE rk = 1)"""

  private val q48 = Q(
    "q48_pq_adc_topk",
    (s, d) => {
      import s.implicits._
      adcRankedDF(s, adcCtx(s, d, pqCtx(s, d)))
        .select($"q_id", $"rk", $"n_id", r4($"d2").as("approx_d2"))
        .orderBy($"q_id", $"rk")
    },
    Some(adcOracleSql))

  private def adcOracleSql: String = s"""
      WITH $pqOracleCtes,
      ${adcLutOracleCte.trim},
      scan AS (SELECT l.q_id, a.vec_id AS n_id, sum(l.pd2) AS d2
               FROM pa1 a JOIN ql l ON a.sub = l.sub AND a.cent = l.cent
               WHERE a.vec_id <> l.q_id
               GROUP BY 1, 2),
      rnk AS (SELECT q_id, n_id, d2,
                row_number() OVER (PARTITION BY q_id
                  ORDER BY round(d2, 6), n_id) AS rk
              FROM scan)
      SELECT q_id, CAST(rk AS BIGINT) AS rk, n_id, round(d2, 4) AS approx_d2
      FROM rnk WHERE rk <= 5
      ORDER BY q_id, rk"""

  /** IVF + PQ search — the two index halves composed the way a
    * production vector store runs them (FAISS's IVFADC): the query
    * probes its Tuning.nprobe nearest IVF cells (the q44 coarse
    * quantizer), and the candidates homed there are ranked by PQ
    * asymmetric distance (the q48 lookup tables) — so the full-precision
    * corpus floats are touched by NEITHER the candidate generation NOR
    * the ranking. Candidate volume is nprobe·√n per query; ranking is 8
    * integer lookups per candidate against a broadcast nq×8×k LUT. Both
    * index builds are the shared deterministic contexts (ivfCtx, pqCtx),
    * and the oracle composes the two generated CTE chains (IVF
    * unprefixed, PQ `p`-prefixed) verbatim.
    */
  private val q49 = Q(
    "q49_ivf_pq_search",
    (s, d) => {
      import s.implicits._
      ivfadcScoredDF(s, d, resAdcCtx(s, d))
        .withColumn("rk", row_number().over(
          Window.partitionBy($"q_id").orderBy(r6($"d2"), $"n_id")).cast("long"))
        .filter($"rk" <= 5)
        .select($"q_id", $"rk", $"n_id", r4($"d2").as("approx_d2"))
        .orderBy($"q_id", $"rk")
    },
    Some(ivfadcOracleSql))

  /** q49's oracle chain after the composed IVF + residual-PQ CTEs:
    * coarse probes → homed candidates → per-(query, probed cell)
    * residual LUT (`rql` — the query's residual w.r.t. each probed
    * cell's centroid against the residual codebook) → ADC-scored →
    * ranked (`rnk`). Shared verbatim by q49 (rk ≤ 5), the refined
    * tier's oracle (rk ≤ R → exact re-rank), and q68's serving replay
    * (`selfExclude = false` — an ad-hoc query is not a corpus member,
    * so [[search]] never drops q = n), so the engines replay ONE
    * candidate pipeline.
    */
  private def ivfadcOracleChain(selfExclude: Boolean = true): String = s"""
      probes AS (SELECT vec_id AS q_id, cell FROM fa
                 WHERE rk <= ${tuning.nprobe} AND vec_id < ${tuning.annQueries}),
      home AS (SELECT vec_id AS n_id, cell FROM fa WHERE rk = 1),
      cp AS (SELECT p.q_id, h.n_id, p.cell
             FROM probes p JOIN home h ON p.cell = h.cell
             ${if (selfExclude) "WHERE p.q_id <> h.n_id" else ""}),
      rqv AS (SELECT p.q_id, p.cell, u.i, u.v - coalesce(cb.cv, 0) AS rv
              FROM probes p JOIN u ON u.vec_id = p.q_id
              LEFT JOIN cb${tuning.lloydIters} cb
                ON cb.cell = p.cell AND cb.dim = u.i),
      rql AS (SELECT r.q_id, r.cell,
                CAST((r.i - 1) // ${tuning.pqSubDim} AS INT) AS sub, c.cent,
                sum((r.rv - c.cv) * (r.rv - c.cv)) AS pd2
              FROM rqv r JOIN rcb1 c
                ON c.sub = CAST((r.i - 1) // ${tuning.pqSubDim} AS INT)
               AND c.sd = CAST((r.i - 1) % ${tuning.pqSubDim} AS INT)
              GROUP BY 1, 2, 3, c.cent),
      sc AS (SELECT cp.q_id, cp.n_id, sum(l.pd2) AS d2
             FROM cp
             JOIN ra1 a ON a.vec_id = cp.n_id
             JOIN rql l ON l.q_id = cp.q_id AND l.cell = cp.cell
                       AND l.sub = a.sub AND l.cent = a.cent
             GROUP BY 1, 2),
      rnk AS (SELECT q_id, n_id, d2,
                row_number() OVER (PARTITION BY q_id
                  ORDER BY round(d2, 6), n_id) AS rk
              FROM sc)"""

  private def ivfadcOracleSql: String = s"""
      WITH ${ivfOracleCtes(tuning.lloydIters)},
      ${pqOracleCtes.trim},
      ${resPqOracleCtes.trim},
      ${ivfadcOracleChain().trim}
      SELECT q_id, CAST(rk AS BIGINT) AS rk, n_id, round(d2, 4) AS approx_d2
      FROM rnk WHERE rk <= 5
      ORDER BY q_id, rk"""

  /** The refined tier's oracle: the q49 chain's top-R candidates
    * re-ranked by exact cosine over the exploded floats (`u`/`n` from
    * the IVF CTE chain) — one row per query, the refined NN.
    */
  private def refinedOracleSql: String = s"""
      WITH ${ivfOracleCtes(tuning.lloydIters)},
      ${pqOracleCtes.trim},
      ${resPqOracleCtes.trim},
      ${ivfadcOracleChain().trim},
      topr AS (SELECT q_id, n_id FROM rnk WHERE rk <= ${tuning.refineFactor * 5}),
      ed AS (SELECT t.q_id, t.n_id, sum(qu.v * nu.v) AS dot
             FROM topr t
             JOIN u qu ON qu.vec_id = t.q_id
             JOIN u nu ON nu.vec_id = t.n_id AND nu.i = qu.i
             GROUP BY 1, 2),
      ec AS (SELECT ed.q_id, ed.n_id, ed.dot / (nq.nrm * nn.nrm) AS cosine
             FROM ed JOIN n nq ON nq.vec_id = ed.q_id
                     JOIN n nn ON nn.vec_id = ed.n_id),
      rr AS (SELECT q_id, n_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY round(cosine, 6) DESC, n_id) AS rk
             FROM ec)
      SELECT q_id AS a_id, n_id AS nn_id FROM rr WHERE rk = 1"""

  /** The index build itself as an oracle-checked query: dump the four
    * STORED index tables in one canonical (part, k1, k2, k3, val)
    * union while the oracle replays the entire build — seed → Lloyd →
    * assignment, PQ seed → refine → codes — from scratch in SQL. A
    * builder that writes one wrong centroid value, drops an assignment
    * row, or mis-codes one vector hash-mismatches, so the artifact
    * every search reads is pinned end-to-end the way the media fixture
    * is (MediaLakeSpec pattern). Keys are unique per part (cell×dim /
    * vec×cell / cent×sub×sd / vec×sub), so the output order is total.
    */
  private val q67 = Q(
    "q67_ivf_pq_index_build",
    (s, d) => {
      import s.implicits._
      ensureIndex(s, d)
      val p = indexPath(d)
      val ivfCb = s.read.parquet(s"$p/ivf_codebook")
        .select(lit("ivf_cb").as("part"), $"cell".as("k1"),
          $"dim".cast("long").as("k2"), lit(-1L).as("k3"), $"cv".as("val"))
      val assign = s.read.parquet(s"$p/ivf_assign")
        .select(lit("ivf_assign").as("part"), $"vec_id".as("k1"),
          $"cell".as("k2"), $"rk".cast("long").as("k3"), lit(0.0).as("val"))
      val pqCb = s.read.parquet(s"$p/pq_codebook")
        .select(lit("pq_cb").as("part"), $"cent".as("k1"),
          $"sub".cast("long").as("k2"), $"sd".cast("long").as("k3"),
          $"cv".as("val"))
      val codes = s.read.parquet(s"$p/pq_codes")
        .select(lit("pq_codes").as("part"), $"n_id".as("k1"),
          $"sub".cast("long").as("k2"), $"cent".as("k3"), lit(0.0).as("val"))
      val rpqCb = s.read.parquet(s"$p/pq_res_codebook")
        .select(lit("rpq_cb").as("part"), $"cent".as("k1"),
          $"sub".cast("long").as("k2"), $"sd".cast("long").as("k3"),
          $"cv".as("val"))
      val rcodes = s.read.parquet(s"$p/pq_res_codes")
        .select(lit("rpq_codes").as("part"), $"n_id".as("k1"),
          $"sub".cast("long").as("k2"), $"cent".as("k3"), lit(0.0).as("val"))
      ivfCb.unionAll(assign).unionAll(pqCb).unionAll(codes)
        .unionAll(rpqCb).unionAll(rcodes)
        .orderBy($"part", $"k1", $"k2", $"k3")
    },
    Some(s"""
      WITH ${ivfOracleCtes(tuning.lloydIters)},
      ${pqOracleCtes.trim},
      ${resPqOracleCtes.trim}
      -- the ivf chain's dim is generate_subscripts' 1-based index; the
      -- stored table (and the pq chains) are 0-based
      SELECT 'ivf_cb' AS part, cell AS k1, CAST(dim - 1 AS BIGINT) AS k2,
             CAST(-1 AS BIGINT) AS k3, cv AS val FROM cb${tuning.lloydIters}
      UNION ALL
      SELECT 'ivf_assign', vec_id, cell, CAST(rk AS BIGINT), 0.0
      FROM fa WHERE rk <= ${tuning.nprobe}
      UNION ALL
      SELECT 'pq_cb', cent, CAST(sub AS BIGINT), CAST(sd AS BIGINT), cv
      FROM pcb1
      UNION ALL
      SELECT 'pq_codes', vec_id, CAST(sub AS BIGINT), cent, 0.0 FROM pa1
      UNION ALL
      SELECT 'rpq_cb', cent, CAST(sub AS BIGINT), CAST(sd AS BIGINT), cv
      FROM rcb1
      UNION ALL
      SELECT 'rpq_codes', vec_id, CAST(sub AS BIGINT), cent, 0.0 FROM ra1
      ORDER BY part, k1, k2, k3"""))

  /** The SERVING path itself, oracle-pinned: the first `annQueries`
    * corpus vectors replayed as an AD-HOC batch through [[search]]
    * (refine = true, k = 5) — probes computed driver-side against the
    * read codebook, candidates from the stored assignment, residual
    * ADC shortlist, exact-cosine re-rank — while the oracle replays
    * the identical pipeline in SQL: the q49 chain WITHOUT the
    * self-exclusion (an ad-hoc query is not a corpus member, so
    * [[search]] never drops q = n; feeding corpus vectors makes the
    * self-hit the rank-1 sanity row) plus the refine tail ranked to
    * k. SimilaritySearchSpec covers ad-hoc properties; this pins the
    * end-to-end serving arithmetic to the same hash gate as the build
    * (q67) and the corpus tiers (q43-q49). The collect is the
    * annQueries×dims query batch — bounded, the serving contract's
    * own input shape.
    */
  private val q68 = Q(
    "q68_vector_store_serve",
    (s, d) => {
      import s.implicits._
      // direct pruned read: the previous pqEmb(...).filter(...).collect()
      // materialized (and cached) the ENTIRE corpus Dataset to pick the
      // first annQueries vectors; the vec_id predicate row-group-prunes
      // the bare scan instead
      val qs = t(s, d, "embeddings")
        .filter($"vec_id" < tuning.annQueries)
        .select($"vec_id", $"embedding").as[(Long, Array[Float])]
        .collect().toSeq
      search(s, d, qs, k = 5, refine = true)
    },
    Some(serveOracleSql))

  private def serveOracleSql: String = s"""
      WITH ${ivfOracleCtes(tuning.lloydIters)},
      ${pqOracleCtes.trim},
      ${resPqOracleCtes.trim},
      ${ivfadcOracleChain(selfExclude = false).trim},
      topr AS (SELECT q_id, n_id FROM rnk WHERE rk <= ${tuning.refineFactor * 5}),
      ed AS (SELECT t.q_id, t.n_id, sum(qu.v * nu.v) AS dot
             FROM topr t
             JOIN u qu ON qu.vec_id = t.q_id
             JOIN u nu ON nu.vec_id = t.n_id AND nu.i = qu.i
             GROUP BY 1, 2),
      ec AS (SELECT ed.q_id, ed.n_id, ed.dot / (nq.nrm * nn.nrm) AS cosine
             FROM ed JOIN n nq ON nq.vec_id = ed.q_id
                     JOIN n nn ON nn.vec_id = ed.n_id),
      rr AS (SELECT q_id, n_id, cosine,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY round(cosine, 6) DESC, n_id) AS rk
             FROM ec)
      SELECT q_id, CAST(rk AS BIGINT) AS rk, n_id, round(cosine, 4) AS cosine
      FROM rr WHERE rk <= 5
      ORDER BY q_id, rk"""

  val all: Seq[Q] =
    Seq(q40, q41, q42, q43, q44, q45, q46, q47, q48, q49, q67, q68, q78, q80)
}
