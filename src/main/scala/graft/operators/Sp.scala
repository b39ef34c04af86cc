package graft.operators

import graft.{Q, Tables}
import Tables.{t, spread}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.Tuning

/** SentencePiece-style UNIGRAM-LM tokenizer — the second production
  * tokenizer family next to BPE (Kudo 2018: a piece vocabulary scored
  * by a unigram language model, segmentation = the Viterbi-best piece
  * sequence; training = EM over segmentations with periodic pruning).
  *
  * The engine's realization is the deterministic HARD-EM (Viterbi-EM)
  * variant, chosen so the DuckDB oracle can replay every step exactly:
  *
  *  1. SEED: every substring of length ≤ [[Tuning.spPieceLen]] of the
  *     (bounded) training vocabulary, counted per occurrence ×
  *     word frequency; pruned to single characters (ALWAYS kept — the
  *     SentencePiece required-chars rule, so any training word stays
  *     segmentable) + the top (spVocab − #chars) multi-character
  *     pieces by (count desc, piece asc in UTF-8 byte order).
  *  2. EM × [[Tuning.spIters]]: piece log-probability = ln((cnt+1) /
  *     (total+size)) (Laplace — every kept piece stays usable);
  *     Viterbi-segment every training word (DP over code points,
  *     ties → the LONGEST last piece); re-count pieces from the best
  *     segmentations; re-prune (chars kept at their new counts, even
  *     zero).
  *  3. TOKENIZE: Viterbi under the final model. Characters unseen in
  *     training segment deterministically (all candidates share the
  *     unknown-piece floor, the longest-piece tie-break decides) —
  *     both engines compute the identical floor (−1e18, exactly
  *     representable).
  *
  * Training follows the BPE trainer's driver contract: the collected
  * vocabulary is the SAME knob-bounded view (bpeSampleMod /
  * bpeMinFreq / bpeVocabCap), and the word domain composes with
  * normalizeNfc and bpePretok exactly as the BPE surfaces do. Unlike
  * BPE there is NO charset contract: pieces are plain substrings, so
  * paren-bearing words always join (no escape needed).
  *
  * The trained model installs as a keyed [[ArtifactLake]] artifact
  * (`pieces(piece, cnt)`), served without retraining
  * ([[Sp!.serveSpTokenize]]) and exchanged through the SentencePiece
  * `.vocab` TSV form (piece ⭾ log-probability —
  * [[Sp!.exportSpModel]] / [[Sp.importSpModel]] /
  * [[Sp!.tokenizeWithSpModel]]).
  *
  * INTERCHANGE CONTRACT, known deltas vs real SentencePiece (Kudo
  * 2018), stated rather than hidden: (1) training here is HARD EM
  * (Viterbi-EM) where SentencePiece runs soft EM (forward-backward
  * expected counts) — an imported real-world `.vocab` therefore
  * reproduces this engine's segmentations only under VITERBI
  * decoding (which is also what `spm_encode` does by default, so
  * encode-side behavior matches); scores trained here differ from
  * what soft EM would produce on the same corpus. (2) No
  * byte-fallback: characters absent from the supplied model segment
  * deterministically off the shared finite unknown floor
  * ([[Sp.UnknownLp]]) instead of decomposing to byte pieces — a
  * model carrying `<0xNN>` byte pieces still imports, but unknown
  * characters map to single-char unknowns, not byte sequences. The
  * Viterbi window stretches to the given model's longest piece, so
  * foreign pieces beyond [[graft.config.Tuning.spPieceLen]] match
  * faithfully (SpSpec pins it).
  *
  * At 100 TB: training cost is one bounded vocabulary aggregate + a
  * driver EM over ≤ vocabCap words (the BPE precedent); tokenization
  * is row-local — a broadcast piece table and one compiled
  * `mapPartitions` Viterbi per word, no shuffle.
  */
object Sp {

  /** Spec/observability hook: model builds this process performed. */
  val builds = new java.util.concurrent.atomic.AtomicInteger

  /** UTF-8 byte-order comparison — the engines' shared binary
    * collation for tie-breaks (DuckDB's default ORDER BY piece).
    */
  private[operators] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** The unknown-piece log-probability floor — finite (so sums stay
    * exact doubles, never ±Inf/NaN) and exactly representable, so
    * both engines agree bit for bit.
    */
  private[operators] val UnknownLp: Double = -1e18

  /** Viterbi-best segmentation of one word under piece log-probs:
    * DP over code points, best(j) = max over k ≤ L of best(j−k) +
    * logp(word[j−k..j)); ties resolve to the LARGEST k (scan k
    * ascending, keep on ≥ — the same winner the oracle's
    * equality-max-k reconstruction picks). Pieces absent from the
    * model score [[UnknownLp]].
    */
  def viterbi(word: String, logp: collection.Map[String, Double],
      maxLen: Int): List[String] = {
    val cps = Bpe.splitCodePoints(word)
    val n = cps.length
    if (n == 0) return Nil
    val best = new Array[Double](n + 1)
    val back = new Array[Int](n + 1)
    var j = 1
    while (j <= n) {
      var bv = Double.NegativeInfinity
      var bk = 0
      var k = 1
      val kMax = math.min(maxLen, j)
      while (k <= kMax) {
        val piece = cps.slice(j - k, j).mkString
        val cand = best(j - k) + logp.getOrElse(piece, UnknownLp)
        if (cand >= bv) { bv = cand; bk = k }
        k += 1
      }
      best(j) = bv; back(j) = bk
      j += 1
    }
    var out = List.empty[String]
    var p = n
    while (p > 0) {
      val k = back(p)
      out = cps.slice(p - k, p).mkString :: out
      p -= k
    }
    out
  }

  /** The full trainer over a collected (word, freq) vocabulary —
    * seed, then [[viterbi]]-EM with pruning. Returns the final
    * (piece, cnt) table sorted by piece (UTF-8 order).
    */
  def trainPieces(words: Seq[(String, Long)], vocab: Int, maxLen: Int,
      iters: Int): Seq[(String, Long)] = {
    val seed = scala.collection.mutable.HashMap[String, Long]()
    for ((w, f) <- words) {
      val cps = Bpe.splitCodePoints(w)
      val n = cps.length
      var i = 0
      while (i < n) {
        var l = 1
        while (l <= maxLen && i + l <= n) {
          val piece = cps.slice(i, i + l).mkString
          seed(piece) = seed.getOrElse(piece, 0L) + f
          l += 1
        }
        i += 1
      }
    }
    // the character set is FIXED from the seed: every char of every
    // training word stays in the model across all prunes
    val chars: Set[String] =
      seed.keysIterator.filter(p => Bpe.splitCodePoints(p).length == 1).toSet
    val mcap = math.max(vocab - chars.size, 0)
    def prune(c: collection.Map[String, Long]): Map[String, Long] = {
      val multi = c.toSeq
        .filter { case (p, n) => !chars.contains(p) && n > 0 &&
          Bpe.splitCodePoints(p).length > 1 }
        .sortWith { case ((p1, n1), (p2, n2)) =>
          if (n1 != n2) n1 > n2 else utf8Lt(p1, p2) }
        .take(mcap)
      (chars.toSeq.map(ch => ch -> c.getOrElse(ch, 0L)) ++ multi).toMap
    }
    var model: Map[String, Long] = prune(seed)
    var r = 0
    while (r < iters) {
      val total = model.valuesIterator.sum
      val denom = total.toDouble + model.size.toDouble
      val logp = model.map { case (p, n) =>
        p -> math.log((n + 1).toDouble / denom) }
      val cnt = scala.collection.mutable.HashMap[String, Long]()
      for ((w, f) <- words; piece <- viterbi(w, logp, maxLen))
        cnt(piece) = cnt.getOrElse(piece, 0L) + f
      model = prune(cnt)
      r += 1
    }
    model.toSeq.sortWith((a, b) => utf8Lt(a._1, b._1))
  }

  /** Parse a SentencePiece-style `.vocab` TSV (piece ⭾ score, one per
    * line, UTF-8) back into a scored model — the interchange import.
    * Loud on malformed lines or duplicate pieces; scores round-trip
    * exactly through `Double.toString` (this parser also accepts any
    * foreign file of the same shape).
    */
  def importSpModel(dir: String): Seq[(String, Double)] = {
    val src = scala.io.Source.fromFile(
      new java.io.File(dir, "sp.vocab"), "UTF-8")
    try {
      val seen = scala.collection.mutable.HashSet[String]()
      src.getLines().zipWithIndex.flatMap { case (raw, ln) =>
        val line = if (raw.endsWith("\r")) raw.dropRight(1) else raw
        if (line.isEmpty) None
        else {
          val tab = line.indexOf('\t')
          if (tab <= 0 || line.indexOf('\t', tab + 1) >= 0)
            throw new IllegalArgumentException(
              s"sp.vocab line ${ln + 1}: expected 'piece<TAB>score', got: $line")
          val piece = line.substring(0, tab)
          if (!seen.add(piece))
            throw new IllegalArgumentException(
              s"sp.vocab line ${ln + 1}: duplicate piece: $piece")
          val score =
            try line.substring(tab + 1).toDouble
            catch {
              case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"sp.vocab line ${ln + 1}: unparsable score: $line")
            }
          Some(piece -> score)
        }
      }.toVector
    } finally src.close()
  }
}

/** The oracle-gated query surface + store/serve/interchange faces —
  * knob-bearing, one instance per [[graft.QRegistry]].
  */
final class Sp(val tuning: Tuning) extends Serializable {

  private val nfcOn = tuning.normalizeNfc == 1
  private val pretokOn = tuning.bpePretok == 1
  private val L = tuning.spPieceLen
  private val vocabTarget = tuning.spVocab
  private val iters = tuning.spIters
  private val sampleMod = tuning.bpeSampleMod
  private val minFreq = tuning.bpeMinFreq
  private val vocabCap = tuning.bpeVocabCap

  /** The word domain — the BPE surfaces' composition (whitespace →
    * optional GPT-2 pretok), NFC under the knob. No charset filter:
    * unigram pieces are plain substrings, every word is representable.
    */
  private val toksExpr =
    if (!pretokOn) Dedup.toksExprOf(nfcOn)
    else s"flatten(transform(${Dedup.toksExprOf(nfcOn)}, " +
      s"w -> regexp_extract_all(w, '${Bpe.pretokSpark}', 0)))"
  private val toksSqlDuck =
    if (!pretokOn) Dedup.toksSqlDuckOf(nfcOn)
    else s"flatten(list_transform(${Dedup.toksSqlDuckOf(nfcOn)}, " +
      s"w -> regexp_extract_all(w, '${Bpe.pretokDuck}', 0)))"

  /** The knob-bounded training vocabulary, collected to the driver —
    * the [[Bpe]] trainer's contract (sample, frequency floor, top-K
    * cap; ties freq desc then word asc in the shared binary
    * collation).
    */
  private def trainWords(s: SparkSession, d: String): Seq[(String, Long)] = {
    import s.implicits._
    val docs = spread(t(s, d, "documents"))
    val in = if (sampleMod > 1) docs.filter($"doc_id" % sampleMod === 0)
      else docs
    val counted = in.select(explode(expr(toksExpr)).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
    val floored = if (minFreq > 1) counted.filter($"freq" >= minFreq)
      else counted
    val capped = if (vocabCap > 0)
      floored.orderBy($"freq".desc, $"w").limit(vocabCap) else floored
    capped.as[(String, Long)].collect().toSeq
  }

  // ------------------------------------------------------------------
  // The stored model artifact.
  // ------------------------------------------------------------------

  @transient private lazy val spRoot: String = ArtifactLake.indexRoot

  private[operators] def spPath(d: String): String = {
    val knobs = s"$vocabTarget:$L:$iters:$sampleMod:$minFreq:$vocabCap" +
      (if (nfcOn) ":nfc" else "") + (if (pretokOn) ":ptk" else "")
    ArtifactLake.keyedPath(spRoot, "sp", ArtifactLake.sourceKey(d, knobs), 1,
      ArtifactLake.docsFingerprint(d))
  }

  /** Install-or-reuse the trained piece model (`pieces(piece, cnt)`).
    * Deterministic — losing an install race is success.
    */
  def ensureSp(s: SparkSession, d: String): String = synchronized {
    ArtifactLake.buildOnce(spPath(d), Sp.builds) { staging =>
      import s.implicits._
      val pieces = Sp.trainPieces(trainWords(s, d), vocabTarget, L, iters)
      s.createDataset(pieces).toDF("piece", "cnt")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${staging.getAbsolutePath}/pieces")
    }
  }

  /** The stored model as scored pieces: logp = ln((cnt+1) /
    * (total+size)) — the Laplace form training used.
    */
  private def storedModel(s: SparkSession, d: String): Seq[(String, Double)] = {
    import s.implicits._
    val p = ensureSp(s, d)
    val pieces = s.read.parquet(s"$p/pieces")
      .as[(String, Long)].collect()
    val total = pieces.map(_._2).sum
    val denom = total.toDouble + pieces.length.toDouble
    pieces.toSeq.map { case (piece, n) =>
      piece -> math.log((n + 1).toDouble / denom) }
  }

  /** Tokenize an arbitrary `(id, text)` frame with a GIVEN scored
    * model (the interchange face — [[Sp.importSpModel]]'s output
    * plugs in directly): row-local compiled Viterbi per word under a
    * broadcast piece table. Returns `(id, n_pieces, pieces)`;
    * zero-word documents keep an empty pieces array.
    */
  def tokenizeWithSpModel(docs: DataFrame,
      model: Seq[(String, Double)]): DataFrame = {
    val s = docs.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(s)
    import s.implicits._
    val bc = s.sparkContext.broadcast(model.toMap)
    // the Viterbi candidate length must cover the GIVEN model, not just
    // the training knob: an imported foreign sp.vocab may carry pieces
    // longer than spPieceLen, and capping at L would silently never
    // match them. For the stored model every piece is ≤ L code points
    // by construction, so this is exactly L there (q109 unchanged).
    val maxLen = model.iterator
      .map(m => Bpe.splitCodePoints(m._1).length)
      .foldLeft(L)(math.max)
    docs.select(col("id").cast("long").as("id"),
        expr(toksExpr).as("toks"))
      .as[(Long, Seq[String])]
      .mapPartitions { rows =>
        val logp = bc.value
        rows.map { case (id, toks) =>
          val pieces = Option(toks).getOrElse(Seq.empty)
            .flatMap(w => Sp.viterbi(w, logp, maxLen))
          (id, pieces.length.toLong, pieces)
        }
      }
      .toDF("id", "n_pieces", "pieces")
  }

  /** Tokenize against the STORED model — serving never retrains; a
    * fresh session reads the artifact.
    */
  def serveSpTokenize(s: SparkSession, d: String,
      docs: DataFrame): DataFrame =
    tokenizeWithSpModel(docs, storedModel(s, d))

  /** Export the stored model as the SentencePiece `.vocab` TSV
    * (piece ⭾ log-probability, UTF-8) — scores round-trip exactly via
    * `Double.toString`. Returns the export dir: `outDir`, or by default
    * the keyed `<model root>-export` dir next to the model, installed
    * once like the model itself.
    */
  def exportSpModel(s: SparkSession, d: String,
      outDir: String = null): String = {
    def write(dir: java.io.File): Unit = {
      if (!dir.mkdirs() && !dir.isDirectory)
        throw new java.io.IOException(s"export dir create failed: $dir")
      ArtifactLake.writeLines(new java.io.File(dir, "sp.vocab"),
        storedModel(s, d).map { case (p, lp) => s"$p\t$lp" })
    }
    Option(outDir) match {
      case Some(dir) => write(new java.io.File(dir)); dir
      case None =>
        val dir = s"${spPath(d)}-export"
        ArtifactLake.ensure(new java.io.File(dir))(write)
        dir
    }
  }

  // ------------------------------------------------------------------
  // Oracle SQL: the full trainer replayed in DuckDB — seed counting,
  // per-round Laplace scoring + Viterbi DP (a list-fold over code-
  // point positions; the path reconstructed by the equality-max-k
  // rule, which picks the same longest-piece winner the Spark DP's
  // ascending-k ≥ scan keeps) + recount + prune, unrolled spIters
  // times, then the final tokenize over the probe slice.
  // ------------------------------------------------------------------

  /** CTEs `spw…` ending in `spwv(w, freq)` — the bounded training
    * vocabulary, knob-mirrored.
    */
  private def wordsSql: String = {
    val src = if (sampleMod > 1)
      s"FROM documents WHERE doc_id % $sampleMod = 0" else "FROM documents"
    val floor = if (minFreq > 1) s"HAVING count(*) >= $minFreq" else ""
    val cap = if (vocabCap > 0)
      s"ORDER BY freq DESC, w LIMIT $vocabCap" else ""
    s"""spw0 AS (SELECT unnest($toksSqlDuck) AS w $src),
      spw1 AS (SELECT w, count(*) AS freq FROM spw0 GROUP BY w $floor),
      spwv AS (SELECT w, freq FROM spw1 $cap)"""
  }

  /** CTEs ending in `spseed(piece, cnt)` + `spchars(piece)`. */
  private def seedSql: String = s"""
      spp0 AS (SELECT w, freq, length(w) AS n,
                 unnest(range(1, length(w) + 1)) AS i FROM spwv),
      spsub AS (SELECT w, freq, n, i, unnest(range(1, $L + 1)) AS l
                FROM spp0),
      spseed AS (SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece,
                   CAST(sum(freq) AS BIGINT) AS cnt
                 FROM spsub WHERE i + l <= n + 1 GROUP BY piece),
      spchars AS (SELECT piece FROM spseed WHERE length(piece) = 1)"""

  /** The prune step: chars always kept (at their current counts, 0 if
    * unseen), plus the top (spVocab − #chars) multi-char pieces by
    * (cnt desc, piece asc), cnt > 0.
    */
  private def pruneSql(in: String, out: String): String = s"""
      $out AS MATERIALIZED (
        SELECT c.piece, coalesce(x.cnt, 0) AS cnt
        FROM spchars c LEFT JOIN $in x ON c.piece = x.piece
        UNION ALL
        SELECT piece, cnt FROM (
          SELECT piece, cnt,
                 row_number() OVER (ORDER BY cnt DESC, piece) AS rn
          FROM $in WHERE length(piece) > 1 AND cnt > 0)
        WHERE rn <= (SELECT greatest($vocabTarget - count(*), 0)
                     FROM spchars))"""

  /** One Viterbi pass: CTEs suffixed `_$r`, from `$words(w, freq)`
    * under `$pieces(piece, cnt)`, ending in `vpcs_$r(w, freq, pcs)`.
    *
    * SET-BASED (recursive-CTE) formulation, no list lambdas: the
    * original nested `list_reduce` DP hit a DuckDB 1.0.0 vectorized-
    * lambda row-misalignment bug under `threads > 1` — the backward
    * walk seeded from ANOTHER ROW's word length, producing
    * non-concatenating segmentations (sf0.001's q108: the oracle
    * emitted `sp·ark` where its own single-threaded evaluation and the
    * engine agree on `s·par·k`; 'line' degraded to `['l']`). The DP is
    * plain SQL now: `vdp` carries best[j−0..j−(L−1)] as a sliding
    * window through one recursion over positions (max over the k
    * candidates per level — the same addends, so the same doubles),
    * `vbk` re-derives each position's LONGEST maximizing piece (max k
    * with best[j−k] + lp = best[j] — the engine's ascending-k ≥ scan
    * winner), and `vwalk` reconstructs the path by recursion over the
    * backpointer table. Requires the enclosing query to say
    * WITH RECURSIVE.
    *
    * The multiply-referenced CTEs (`vlp`, `vbk`, `vpcs`, and the prune
    * outputs) are declared AS MATERIALIZED: DuckDB 1.0.0 otherwise
    * INLINES a CTE at every reference, so each of the 3 chained
    * Viterbi rounds re-evaluated its entire upstream chain (recursions
    * included) once per reference — exponential blowup that cost
    * 1406.9 s on q108's sf0.01 oracle check and exhausted file
    * descriptors (spill temp files) on q109's. With materialization
    * each CTE is computed once; both checks complete in < 0.3 s at
    * sf0.01 and the no-lambda determinism fix is preserved (verified
    * stable over 15 repeat runs at threads=32).
    */
  private def viterbiSql(r: String, pieces: String, words: String): String = {
    val caseArms = (1 to L).map(k => s"WHEN ${k} THEN d.b${k - 1}").mkString(" ")
    val baseNulls = (1 until L).map(i => s"CAST(NULL AS DOUBLE) AS b$i").mkString(", ")
    val shifted = (0 until L - 1).map(i => s"d.b$i AS b${i + 1}").mkString(", ")
    val groupCols = (0 until L).map(i => s"d.b$i").mkString(", ")
    s"""
      vtot_$r AS (SELECT CAST(sum(cnt) AS DOUBLE) +
                         CAST(count(*) AS DOUBLE) AS denom FROM $pieces),
      vg_$r AS (SELECT w, freq, length(w) AS n,
                  unnest(range(1, length(w) + 1)) AS j FROM $words),
      vk_$r AS (SELECT w, freq, n, j,
                  unnest(range(1, least($L, j) + 1)) AS k FROM vg_$r),
      vlp_$r AS MATERIALIZED (SELECT v.w, v.freq, v.n, v.j, v.k,
                   CASE WHEN p.piece IS NOT NULL
                        THEN ln((p.cnt + 1) / (SELECT denom FROM vtot_$r))
                        ELSE -1e18 END AS lp
                 FROM vk_$r v LEFT JOIN $pieces p
                   ON substr(v.w, CAST(v.j - v.k + 1 AS INT),
                        CAST(v.k AS INT)) = p.piece),
      vdp_$r AS (
        SELECT w, n, CAST(0 AS BIGINT) AS j, CAST(0 AS DOUBLE) AS b0,
               $baseNulls
        FROM (SELECT DISTINCT w, n FROM vg_$r)
        UNION ALL
        SELECT d.w, d.n, d.j + 1,
               max(CASE l.k $caseArms END + l.lp) AS b0,
               $shifted
        FROM vdp_$r d JOIN vlp_$r l ON l.w = d.w AND l.j = d.j + 1
        WHERE d.j < d.n
        GROUP BY d.w, d.n, d.j, $groupCols),
      vbk_$r AS MATERIALIZED (SELECT l.w, l.j, max(l.k) AS bk
                 FROM vlp_$r l
                 JOIN vdp_$r a ON a.w = l.w AND a.j = l.j
                 JOIN vdp_$r b ON b.w = l.w AND b.j = l.j - l.k
                 WHERE b.b0 + l.lp = a.b0
                 GROUP BY l.w, l.j),
      vwalk_$r AS (
        SELECT w, freq, n AS p FROM (SELECT DISTINCT w, freq, n FROM vg_$r)
        UNION ALL
        SELECT v.w, v.freq, v.p - b.bk
        FROM vwalk_$r v JOIN vbk_$r b ON b.w = v.w AND b.j = v.p
        WHERE v.p > 0),
      vpcs_$r AS MATERIALIZED (SELECT v.w, v.freq,
                    list(substr(v.w, CAST(v.p - b.bk + 1 AS INT),
                      CAST(b.bk AS INT)) ORDER BY v.p) AS pcs
                  FROM vwalk_$r v JOIN vbk_$r b ON b.w = v.w AND b.j = v.p
                  WHERE v.p > 0
                  GROUP BY v.w, v.freq)"""
  }

  /** The EM recount from a Viterbi pass. */
  private def emcSql(r: String): String = s"""
      emc_$r AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
                   SELECT freq, unnest(pcs) AS piece FROM vpcs_$r)
                 GROUP BY piece)"""

  /** The full training chain — ends in `$finalRel(piece, cnt)`. */
  private def trainChain: (String, String) = {
    val sb = new StringBuilder
    sb.append(wordsSql).append(",").append(seedSql).append(",")
    sb.append(pruneSql("spseed", "pieces_0"))
    var rel = "pieces_0"
    var r = 0
    while (r < iters) {
      sb.append(",").append(viterbiSql(s"r$r", rel, "spwv"))
      sb.append(",").append(emcSql(s"r$r"))
      sb.append(",").append(pruneSql(s"emc_r$r", s"pieces_${r + 1}"))
      rel = s"pieces_${r + 1}"
      r += 1
    }
    (sb.toString, rel)
  }

  /** q108: the trained model under the gate — dump the STORED piece
    * table (pinning the artifact the serve/export faces read) while
    * the oracle replays seed → EM×iters → prune from raw `documents`.
    */
  private val q108 = Q(
    "q108_sp_unigram_train",
    (s, d) => {
      import s.implicits._
      val p = ensureSp(s, d)
      s.read.parquet(s"$p/pieces").orderBy($"piece")
    },
    Some {
      val (chain, fin) = trainChain
      s"""
      WITH RECURSIVE $chain
      SELECT piece, cnt FROM $fin ORDER BY piece"""
    })

  /** q109: Viterbi tokenization under the gate — a deterministic doc
    * slice through [[serveSpTokenize]] (per-doc piece count + the md5
    * of the space-joined piece sequence), while the oracle re-derives
    * the model AND the segmentation of every probe word, reassembling
    * per document in text order. A wrong piece probability, a
    * tie-break slip, or a dropped word all hash-mismatch.
    */
  private val q109 = Q(
    "q109_sp_unigram_tokenize",
    (s, d) => {
      import s.implicits._
      val probe = t(s, d, "documents")
        .filter($"doc_id" % 25 === 3)
        .select($"doc_id".as("id"), $"text")
      serveSpTokenize(s, d, probe)
        .filter($"n_pieces" > 0)
        .select($"id".as("doc_id"), $"n_pieces",
          md5(concat_ws(" ", $"pieces")).as("seg_hash"))
        .orderBy($"doc_id")
    },
    Some {
      val (chain, fin) = trainChain
      s"""
      WITH RECURSIVE $chain,
      pdoc AS (SELECT doc_id, $toksSqlDuck AS toks FROM documents
               WHERE doc_id % 25 = 3),
      sptkw AS (SELECT DISTINCT unnest(toks) AS w, CAST(1 AS BIGINT) AS freq
                FROM pdoc),
      ${viterbiSql("tk", fin, "sptkw")},
      dtk AS (SELECT doc_id, toks,
                unnest(range(1, len(toks) + 1)) AS wi FROM pdoc),
      dtk2 AS (SELECT doc_id, wi, toks[wi] AS w FROM dtk),
      dpc AS (SELECT d.doc_id, d.wi, v.pcs
              FROM dtk2 d JOIN vpcs_tk v ON d.w = v.w),
      dfl AS (SELECT doc_id, wi, pcs,
                unnest(range(1, len(pcs) + 1)) AS pi FROM dpc),
      dfl2 AS (SELECT doc_id, wi, pi, pcs[pi] AS piece FROM dfl)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pieces,
             md5(array_to_string(list(piece ORDER BY wi, pi), ' ')) AS seg_hash
      FROM dfl2 GROUP BY doc_id
      ORDER BY doc_id"""
    })

  val all: Seq[Q] = Seq(q108, q109)
}
