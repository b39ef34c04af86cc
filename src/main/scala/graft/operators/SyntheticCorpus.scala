package graft.operators

import org.apache.spark.sql.SparkSession

/** Deterministic synthetic `documents` + `embeddings` generator for
  * scale probing BEYOND the driver-provided testdata (which stops at
  * sf0.1 — 5,000 docs / 2,000 vectors). The driver's corpora are
  * read-only and fixed-size, so the 10×/100× probes of the
  * corpus-bound tiers (sig-lake build, IVF-PQ index build, sequence
  * packing, near-dup components, the serve paths) generate their own
  * inputs here, matched to the measured sf0.1 distributions:
  *
  *  - documents: 31-word vocabulary, 10–100 words per doc (uniform),
  *    langs {en 41%, es 15%, fr 15%, de 14%, zh 15%}, 20 uniform
  *    sources, ~0.2% exact duplicates and ~2.7% near-duplicates
  *    (5% word substitution — Jaccard ≈ 0.7–0.8 over 3-gram
  *    shingles, inside the LSH bands' detection range), `n_chars` =
  *    `length(text)`;
  *  - embeddings: 64-dim unit vectors around 10 label centroids
  *    (noise σ ≈ 0.35 per dim before renormalization) plus ~1%
  *    near-duplicate pairs (σ ≈ 0.02 off the previous vector) so the
  *    cosine tiers see the same candidate structure the testdata has.
  *
  * Everything is a pure function of (row id, generator version): rows
  * generate independently on executors from `spark.range` — no driver
  * materialization, no cross-row state — so the same recipe would run
  * unchanged at a 1000-executor 100 TB scale. Near-dup rows re-derive
  * their source row's words from ITS id (the derivation is pure, so
  * "copy doc id-7" costs one extra in-partition recompute, not a
  * join).
  *
  * Artifacts install under `-Dgraft.scale.dir` (default:
  * java.io.tmpdir/graft-scale) through the shared [[ArtifactLake]]
  * staged-rename recipe, keyed by (row counts, version) — probes at
  * the same size reuse the corpus; the derived lakes re-key off the
  * installed files' fingerprints exactly as they do for the real
  * testdata dirs.
  */
object SyntheticCorpus {

  /** Bump when any byte of the derivation changes: the dir key
    * includes it, so stale corpora can never collide with new probe
    * expectations.
    */
  val version = 2 // v2: synthWord gained the '0' rank separator —
                  // lexicon ranks can no longer alias to one word

  private val vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  private val langs = Array("en", "es", "fr", "de", "zh")
  // cumulative percent cut-points matching the measured sf0.1 mix
  private val langCut = Array(41, 56, 71, 85, 100)

  /** splitmix64 — the standard public finalizer; indexed draws
    * `draw(id, k)` give a stateless per-row random stream.
    */
  private def mix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def draw(id: Long, k: Long): Long =
    mix64(id * 0x2545F4914F6CDD1DL ^ k * 0x9E3779B97F4A7C15L ^ 0x5CA1AB1EL)

  private def uniform01(r: Long): Double =
    ((r >>> 11) + 1).toDouble / (1L << 53).toDouble // (0, 1], ln-safe

  /** One standard normal via Box–Muller from two indexed draws. */
  private def gaussian(id: Long, k: Long): Double = {
    val u1 = uniform01(draw(id, 2 * k + 101))
    val u2 = uniform01(draw(id, 2 * k + 102))
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  private def floorMod(a: Long, m: Int): Int =
    java.lang.Math.floorMod(a, m.toLong).toInt

  /** The UNMUTATED word sequence a row id derives — dup rows re-derive
    * their source's words through this, keeping every row a pure
    * function of ids.
    */
  private def wordsFor(id: Long): Array[String] = {
    val n = 10 + floorMod(draw(id, 0), 91) // 10..100, matches testdata
    Array.tabulate(n)(k => vocab(floorMod(draw(id, k + 1), vocab.length)))
  }

  /** doc_id → (text, lang, source). Exact-dup rows (~0.2%) replay the
    * source row's words verbatim; near-dup rows (~2.7%) substitute 5%
    * of them from the dup row's OWN draw stream (offset past the word
    * draws so the streams never alias).
    */
  private[operators] def docFor(id: Long): (String, String, String) = {
    val words =
      if (id % 500 == 3 && id >= 7) wordsFor(id - 7)
      else if (id % 37 == 11 && id >= 1) {
        val base = wordsFor(id - 1)
        Array.tabulate(base.length) { k =>
          if (floorMod(draw(id, k + 5000), 100) < 5)
            vocab(floorMod(draw(id, k + 9000), vocab.length))
          else base(k)
        }
      } else wordsFor(id)
    val text = words.mkString(" ")
    val lp = floorMod(draw(id, 200), 100)
    val lang = langs(langCut.indexWhere(lp < _))
    val source = "src" + floorMod(draw(id, 201), 20)
    (text, lang, source)
  }

  private val dim = 64

  /** The cluster centroid for a label — a fixed gaussian point, same
    * for every row that draws the label.
    */
  private def centroid(label: Int): Array[Double] =
    Array.tabulate(dim)(k => gaussian(0x0CE2701DL + label, k))

  private def normalize(v: Array[Double]): Array[Float] = {
    var s = 0.0
    var i = 0
    while (i < dim) { s += v(i) * v(i); i += 1 }
    val inv = 1.0 / math.sqrt(s)
    Array.tabulate(dim)(k => (v(k) * inv).toFloat)
  }

  /** vec_id → (embedding, label): centroid + per-dim noise,
    * renormalized; ~1% of rows sit σ=0.02 off the previous row's
    * UNPERTURBED vector (re-derived from its id — pure), giving the
    * cosine tiers genuine near-dup pairs.
    */
  private[operators] def vecFor(id: Long): (Array[Float], Int) = {
    def base(i: Long): (Array[Double], Int) = {
      val label = floorMod(draw(i, 300), 10)
      val c = centroid(label)
      (Array.tabulate(dim)(k => c(k) + 0.35 * gaussian(i, k)), label)
    }
    if (id % 100 == 42 && id >= 1) {
      val (bv, label) = base(id - 1)
      (normalize(Array.tabulate(dim)(k => bv(k) + 0.02 * gaussian(id, k))), label)
    } else {
      val (bv, label) = base(id)
      (normalize(bv), label)
    }
  }

  // ------------------------------------------------------------------
  // Rich-vocabulary TEXT corpus for the tokenizer-training probe. The
  // standard probe corpus above reuses the testdata's 31-word
  // vocabulary — right for the dedup/packing tiers it feeds, but BPE
  // training is bounded by VOCABULARY structure (31 short words
  // exhaust their repeating pairs after ~100 merges no matter the
  // trainer). This variant draws each word from a `vocabWords`-sized
  // synthetic lexicon with a Zipf-ish rank bias (u² inverse draw —
  // low ranks dominate, the long tail thins out), word strings unique
  // by construction (a-z prefix + '0' separator + base-26 rank — the
  // non-letter separator makes the prefix/suffix parse unambiguous,
  // so distinct ranks can never collide) with 3–7 hash-derived
  // prefix letters for realistic lengths. Same purity contract: every
  // row generates independently from its id on executors.
  // ------------------------------------------------------------------

  private def base26(n: Long): String = {
    var x = n
    val sb = new StringBuilder
    do { sb += ('a' + (x % 26).toInt).toChar; x /= 26 } while (x > 0)
    sb.result()
  }

  /** The word string for a lexicon rank — unique per rank: a
    * deterministic 3–7 letter a-z prefix, a `'0'` separator, then the
    * rank in base-26. The separator is what makes uniqueness REAL: a
    * bare prefix+suffix concatenation is ambiguous across ranks
    * (prefix "wxyz"+"a" = prefix "wxy"+"za"), silently shrinking the
    * effective lexicon; with the non-letter separator the suffix
    * parses unambiguously, so distinct ranks are distinct words.
    */
  private[graft] def synthWord(rank: Long): String = {
    val pLen = 3 + floorMod(draw(rank ^ 0x778F00DL, 7), 5)
    val prefix = Array.tabulate(pLen)(k =>
      ('a' + floorMod(draw(rank ^ 0x778F00DL, k + 11), 26)).toChar).mkString
    prefix + "0" + base26(rank)
  }

  /** doc_id → text over the rich lexicon: 30–120 words, ranks drawn
    * with quadratic low-rank bias.
    */
  private[operators] def richTextFor(id: Long, vocabWords: Int): String = {
    val n = 30 + floorMod(draw(id, 0x7E57L), 91)
    Array.tabulate(n) { k =>
      val u = uniform01(draw(id, 0x10000L + k))
      val rank = math.min(vocabWords - 1L, (u * u * vocabWords).toLong)
      synthWord(rank)
    }.mkString(" ")
  }

  def textDirFor(docs: Long, vocabWords: Int, root: String = defaultRoot): String =
    s"$root/text-v$version-d$docs-w$vocabWords"

  /** Install (or reuse) a rich-vocabulary text-only corpus dir:
    * `documents.parquet` schema-identical to the driver testdata
    * (lang/source drawn as in [[docFor]]), written distributed from
    * `spark.range`. Returns the dir path.
    */
  def ensureText(spark: SparkSession, docs: Long, vocabWords: Int,
      root: String = defaultRoot): String = {
    require(vocabWords > 0, "ensureText: vocabWords must be positive")
    val dir = textDirFor(docs, vocabWords, root)
    ArtifactLake.ensure(new java.io.File(dir)) { staging =>
      import spark.implicits._
      val par = spark.sparkContext.defaultParallelism
      spark.range(0, docs, 1, par)
        .map { id =>
          val text = richTextFor(id, vocabWords)
          val lang = langs(langCut.indexWhere(floorMod(draw(id, 200), 100) < _))
          val source = "src" + floorMod(draw(id, 201), 20)
          (id, text, lang, source, text.length.toLong)
        }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite")
        .parquet(s"${staging.getAbsolutePath}/documents.parquet")
    }
    dir
  }

  def defaultRoot: String =
    sys.props.getOrElse("graft.scale.dir",
      s"${sys.props("java.io.tmpdir")}/graft-scale")

  def dirFor(docs: Long, vecs: Long, root: String = defaultRoot): String =
    s"$root/corpus-v$version-d$docs-e$vecs"

  /** Install (or reuse) the corpus dir: `documents.parquet` +
    * `embeddings.parquet`, schema-identical to the driver testdata,
    * written distributed from `spark.range`. Returns the dir path —
    * usable anywhere an sf dir is ([[graft.Tables.t]] reads parquet
    * dirs and files alike).
    */
  def ensure(spark: SparkSession, docs: Long, vecs: Long,
      root: String = defaultRoot): String = {
    val dir = dirFor(docs, vecs, root)
    ArtifactLake.ensure(new java.io.File(dir)) { staging =>
      import spark.implicits._
      val par = spark.sparkContext.defaultParallelism
      spark.range(0, docs, 1, par)
        .map { id =>
          val (text, lang, source) = docFor(id)
          (id, text, lang, source, text.length.toLong)
        }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite")
        .parquet(s"${staging.getAbsolutePath}/documents.parquet")
      spark.range(0, vecs, 1, par)
        .map { id =>
          val (emb, label) = vecFor(id)
          (id, emb, label)
        }
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite")
        .parquet(s"${staging.getAbsolutePath}/embeddings.parquet")
    }
    dir
  }
}
