package graft.operators

import graft.{Q, Cols, Tables}
import Cols._
import Tables.{t, spread}
import graft.config.Tuning
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer: vocabulary TRAINING (q82) and corpus
  * APPLICATION (q83) as first-class, oracle-checked operators — the
  * piece that turns the text tier's whitespace-proxy token counts
  * (q52/q58) into REAL subword tokens, which is how an LLM data
  * pipeline actually sizes corpora and packs sequences. The reference
  * has no tokenizer (its "schema" is regex capture groups,
  * readport.py:587-620); this is part of the engine's LLM-pipeline
  * extension surface.
  *
  * Algorithm (classic BPE, Sennrich et al. 2016, re-expressed
  * Spark-first):
  *  - the corpus collapses to its VOCABULARY `(word, freq)` — one
  *    corpus-wide shuffle, after which every training round works on
  *    vocabulary-sized data (Heaps' law: ~√corpus), never the corpus;
  *  - the vocabulary is collected ONCE and every round runs on the
  *    driver ([[Bpe.localMergeLoop]]): one round = count adjacent
  *    pairs (weighted by word freq) → pick the max (count desc, pair
  *    asc in UTF-8 byte order — total order, deterministic) → apply
  *    the merge left-to-right, non-overlapping. Pair counts are kept
  *    incrementally, so a round costs the words the merge touches, not
  *    a Spark job. Rounds cap at [[graft.config.Tuning.bpeMerges]] and
  *    stop early when no pair repeats (count < 2 — every later round
  *    would pick nothing too);
  *  - application surfaces carry each word's segmentation as a
  *    delimited string `(h)(e)(l)(l)(o)`; a trained merge of pair
  *    (l, r) is ONE engine-portable `replace(seg, '(l)(r)', '(lr)')`
  *    — exactly BPE's merge rule, identical bytes on both engines.
  *
  * The DuckDB oracle replays the SAME rounds as an UNROLLED chain of
  * MATERIALIZED CTEs (one `b{i}` argmax + one `s{i}` re-segmentation
  * per round; materialization keeps the plan linear where inlining
  * would make it exponential in rounds), so q82's merge table and
  * q83's token counts are hash-checked end-to-end against an
  * independent engine.
  *
  * Charset contract: `(` and `)` are the segmentation delimiters, so
  * words containing either are excluded from the vocabulary on BOTH
  * engines (the `WHERE w NOT LIKE ...` twin of the Spark filter) —
  * the same "pick a safe sentinel" trade the reference makes with its
  * `///` missing-value marker (readport.py:358-364). A byte-level
  * escape would lift it; not needed for the corpus surface.
  *
  * Scale shape: training is one Spark job (the corpus → vocabulary
  * collapse and its collect — vocabulary-sized, bounded by the
  * training knobs, see [[Bpe!.trainLocalMerges]]), and the apply side
  * (q83) is one vocabulary join against the exploded corpus — AQE
  * broadcasts the vocab map while it fits, shuffles past that.
  * Nothing corpus-sized ever reaches the driver.
  */
object Bpe {

  /** One trained merge: (rank, left, right, merged, weighted count). */
  type Merge = (Long, String, String, String, Long)

  /** Content fingerprint of a merge table — the artifact key for
    * [[Bpe!.ensureShardsFor]]: two different trained vocabularies get
    * different shard lakes, identical tables reuse one.
    */
  private[operators] def mergesFp(merges: Seq[Merge]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    merges.sortBy(_._1).foreach { case (rk, l, r, m, c) =>
      md.update(s"$rk\u0001$l\u0001$r\u0001$m\u0001$c\u0002".getBytes("UTF-8"))
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Minimal JSON string escaping for the vocab export: quote,
    * backslash, and control characters (which CAN reach a token — the
    * `\s+` word split removes whitespace, not all of C0) escape;
    * everything else ships as raw UTF-8, which JSON permits.
    */
  private[operators] def jsonEscape(s: String): String = {
    val b = new StringBuilder
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }

  /** IMPORT face of the GPT-2 interchange: parse a directory in the
    * layout [[Bpe!.exportTokenizer]] writes — `merges.txt` (`#`-header
    * lines skipped, one `left right` rule per line in rank order;
    * ranks are assigned 1..n, the trainer's convention) and
    * `vocab.json` (token → id) — back into the engine's trained form,
    * so a tokenizer shipped by this library OR by any other
    * GPT-2-style stack drives [[Bpe!.tokenizeWithVocab]] without
    * retraining. Tolerates CRLF line endings and arbitrary JSON
    * whitespace; `pair_count` is not part of the interchange format,
    * so imported merges carry 0 (encoding never reads it). Round-trip
    * fidelity export → import → tokenize is gate-checked against the
    * from-scratch SQL re-derivation (q98) and spec-pinned.
    */
  def importTokenizer(dir: String): (Seq[Merge], Seq[(String, Int)]) = {
    val src = scala.io.Source.fromFile(
      new java.io.File(dir, "merges.txt"), "UTF-8")
    val merges =
      try {
        val rules = Vector.newBuilder[Merge]
        var rank = 0L
        src.getLines().zipWithIndex.foreach { case (raw, ln) =>
          val line = if (raw.endsWith("\r")) raw.dropRight(1) else raw
          // only a FIRST line spelled `#version…` (the published
          // convention) is a header — any other '#'-leading line, first
          // or later, is a real merge rule whose left token begins with
          // '#' (the published GPT-2 merges.txt has them; a headerless
          // file can open with one), and silently dropping it would
          // corrupt every segmentation that rule participates in
          if (line.nonEmpty && !(ln == 0 && line.startsWith("#version"))) {
            val sp = line.indexOf(' ')
            if (sp <= 0 || sp == line.length - 1 ||
                line.indexOf(' ', sp + 1) >= 0)
              throw new IllegalArgumentException(
                s"merges.txt line ${ln + 1}: expected 'left right', got: $line")
            rank += 1
            val l = line.substring(0, sp)
            val r = line.substring(sp + 1)
            rules += ((rank, l, r, l + r, 0L))
          }
        }
        rules.result()
      } finally src.close()
    val vocab = parseVocabJson(new String(
      java.nio.file.Files.readAllBytes(
        new java.io.File(dir, "vocab.json").toPath), "UTF-8"))
    (merges, vocab)
  }

  /** Strict parser for the interchange `vocab.json` shape — ONE flat
    * JSON object of string → integer (what [[jsonEscape]]-based
    * exports and the published GPT-2 files both are). No JSON library
    * ships with the engine and Spark's reader is row-oriented, so this
    * is hand-rolled: standard escapes (including `\\uXXXX` pairs —
    * appending the two decoded units reconstructs supplementary
    * characters), arbitrary whitespace, loud errors on anything else —
    * never a silent partial vocabulary.
    */
  private[operators] def parseVocabJson(s: String): Seq[(String, Int)] = {
    var i = 0
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"vocab.json offset $i: $msg")
    def ws(): Unit =
      while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
    def chr(): Char = {
      if (i >= s.length) fail("unexpected end of input")
      s.charAt(i)
    }
    def expect(c: Char): Unit = {
      ws(); if (chr() != c) fail(s"expected '$c', got '${chr()}'"); i += 1
    }
    def str(): String = {
      expect('"')
      val b = new StringBuilder
      while (chr() != '"') {
        val c = chr()
        if (c == '\\') {
          i += 1
          chr() match {
            case '"' => b.append('"'); i += 1
            case '\\' => b.append('\\'); i += 1
            case '/' => b.append('/'); i += 1
            case 'b' => b.append('\b'); i += 1
            case 'f' => b.append('\f'); i += 1
            case 'n' => b.append('\n'); i += 1
            case 'r' => b.append('\r'); i += 1
            case 't' => b.append('\t'); i += 1
            case 'u' =>
              if (i + 4 >= s.length) fail("truncated \\u escape")
              val hex = s.substring(i + 1, i + 5)
              try b.append(Integer.parseInt(hex, 16).toChar)
              catch {
                case _: NumberFormatException => fail(s"bad \\u escape: $hex")
              }
              i += 5
            case o => fail(s"bad escape \\$o")
          }
        } else { b.append(c); i += 1 }
      }
      i += 1
      b.toString
    }
    def int(): Int = {
      ws()
      val st = i
      if (chr() == '-') i += 1
      while (i < s.length && Character.isDigit(s.charAt(i))) i += 1
      if (i == st || (i == st + 1 && s.charAt(st) == '-'))
        fail("expected an integer")
      s.substring(st, i).toInt
    }
    val out = Vector.newBuilder[(String, Int)]
    val seen = new java.util.HashSet[String]()
    expect('{')
    ws()
    if (chr() == '}') i += 1
    else {
      var more = true
      while (more) {
        val k = str()
        if (!seen.add(k)) fail(s"duplicate token: $k")
        expect(':')
        out += ((k, int()))
        ws()
        chr() match {
          case ',' => i += 1; ws()
          case '}' => i += 1; more = false
          case o => fail(s"expected ',' or '}', got '$o'")
        }
      }
    }
    ws()
    if (i != s.length) fail("trailing content after the vocabulary object")
    out.result()
  }

  /** A word as its initial tokens: one per CODE POINT — the same split
    * as the engines' `regexp_replace(w, '(.)', '($1)')` (Java regex and
    * DuckDB RE2 `.` both match a code point, not a UTF-16 unit).
    * `toCharArray` would shear supplementary characters into lone
    * surrogates and diverge from the engines' segmentation on non-BMP
    * text — every JVM-side splitter must go through here.
    */
  private[operators] def splitCodePoints(word: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      out += word.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** The delimiter-escape injection behind
    * [[graft.config.Tuning.bpeEscape]]: per-character `\` → `\\`,
    * `(` → `\p`, `)` → `\q`. Properties the encoding leans on:
    *  - IMAGE AVOIDS RAW PARENS, so escaped token content sits inside
    *    `(...)` atoms unambiguously and the historical extraction
    *    regex `\(([^()]*)\)` still tokenizes a seg string;
    *  - CONCATENATION-HOMOMORPHIC (per-character map), so a merged
    *    token's escaped form is exactly the concatenation of its
    *    parts' — `replace(seg, '(l̂)(r̂)', '(l̂r̂)')` keeps every atom
    *    a valid escaped token;
    *  - PREFIX-FREE decoding (on `\`, consume one more char), so
    *    [[unesc]] is total and exact on any escaped string.
    * The whole escaped system is therefore isomorphic to classic BPE
    * over the escaped alphabet; only the merge tie-break ORDER lives
    * in the escaped domain (it is what both engines' `ORDER BY l, r`
    * on seg-derived pairs actually compares).
    */
  private[operators] def esc(x: String): String =
    if (x.indexOf('\\') < 0 && x.indexOf('(') < 0 && x.indexOf(')') < 0) x
    else {
      val b = new StringBuilder(x.length + 4)
      x.foreach {
        case '\\' => b.append("\\\\")
        case '(' => b.append("\\p")
        case ')' => b.append("\\q")
        case c => b.append(c)
      }
      b.toString
    }

  /** Exact inverse of [[esc]] on escaped strings (left-to-right,
    * prefix-free — a sequential `replace` chain would mis-decode
    * `\\p`, which is `\` + `p`, as `\` + `(`).
    */
  private[operators] def unesc(x: String): String = {
    if (x.indexOf('\\') < 0) return x
    val b = new StringBuilder(x.length)
    var i = 0
    while (i < x.length) {
      val c = x.charAt(i)
      if (c == '\\' && i + 1 < x.length) {
        x.charAt(i + 1) match {
          case 'p' => b.append('(')
          case 'q' => b.append(')')
          case '\\' => b.append('\\')
          case o => b.append(c).append(o) // not produced by esc
        }
        i += 2
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** The GPT-2 pretokenization pattern over a WHITESPACE-FREE word
    * ([[graft.config.Tuning.bpePretok]]): the published GPT-2 regex
    * minus its space-handling branches (` ?…` prefixes and the
    * `\s+(?!\S)` lookahead — the words here are already whitespace-
    * split, and DuckDB's RE2 has no lookahead), which on whitespace-
    * free input is an exact restriction. Contractions first, then
    * letter runs, digit runs, other-symbol runs — leftmost-first
    * alternation, which Java and DuckDB's RE2 share (the md5Long
    * atomizer precedent). The apostrophe is spelled `\x27` so the
    * pattern embeds in both engines' single-quoted SQL literals.
    * Every character matches some branch, so pretokens partition the
    * word — token counts only ever split, never drop.
    * [[pretokSpark]] doubles the backslashes (Spark SQL literals
    * process escapes), [[pretokDuck]] keeps them single (standard-SQL
    * literals don't).
    */
  private[operators] val pretokSpark: String =
    raw"\\x27s|\\x27t|\\x27re|\\x27ve|\\x27m|\\x27ll|\\x27d|\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+"
  private[operators] val pretokDuck: String =
    raw"\x27s|\x27t|\x27re|\x27ve|\x27m|\x27ll|\x27d|\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+"

  /** Shard-artifact observability counter (the
    * [[Similarity.indexBuilds]] pattern): incremented only when THIS
    * process performs the build — the spec hook proving replay is a
    * no-op.
    */
  private[operators] val shardBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** DML-install twin of [[shardBuilds]]: incremented only when
    * [[Bpe!.addShardDocs]] actually installs a delta segment — the
    * spec hook proving a content-keyed replay is a no-op.
    */
  private[operators] val shardAdds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Compaction twin — incremented only when [[Bpe!.compactShards]]
    * actually installs a new generation.
    */
  private[operators] val shardCompactions = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Spark/DuckDB-compatible string order: unsigned lexicographic over
    * UTF-8 bytes (both engines compare binary) — Java's `compareTo`
    * orders by UTF-16 code unit and diverges above the BMP.
    */
  private def utf8Lt(a: String, b: String): Boolean = {
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

  /** One merge applied to a token array — left-to-right,
    * non-overlapping, exactly the engine-portable
    * `replace(seg, '(l)(r)', '(m)')` over the delimited encoding.
    */
  private[operators] def applyMerge(toks: Array[String], l: String,
      r: String, m: String): Array[String] = {
    val out = Array.newBuilder[String]
    var j = 0
    while (j < toks.length) {
      if (j + 1 < toks.length && toks(j) == l && toks(j + 1) == r) {
        out += m; j += 2
      } else { out += toks(j); j += 1 }
    }
    out.result()
  }

  /** A trained merge table compiled for per-word ENCODING at real
    * vocabulary depth — the deep-serving twin of the `segChain`
    * replace chain. Semantics are EXACTLY the fold of [[applyMerge]]
    * over every rule in rank order (what segChain compiles and the
    * stored shards were built with — TokenizeWithSpec pins the
    * equality), but cost is O(rules that actually fire on the word),
    * not O(#rules): rules are visited through a min-heap of ranks,
    * seeded with the word's initial adjacent pairs and fed with the
    * pairs each applied merge creates. Heap pops are monotonically
    * non-decreasing in rank, which is what makes this equal to the
    * sequential replay — a pair re-created AFTER its rule's turn has
    * passed is never re-fired (ranks ≤ the firing rule are not
    * pushed), and a pair destroyed before its turn no-ops through the
    * presence check, exactly as a replace() on an absent pattern
    * would. A 32k-rule production tokenizer therefore encodes a word
    * at the cost of the handful of rules that touch it, where the
    * nested-replace chain is a 32k-deep Catalyst expression.
    */
  final class MergeTable(merges: Seq[Merge]) extends Serializable {
    private val ruleOf: Map[Int, (String, String, String)] =
      merges.iterator.map(m => m._1.toInt -> ((m._2, m._3, m._4))).toMap
    private val ranksOf: Map[(String, String), Array[Int]] =
      // a pair CAN be learned at two ranks (destroyed then re-created
      // between them by a rule whose merged token equals l or r); the
      // sequential replay fires each occurrence at its own turn, so
      // every rank is kept, ascending — push takes the first one
      // beyond the firing rule
      merges.groupBy(m => (m._2, m._3))
        .map { case (p, ms) => p -> ms.map(_._1.toInt).sorted.toArray }

    /** The word as its initial tokens — see [[Bpe.splitCodePoints]]. */
    def split(word: String): Array[String] = splitCodePoints(word)

    def encode(word: String): Array[String] = encodeTokens(split(word))

    def encodeTokens(chars: Array[String]): Array[String] = {
      var w = chars
      if (w.length < 2) return w
      val pq = new java.util.PriorityQueue[Integer]()
      val seen = new java.util.HashSet[Integer]()
      def push(l: String, r: String, after: Int): Unit =
        ranksOf.get((l, r)) match {
          case Some(rks) =>
            // first trained rank strictly beyond the firing rule
            var i = 0
            while (i < rks.length && rks(i) <= after) i += 1
            if (i < rks.length) {
              val boxed = Integer.valueOf(rks(i))
              if (seen.add(boxed)) pq.add(boxed)
            }
          case _ => ()
        }
      var j = 0
      while (j + 1 < w.length) { push(w(j), w(j + 1), 0); j += 1 }
      while (!pq.isEmpty) {
        val rk = pq.poll().intValue()
        val (l, r, m) = ruleOf(rk)
        var has = false
        j = 0
        while (!has && j + 1 < w.length) {
          if (w(j) == l && w(j + 1) == r) has = true
          j += 1
        }
        if (has) {
          w = applyMerge(w, l, r, m)
          j = 0
          while (j < w.length) {
            if (w(j) == m) {
              if (j > 0) push(w(j - 1), w(j), rk)
              if (j + 1 < w.length) push(w(j), w(j + 1), rk)
            }
            j += 1
          }
        }
      }
      w
    }
  }

  /** The merge loop over a collected `(word, freq)` vocabulary — every
    * trainer's rounds. Bit-identical to the per-round replace/argmax
    * the DuckDB oracle replays (BpeLocalSpec pins it against a
    * distributed reference), at job-free per-round cost, so training
    * reaches a REAL vocabulary size (thousands of merges).
    * The vocabulary is bounded (Heaps' law: ~√corpus, and the
    * [[graft.config.Tuning.bpeSampleMod]] sample bounds it further),
    * so driver memory holds it the way it holds a collected codebook.
    *
    * Pair counts are maintained INCREMENTALLY: a merge re-counts only
    * the words that actually contain the merged pair (tracked by an
    * occurrence index; entries go stale when a word evolves away from
    * a pair and are skip-checked at use). Each round's argmax is a
    * full scan of the live pair-count map with the engines' total
    * order (count desc, then (l, r) ascending in UTF-8 byte order) —
    * O(distinct pairs) per round, no heap needed at tested scales.
    * Early-stops when no pair repeats (count < 2).
    */
  def localMergeLoop(vocab: Seq[(String, Long)], rounds: Int,
      escape: Boolean = false): Seq[Merge] = {
    // under the delimiter escape the engines' argmax tie-break orders
    // the ESCAPED byte form (the seg-domain strings their ORDER BY
    // actually sees) — identity when the mode is off or the token is
    // escape-free, so the historical order is untouched
    def ordLt(a: String, b: String): Boolean =
      if (escape) utf8Lt(esc(a), esc(b)) else utf8Lt(a, b)
    val words = vocab.iterator.map { case (w, _) =>
      splitCodePoints(w) // NOT toCharArray: lone surrogates would
                         // diverge from the engines' code-point
                         // regex on non-BMP text
    }.toArray
    val freqs = vocab.iterator.map(_._2).toArray
    val counts = new java.util.HashMap[(String, String), Long]()
    val occur = new java.util.HashMap[(String, String),
      scala.collection.mutable.ArrayBuffer[Int]]()
    def bump(p: (String, String), by: Long): Unit = {
      val nv = counts.getOrDefault(p, 0L) + by
      if (nv == 0L) counts.remove(p) else counts.put(p, nv)
    }
    def note(p: (String, String), i: Int): Unit = {
      var b = occur.get(p)
      if (b == null) { b = scala.collection.mutable.ArrayBuffer[Int](); occur.put(p, b) }
      if (b.isEmpty || b.last != i) b += i
    }
    var i = 0
    while (i < words.length) {
      val w = words(i); val f = freqs(i)
      var j = 0
      while (j + 1 < w.length) {
        val p = (w(j), w(j + 1)); bump(p, f); note(p, i); j += 1
      }
      i += 1
    }
    val out = Vector.newBuilder[Merge]
    var r = 0
    var done = false
    while (r < rounds && !done) {
      // argmax with the engines' total order
      var bl: String = null; var br: String = null; var bc = 1L
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue
        if (c >= 2 && (c > bc || (c == bc && (bl == null ||
            ordLt(e.getKey._1, bl) ||
            (e.getKey._1 == bl && ordLt(e.getKey._2, br)))))) {
          bl = e.getKey._1; br = e.getKey._2; bc = c
        }
      }
      if (bl == null) done = true
      else {
        val m = bl + br
        out += ((r + 1L, bl, br, m, bc))
        val p = (bl, br)
        val touched = occur.remove(p)
        if (touched != null) touched.foreach { wi =>
          val w = words(wi)
          // stale-entry skip: the word may have merged away from p
          var has = false
          var j = 0
          while (!has && j + 1 < w.length) {
            if (w(j) == bl && w(j + 1) == br) has = true
            j += 1
          }
          if (has) {
            val f = freqs(wi)
            j = 0
            while (j + 1 < w.length) { bump((w(j), w(j + 1)), -f); j += 1 }
            val nw = applyMerge(w, bl, br, m)
            words(wi) = nw
            j = 0
            while (j + 1 < nw.length) {
              val q = (nw(j), nw(j + 1)); bump(q, f); note(q, wi); j += 1
            }
          }
        }
      }
      r += 1
    }
    out.result()
  }
}

final class Bpe(val tuning: Tuning) extends Serializable {
  import Bpe.Merge

  private val nfcOn = tuning.normalizeNfc == 1
  private val pretokOn = tuning.bpePretok == 1

  /** The BPE word list ([[graft.config.Tuning.bpePretok]]): whitespace
    * tokens, optionally split further by the GPT-2
    * contraction/punctuation pattern ([[Bpe.pretokSpark]]) — flatten
    * preserves text order, so positional surfaces (doc sequences,
    * packing) see the pretokens exactly where their words were. EVERY
    * tokenizing surface in this class reads these two, so the knob
    * cannot half-apply.
    */
  private val toksExpr =
    if (!pretokOn) Dedup.toksExprOf(nfcOn)
    else s"flatten(transform(${Dedup.toksExprOf(nfcOn)}, " +
      s"w -> regexp_extract_all(w, '${Bpe.pretokSpark}', 0)))"
  private val toksSqlDuck =
    if (!pretokOn) Dedup.toksSqlDuckOf(nfcOn)
    else s"flatten(list_transform(${Dedup.toksSqlDuckOf(nfcOn)}, " +
      s"w -> regexp_extract_all(w, '${Bpe.pretokDuck}', 0)))"

  private val nRounds = tuning.bpeMerges
  private val sampleMod = tuning.bpeSampleMod
  private val minFreq = tuning.bpeMinFreq
  private val vocabCap = tuning.bpeVocabCap

  // ------------------------------------------------------------------
  // The delimiter escape (Tuning.bpeEscape — see Bpe.esc for the
  // encoding's properties). When ON, paren-bearing words join the
  // vocabulary: seg strings hold ESCAPED token content (apply-side
  // replace patterns, and the oracle's rounds end to end), the trainer
  // breaks argmax ties in the escaped byte order
  // (Bpe.localMergeLoop), and the oracle unescapes only at the OUTPUT
  // boundaries (the merge table's l/r/merged, the token-id
  // vocabulary) — token COUNTS never need to. Every helper below is
  // the identity when off, so the historical bytes are untouched.
  // ------------------------------------------------------------------
  private val escapeOn = tuning.bpeEscape == 1

  /** The store-key suffix of the tokenization knobs: each splits the
    * stored bytes, and only an enabled one adds a part, so default keys
    * are unchanged.
    */
  private val knobKey = (if (nfcOn) ":nfc" else "") +
    (if (escapeOn) ":esc" else "") + (if (pretokOn) ":ptk" else "")

  private def escStr(x: String): String = if (escapeOn) Bpe.esc(x) else x

  /** A word's initial seg string, Spark side: escape (when on), then
    * wrap each atom — an escape pair or a single code point, leftmost
    * alternative first in both engines' regex dialects.
    */
  private def segInit(w: Column): Column =
    if (!escapeOn) regexp_replace(w, "(.)", "($1)")
    else regexp_replace(
      call_function("replace",
        call_function("replace",
          call_function("replace", w, lit("\\"), lit("\\\\")),
          lit("("), lit("\\p")),
        lit(")"), lit("\\q")),
      "(\\\\.|.)", "($1)")

  /** [[segInit]]'s DuckDB twin over a column expression `x`. */
  private def segInitSql(x: String): String =
    if (!escapeOn) raw"""regexp_replace($x, '(.)', '(\1)', 'g')"""
    else raw"""regexp_replace(replace(replace(replace($x, '\', '\\'), '(', '\p'), ')', '\q'), '(\\.|.)', '(\1)', 'g')"""

  /** Unescape a DuckDB string expression `x` back to real text —
    * tokenized left-to-right into prefix-free atoms (a `replace`
    * chain would mis-decode `\\p`), each atom mapped back.
    */
  private def unescSqlOf(x: String): String =
    if (!escapeOn) x
    else raw"""array_to_string(list_transform(regexp_extract_all($x, '\\.|.'), a -> CASE a WHEN '\p' THEN '(' WHEN '\q' THEN ')' WHEN '\\' THEN '\' ELSE a END), '')"""

  /** The historical seg-string token extraction (escaped domain). */
  private val segToksSqlRaw = raw"""regexp_extract_all(seg, '\(([^()]*)\)', 1)"""

  /** [[segToksSqlRaw]] decoded to REAL tokens — the form for token
    * VALUES (id ranks, vocab dumps); counts read the raw form.
    */
  private def segToksSqlReal: String =
    if (!escapeOn) segToksSqlRaw
    else s"list_transform($segToksSqlRaw, t -> ${unescSqlOf("t")})"

  /** The vocabulary charset filter: the drop-paren contract when the
    * escape is off, no-op when on (every word is representable).
    */
  private def vocabFilterSql: String =
    if (escapeOn) "" else " WHERE w NOT LIKE '%(%' AND w NOT LIKE '%)%'"

  /** The same contract as an AND-composable predicate (q91's serve
    * probes, which already filter empties).
    */
  private def probeCharsetFilterSql: String =
    if (escapeOn) "" else " AND w NOT LIKE '%(%' AND w NOT LIKE '%)%'"

  /** True when the TRAINING vocabulary differs from the full one —
    * doc-sampled, frequency-floored, or top-K-capped. The oracle then
    * replays the trained merges over a separate full-vocabulary apply
    * chain (the `f` CTEs) for q83/q84's application surfaces.
    */
  private def trainViewBounded: Boolean =
    sampleMod > 1 || minFreq > 1 || vocabCap > 0

  /** `(w, freq, seg)` — the vocabulary with each word's initial
    * character segmentation. The corpus collapses here; everything
    * after is vocabulary-sized. `sampled = true` is the TRAINING view:
    * it sees only documents with `doc_id % bpeSampleMod = 0` (the
    * whole corpus at the default 1); application surfaces (q83/q84)
    * always read the full view — trained merges meet every word.
    */
  private def vocab(s: SparkSession, d: String, sampled: Boolean): DataFrame =
    vocabOf(s, spread(t(s, d, "documents")), sampled)

  /** The vocabulary collapse over an arbitrary `(doc_id, text)` view —
    * q82-q84/q87 pass the corpus, q89 the curated (boilerplate-
    * stripped) corpus. The TRAINING view (`sampled = true`) is bounded
    * three ways, all mirrored in the oracle and all train-only (the
    * application surfaces always segment the FULL vocabulary):
    * document sampling ([[graft.config.Tuning.bpeSampleMod]]), the
    * frequency floor ([[graft.config.Tuning.bpeMinFreq]] — drops the
    * hapax tail, which on a real web corpus is MOST of the word
    * types), and the top-K cap ([[graft.config.Tuning.bpeVocabCap]] —
    * freq desc, word asc in the engines' shared binary collation; the
    * hard row bound on what [[trainLocalMerges]] collects).
    */
  private def vocabOf(s: SparkSession, docs: DataFrame,
      sampled: Boolean): DataFrame = {
    import s.implicits._
    val in = if (sampled && sampleMod > 1)
      docs.filter($"doc_id" % sampleMod === 0) else docs
    val exploded = in.select(explode(expr(toksExpr)).as("w"))
    // the charset contract: drop paren words unless the delimiter
    // escape (Tuning.bpeEscape) makes every word representable
    val admitted = if (escapeOn) exploded
      else exploded.filter(!$"w".contains("(") && !$"w".contains(")"))
    val counted = admitted.groupBy($"w").agg(count(lit(1)).as("freq"))
    val floored = if (sampled && minFreq > 1)
      counted.filter($"freq" >= minFreq) else counted
    val capped = if (sampled && vocabCap > 0)
      floored.orderBy($"freq".desc, $"w").limit(vocabCap) else floored
    capped.withColumn("seg", segInit($"w"))
  }

  /** The bounded TRAINING vocabulary — the spec hook for the
    * driver-memory contract (BpeSpec asserts row count ≤ the cap and
    * min freq ≥ the floor on exactly what [[trainLocalMerges]]
    * collects).
    */
  private[graft] def trainingVocab(s: SparkSession, d: String): DataFrame =
    vocab(s, d, sampled = true)

  private def segToks(seg: Column): Column =
    regexp_extract_all(seg, lit("""\(([^()]*)\)"""), lit(1))

  /** The trained merge table over this registry's corpus — see the
    * module doc for the round shape.
    */
  private def train(s: SparkSession, d: String): Seq[Merge] =
    trainLocalMerges(s, d, nRounds)

  /** The curated twin of [[train]]: the merge rounds over the
    * boilerplate-STRIPPED corpus (`cur` = [[Search.stripRuns]] output,
    * passed in so one q89 invocation materializes the strip once).
    */
  private def trainCurated(s: SparkSession, d: String,
      cur: DataFrame): Seq[Merge] =
    trainOver(vocabOf(s, cur, sampled = true), nRounds)

  /** The shared trunk of every trainer: collect the `(w, freq)`
    * training vocabulary (one Spark job) and run `rounds` merges of
    * [[Bpe.localMergeLoop]] on it. Deliberately not memoized: every
    * call pays, and a timed query reports, its full training cost.
    */
  private def trainOver(vocab0: DataFrame, rounds: Int): Seq[Merge] = {
    val vb = vocab0.select("w", "freq").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    Bpe.localMergeLoop(vb, rounds, escapeOn)
  }

  /** The vocabulary with its FINAL segmentation — the trained merges
    * replayed as one chained projection (≤ bpeMerges nested compiled
    * replaces), not a re-run of the loop.
    */
  private def finalSeg(s: SparkSession, d: String): DataFrame =
    vocab(s, d, sampled = false).withColumn("seg", segChain(train(s, d)))

  /** The trained merges as one chained projection over `seg` —
    * ≤ bpeMerges nested compiled replaces.
    */
  private def segChain(merges: Seq[Merge]): Column =
    // merge tuples hold REAL tokens; patterns live in the seg domain
    // (escStr is the identity when the escape is off, and homomorphic
    // when on — escStr(m) == escStr(l) + escStr(r))
    merges.foldLeft(col("seg")) { case (c, (_, l, r, m, _)) =>
      call_function("replace", c,
        lit(s"(${escStr(l)})(${escStr(r)})"), lit(s"(${escStr(m)})"))
    }

  /** The trainer over this registry's sampled vocabulary — ONE Spark
    * job (the vocabulary collapse + collect), then
    * [[Bpe.localMergeLoop]] for the rounds. [[train]] is this at
    * `rounds = bpeMerges`, so q82's oracle-gated table is a prefix of
    * any deeper run on the same corpus; `rounds` is a parameter
    * because the caller asking for 32k merges is a training-prep run,
    * not an oracle-gated query.
    *
    * DRIVER-MEMORY CONTRACT: the collect here is the tier's one
    * vocabulary-sized driver touchpoint, and it is bounded by the
    * registry's knobs, not by an assumption about the corpus —
    *  - [[graft.config.Tuning.bpeVocabCap]] > 0 is the HARD bound: the
    *    collect is ≤ bpeVocabCap rows regardless of corpus content
    *    (the top-K by frequency, the vocabulary a trainer actually
    *    learns from);
    *  - [[graft.config.Tuning.bpeMinFreq]] > 1 is the SOFT bound that
    *    does most of the cutting on real text: web-corpus word types
    *    are predominantly hapax tail (typos, URLs, numerics) that can
    *    never win a merge argmax against repeated pairs, so a floor of
    *    even 2 removes the bulk of the vocabulary without touching the
    *    trained prefix in practice;
    *  - [[graft.config.Tuning.bpeSampleMod]] bounds the corpus the
    *    vocabulary is drawn from (documents, hence only indirectly and
    *    slowly the vocabulary — use it for COST, not for memory).
    * At the shipped defaults (floor 1, cap 0, mod 1) the collect is
    * corpus-vocabulary-sized — Heaps'-law-bounded (~√corpus) on
    * natural text, which holds for the probe corpora but is optimistic
    * for raw web text; production runs at real scale should set
    * bpeVocabCap (32k–1M) and/or bpeMinFreq ≥ 2. The merge loop's
    * working set is O(collected vocabulary + distinct adjacent pairs),
    * both bounded by the same knobs.
    */
  def trainLocalMerges(s: SparkSession, d: String, rounds: Int): Seq[Merge] =
    trainOver(vocab(s, d, sampled = true), rounds)

  // ------------------------------------------------------------------
  // Oracle SQL: the unrolled MATERIALIZED-CTE replay of the rounds.
  // ------------------------------------------------------------------

  private def trainCtes(rel: String): String = {
    // the training vocabulary: sampled when bpeSampleMod > 1 (the
    // default 1 keeps the original unfiltered scan). `rel` is the
    // corpus relation — `documents` for q82-q87, the curated `sdocs`
    // CTE for q89.
    val docScan =
      if (sampleMod > 1)
        s"SELECT unnest($toksSqlDuck) AS w FROM $rel WHERE doc_id % $sampleMod = 0"
      else s"SELECT unnest($toksSqlDuck) AS w FROM $rel"
    // the training-vocabulary bounds, mirrored: frequency floor as a
    // HAVING, top-K cap as ORDER BY freq DESC, w LIMIT k (binary
    // string collation on both engines, so ties break identically)
    val floorSql = if (minFreq > 1) s" HAVING count(*) >= $minFreq" else ""
    val wBody =
      s"""SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
            $docScan)
         $vocabFilterSql GROUP BY w$floorSql"""
    val head = Seq(
      if (vocabCap > 0)
        s"""w AS MATERIALIZED (SELECT w, freq FROM ($wBody)
            ORDER BY freq DESC, w LIMIT $vocabCap)"""
      else s"""w AS MATERIALIZED ($wBody)""",
      s"""s0 AS MATERIALIZED (SELECT w, freq,
           ${segInitSql("w")} AS seg FROM w)""")
    val rounds = (1 to nRounds).flatMap { i =>
      val p = i - 1
      Seq(
        s"""b$i AS MATERIALIZED (SELECT l, r, l || r AS m,
              CAST(sum(freq) AS BIGINT) AS cnt FROM (
                SELECT freq,
                       unnest(list_transform(range(1, len(tk)), j -> tk[j])) AS l,
                       unnest(list_transform(range(1, len(tk)), j -> tk[j+1])) AS r
                FROM (SELECT freq,
                        regexp_extract_all(seg, '\\(([^()]*)\\)', 1) AS tk
                      FROM s$p))
              GROUP BY l, r HAVING sum(freq) >= 2
              ORDER BY cnt DESC, l, r LIMIT 1)""",
        s"""s$i AS MATERIALIZED (SELECT w, freq,
              CASE WHEN b.l IS NULL THEN seg
                   ELSE replace(seg, '(' || b.l || ')(' || b.r || ')',
                                '(' || b.m || ')') END AS seg
              FROM s$p LEFT JOIN b$i b ON TRUE)""")
    }
    (head ++ rounds ++ applyCtes(rel)).mkString(",\n      ")
  }

  /** Application-side segmentation chain: when the TRAINING vocabulary
    * is bounded (doc-sampled, frequency-floored, or top-K-capped) the
    * apply surfaces (q83/q84) still segment the FULL vocabulary, so
    * the oracle replays the trained merges (the b$i argmax rows) over
    * an unbounded `f` chain. At the defaults the training chain's
    * s$nRounds IS the full-vocabulary segmentation and no extra CTEs
    * are emitted.
    */
  private def applyCtes(rel: String): Seq[String] =
    if (!trainViewBounded) Seq.empty
    else {
      val head = Seq(
        s"""wf AS MATERIALIZED (SELECT w FROM (
              SELECT unnest($toksSqlDuck) AS w FROM $rel)
            $vocabFilterSql GROUP BY w)""",
        s"""f0 AS MATERIALIZED (SELECT w,
             ${segInitSql("w")} AS seg FROM wf)""")
      head ++ (1 to nRounds).map { i =>
        val p = i - 1
        s"""f$i AS MATERIALIZED (SELECT w,
              CASE WHEN b.l IS NULL THEN seg
                   ELSE replace(seg, '(' || b.l || ')(' || b.r || ')',
                                '(' || b.m || ')') END AS seg
              FROM f$p LEFT JOIN b$i b ON TRUE)"""
      }
    }

  /** The CTE holding the full-vocabulary FINAL segmentation the apply
    * surfaces read.
    */
  private def applySegCte: String =
    if (!trainViewBounded) s"s$nRounds" else s"f$nRounds"

  /** q82: the trained merge table — rank-ordered (left, right, merged,
    * weighted pair count). The gate hash-checks every round's argmax
    * against the oracle's independent replay: one disagreement in any
    * round cascades into different merges for every later round, so a
    * green q82 pins the whole training trajectory.
    */
  private val q82 = Q(
    "q82_bpe_train",
    (s, d) => mergeTable(s, train(s, d)),
    Some(trainDumpSql("", "documents")))

  /** A trained merge table as q82/q93/q96 serve it. The trainer emits
    * rows in rank order and a local relation keeps that order, so no
    * sort is planned (one would cost a range-partition shuffle).
    */
  private def mergeTable(s: SparkSession, merges: Seq[Merge]): DataFrame = {
    import s.implicits._
    merges.toDF("rank", "l", "r", "merged", "pair_count")
  }

  /** The merge-table dump oracle over a corpus relation `rel` — the
    * b$i argmax rows in rank order, decoded to real text under the
    * delimiter escape (they live in the seg domain). q82 replays it
    * `FROM documents`, q93 from the paren fixture.
    */
  private def trainDumpSql(prefixCtes: String, rel: String): String = {
    val union = (1 to nRounds).map { i =>
      s"SELECT CAST($i AS BIGINT) AS rank, ${unescSqlOf("l")} AS l," +
        s" ${unescSqlOf("r")} AS r, ${unescSqlOf("m")} AS merged," +
        s" cnt AS pair_count FROM b$i"
    }.mkString("\n        UNION ALL ")
    s"""
      WITH $prefixCtes${trainCtes(rel)}
      SELECT * FROM (
        $union) ORDER BY rank"""
  }

  /** q83: apply the trained vocabulary — per-document REAL token
    * counts (words, BPE tokens, tokens-per-word). Train and apply run
    * over the same corpus, so the final segmentation table IS the
    * tokenization map; application is one vocab join against the
    * exploded corpus. Documents tokenize-to-nothing (empty text) are
    * absent on both engines.
    */
  private val q83 = Q(
    "q83_bpe_tokenize",
    (s, d) => tokenizeCounts(s, t(s, d, "documents"), train(s, d)),
    Some(tokenizeDumpSql("", "documents")))

  /** q83's body over an arbitrary `(doc_id, text)` view and trained
    * merges — per-document REAL token counts via the full-vocabulary
    * segmentation join. q83 passes the corpus and its trained table,
    * q94 the paren fixture and the escape-mode table.
    */
  private def tokenizeCounts(s: SparkSession, docs: DataFrame,
      merges: Seq[Merge]): DataFrame = {
    import s.implicits._
    val wt = vocabOf(s, spread(docs), sampled = false)
      .withColumn("seg", segChain(merges))
      .select($"w", size(segToks($"seg")).cast("long").as("nt"))
    docs
      .select($"doc_id", explode(expr(toksExpr)).as("w"))
      .join(wt, "w")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"), sum($"nt").as("n_tokens"))
      .select($"doc_id", $"n_words", $"n_tokens",
        r4($"n_tokens" / $"n_words").as("tokens_per_word"))
      .orderBy($"doc_id")
  }

  /** [[tokenizeCounts]]' oracle over `rel` (token counts never need
    * the unescape — a seg atom is one token either way).
    */
  private def tokenizeDumpSql(prefixCtes: String, rel: String): String = s"""
      WITH $prefixCtes${trainCtes(rel)},
      wt AS (SELECT w, CAST(len($segToksSqlRaw) AS BIGINT) AS nt
             FROM $applySegCte),
      dw AS (SELECT doc_id, unnest($toksSqlDuck) AS w FROM $rel)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(nt) AS BIGINT) AS n_tokens,
             round(CAST(sum(nt) AS DOUBLE) / count(*), 4) AS tokens_per_word
      FROM dw JOIN wt USING (w)
      GROUP BY doc_id ORDER BY doc_id"""

  /** q84: sequence packing into 512-token context windows by REAL BPE
    * token counts — q58's range-partitioned two-pass prefix sum (no
    * single-reducer window), re-based from the whitespace proxy onto
    * the trained tokenizer: a document's length is what the model
    * actually consumes, so this is the packing a training run ships.
    * Per-doc counts come from the q83 vocabulary join (left, so docs
    * with no in-vocabulary words pack as zero-length — they consume
    * no context budget, exactly as q58 treats empty text).
    */
  /** The context-window size q84/q87 pack into. */
  private val ctx = 512L

  /** `(doc_id, n, bin)` for EVERY document — per-doc BPE token counts
    * (q83's vocabulary join, left so out-of-vocabulary-only docs count
    * 0) run through the q58 range-partitioned two-pass prefix sum; a
    * doc's bin is its running-start offset / [[ctx]]. The body of q84,
    * factored so the shard materializer ([[ensureShards]]) packs the
    * identical bins.
    */
  private def binnedDocs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    binnedDocsOf(s, t(s, d, "documents"),
      finalSeg(s, d).select($"w", size(segToks($"seg")).cast("long").as("nt")))
  }

  /** [[binnedDocs]] over an arbitrary `(doc_id, text)` view and
    * token-count map `wt(w, nt)` — q84/q87 pass the corpus and the
    * corpus-trained segmentation, q89 the curated pair.
    */
  private def binnedDocsOf(s: SparkSession, docs: DataFrame,
      wt: DataFrame): DataFrame = {
      import s.implicits._
      val perDoc = docs
        .select($"doc_id", explode_outer(expr(toksExpr)).as("w"))
        .join(wt, Seq("w"), "left")
        .groupBy($"doc_id")
        .agg(coalesce(sum($"nt"), lit(0L)).as("n"))
      val ranged = TwoPass.rangedPinned(perDoc.as[(Long, Long)], $"doc_id")
      // pass 1: per-partition token totals — P scalars to the driver
      val sums = TwoPass.withPid(ranged) { (pid, it) =>
        var tot = 0L
        it.foreach { case (_, n) => tot += n }
        Iterator.single((pid, tot))
      }.collect()
      val offsets: Map[Int, Long] = {
        var running = 0L
        sums.sortBy(_._1).map { case (pid, tot) =>
          val off = running; running += tot; pid -> off
        }.toMap
      }
      val bOff = s.sparkContext.broadcast(offsets)
      // pass 2: a doc's start offset = partition offset + tokens
      // before it locally; its bin is start / ctx
      TwoPass.withPid(ranged) { (pid, it) =>
        var run = bOff.value.getOrElse(pid, 0L)
        it.map { case (id, n) =>
          val start = run
          run += n
          (id, n, start / ctx)
        }
      }.toDF("doc_id", "n", "bin")
  }

  private val q84 = Q(
    "q84_bpe_packing",
    (s, d) => {
      import s.implicits._
      binnedDocs(s, d).groupBy($"bin")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n").cast("long").as("n_tokens"),
          min($"doc_id").as("first_doc"),
          max($"doc_id").as("last_doc"))
        .orderBy($"bin")
    },
    Some(s"""
      WITH ${trainCtes("documents")},
      ${binCtes("documents")}
      SELECT bin, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM b
      GROUP BY bin
      ORDER BY bin"""))

  /** The oracle's replay of [[binnedDocs]] — per-doc token counts and
    * the `ORDER BY doc_id` prefix-sum bin assignment, ending in
    * `b(doc_id, n, bin)`. Shared by q84 (bin manifest) and q87 (shard
    * dump).
    */
  private def binCtes(rel: String): String = s"""wt AS (SELECT w, CAST(len($segToksSqlRaw) AS BIGINT) AS nt
             FROM $applySegCte),
      dw AS (SELECT doc_id, unnest($toksSqlDuck) AS w FROM $rel),
      dn AS (SELECT dw.doc_id, CAST(coalesce(sum(wt.nt), 0) AS BIGINT) AS n
             FROM dw LEFT JOIN wt USING (w) GROUP BY dw.doc_id),
      c AS (SELECT d.doc_id, CAST(coalesce(dn.n, 0) AS BIGINT) AS n
            FROM $rel d LEFT JOIN dn USING (doc_id)),
      pw AS (SELECT doc_id, n,
              coalesce(sum(n) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
            FROM c),
      b AS (SELECT doc_id, n, CAST(strt // $ctx AS BIGINT) AS bin FROM pw)"""

  // ------------------------------------------------------------------
  // TRAINING-SHARD MATERIALIZATION (q87): q84 plans which bin each
  // document lands in; this ships the bytes a training run actually
  // reads — per-document BPE TOKEN-ID sequences, binned and bundled
  // into shard files — through the shared ArtifactLake recipe (staged
  // rename, _SUCCESS, content keys, replay = no-op). The artifact:
  //   vocab/     (tid INT, tok)           — the id↔token table: distinct
  //              final-segmentation tokens, ids = rank in UTF-8 byte
  //              order (the engines' shared collation); bounded by
  //              alphabet + bpeMerges
  //   manifest/  q84's bin table          — (bin, n_docs, n_tokens,
  //              first_doc, last_doc)
  //   data/shard=N/  (doc_id, bin, n_tokens, token_ids ARRAY<INT>)
  //              — 64 bins per shard dir, rows sorted (bin, doc_id)
  // At 100 TB this is THE corpus-sized materialization of the tier (a
  // tokenized training corpus), written with the scan's parallelism:
  // the per-word id arrays ride a vocabulary join (AQE-broadcast while
  // the vocab fits), the per-doc flatten groups one row per (doc,
  // word), and nothing corpus-sized touches the driver. The one
  // global window (token-id ranks) sorts the VOCABULARY, not the
  // corpus.
  // ------------------------------------------------------------------

  /** Bump when the shard derivation changes. v2: the artifact carries
    * `merges/` so a fresh session can SERVE the tokenizer without
    * retraining. v3: the builder encodes through [[Bpe.MergeTable]]
    * (bit-identical bytes — the bump only forces fresh installs
    * through the new path).
    */
  private val shardsVersion = 3

  /** Bins bundled per shard dir. */
  private val binsPerShard = 64L

  @transient private lazy val shardsRoot: String = ArtifactLake.indexRoot

  private[operators] def shardsPath(d: String): String =
    shardsPathOf(d, s"$nRounds:$sampleMod:$minFreq:$vocabCap:$ctx$knobKey")

  /** The curated artifact keys on the STRIP-shaping knobs too —
    * runMinTokens and dfCap change which spans are cut, hence the
    * curated text, vocabulary, and every downstream byte.
    */
  private[operators] def curatedShardsPath(d: String): String =
    shardsPathOf(d,
      s"$nRounds:$sampleMod:$minFreq:$vocabCap:$ctx:cur:" +
        s"${tuning.runMinTokens}:${tuning.dfCap}$knobKey")

  private def shardsPathOf(d: String, knobs: String): String =
    ArtifactLake.keyedPath(shardsRoot, "shards",
      ArtifactLake.sourceKey(d, s"$knobs:$shardsVersion"), shardsVersion,
      ArtifactLake.docsFingerprint(d))

  /** Install-or-reuse the packed training shards over the RAW corpus.
    * Deterministic build (trained merges + UTF-8 id ranks + doc_id
    * orders), so losing an install race is success;
    * [[Bpe.shardBuilds]] is the spec hook.
    */
  def ensureShards(s: SparkSession, d: String): String = synchronized {
    installShards(s, shardsPath(d),
      () => (t(s, d, "documents"), train(s, d)))
  }

  /** The curated twin: shards over the boilerplate-STRIPPED corpus
    * with the CURATED-trained merges — the artifact a training run
    * should actually read. The strip (the expensive island join) runs
    * only inside a build; replays resolve the installed artifact.
    */
  def ensureCuratedShards(s: SparkSession, d: String): String =
    synchronized {
      installShards(s, curatedShardsPath(d), { () =>
        val cur = searchOps.stripRuns(s, d).localCheckpoint(true)
        (cur, trainCurated(s, d, cur))
      })
    }

  /** Install-or-reuse a shard lake built with a SUPPLIED merge table —
    * the DEEP-vocabulary artifact path: [[trainLocalMerges]] reaches
    * 32k merges, [[Bpe.MergeTable]] encodes flat in depth, and this
    * ships the result as the same vocab/manifest/data lake
    * [[ensureShards]] builds (identical layout, identical bytes when
    * given the artifact's own merges — DeepShardsSpec pins it). Keyed
    * on a content fingerprint of the merge table, so two different
    * trained vocabularies coexist and replays are no-ops.
    */
  def ensureShardsFor(s: SparkSession, d: String,
      merges: Seq[Merge]): String = synchronized {
    installShards(s, shardsPathOf(d, s"$ctx:for:${Bpe.mergesFp(merges)}$knobKey"),
      () => (t(s, d, "documents"), merges))
  }

  /** The shared shard builder over an arbitrary `(doc_id, text)` view
    * and its trained merges (`mk` runs only when the artifact is
    * missing — the curated corpus materializes nothing on a replay).
    */
  private def installShards(s: SparkSession, p: String,
      mk: () => (DataFrame, Seq[Merge])): String = {
    import s.implicits._
    ArtifactLake.buildOnce(p, Bpe.shardBuilds) { staging =>
      val root = staging.getAbsolutePath
      val (docs, merges) = mk()
      // the trained merge table (≤ bpeMerges rows): the tokenizer
      // itself — a fresh session SERVES from this instead of
      // retraining
      merges.toDF("rank", "l", "r", "merged", "pair_count")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/merges")
      // the corpus vocabulary encoded through the rank-heap MergeTable
      // — bit-identical to the nested-replace chain (TokenizeWithSpec)
      // but flat in merge depth, so the builder also hosts the DEEP
      // tables [[ensureShardsFor]] supplies
      val bcMt = s.sparkContext.broadcast(new Bpe.MergeTable(merges))
      val wtoks = vocabOf(s, spread(docs), sampled = false)
        .select($"w").as[String]
        .mapPartitions { it =>
          val mt = bcMt.value
          it.map(w => (w, mt.encode(w)))
        }
        .toDF("w", "tk")
        .localCheckpoint(true) // three consumers (tid + wids + wt):
                               // cut the shared encode lineage once
      // token-id table: distinct final tokens ranked in UTF-8 order —
      // a vocabulary-sized global sort, never the corpus
      val tid = wtoks.select(explode($"tk").as("tok")).distinct()
        .withColumn("tid",
          (row_number().over(Window.orderBy($"tok")) - 1).cast("int"))
      tid.select($"tid", $"tok")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/vocab")
      // per-word ordered id arrays
      val wids = wtoks
        .select($"w", posexplode($"tk").as(Seq("tpos", "tok")))
        .join(tid, "tok")
        .groupBy($"w")
        .agg(expr(
          "transform(sort_array(collect_list(struct(tpos, tid))), x -> x.tid)")
          .as("ids"))
      // per-doc flattened sequences: words in text order, each word's
      // subword ids in segmentation order
      val dseq = spread(docs)
        .select($"doc_id", posexplode(expr(toksExpr)).as(Seq("wpos", "w")))
        .join(wids, Seq("w"))
        .groupBy($"doc_id")
        .agg(expr(
          "flatten(transform(sort_array(collect_list(struct(wpos, ids))), x -> x.ids))")
          .as("token_ids"))
      val binned = binnedDocsOf(s, docs,
        wtoks.select($"w", size($"tk").cast("long").as("nt")))
      binned.groupBy($"bin")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n").cast("long").as("n_tokens"),
          min($"doc_id").as("first_doc"),
          max($"doc_id").as("last_doc"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/manifest")
      binned.join(dseq, Seq("doc_id"), "left")
        .select($"doc_id", $"bin", $"n".as("n_tokens"),
          coalesce($"token_ids", expr("array()").cast("array<int>"))
            .as("token_ids"),
          ($"bin" / binsPerShard).cast("long").as("shard"))
        .repartition($"shard")
        .sortWithinPartitions($"bin", $"doc_id")
        .write.mode("overwrite").partitionBy("shard").parquet(s"$root/data")
    }
  }

  // ------------------------------------------------------------------
  // SHARD-LAKE DML: the gen+adds store lifecycle ([[ArtifactLake]])
  // applied to the training-shard lake, so a daily-growing corpus
  // appends instead of re-paying the full pack. New documents are
  // encoded with the FROZEN tokenizer (the stored merges + id table —
  // never retrained) and installed as a content-keyed
  // `deltas/add-<key>` segment; the read faces below serve
  // base ∪ segments. The REGISTERED queries
  // (q87/q90) read `data/` only — base-only by design (the q43
  // pattern), so the oracle-pinned bytes never move under DML.
  // ------------------------------------------------------------------

  /** Append a batch of NEW documents (`doc_id` castable to LONG,
    * `text` STRING) to the installed shard lake as one delta segment,
    * through the shared [[ArtifactLake.dmlAddDocs]] recipe. Returns true
    * iff THIS call installed it.
    *
    * Contract:
    *  - CONTENT KEY: one aggregate pass derives an order-independent
    *    128-bit key over (doc_id, text); a replay of the same batch —
    *    Structured Streaming's at-least-once re-run, a retried job —
    *    finds the installed (or folded) segment and no-ops. At-least-
    *    once replay × idempotent install = effectively-once ingest.
    *  - ID GUARD: a DIFFERENT batch claiming doc_ids already in the
    *    lake (base or any segment, each layer's `data` table) fails
    *    loudly; the [lo, hi] batch envelope makes the conflict scan
    *    parquet-stats-prunable.
    *  - FROZEN ENCODE: sequences come from [[serveTokenize]] — subword
    *    tokens the corpus never produced map to UNK (-1), exactly as
    *    ad-hoc serving does, so stored segment bytes ≡ a from-scratch
    *    encode of the same docs through the same artifact.
    * Driver memory held: one stats row and at most eight conflicting
    * ids — the batch itself never leaves the executors.
    */
  def addShardDocs(s: SparkSession, d: String, docs: DataFrame,
      curated: Boolean = false): Boolean = synchronized {
    val p = if (curated) ensureCuratedShards(s, d) else ensureShards(s, d)
    ArtifactLake.dmlAddDocs(s, p, docs, "addShardDocs",
      tuning.storeMaxSegments, Bpe.shardAdds, idTable = "data")(
      (b, root) =>
        serveTokenize(s, d, b.rows.select(col("doc_id").as("id"), col("text")), curated)
          .select(col("id").as("doc_id"), col("n_tokens"), col("token_ids"))
          .repartition(b.files)
          .write.mode("overwrite").parquet(s"$root/data"))(
      () => { compactShards(s, d, curated); () })
  }

  /** Continuous document ingest — [[addShardDocs]] attached to any
    * streaming frame with `doc_id`/`text` columns, one delta segment
    * per non-empty micro-batch. Same effectively-once story as the
    * vector store's [[Similarity.ingestStream]]: a replayed
    * micro-batch reproduces its content key and no-ops; upstream owns
    * id-uniqueness ACROSS batches.
    */
  def ingestShardStream(d: String, stream: DataFrame, checkpoint: String,
      curated: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ArtifactLake.ingest(stream, checkpoint) { batch =>
      addShardDocs(batch.sparkSession, d,
        batch.select(col("doc_id"), col("text")), curated)
    }

  /** The lake's sequence read face: `(doc_id, n_tokens, token_ids)`
    * over base ∪ latest generation ∪ unconsumed delta segments — what
    * a training run (or [[decodeTokens]]) consumes after DML.
    * Base-only when no DML has run, so it degrades to exactly the
    * registered queries' view.
    */
  def shardDocSeqs(s: SparkSession, d: String,
      curated: Boolean = false): DataFrame = {
    import s.implicits._
    val p = if (curated) ensureCuratedShards(s, d) else ensureShards(s, d)
    val base = s.read.parquet(s"$p/data")
      .select($"doc_id", $"n_tokens", $"token_ids")
    ArtifactLake.deltaView(p).overlays.foldLeft(base)((acc, f) =>
      acc.unionByName(s.read.parquet(s"${f.getAbsolutePath}/data")
        .select($"doc_id", $"n_tokens", $"token_ids")))
  }

  /** Fold the previous generation and every unconsumed delta segment
    * into ONE new generation ([[ArtifactLake.compactStore]]) — sized to
    * the DML'd docs, never the corpus (the oracle-pinned base `data/`
    * is immutable and never re-read by a fold). Runs automatically once
    * the unconsumed segments exceed
    * [[graft.config.Tuning.storeMaxSegments]]. Returns true iff THIS
    * call installed a generation.
    */
  def compactShards(s: SparkSession, d: String,
      curated: Boolean = false): Boolean = synchronized {
    import s.implicits._
    val p = if (curated) ensureCuratedShards(s, d) else ensureShards(s, d)
    val installed = ArtifactLake.compactStore(p) { (v, out) =>
      s.read.parquet(v.overlays.map(f => s"${f.getAbsolutePath}/data"): _*)
        .select($"doc_id", $"n_tokens", $"token_ids")
        .write.mode("overwrite").parquet(s"$out/data")
    }
    if (installed) Bpe.shardCompactions.incrementAndGet()
    installed
  }

  /** Maintenance-window reclamation ([[ArtifactLake.vacuumStore]]):
    * folded segments and superseded generations. A vacuumed batch's
    * replay still no-ops — its name lives on in the newest
    * generation's cumulative `consumed.txt`. Returns dirs removed.
    */
  def vacuumShards(s: SparkSession, d: String,
      curated: Boolean = false): Int = synchronized {
    ArtifactLake.vacuumStore(
      if (curated) ensureCuratedShards(s, d) else ensureShards(s, d))
  }

  /** Decode `(doc_id, token_ids)` sequences back to subword tokens
    * through the STORED id table — the read twin of [[serveTokenize]].
    * Ids the table doesn't carry (UNK −1 included) decode to NULL in
    * place, so positions are preserved; empty sequences decode to
    * empty arrays.
    */
  def decodeTokens(s: SparkSession, d: String, seqs: DataFrame,
      curated: Boolean = false): DataFrame = {
    import s.implicits._
    val p = if (curated) ensureCuratedShards(s, d) else ensureShards(s, d)
    val tid = s.read.parquet(s"$p/vocab")
    val toks = seqs
      .select($"doc_id", posexplode($"token_ids").as(Seq("tpos", "tid")))
      .join(tid, Seq("tid"), "left")
      .groupBy($"doc_id")
      .agg(expr(
        "transform(sort_array(collect_list(struct(tpos, tok))), x -> x.tok)")
        .as("tokens"))
    seqs.select($"doc_id").join(toks, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"tokens", expr("array()").cast("array<string>"))
          .as("tokens"))
  }

  /** q87: the shard dump, hash-pinned the q67 way — the query reads
    * the STORED artifact (doc→bin assignment and the stored token-id
    * sequence, hashed), while the oracle re-derives everything from
    * scratch in SQL: trained merges → full-vocabulary segmentation →
    * UTF-8-ranked token ids → per-doc flattened sequences → prefix-sum
    * bins. One wrong stored byte anywhere (a mis-ranked id, a
    * mis-ordered word, a doc in the wrong bin) hash-mismatches.
    */
  private val q87 = Q(
    "q87_pack_shards",
    (s, d) => {
      import s.implicits._
      val p = ensureShards(s, d)
      s.read.parquet(s"$p/data")
        .select($"bin", $"doc_id", $"n_tokens",
          md5(concat_ws(",",
            expr("transform(token_ids, x -> cast(x as string))"))).as("ids_hash"))
        .orderBy($"bin", $"doc_id")
    },
    Some(s"""
      WITH ${shardCtesAndSelect("documents")}"""))

  /** The per-document id-sequence CTE chain over a corpus relation
    * `rel`: its final full-vocabulary segmentation (`fsegtk`) →
    * UTF-8-ranked token ids (`tid`) → per-word id arrays (`wids`) →
    * per-doc flattened sequences (`dseq`). The shared trunk of the
    * shard dump (q87/q90, bins appended) and the interchange
    * round-trip gate (q98) — the stored lake and a re-imported
    * tokenizer replay the SAME oracle arithmetic by construction.
    */
  private def docSeqCtes(rel: String): String =
    s"""fsegtk AS (SELECT w, $segToksSqlReal AS tk
                 FROM $applySegCte),
      tok AS (SELECT DISTINCT unnest(tk) AS tok FROM fsegtk),
      tid AS (SELECT tok, CAST(row_number() OVER (ORDER BY tok) - 1 AS INT) AS tid
              FROM tok),
      wtok AS (SELECT w, unnest(range(1, len(tk) + 1)) AS tpos, unnest(tk) AS tok
               FROM fsegtk),
      wids AS (SELECT w, list(tid ORDER BY tpos) AS ids
               FROM wtok JOIN tid USING (tok) GROUP BY w),
      dwo AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS wpos,
                     unnest(toks) AS w
              FROM (SELECT doc_id, $toksSqlDuck AS toks FROM $rel)),
      dseq AS (SELECT doc_id, flatten(list(ids ORDER BY wpos)) AS ids
               FROM dwo JOIN wids USING (w) GROUP BY doc_id)"""

  /** The shard-dump oracle body over a corpus relation `rel` — trained
    * merges → full-vocabulary segmentation → UTF-8-ranked token ids →
    * per-doc flattened sequences → prefix-sum bins → the hashed dump.
    * q87 replays it `FROM documents`, q90 `FROM sdocs` (the curated
    * CTE chain prepended by the caller).
    */
  private def shardCtesAndSelect(rel: String): String = s"""${trainCtes(rel)},
      ${docSeqCtes(rel)},
      ${binCtes(rel)}
      SELECT b.bin, b.doc_id, b.n AS n_tokens,
             md5(coalesce(array_to_string(
               list_transform(coalesce(dseq.ids, []), x -> CAST(x AS VARCHAR)),
               ','), '')) AS ids_hash
      FROM b LEFT JOIN dseq USING (doc_id)
      ORDER BY bin, doc_id"""
      // outer coalesce: DuckDB's array_to_string is a zero-row
      // string_agg — NULL on an empty sequence (a fully-stripped
      // document), where Spark's concat_ws yields '' and the stored
      // hash is md5('')

  /** The strip half of the Lee et al. pipeline, shared with q89 —
    * instantiated with THIS registry's tuning so the curated corpus
    * and its oracle interpolate the same knobs.
    */
  // @transient: Bpe rides into task closures (binnedDocsOf's TwoPass
  // lambda captures `this`) and Search is driver-only plan-building
  // state — lazy re-derives it from `tuning` if ever touched after
  // deserialization.
  @transient private lazy val searchOps = new Search(tuning)

  /** q89: the CURATED packing — the Lee et al. (2021) training-data
    * pipeline composed end-to-end as one oracle-checked operator:
    * boilerplate strip (q88's `stripRuns`) → BPE training over the
    * CURATED text (its own vocabulary — shared runs no longer inflate
    * pair counts) → token counting → context-window packing (q84's
    * prefix-sum bins). The output is q84's bin-manifest shape computed
    * over the corpus a training run should actually consume; the
    * oracle replays the whole trajectory — island detection, strip,
    * every merge round, the packing — from the raw `documents` table
    * in SQL, so a disagreement anywhere in the composed pipeline
    * cascades into a hash mismatch.
    *
    * Scale shape: each stage keeps its own audited plan (q88's
    * df-capped island spine, q82's vocabulary-sized rounds, q84's
    * no-Window two-pass prefix sum); the strip output is
    * localCheckpoint-materialized ONCE and feeds training, token
    * counting, and packing without recomputing the island join.
    */
  private val q89 = Q(
    "q89_curated_packing",
    (s, d) => {
      import s.implicits._
      val cur = searchOps.stripRuns(s, d).localCheckpoint(true)
      val merges = trainCurated(s, d, cur)
      val wt = vocabOf(s, cur, sampled = false)
        .withColumn("seg", segChain(merges))
        .select($"w", size(segToks($"seg")).cast("long").as("nt"))
      binnedDocsOf(s, cur, wt).groupBy($"bin")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n").cast("long").as("n_tokens"),
          min($"doc_id").as("first_doc"),
          max($"doc_id").as("last_doc"))
        .orderBy($"bin")
    },
    Some(s"""
      WITH ${searchOps.strippedDocsCtes},
      ${trainCtes("sdocs")},
      ${binCtes("sdocs")}
      SELECT bin, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM b
      GROUP BY bin
      ORDER BY bin"""))

  /** q90: the CURATED shard dump — q87's materialized artifact built
    * over q89's corpus: strip → curated-trained merges → curated
    * token-id sequences → curated bins, shipped as the stored shard
    * lake (vocab / manifest / data, ArtifactLake recipe). This is the
    * tier's terminal artifact: the bytes a training run reads, over
    * the corpus it should actually consume. The query reads the
    * STORED parquet; the oracle re-derives every byte from the raw
    * `documents` table — island detection, strip, every merge round,
    * id ranks, sequence order, prefix-sum bins — so one wrong stored
    * byte anywhere in the composed pipeline hash-mismatches.
    */
  private val q90 = Q(
    "q90_curated_shards",
    (s, d) => {
      import s.implicits._
      val p = ensureCuratedShards(s, d)
      s.read.parquet(s"$p/data")
        .select($"bin", $"doc_id", $"n_tokens",
          md5(concat_ws(",",
            expr("transform(token_ids, x -> cast(x as string))"))).as("ids_hash"))
        .orderBy($"bin", $"doc_id")
    },
    Some(s"""
      WITH ${searchOps.strippedDocsCtes},
      ${shardCtesAndSelect("sdocs")}"""))

  /** SERVE: tokenize an ad-hoc `(id BIGINT, text STRING)` batch with
    * the STORED tokenizer — the frozen merge table and token-id table
    * from the shard artifact (`curated = true` serves the
    * boilerplate-stripped pipeline's tokenizer, q90's artifact). The
    * vector store's `add()` pattern applied to the tokenizer: new text
    * is ENCODED against the trained artifact, never retrained, and a
    * fresh session serves without rebuilding anything. Returns
    * `(id, token_ids ARRAY<INT>, n_tokens)` — subword tokens the
    * corpus never produced map to id -1 (UNK); paren-carrying words
    * are outside the vocabulary and drop from the sequence, exactly
    * as the stored shards drop them.
    *
    * Scale shape: encoding runs the [[Bpe.MergeTable]] rank-heap
    * encoder over the BATCH's distinct words (batch-vocabulary-sized,
    * not corpus-sized; broadcast once, `mapPartitions`, cost flat in
    * merge depth — the same JVM path [[tokenizeWith]] uses, pinned ≡
    * the sequential chain by TokenizeWithSpec); the stored id table
    * rides one join (AQE-broadcast while it fits — it is bounded by
    * alphabet + bpeMerges); per-doc assembly is one groupBy over the
    * batch.
    */
  def serveTokenize(s: SparkSession, d: String, texts: DataFrame,
      curated: Boolean = false): DataFrame = {
    import s.implicits._
    val p = if (curated) ensureCuratedShards(s, d) else ensureShards(s, d)
    val merges = s.read.parquet(s"$p/merges").orderBy($"rank")
      .select($"rank", $"l", $"r", $"merged", $"pair_count")
      .as[Merge].collect().toSeq
    val tid = s.read.parquet(s"$p/vocab")
    encodeBatch(s, texts, merges, "token_ids", "int") { wtoks =>
      wtoks
        .select($"w", posexplode($"tk").as(Seq("tpos", "tok")))
        .join(tid, Seq("tok"), "left")
        .groupBy($"w")
        .agg(expr(
          """transform(sort_array(collect_list(struct(tpos, tid))),
               x -> coalesce(x.tid, -1))""").as("vals"))
    }
  }

  /** The shared serve-side batch pipeline: explode the `(id, text)`
    * batch ONCE (localCheckpoint-materialized — the word list has two
    * consumers, the distinct-word encode and the per-doc assembly, and
    * a serve batch is bounded), encode its distinct words through the
    * broadcast [[Bpe.MergeTable]] (word filtering: null/empty and
    * paren-carrying words drop, exactly as the shard builder drops
    * them), map each word's subword tokens to the output domain with
    * `perWord` (`(w, tk ARRAY<STRING>) → (w, vals ARRAY<elemType>)`),
    * and reassemble per id in text order. One definition serves both
    * [[serveTokenize]] (ids) and [[tokenizeWith]] (strings) — the two
    * faces cannot drift.
    */
  private def encodeBatch(s: SparkSession, texts: DataFrame,
      merges: Seq[Merge], outCol: String, elemType: String)(
      perWord: DataFrame => DataFrame): DataFrame = {
    import s.implicits._
    // the one surface whose input never passes Tables.t — the engine
    // functions (nfc_normalize under the knob) must resolve here too
    graft.functions.GraftFunctions.ensureRegistered(s)
    val bc = s.sparkContext.broadcast(new Bpe.MergeTable(merges))
    val words = texts
      .select($"id", posexplode_outer(expr(toksExpr)).as(Seq("wpos", "w")))
      .localCheckpoint(true) // two consumers: tokenize the batch once
    val wtoks = words.select($"w")
      .where($"w".isNotNull && $"w" =!= "" && (if (escapeOn) lit(true)
        else !$"w".contains("(") && !$"w".contains(")")))
      .distinct()
      .as[String]
      .mapPartitions { it =>
        val mt = bc.value
        it.map(w => (w, mt.encode(w)))
      }
      .toDF("w", "tk")
    texts.select($"id")
      .join(
        words.join(perWord(wtoks), Seq("w"))
          .groupBy($"id")
          .agg(expr(
            """flatten(transform(sort_array(collect_list(struct(wpos, vals))),
                 x -> x.vals))""").as(outCol)),
        Seq("id"), "left")
      .select($"id",
        coalesce(col(outCol), expr("array()").cast(s"array<$elemType>"))
          .as(outCol))
      .withColumn("n_tokens", size(col(outCol)).cast("long"))
  }

  /** DEEP serving: tokenize an ad-hoc `(id BIGINT, text STRING)` batch
    * with an ARBITRARY trained merge table — the real-vocabulary path
    * for tables that have no stored artifact (e.g. straight out of
    * [[trainLocalMerges]] at 32k merges). Same [[encodeBatch]] pipeline
    * as [[serveTokenize]]; output is subword STRINGS —
    * `(id, tokens ARRAY<STRING>, n_tokens)` — because a freshly
    * trained table has no stored id table; id assignment stays the
    * caller's (rank the distinct tokens, join a stored vocab, or ship
    * the lake via [[ensureShardsFor]]). TokenizeWithSpec pins encoder
    * ≡ rank-order replay and tokenizeWith ≡ the stored shard
    * sequences on the artifact's own merges.
    *
    * Scale shape: one explode + one distinct over the batch, the
    * encode map-side over the batch vocabulary (shuffle-free), one
    * batch-keyed join + groupBy — nothing corpus- or vocabulary-sized
    * on the driver beyond the broadcast merge table itself (bounded
    * by the requested merge count).
    */
  def tokenizeWith(s: SparkSession, texts: DataFrame,
      merges: Seq[Merge]): DataFrame = {
    import s.implicits._
    encodeBatch(s, texts, merges, "tokens", "string")(
      _.select($"w", $"tk".as("vals")))
  }

  /** Tokenize an `(id BIGINT, text STRING)` batch with an ARBITRARY
    * (merges, vocab) pair — the serving face of
    * [[Bpe.importTokenizer]]: a `merges.txt`/`vocab.json` interchange
    * directory (this library's export or any GPT-2-style stack's)
    * drives the exact [[encodeBatch]] pipeline [[serveTokenize]] runs,
    * with token → id resolved against the SUPPLIED vocabulary (UNK =
    * -1, the stored-artifact serve contract). Output
    * `(id, token_ids ARRAY<INT>, n_tokens)`.
    *
    * Scale shape: the vocabulary is a LocalRelation bounded by
    * alphabet + merge count (the same bound the stored id table
    * carries — NOT corpus-sized), broadcast under AQE; everything else
    * is [[serveTokenize]]'s batch-vocabulary-sized plan.
    */
  def tokenizeWithVocab(s: SparkSession, texts: DataFrame,
      merges: Seq[Merge], vocab: Seq[(String, Int)]): DataFrame = {
    import s.implicits._
    val tid = vocab.toDF("tok", "tid")
    encodeBatch(s, texts, merges, "token_ids", "int") { wtoks =>
      wtoks
        .select($"w", posexplode($"tk").as(Seq("tpos", "tok")))
        .join(tid, Seq("tok"), "left")
        .groupBy($"w")
        .agg(expr(
          """transform(sort_array(collect_list(struct(tpos, tid))),
               x -> coalesce(x.tid, -1))""").as("vals"))
    }
  }

  /** Export a stored tokenizer in the GPT-2-style BPE interchange
    * layout — `merges.txt` (a version header, then one `l r` rule per
    * line in rank order) and `vocab.json` (token → id) — so a trained
    * tokenizer can be handed to a training or inference stack that
    * speaks the standard files, without this library on the path.
    * Tokens never contain a space (the corpus word split guarantees
    * it), so the `l r` line format is unambiguous; JSON-hostile
    * characters escape per [[Bpe.jsonEscape]]. Installed through the
    * same staged-rename recipe as every artifact (idempotent replay,
    * losing an install race is success); `curated = true` exports
    * q90's tokenizer, [[exportTokenizerFor]] a deep supplied table's.
    */
  def exportTokenizer(s: SparkSession, d: String,
      curated: Boolean = false, allowLossy: Boolean = false): String = {
    guardExportCoverage(s, d, allowLossy)
    exportOf(s,
      if (curated) ensureCuratedShards(s, d) else ensureShards(s, d))
  }

  /** The deep twin: export a SUPPLIED merge table's tokenizer (its
    * shard lake builds on demand via [[ensureShardsFor]], so the id
    * table exists and the export matches what [[serveTokenize]]-style
    * serving over that lake would produce).
    */
  def exportTokenizerFor(s: SparkSession, d: String,
      merges: Seq[Merge], allowLossy: Boolean = false): String = {
    guardExportCoverage(s, d, allowLossy)
    exportOf(s, ensureShardsFor(s, d, merges))
  }

  /** COVERAGE GUARD for the GPT-2 interchange export: with the escape
    * OFF, the charset contract silently drops every paren-bearing word
    * from the vocabulary — an exported `merges.txt`/`vocab.json` over
    * such a corpus would claim GPT-2 interchange while lacking `f(x)`,
    * citations, and emoticons. Exporting such a vocabulary therefore
    * REFUSES with the fix (train under `bpeEscape = 1` — q93/q94's
    * contract — or the production profile) unless the caller opts into
    * the loss explicitly (`allowLossy = true`, which downgrades to a
    * stderr warning). A paren CHARACTER anywhere in the corpus text is
    * exact for "some word would drop" — every paren sits inside some
    * whitespace token (under the pretokenizer the paren pretoken
    * itself drops, still a coverage loss). One filtered corpus scan,
    * short-circuited at the first hit, paid only at export time.
    * Conservative for the curated export (a paren word might sit
    * entirely inside a stripped span) — acceptable: the refusal names
    * the escape knob, and escape-mode exports never scan.
    */
  private def guardExportCoverage(s: SparkSession, d: String,
      allowLossy: Boolean): Unit = {
    if (escapeOn) return
    val lossy = !t(s, d, "documents")
      .filter(col("text").contains("(") || col("text").contains(")"))
      .limit(1).isEmpty
    if (!lossy) return
    val msg = "exportTokenizer: the corpus contains paren-bearing words," +
      " which the escape-off charset contract DROPS from the vocabulary —" +
      " the exported merges.txt/vocab.json would silently lack them." +
      " Train with graft.tuning.bpeEscape=1 (or -Dgraft.profile=production)" +
      " for a full-coverage export, or pass allowLossy = true to export anyway"
    if (allowLossy)
      System.err.println(s"[graft] WARNING: $msg (allowLossy=true set)")
    else throw new IllegalStateException(msg)
  }

  private def exportOf(s: SparkSession, p: String): String = {
    import s.implicits._
    val out = s"$p-export"
    ArtifactLake.ensure(new java.io.File(out)) { staging =>
      // parquet-writing builders get the staging dir from Spark;
      // plain-file exports must create it themselves
      if (!staging.mkdirs() && !staging.isDirectory)
        throw new java.io.IOException(s"staging dir create failed: $staging")
      val merges = s.read.parquet(s"$p/merges").orderBy($"rank")
        .select($"l", $"r").as[(String, String)].collect()
      val vocab = s.read.parquet(s"$p/vocab")
        .orderBy($"tid").select($"tok", $"tid").as[(String, Int)].collect()
      def write(name: String)(body: java.io.Writer => Unit): Unit = {
        val w = new java.io.OutputStreamWriter(
          new java.io.FileOutputStream(new java.io.File(staging, name)),
          "UTF-8")
        try body(w) finally w.close()
      }
      write("merges.txt") { w =>
        w.write("#version: 0.2\n")
        merges.foreach { case (l, r) =>
          w.write(l); w.write(' '); w.write(r); w.write('\n')
        }
      }
      write("vocab.json") { w =>
        w.write("{")
        var first = true
        vocab.foreach { case (tok, tid) =>
          if (!first) w.write(",")
          first = false
          w.write("\"" + Bpe.jsonEscape(tok) + "\":" + tid)
        }
        w.write("}")
      }
    }
    out
  }

  /** q91: the served tokenizer under the gate — a pinned probe batch
    * (a deterministic corpus slice plus synthetic out-of-corpus texts)
    * encoded through [[serveTokenize]], i.e. through the STORED
    * artifact's frozen merges and id table. The oracle re-derives the
    * tokenizer from scratch in SQL (every training round, the UTF-8 id
    * ranks) and then encodes the SAME probes — per-word merge-chain
    * replay over the probe vocabulary, UNK (-1) for subwords the
    * corpus never produced, paren words dropped — so the hash pins
    * both the stored tokenizer bytes AND the serving semantics: a
    * wrong stored merge, a mis-ranked id, or a serve-side ordering
    * slip all cascade into a mismatch.
    */
  private val q91 = Q(
    "q91_serve_tokenize",
    (s, d) => {
      import s.implicits._
      val corpus = t(s, d, "documents")
        .filter($"doc_id" % 100 === 7)
        .select($"doc_id".as("id"), $"text")
      val synth = Seq(
        (900000001L, "The quick brown fox jumps over the lazy dog"),
        (900000002L, "wrap(par)ens drop but § is unknown"),
        (900000003L, "")).toDF("id", "text")
      serveTokenize(s, d, corpus.unionByName(synth))
        .select($"id", $"n_tokens",
          md5(concat_ws(",",
            expr("transform(token_ids, x -> cast(x as string))")))
            .as("ids_hash"))
        .orderBy($"id")
    },
    Some {
      // the probe vocabulary's merge-chain replay: char-split, then
      // every trained round's argmax row applied in rank order — the
      // sequential semantics serveTokenize's rank-heap encoder
      // implements (TokenizeWithSpec pins the equality)
      val probeChain = (1 to nRounds).map { i =>
        val p = i - 1
        s"""g$i AS (SELECT w, CASE WHEN b.l IS NULL THEN seg
                 ELSE replace(seg, '(' || b.l || ')(' || b.r || ')',
                              '(' || b.m || ')') END AS seg
               FROM g$p LEFT JOIN b$i b ON TRUE),"""
      }.mkString("\n      ")
      s"""
      WITH ${trainCtes("documents")},
      fsegtk AS (SELECT w, $segToksSqlReal AS tk
                 FROM $applySegCte),
      tok AS (SELECT DISTINCT unnest(tk) AS tok FROM fsegtk),
      tid AS (SELECT tok, CAST(row_number() OVER (ORDER BY tok) - 1 AS INT) AS tid
              FROM tok),
      probes AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 100 = 7
                 UNION ALL
                 SELECT * FROM (VALUES
                   (CAST(900000001 AS BIGINT),
                    'The quick brown fox jumps over the lazy dog'),
                   (CAST(900000002 AS BIGINT),
                    'wrap(par)ens drop but § is unknown'),
                   (CAST(900000003 AS BIGINT), '')) v(id, text)),
      pdw AS (SELECT id, unnest(range(1, len(toks) + 1)) AS wpos,
                     unnest(toks) AS w
              FROM (SELECT id, $toksSqlDuck AS toks FROM probes)),
      g0 AS (SELECT w, ${segInitSql("w")} AS seg
             FROM (SELECT DISTINCT w FROM pdw
                   WHERE w <> ''$probeCharsetFilterSql)),
      $probeChain
      pwtok AS (SELECT w, unnest(range(1, len(tk) + 1)) AS tpos,
                       unnest(tk) AS tok
                FROM (SELECT w, $segToksSqlReal AS tk
                      FROM g$nRounds)),
      pwids AS (SELECT w, list(coalesce(tid, -1) ORDER BY tpos) AS ids
                FROM pwtok LEFT JOIN tid USING (tok) GROUP BY w),
      pseq AS (SELECT id, flatten(list(ids ORDER BY wpos)) AS ids
               FROM pdw JOIN pwids USING (w) GROUP BY id)
      SELECT p.id, CAST(coalesce(len(pseq.ids), 0) AS BIGINT) AS n_tokens,
             md5(coalesce(array_to_string(
               list_transform(coalesce(pseq.ids, []), x -> CAST(x AS VARCHAR)),
               ','), '')) AS ids_hash
      FROM probes p LEFT JOIN pseq USING (id)
      ORDER BY id"""
    })

  // ------------------------------------------------------------------
  // ESCAPE-MODE GATE (q93/q94): the delimiter escape exercised under
  // the oracle on a corpus where it matters — a deterministically
  // DERIVED view of `documents` whose vocabulary is full of
  // paren-bearing words, a non-BMP word with parens, a literal
  // backslash word, and a literal "\q" that collides with the escape
  // code itself. Both engines derive the identical fixture with plain
  // (regex-free) string ops, so the queries stay hash-checkable at
  // every knob combination.
  // ------------------------------------------------------------------

  /** The registry instance the escape-mode gate queries run through:
    * THIS one when the ambient knob is already on (tuned-matrix combos
    * then compose escape with NFC and the vocabulary bounds), else a
    * twin copied with `bpeEscape = 1`. The twin's own `escTwin` is
    * itself, so construction terminates.
    */
  private val escTwin: Bpe =
    if (escapeOn) this else new Bpe(tuning.copy(bpeEscape = 1))

  /** The paren fixture, Spark side — every `e` wrapped in parens plus
    * the adversarial suffix words. NULL text stays NULL on both
    * engines (`concat`/`||` propagate it).
    */
  private def parenFixture(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    t(s, d, "documents")
      .filter($"doc_id" % 50 === 3)
      .select($"doc_id",
        concat(
          call_function("replace", $"text", lit("e"), lit("(e)")),
          lit(" 𝕏(😀)x a\\b \\q(z)")).as("text"))
  }

  /** [[parenFixture]]'s DuckDB twin (the non-BMP word is 𝕏(😀)x —
    * U+1D54F and U+1F600 inside parens).
    */
  private val parenFixtureSql: String =
    "pfix AS MATERIALIZED (SELECT doc_id," +
      raw""" replace(text, 'e', '(e)') || ' 𝕏(😀)x a\b \q(z)' AS text""" +
      " FROM documents WHERE doc_id % 50 = 3)"

  private def trainFixture(s: SparkSession, d: String): Seq[Merge] =
    trainOver(vocabOf(s, spread(parenFixture(s, d)), sampled = true), nRounds)

  /** q93: the escape-mode merge table over the paren fixture — every
    * training round's argmax (computed in the escaped seg domain on
    * both engines, tie-broken by escaped byte order) decoded back to
    * real text and hash-checked. One wrong escape byte, mis-decoded
    * output, or order slip in any round cascades.
    */
  private val q93 = Q(
    "q93_bpe_escape_train",
    (s, d) => mergeTable(s, escTwin.trainFixture(s, d)),
    Some(escTwin.trainDumpSql(escTwin.parenFixtureSql + ",\n      ", "pfix")))

  /** q94: the escape-mode tokenize face — q83's per-document token
    * counts over the paren fixture, where EVERY word (paren-bearing
    * included) joins the vocabulary and is segmented by the trained
    * merges. Pins the full-vocabulary apply chain under the escape.
    */
  private val q94 = Q(
    "q94_bpe_escape_tokenize",
    (s, d) => escTwin.tokenizeCounts(s, escTwin.parenFixture(s, d),
      escTwin.trainFixture(s, d)),
    Some(escTwin.tokenizeDumpSql(escTwin.parenFixtureSql + ",\n      ", "pfix")))

  /** The import gate's stored artifact: the escape-mode paren-fixture
    * corpus sharded with ITS OWN trained merges (the q93/q94
    * fixture trainer — fixture-sized, 2% of docs), keyed like every
    * lake on corpus path + content fingerprint + knobs. Built through
    * the standard [[installShards]] recipe, so the vocab parquet the
    * export reads is the same artifact q87/q90's oracles pin.
    */
  private def ensureFixtureShards(s: SparkSession, d: String): String =
    synchronized {
      installShards(s,
        shardsPathOf(d, s"$nRounds:$sampleMod:$minFreq:$vocabCap:$ctx:pfix$knobKey"),
        () => (parenFixture(s, d), trainFixture(s, d)))
    }

  /** q98: the GPT-2 interchange ROUND-TRIP — train (escape mode, so
    * every word is representable and the export coverage guard never
    * bites) over the paren fixture, ship the tokenizer through the
    * interchange files ([[exportTokenizer]]'s `merges.txt` +
    * `vocab.json`), parse them back with [[Bpe.importTokenizer]], and
    * tokenize the fixture corpus with the IMPORTED merge table and
    * vocabulary ([[tokenizeWithVocab]]). The oracle re-derives the
    * expected id sequences FROM RAW `documents` in SQL — every
    * training round, the full-vocabulary segmentation, the
    * UTF-8-ranked ids, the per-doc sequence assembly — so the hash
    * pins the whole file round trip: one mis-written or mis-parsed
    * merge line, one JSON escape slip (the fixture's vocabulary
    * carries backslash, paren, and non-BMP tokens), or one id off in
    * vocab.json cascades into a mismatch. This is what makes the
    * interchange claim testable both ways: q91 pins serve-from-store,
    * q98 pins serve-from-files.
    */
  private val q98 = Q(
    "q98_import_tokenize",
    (s, d) => {
      import s.implicits._
      val tw = escTwin
      val exp = tw.exportOf(s, tw.ensureFixtureShards(s, d))
      val (m2, v2) = Bpe.importTokenizer(exp)
      tw.tokenizeWithVocab(s,
          tw.parenFixture(s, d).select($"doc_id".as("id"), $"text"),
          m2, v2)
        .select($"id".as("doc_id"), $"n_tokens",
          md5(concat_ws(",",
            expr("transform(token_ids, x -> cast(x as string))")))
            .as("ids_hash"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH ${escTwin.parenFixtureSql},
      ${escTwin.trainCtes("pfix")},
      ${escTwin.docSeqCtes("pfix")}
      SELECT f.doc_id, CAST(coalesce(len(dseq.ids), 0) AS BIGINT) AS n_tokens,
             md5(coalesce(array_to_string(
               list_transform(coalesce(dseq.ids, []), x -> CAST(x AS VARCHAR)),
               ','), '')) AS ids_hash
      FROM pfix f LEFT JOIN dseq USING (doc_id)
      ORDER BY doc_id"""))

  // ------------------------------------------------------------------
  // PRETOK GATE (q96/q97): the GPT-2 pretokenizer exercised under the
  // oracle on a corpus where it matters — a deterministically DERIVED
  // view of `documents` where every word wears a glued comma and the
  // suffix carries the contraction set, an o'clock-style apostrophe
  // the contraction branches DON'T cover, a letter+digit+dot version
  // string, and a terminal bang. Both engines derive the identical
  // fixture with plain string ops, so the queries stay hash-checkable
  // at every knob combination (the twin inherits the ambient NFC and
  // escape knobs — the tuned matrix composes all three text knobs).
  // ------------------------------------------------------------------

  /** The registry instance the pretok gate queries run through: THIS
    * one when the ambient knob is already on, else a twin copied with
    * `bpePretok = 1` (the [[escTwin]] recipe — the twin's own twins
    * are bounded, so construction terminates).
    */
  private val ptkTwin: Bpe =
    if (pretokOn) this else new Bpe(tuning.copy(bpePretok = 1))

  /** The contraction/punctuation fixture, Spark side: every space
    * becomes ", " (a comma glued to every word — whole-word
    * tokenization trains `word,` as a separate vocabulary entry; the
    * pretokenizer reunifies `word` and isolates `,`), plus the suffix
    * words described in the section comment. NULL text stays NULL on
    * both engines.
    */
  private def pretokFixture(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    t(s, d, "documents")
      .filter($"doc_id" % 50 === 9)
      .select($"doc_id",
        concat(
          call_function("replace", $"text", lit(" "), lit(", ")),
          lit(" don't it's we're i'm you'll they'd o'clock v2.0 x42 end!"))
          .as("text"))
  }

  /** [[pretokFixture]]'s DuckDB twin (apostrophes doubled for the SQL
    * literal).
    */
  private val pretokFixtureSql: String =
    "tfix AS MATERIALIZED (SELECT doc_id," +
      " replace(text, ' ', ', ') ||" +
      " ' don''t it''s we''re i''m you''ll they''d o''clock v2.0 x42 end!'" +
      " AS text FROM documents WHERE doc_id % 50 = 9)"

  private def trainPretokFixture(s: SparkSession, d: String): Seq[Merge] =
    trainOver(vocabOf(s, spread(pretokFixture(s, d)), sampled = true), nRounds)

  /** q96: the pretok-mode merge table over the contraction fixture —
    * every training round's argmax over the PRETOKEN vocabulary,
    * hash-checked against the oracle's independent replay (its `w`
    * CTE splits with the same GPT-2 pattern in DuckDB's regex
    * dialect). A pattern-semantics divergence between the engines —
    * alternation order, `\p{L}` coverage, `\x27` handling — surfaces
    * as a vocabulary diff and cascades through every round.
    */
  private val q96 = Q(
    "q96_bpe_pretok_train",
    (s, d) => mergeTable(s, ptkTwin.trainPretokFixture(s, d)),
    Some(ptkTwin.trainDumpSql(ptkTwin.pretokFixtureSql + ",\n      ", "tfix")))

  /** q97: the pretok-mode tokenize face — q83's per-document counts
    * over the fixture, where `n_words` counts PRETOKENS (`don't` is
    * two) and the trained merges segment the pretoken vocabulary.
    * Pins the full apply chain under the pretokenizer.
    */
  private val q97 = Q(
    "q97_bpe_pretok_tokenize",
    (s, d) => ptkTwin.tokenizeCounts(s, ptkTwin.pretokFixture(s, d),
      ptkTwin.trainPretokFixture(s, d)),
    Some(ptkTwin.tokenizeDumpSql(ptkTwin.pretokFixtureSql + ",\n      ", "tfix")))

  val all: Seq[Q] = Seq(q82, q83, q84, q87, q89, q90, q91, q93, q94, q96,
    q97, q98)
}
