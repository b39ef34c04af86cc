package graft.operators

import graft.{Q, Cols, Tables}
import Cols._
import Tables.{t, spread}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: language-ID (stopword-profile heuristic), quality
  * scoring, token counting (whitespace + BPE-ish regex), and canonical
  * document fingerprinting.
  *
  * All row-local — no shuffle except the final small aggregation, so
  * these scale linearly with corpus size (the 100 TB case is exactly
  * this shape: per-document scoring in one codegen'd pass).
  *
  * Tuned (one instance per knob set, the [[Dedup]] pattern) because
  * tokenization interpolates [[graft.config.Tuning.normalizeNfc]] —
  * under the knob, q53's fingerprints and every token-derived score
  * hash NFC-normalized text on both engines.
  */
final class TextOps(tuning: graft.config.Tuning) {

  private val nfcOn = tuning.normalizeNfc == 1
  private val toksExpr = Dedup.toksExprOf(nfcOn)
  private val toksSqlDuck = Dedup.toksSqlDuckOf(nfcOn)

  /** The q65 curation funnel's ROW-LOCAL gates as one reusable compiled
    * projection — the streaming-ingest face of the funnel: language-ID
    * (f1), composite quality (f2), bigram repetition (f3), and PII scan
    * (f4), plus `kept` = f1∧f2∧f3∧f4. The exact-dedup stage (f5) is
    * deliberately absent: it is cross-document state, which on the
    * streaming path is the signature lake's job ([[Dedup.ingestStream]]
    * + the near-dup serve/keeper machinery downstream). Formulas
    * restate q65's gate arithmetic with identical rounding (the
    * q81/q51 precedent), with the one structural difference that
    * `rep_ratio` folds row-locally (a per-document statistic needs no
    * shuffle — q65's explode+groupBy form exists to share the oracle's
    * declarative shape). Works identically on batch and streaming
    * DataFrames: no state, no watermark, one codegen'd pass.
    *
    * Input needs `doc_id` and `text`; output adds pred/score/
    * rep_ratio/n_pii/kept and keeps `text` for the downstream DML.
    */
  def curateStream(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // external-DataFrame face: inputs never pass Tables.t, so the
    // engine functions (nfc_normalize under the knob) register here
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    docs
      .withColumn("toks", expr(toksExpr))
      .withColumn("s_en", expr(
        "size(filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'in')))"))
      .withColumn("s_es", expr(
        "size(filter(toks, x -> x IN ('el', 'la', 'de', 'que', 'y')))"))
      .withColumn("s_de", expr(
        "size(filter(toks, x -> x IN ('der', 'die', 'und', 'das', 'ist')))"))
      .withColumn("s_fr", expr(
        "size(filter(toks, x -> x IN ('le', 'les', 'et', 'des', 'un')))"))
      .withColumn("pred", expr(
        """CASE WHEN s_es > greatest(s_en, s_de, s_fr) THEN 'es'
                WHEN s_de > greatest(s_en, s_fr) THEN 'de'
                WHEN s_fr > s_en THEN 'fr'
                ELSE 'en' END"""))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("n_stop", expr(
        "size(filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'in', 'to')))").cast("long"))
      .withColumn("avg_tok_len", r4(
        expr("aggregate(toks, cast(0 as bigint), (acc, x) -> acc + length(x))") /
          greatest(col("n_toks"), lit(1L))))
      .withColumn("stop_ratio", r4(col("n_stop") / greatest(col("n_toks"), lit(1L))))
      .withColumn("score", r4(
        least(col("n_toks") / lit(100.0), lit(1.0)) * 0.5 +
          (lit(1.0) - col("stop_ratio")) * 0.3 +
          least(col("avg_tok_len") / lit(10.0), lit(1.0)) * 0.2))
      .withColumn("n_pii", expr(
        """size(regexp_extract_all(lower(text), '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', 0)) +
           size(regexp_extract_all(lower(text), 'https?://[^\\s]+', 0)) +
           size(regexp_extract_all(lower(text), '\\+[0-9][0-9() -]{7,}[0-9]', 0))"""))
      .withColumn("bgs", expr(
        """CASE WHEN size(toks) < 2 THEN cast(array() as array<string>)
           ELSE transform(sequence(1, size(toks)-1),
                  i -> concat_ws(' ', slice(toks, i, 2))) END"""))
      .withColumn("rep_ratio", when(size(col("bgs")) === 0, lit(null))
        .otherwise(r4(expr(
          "array_max(transform(bgs, x -> size(filter(bgs, y -> y = x))))") /
          size(col("bgs")))))
      .withColumn("kept",
        col("pred") === "en" && col("score") >= 0.5 &&
          coalesce(col("rep_ratio"), lit(0.0)) < 0.2 && col("n_pii") === 0)
      .select(col("doc_id"), col("text"), col("pred"), col("score"),
        col("rep_ratio"), col("n_pii"), col("kept"))
  }

  /** Language-ID via stopword-profile scoring: count marker-word hits per
    * language profile, argmax with deterministic tie order. Output is the
    * lang-metadata × predicted-language confusion matrix.
    */
  private val q50 = Q(
    "q50_lang_id",
    (s, d) => {
      import s.implicits._
      val scores = spread(t(s, d, "documents"))
        .withColumn("toks", expr(toksExpr))
        .withColumn("s_en", expr(
          "size(filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'in')))"))
        .withColumn("s_es", expr(
          "size(filter(toks, x -> x IN ('el', 'la', 'de', 'que', 'y')))"))
        .withColumn("s_de", expr(
          "size(filter(toks, x -> x IN ('der', 'die', 'und', 'das', 'ist')))"))
        .withColumn("s_fr", expr(
          "size(filter(toks, x -> x IN ('le', 'les', 'et', 'des', 'un')))"))
        .withColumn("pred", expr(
          """CASE WHEN s_es > greatest(s_en, s_de, s_fr) THEN 'es'
                  WHEN s_de > greatest(s_en, s_fr) THEN 'de'
                  WHEN s_fr > s_en THEN 'fr'
                  ELSE 'en' END"""))
      scores.groupBy($"lang", $"pred")
        .agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"pred")
    },
    Some(s"""
      WITH sc AS (
        SELECT lang,
          len(list_filter($toksSqlDuck, x -> x IN ('the', 'a', 'of', 'and', 'in')))  AS s_en,
          len(list_filter($toksSqlDuck, x -> x IN ('el', 'la', 'de', 'que', 'y')))   AS s_es,
          len(list_filter($toksSqlDuck, x -> x IN ('der', 'die', 'und', 'das', 'ist'))) AS s_de,
          len(list_filter($toksSqlDuck, x -> x IN ('le', 'les', 'et', 'des', 'un'))) AS s_fr
        FROM documents)
      SELECT lang,
             CASE WHEN s_es > greatest(s_en, s_de, s_fr) THEN 'es'
                  WHEN s_de > greatest(s_en, s_fr) THEN 'de'
                  WHEN s_fr > s_en THEN 'fr'
                  ELSE 'en' END AS pred,
             count(*) AS n
      FROM sc
      GROUP BY 1, 2
      ORDER BY lang, pred"""))

  /** Quality scoring: token count, average token length, stopword ratio,
    * punctuation ratio, composite score — all integer/rounded arithmetic
    * for parity.
    */
  private val q51 = Q(
    "q51_quality_score",
    (s, d) => {
      import s.implicits._
      spread(t(s, d, "documents"))
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_toks", size($"toks").cast("long"))
        .withColumn("n_stop", expr(
          "size(filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'in', 'to')))").cast("long"))
        .withColumn("avg_tok_len", r4(
          expr("aggregate(toks, cast(0 as bigint), (acc, x) -> acc + length(x))") /
            greatest($"n_toks", lit(1L))))
        .withColumn("stop_ratio", r4($"n_stop" / greatest($"n_toks", lit(1L))))
        .withColumn("punct_ratio", r4(
          (length($"text") - length(regexp_replace($"text", "[^a-z0-9 ]", ""))) /
            greatest(length($"text"), lit(1))))
        .withColumn("score", r4(
          least($"n_toks" / lit(100.0), lit(1.0)) * 0.5 +
            (lit(1.0) - $"stop_ratio") * 0.3 +
            least($"avg_tok_len" / lit(10.0), lit(1.0)) * 0.2))
        .select($"doc_id", $"n_toks", $"avg_tok_len", $"stop_ratio",
          $"punct_ratio", $"score")
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH q AS (
        SELECT doc_id, text, $toksSqlDuck AS toks FROM documents),
      m AS (
        SELECT doc_id, text,
               CAST(len(toks) AS BIGINT) AS n_toks,
               CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'in', 'to'))) AS BIGINT) AS n_stop,
               round(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT)))
                     / greatest(len(toks), 1), 4) AS avg_tok_len
        FROM q),
      r AS (
        SELECT doc_id, n_toks, avg_tok_len,
               round(n_stop / greatest(n_toks, 1), 4) AS stop_ratio,
               round((length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))
                     / greatest(length(text), 1), 4) AS punct_ratio
        FROM m)
      SELECT doc_id, n_toks, avg_tok_len, stop_ratio, punct_ratio,
             round(least(n_toks / 100.0, 1.0) * 0.5 + (1.0 - stop_ratio) * 0.3
                   + least(avg_tok_len / 10.0, 1.0) * 0.2, 4) AS score
      FROM r
      ORDER BY doc_id"""))

  /** Token counting per source: whitespace tokens and a BPE-ish regex
    * tokenizer (letter runs / digit runs / single punctuation).
    */
  private val q52 = Q(
    "q52_token_stats",
    (s, d) => {
      import s.implicits._
      spread(t(s, d, "documents"))
        .withColumn("n_ws", size(expr(toksExpr)).cast("long"))
        .withColumn("n_bpe", size(expr(
          """regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)"""))
          .cast("long"))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_ws").as("ws_tokens"),
          sum($"n_bpe").as("bpe_tokens"),
          r4(avg($"n_ws")).as("avg_ws"),
          r4(avg($"n_bpe")).as("avg_bpe"))
        .orderBy($"source")
    },
    Some(s"""
      WITH c AS (
        SELECT source,
               CAST(len($toksSqlDuck) AS BIGINT) AS n_ws,
               CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_bpe
        FROM documents)
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_ws) AS BIGINT)  AS ws_tokens,
             CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
             round(avg(n_ws), 4)  AS avg_ws,
             round(avg(n_bpe), 4) AS avg_bpe
      FROM c
      GROUP BY source
      ORDER BY source"""))

  /** Document fingerprinting, two flavors:
    *  - canonical: md5 over the sorted distinct token set
    *    (word-order-insensitive near-dup key) + 60-bit numeric form
    *  - rolling: order-SENSITIVE polynomial hash over the token stream,
    *    `h ← (31·h + hash(tok)) mod 2^31−1`, folded left-to-right in
    *    both engines (Spark `aggregate` HOF ≡ DuckDB `list_reduce` with
    *    a prepended zero) — integer-exact parity.
    */
  private val q53 = Q(
    "q53_fingerprint",
    (s, d) => {
      import s.implicits._
      spread(t(s, d, "documents"))
        .withColumn("toks", expr(toksExpr))
        .withColumn("canon", expr(
          "concat_ws(' ', sort_array(array_distinct(toks)))"))
        .withColumn("roll_fp", expr(
          """aggregate(toks, cast(0 as bigint), (h, t) ->
               pmod(h * 31 + pmod(cast(conv(substring(md5(t), 1, 10), 16, 10) as bigint), 2147483647),
                    2147483647))"""))
        .select($"doc_id",
          md5($"canon").as("fp"),
          md5Long(md5($"canon")).as("fp_num"),
          $"roll_fp")
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH c AS (
        SELECT doc_id,
               array_to_string(list_sort(list_distinct($toksSqlDuck)), ' ') AS canon,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform($toksSqlDuck,
                     t -> CAST('0x' || substr(md5(t), 1, 10) AS BIGINT) % 2147483647)),
                 (h, x) -> (h * 31 + x) % 2147483647) AS roll_fp
        FROM documents)
      SELECT doc_id, md5(canon) AS fp,
             ${md5LongSql("md5(canon)")} AS fp_num,
             roll_fp
      FROM c
      ORDER BY doc_id"""))

  /** Repetition detection (the standard LLM-data quality gate for
    * boilerplate/babble): fraction of the document's word bigrams taken
    * by its single most frequent bigram. High ratio ⇒ repetitive junk.
    * Per-doc explode → two-level hash agg; fully map-side-combinable.
    */
  private val q54 = Q(
    "q54_repetition",
    (s, d) => {
      import s.implicits._
      val bigramsExpr =
        """CASE WHEN size(toks) >= 2
           THEN transform(sequence(1, size(toks)-1),
                i -> concat_ws(' ', slice(toks, i, 2)))
           ELSE cast(array() as array<string>) END"""
      val bg = spread(t(s, d, "documents"))
        .select($"doc_id", expr(toksExpr).as("toks"))
        .select($"doc_id", explode(expr(bigramsExpr)).as("bg"))
      bg.groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(sum($"c").as("n_bigrams"), max($"c").as("top_n"))
        .select($"doc_id",
          $"n_bigrams".cast("long").as("n_bigrams"),
          $"top_n".cast("long").as("top_n"),
          r4($"top_n" / $"n_bigrams").as("rep_ratio"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH toks AS (SELECT doc_id, $toksSqlDuck AS toks FROM documents),
      bg AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks), 1)),
               i -> array_to_string(list_slice(toks, i, i+1), ' '))) AS bg
             FROM toks WHERE len(toks) >= 2),
      c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2)
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_bigrams,
             CAST(max(c) AS BIGINT) AS top_n,
             round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS rep_ratio
      FROM c
      GROUP BY doc_id
      ORDER BY doc_id"""))

  /** PII scan — the redaction-stage precursor every training-data
    * pipeline runs: per-source counts of documents containing emails /
    * URLs / phone-number shapes, plus total match volumes. Row-local
    * regex counting (codegen'd, RE2-compatible patterns — no
    * backreferences — so both engines match identically) into one
    * map-side-combinable rollup; at 100 TB this is a single pass with a
    * tiny shuffle (one row per source).
    */
  private val q55 = Q(
    "q55_pii_scan",
    (s, d) => {
      import s.implicits._
      val email = """[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"""
      val url = """https?://[^\\s]+"""
      val phone = """\\+[0-9][0-9() -]{7,}[0-9]"""
      def cnt(pat: String) =
        expr(s"size(regexp_extract_all(lower(text), '$pat', 0))")
      spread(t(s, d, "documents"))
        .select($"source",
          cnt(email).as("ne"), cnt(url).as("nu"), cnt(phone).as("np"))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when($"ne" > 0 || $"nu" > 0 || $"np" > 0, 1L).otherwise(0L)).as("docs_with_pii"),
          sum($"ne").cast("long").as("n_emails"),
          sum($"nu").cast("long").as("n_urls"),
          sum($"np").cast("long").as("n_phones"))
        .orderBy($"source")
    },
    Some("""
      WITH c AS (SELECT source,
                   len(regexp_extract_all(lower(text), '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS ne,
                   len(regexp_extract_all(lower(text), 'https?://[^\s]+')) AS nu,
                   len(regexp_extract_all(lower(text), '\+[0-9][0-9() -]{7,}[0-9]')) AS np
                 FROM documents)
      SELECT source,
             count(*) AS n_docs,
             CAST(sum(CASE WHEN ne > 0 OR nu > 0 OR np > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
             CAST(sum(ne) AS BIGINT) AS n_emails,
             CAST(sum(nu) AS BIGINT) AS n_urls,
             CAST(sum(np) AS BIGINT) AS n_phones
      FROM c
      GROUP BY source
      ORDER BY source"""))

  /** Corpus vocabulary / Zipf profile: top-40 tokens by frequency with
    * rank and corpus share — the first thing a data curator plots for a
    * new training corpus (and the input to stopword-list induction).
    * One explode + one map-side-combinable count; the top-k is
    * TakeOrderedAndProject over the (small) distinct-token aggregate.
    */
  private val q56 = Q(
    "q56_vocabulary",
    (s, d) => {
      import s.implicits._
      val counts = spread(t(s, d, "documents"))
        .select(explode(expr(toksExpr)).as("token"))
        .groupBy($"token").agg(count(lit(1)).as("n"))
        .cache()  // read by the total aggregate and the top-k collect
      // coalesce: an empty corpus sums to NULL, which must yield an
      // empty result (as the oracle does), not a decode crash
      val total = counts.agg(coalesce(sum($"n"), lit(0L))).as[Long].head()
      counts
        .orderBy($"n".desc, $"token")
        .limit(40)
        .withColumn("rank", row_number().over(
          Window.orderBy($"n".desc, $"token")).cast("long"))
        .select($"rank", $"token", $"n", r6($"n" / lit(total.toDouble)).as("share"))
        .orderBy($"rank")
    },
    Some(s"""
      WITH toks AS (SELECT $toksSqlDuck AS toks FROM documents),
      tok AS (SELECT unnest(toks) AS token FROM toks),
      c AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
      tot AS (SELECT sum(n) AS total FROM c),
      top AS (SELECT token, n,
                row_number() OVER (ORDER BY n DESC, token) AS rank
              FROM c)
      SELECT CAST(rank AS BIGINT) AS rank, token, n,
             round(n / (SELECT CAST(total AS DOUBLE) FROM tot), 6) AS share
      FROM top WHERE rank <= 40
      ORDER BY rank"""))

  // ------------------------------------------------------------------
  // PII REDACTION (q99): q55 FINDS PII; this REMOVES it — the stage a
  // training-data pipeline actually ships (scan reports tell you the
  // corpus is dirty; redaction is what makes it shippable). Four
  // pattern families, replaced in a fixed order (URLs first, so an
  // email or address inside a URL is already gone before the narrower
  // patterns run), each spelled to behave identically under Java regex
  // (Spark) and RE2 (DuckDB): explicit dual-case classes instead of
  // (?i) (RE2's (?i) does full Unicode folding — e.g. the Kelvin sign
  // folds into [kK] — where Java's default is ASCII-only), no
  // lookaround (RE2 has none), no alternation beyond an optional
  // character. The same Scala string is the Spark pattern argument and
  // the interpolated SQL literal — single-quoted standard SQL does not
  // process backslashes, so the bytes match by construction.
  // ------------------------------------------------------------------

  private val urlPat = "[hH][tT][tT][pP][sS]?://[^\\s]+"
  private val emailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  // each digit is preceded by at most one optional space, one optional
  // paren/dash, and one optional space (' (4', ') 5', '-0', ' 2' all
  // parse; '  1' — two spaces — does not), and the match ends ON a
  // digit, so a multi-space run can never splice two unrelated digit
  // groups into one phone. A SINGLE space before a trailing digit
  // group remains inherently ambiguous without lookahead
  // ('+1 415 555 0100 10…' — ' 10' is shaped exactly like a phone
  // group); engine-consistent either way, both sides interpolate this
  // same string (no lookaround, RE2-safe).
  private val phonePat = "\\+[0-9](?: ?[()-] ?[0-9]| ?[0-9]){7,}"
  private val ipPat =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Redact PII in place: `text_red` is `text` with URLs, emails,
    * phone numbers, and IPv4 addresses replaced by `<URL>`/`<EMAIL>`/
    * `<PHONE>`/`<IP>` markers, plus per-family counts (each counted on
    * the text its stage actually saw, so counts ≡ replacements made)
    * and their `n_pii` total. NULL text stays NULL with zero counts;
    * all other input columns pass through.
    *
    * Scale shape: row-local — one codegen'd projection, no shuffle, no
    * UDF; scales linearly and works identically on batch and streaming
    * DataFrames (the [[curateStream]] contract — compose it upstream
    * of the store fan-out to ship redacted text instead of dropping
    * PII-bearing documents wholesale).
    */
  def redactPii(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // the NULL guard is explicit, not via coalesce over size(NULL):
    // under spark.sql.legacy.sizeOfNull (non-ANSI sessions a library
    // caller may bring) size(NULL) is -1, not NULL, and the counts
    // would read -1 per family instead of the documented 0
    def cnt(c: org.apache.spark.sql.Column, p: String) =
      when(c.isNull, lit(0L))
        .otherwise(size(regexp_extract_all(c, lit(p), lit(0))).cast("long"))
    docs
      .withColumn("n_urls", cnt(col("text"), urlPat))
      .withColumn("red_t1", regexp_replace(col("text"), urlPat, "<URL>"))
      .withColumn("n_emails", cnt(col("red_t1"), emailPat))
      .withColumn("red_t2",
        regexp_replace(col("red_t1"), emailPat, "<EMAIL>"))
      .withColumn("n_phones", cnt(col("red_t2"), phonePat))
      .withColumn("red_t3",
        regexp_replace(col("red_t2"), phonePat, "<PHONE>"))
      .withColumn("n_ips", cnt(col("red_t3"), ipPat))
      .withColumn("text_red", regexp_replace(col("red_t3"), ipPat, "<IP>"))
      .withColumn("n_pii",
        col("n_urls") + col("n_emails") + col("n_phones") + col("n_ips"))
      .drop("red_t1", "red_t2", "red_t3")
  }

  /** The derived PII fixture both engines build with plain string ops
    * (the paren/pretok fixture precedent — the raw corpus carries no
    * PII, so the gate must inject its own): per doc_id % 10, a tail
    * with mixed-case emails (one doc carries two), mixed-case URL
    * schemes, two international phone spellings, IPv4s, one MULTI-kind
    * tail (email + IP), and two untouched control classes. `cast`
    * renders a BIGINT expression as the dialect's string type (STRING
    * vs VARCHAR — the one name the dialects don't share).
    */
  private def piiTailSql(cast: String => String): String = {
    def c(x: String) = cast(x)
    s"""CASE doc_id % 10
        WHEN 1 THEN ' Contact Ann' || ${c("doc_id % 50")} || '.Lee+x' || ${c("doc_id % 9")} || '@Mail' || ${c("doc_id % 7")} || '.ORG now'
        WHEN 4 THEN ' mail bob' || ${c("doc_id")} || '@ex' || ${c("doc_id % 5")} || '.org and carol@sub.example.COM too'
        WHEN 7 THEN ' u' || ${c("doc_id")} || '@h' || ${c("doc_id % 3")} || '.net ip 192.168.' || ${c("doc_id % 256")} || '.' || ${c("doc_id % 100")} || ' mixed'
        WHEN 2 THEN ' see hTtPs://Host' || ${c("doc_id % 9")} || '.example/p/' || ${c("doc_id")} || '?x=1 ok'
        WHEN 5 THEN ' fetch http://plain' || ${c("doc_id % 4")} || '.example/' || ${c("doc_id")}
        WHEN 3 THEN ' call +1 (415) 555-' || lpad(${c("doc_id % 10000")}, 4, '0') || ' today'
        WHEN 8 THEN ' tel +44 20 7946 ' || lpad(${c("doc_id % 10000")}, 4, '0') || ' office'
        WHEN 6 THEN ' ip 10.' || ${c("doc_id % 256")} || '.0.' || ${c("doc_id % 100")} || ' end'
        ELSE '' END"""
  }

  /** q99: PII redaction under the gate — the fixture corpus through
    * [[redactPii]], reporting every touched document's per-family
    * counts and the md5 of its REDACTED text. The oracle replays the
    * same four replace stages in DuckDB over the same derived fixture,
    * so the hash pins the exact output bytes: a pattern that matches
    * one character more or less, a stage-order slip, or a marker typo
    * all cascade. Counts are per stage (what each stage saw), so they
    * double as replacement receipts.
    */
  private val q99 = Q(
    "q99_pii_redact",
    (s, d) => {
      import s.implicits._
      val fix = t(s, d, "documents").select($"doc_id",
        concat($"text",
          expr(piiTailSql(x => s"cast(($x) as string)"))).as("text"))
      redactPii(spread(fix))
        .filter($"n_pii" > 0)
        .select($"doc_id", $"n_urls", $"n_emails", $"n_phones", $"n_ips",
          md5($"text_red").as("red_hash"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH pdocs AS (SELECT doc_id,
               text || ${piiTailSql(x => s"CAST(($x) AS VARCHAR)")} AS text
             FROM documents),
      r1 AS (SELECT doc_id,
               coalesce(len(regexp_extract_all(text, '$urlPat')), 0) AS n_urls,
               regexp_replace(text, '$urlPat', '<URL>', 'g') AS t
             FROM pdocs),
      r2 AS (SELECT doc_id, n_urls,
               coalesce(len(regexp_extract_all(t, '$emailPat')), 0) AS n_emails,
               regexp_replace(t, '$emailPat', '<EMAIL>', 'g') AS t
             FROM r1),
      r3 AS (SELECT doc_id, n_urls, n_emails,
               coalesce(len(regexp_extract_all(t, '$phonePat')), 0) AS n_phones,
               regexp_replace(t, '$phonePat', '<PHONE>', 'g') AS t
             FROM r2),
      r4 AS (SELECT doc_id, n_urls, n_emails, n_phones,
               coalesce(len(regexp_extract_all(t, '$ipPat')), 0) AS n_ips,
               regexp_replace(t, '$ipPat', '<IP>', 'g') AS t
             FROM r3)
      SELECT doc_id,
             CAST(n_urls AS BIGINT) AS n_urls,
             CAST(n_emails AS BIGINT) AS n_emails,
             CAST(n_phones AS BIGINT) AS n_phones,
             CAST(n_ips AS BIGINT) AS n_ips,
             md5(t) AS red_hash
      FROM r4
      WHERE n_urls + n_emails + n_phones + n_ips > 0
      ORDER BY doc_id"""))

  /** q100: unigram-LM surprisal scoring — the CCNet recipe's
    * oracle-expressible core: train a unigram language model on the
    * corpus itself (token probability = corpus frequency / total
    * tokens), then score every document by its mean token surprisal
    * −ln p(tok) in nats. Rare-word-dense documents (gibberish, wrong
    * language, boilerplate codes) score HIGH; stopword-fluent prose
    * scores LOW — the standing LM-based quality filter, degenerate to
    * order 1 so DuckDB can replay it exactly (CCNet itself uses a
    * 5-gram KenLM; the plan shape below is identical for any order —
    * only the LM join key widens). Output: per-source document counts
    * with mean/max document surprisal. Zero-token documents have no
    * defined surprisal and are excluded (both engines, by the same
    * inner join).
    *
    * Scale shape: one explode + one map-side-combinable vocabulary
    * count (Heaps-law bounded, ~√corpus); the scoring join is
    * token-instance × vocabulary — AQE broadcasts the LM while it
    * fits, else it shuffles on `tok` exactly once; per-doc and
    * per-source aggregations are ordinary partial aggs. The one
    * collected scalar is the 1-row token total (the q56 precedent).
    * Per-doc surprisal rounds at r6 BEFORE the per-source mean (r4) so
    * both engines aggregate identical doc-level values.
    */
  /** Per-document unigram surprisal over an arbitrary `(doc_id, text)`
    * frame — q100's scorer as a library face (train-on-self: the LM is
    * the frame's own token distribution). Returns `(doc_id, nats)` for
    * every document with ≥ 1 token; zero-token documents have no
    * defined surprisal and drop. Per-doc values round at r6 so
    * downstream aggregates see engine-identical inputs.
    */
  def surprisal(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    import docs.sparkSession.implicits._
    val toks = docs.select(col("doc_id"), explode(expr(toksExpr)).as("tok"))
    // localCheckpoint, not cache(): this is a repeatedly-callable
    // library face, and CacheManager entries would accumulate one LM
    // per call for the session lifetime (the ensureLm pattern)
    val lm = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // two consumers: the total + the join
    val total = lm.agg(coalesce(sum(col("cnt")), lit(0L))).as[Long].head()
    toks.join(lm, "tok")
      .groupBy(col("doc_id"))
      .agg(r6(avg(-log(col("cnt") / lit(total.toDouble)))).as("nats"))
  }

  private val q100 = Q(
    "q100_unigram_surprisal",
    (s, d) => {
      import s.implicits._
      val docs = spread(t(s, d, "documents"))
      surprisal(docs.select($"doc_id", $"text"))
        .join(docs.select($"doc_id", $"source"), "doc_id")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          r4(avg($"nats")).as("avg_nats"),
          r4(max($"nats")).as("max_nats"))
        .orderBy($"source")
    },
    Some(s"""
      WITH toks AS (SELECT doc_id, source, unnest($toksSqlDuck) AS tok
                    FROM documents),
      lm AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
      tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM lm),
      sc AS (SELECT doc_id, source,
               round(avg(-ln(cnt / (SELECT total FROM tot))), 6) AS nats
             FROM toks JOIN lm USING (tok)
             GROUP BY doc_id, source)
      SELECT source, count(*) AS n_docs,
             round(avg(nats), 4) AS avg_nats,
             round(max(nats), 4) AS max_nats
      FROM sc
      GROUP BY source
      ORDER BY source"""))

  // ------------------------------------------------------------------
  // STORED corpus LM + served surprisal (q103): every tier's serve
  // pattern applied to the quality scorer — the unigram counts become
  // a stored artifact (built once, ArtifactLake staged-rename, keyed
  // on corpus path + content fingerprint + the tokenization knob), and
  // ad-hoc batches are scored against the FROZEN corpus distribution
  // with Laplace (add-one) smoothing, so out-of-vocabulary tokens get
  // a defined (maximal) surprisal instead of an infinity. This is the
  // production shape: filter incoming crawl batches against the
  // reference corpus's LM, not against their own (a batch of uniform
  // gibberish is self-fluent under train-on-self).
  // ------------------------------------------------------------------

  @transient private lazy val lmRoot: String = ArtifactLake.indexRoot

  private[operators] def lmPath(d: String): String = {
    // v2: the artifact is a DML-able delta store — a `docs(doc_id)`
    // table backs the [[addLmDocs]] id guard
    // v3: + the `bigrams(prev, tok, cnt)` table behind the
    // order-2 scoring mode (additive across layers like the unigrams)
    // v4: bigrams bucket-partitioned (`pb`) for the serve scan prune
    // v5: + the `trigrams(p2, prev, tok, cnt)` table behind the
    // order-3 stupid-backoff mode (same additive-layer DML, bucketed
    // on p2 so the serve prune reuses the bigram recipe)
    // v6: + `fourgrams(p3, p2, prev, tok, cnt)` and `fivegrams(p4,
    // p3, p2, prev, tok, cnt)` behind orders 4/5 (the CCNet/KenLM
    // standard order) — bucketed on their OUTERMOST context token,
    // which is positionally a subset of a probe's prev set, so ONE
    // collected prune list still covers every table
    val knobs = (if (nfcOn) "nfc" else "raw") + ":v6"
    ArtifactLake.keyedPath(lmRoot, "lm", ArtifactLake.sourceKey(d, knobs), 1,
      ArtifactLake.docsFingerprint(d))
  }

  /** Adjacent-pair structs over a bound `toks` array column — the
    * bigram domain of the order-2 LM. Spelled as one transform so the
    * pair never re-tokenizes; the size guard keeps sequence() off
    * illegal bounds (the q61 frameIdxExpr rule).
    */
  private val bigramsOfToks = """
    CASE WHEN size(toks) < 2 THEN array()
    ELSE transform(sequence(0, size(toks) - 2),
         i -> struct(toks[i] AS prev, toks[i + 1] AS tok)) END"""

  /** Corpus bigram counts of a `(…, text)` frame — one explode + one
    * map-side-combinable aggregate, the unigram LM's shape one key
    * wider. Unlike the vocabulary-sized unigram table this scales with
    * corpus content (distinct adjacent pairs), so it is never
    * coalesced and every write goes through [[writeBigrams]]'
    * bucket-partitioned layout for the serve-side scan prune.
    */
  private def bigramCounts(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.withColumn("toks", expr(toksExpr))
      .select(explode(expr(bigramsOfToks)).as("bg"))
      .select(col("bg.prev").as("prev"), col("bg.tok").as("tok"))
      .groupBy(col("prev"), col("tok")).agg(count(lit(1)).as("cnt"))

  /** Adjacent-triple structs over a bound `toks` array — the trigram
    * domain of the order-3 LM (the bigram transform one key wider).
    */
  private val trigramsOfToks = """
    CASE WHEN size(toks) < 3 THEN array()
    ELSE transform(sequence(0, size(toks) - 3),
         i -> struct(toks[i] AS p2, toks[i + 1] AS prev,
                     toks[i + 2] AS tok)) END"""

  /** Corpus trigram counts — one explode + one map-side-combinable
    * aggregate; corpus-content-sized like the bigrams, so every write
    * goes through [[writeTrigrams]]' bucketed layout.
    */
  private def trigramCounts(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.withColumn("toks", expr(toksExpr))
      .select(explode(expr(trigramsOfToks)).as("tg"))
      .select(col("tg.p2").as("p2"), col("tg.prev").as("prev"),
        col("tg.tok").as("tok"))
      .groupBy(col("p2"), col("prev"), col("tok"))
      .agg(count(lit(1)).as("cnt"))

  /** Adjacent 4- and 5-tuple structs — the trigram transform widened
    * for orders 4/5 (context tokens OUTERMOST-first: p3/p4 is the
    * token furthest from `tok`).
    */
  private val fourgramsOfToks = """
    CASE WHEN size(toks) < 4 THEN array()
    ELSE transform(sequence(0, size(toks) - 4),
         i -> struct(toks[i] AS p3, toks[i + 1] AS p2,
                     toks[i + 2] AS prev, toks[i + 3] AS tok)) END"""
  private val fivegramsOfToks = """
    CASE WHEN size(toks) < 5 THEN array()
    ELSE transform(sequence(0, size(toks) - 5),
         i -> struct(toks[i] AS p4, toks[i + 1] AS p3, toks[i + 2] AS p2,
                     toks[i + 3] AS prev, toks[i + 4] AS tok)) END"""

  private def fourgramCounts(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.withColumn("toks", expr(toksExpr))
      .select(explode(expr(fourgramsOfToks)).as("fg"))
      .select(col("fg.p3").as("p3"), col("fg.p2").as("p2"),
        col("fg.prev").as("prev"), col("fg.tok").as("tok"))
      .groupBy(col("p3"), col("p2"), col("prev"), col("tok"))
      .agg(count(lit(1)).as("cnt"))

  private def fivegramCounts(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.withColumn("toks", expr(toksExpr))
      .select(explode(expr(fivegramsOfToks)).as("vg"))
      .select(col("vg.p4").as("p4"), col("vg.p3").as("p3"),
        col("vg.p2").as("p2"), col("vg.prev").as("prev"),
        col("vg.tok").as("tok"))
      .groupBy(col("p4"), col("p3"), col("p2"), col("prev"), col("tok"))
      .agg(count(lit(1)).as("cnt"))

  /** The bigram table's scan-prune geometry — the BM25/runs recipe
    * applied to the ONLY corpus-sized table on the order-2 serve
    * path: rows land in `pmod(md5(prev), 64)` directory partitions,
    * and a batch-sized probe prunes every layer's scan to its
    * buckets + literal `prev` predicates (parquet partition pruning +
    * row-group/dictionary filtering), so serving stays
    * batch-proportional instead of re-scanning the corpus bigrams.
    */
  private val bgBuckets = 64
  private val bgCollectCap = 4096

  /** Driver-side twin of the write-side `pmod(md5-long(prev), 64)`
    * (the [[Search]] bucketOf recipe) — the pruning path must compute
    * the same bucket for a collected probe `prev` that the build
    * computed for the stored one.
    */
  private def bgBucketOf(prev: String): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(prev.getBytes("UTF-8"))
    val hex = md.map("%02x".format(_)).mkString.take(15)
    (new java.math.BigInteger(hex, 16)
      .mod(java.math.BigInteger.valueOf(bgBuckets.toLong))).intValue
  }

  private def writeBigrams(df: org.apache.spark.sql.DataFrame,
      path: String): Unit =
    df.withColumn("pb", expr(
        s"cast(pmod(cast(conv(substring(md5(prev), 1, 15), 16, 10) as bigint), $bgBuckets) as int)"))
      // one task per bucket → exactly bgBuckets files, no small-file
      // explosion at build parallelism; prev-SORTED within each file
      // so the serve-side literal predicates prune at row-group
      // granularity too (min/max stats are useless over random order —
      // measured: unsorted buckets left the m1000 steady serve growing
      // at α ≈ 0.32/decade because every touched bucket read whole).
      // Row-group-size tuning was MEASURED AND REJECTED: bounding
      // parquet.block.size at 4 MiB changed nothing (2.25 vs 2.30 s at
      // the m100 cell) because a corpus-replay probe carries more
      // distinct prevs (~2k) than the table has row groups — every
      // group is touched whichever way it is cut. The sort still buys
      // skipped I/O for SMALL probes (tens of prevs), the
      // hot-term-lookup shape.
      .repartition(bgBuckets, col("pb"))
      .sortWithinPartitions(col("pb"), col("prev"), col("tok"))
      .write.mode("overwrite").partitionBy("pb").parquet(path)

  /** [[writeBigrams]]' layout applied to a higher-order n-gram table,
    * bucketed on its OUTERMOST context token (every p_k set is
    * positionally a subset of the probe's prev set, so one collected
    * prune list covers all the tables).
    */
  private def writeCtxNgrams(df: org.apache.spark.sql.DataFrame,
      path: String, ctx: String, keys: Seq[String]): Unit =
    df.withColumn("pb", expr(
        s"cast(pmod(cast(conv(substring(md5($ctx), 1, 15), 16, 10) as bigint), $bgBuckets) as int)"))
      .repartition(bgBuckets, col("pb"))
      .sortWithinPartitions((col("pb") +: keys.map(col)): _*)
      .write.mode("overwrite").partitionBy("pb").parquet(path)

  private def writeTrigrams(df: org.apache.spark.sql.DataFrame,
      path: String): Unit =
    writeCtxNgrams(df, path, "p2", Seq("p2", "prev", "tok"))

  private def writeFourgrams(df: org.apache.spark.sql.DataFrame,
      path: String): Unit =
    writeCtxNgrams(df, path, "p3", Seq("p3", "p2", "prev", "tok"))

  private def writeFivegrams(df: org.apache.spark.sql.DataFrame,
      path: String): Unit =
    writeCtxNgrams(df, path, "p4", Seq("p4", "p3", "p2", "prev", "tok"))

  /** Install-or-reuse the corpus LM artifact: `counts` (token →
    * corpus frequency — vocabulary-sized, Heaps-law bounded) and
    * `totals` (one row: total token instances + vocabulary size, the
    * Laplace denominator's ingredients). Deterministic build, so
    * losing an install race is success; [[TextOps.lmBuilds]] is the
    * spec hook proving replays are no-ops. Counts are ADDITIVE across
    * id-disjoint corpora, so a delta-segment DML lifecycle (the BM25
    * stats recipe) needs no new math if this store ever takes it.
    */
  def ensureLm(s: org.apache.spark.sql.SparkSession, d: String): String = synchronized {
    ArtifactLake.buildOnce(lmPath(d), TextOps.lmBuilds) { staging =>
      val root = staging.getAbsolutePath
      val toks = spread(t(s, d, "documents"))
        .select(explode(expr(toksExpr)).as("tok"))
      val lm = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true) // two consumers: the dump + the totals
      lm.coalesce(1).write.mode("overwrite").parquet(s"$root/counts")
      lm.agg(coalesce(sum(col("cnt")), lit(0L)).as("total_tokens"),
          count(lit(1)).as("vocab"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/totals")
      writeBigrams(
        bigramCounts(spread(t(s, d, "documents")).select(col("text"))),
        s"$root/bigrams")
      writeTrigrams(
        trigramCounts(spread(t(s, d, "documents")).select(col("text"))),
        s"$root/trigrams")
      writeFourgrams(
        fourgramCounts(spread(t(s, d, "documents")).select(col("text"))),
        s"$root/fourgrams")
      writeFivegrams(
        fivegramCounts(spread(t(s, d, "documents")).select(col("text"))),
        s"$root/fivegrams")
      spread(t(s, d, "documents")).select(col("doc_id"))
        .write.mode("overwrite").parquet(s"$root/docs")
    }
  }

  /** Append a batch of NEW documents (`doc_id` castable to LONG,
    * `text` STRING) to the stored corpus LM as one delta segment —
    * the [[graft.operators.Search!.addBm25Docs]] recipe applied to the
    * quality scorer's store: the batch's token counts, its
    * total-tokens partial, and its doc ids land content-keyed under
    * `deltas/add-<key>`; counts are ADDITIVE across id-disjoint
    * layers, so a served score after DML equals a from-scratch LM
    * over corpus ∪ batches (LmDmlSpec pins collect-equality). Returns
    * true iff THIS call installed the segment; replays no-op
    * ([[ArtifactLake.dmlAdd]], also after a fold and a vacuum); a
    * different batch claiming held ids fails loudly; auto-folds past
    * [[graft.config.Tuning.storeMaxSegments]].
    */
  def addLmDocs(s: org.apache.spark.sql.SparkSession, d: String,
      docs: org.apache.spark.sql.DataFrame): Boolean = synchronized {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val p = ensureLm(s, d)
    ArtifactLake.dmlAddDocs(s, p, docs, "addLmDocs",
      tuning.storeMaxSegments, TextOps.lmAdds)(
      { (b, root) =>
        val cnts = b.rows.select(explode(expr(toksExpr)).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
          .localCheckpoint(true) // two consumers: counts + totals
        cnts.coalesce(1).write.mode("overwrite").parquet(s"$root/counts")
        cnts.agg(coalesce(sum(col("cnt")), lit(0L)).as("total_tokens"),
            count(lit(1)).as("vocab"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/totals")
        writeBigrams(bigramCounts(b.rows.select(col("text"))),
          s"$root/bigrams")
        writeTrigrams(trigramCounts(b.rows.select(col("text"))),
          s"$root/trigrams")
        writeFourgrams(fourgramCounts(b.rows.select(col("text"))),
          s"$root/fourgrams")
        writeFivegrams(fivegramCounts(b.rows.select(col("text"))),
          s"$root/fivegrams")
        b.rows.select(col("doc_id")).repartition(b.files)
          .write.mode("overwrite").parquet(s"$root/docs")
      })(
      () => { compactLm(s, d); () })
  }

  /** Continuous document ingest into the LM store — [[addLmDocs]]
    * attached to any streaming frame with `doc_id`/`text` columns, one
    * delta segment per non-empty micro-batch. Effectively-once: a
    * replayed micro-batch reproduces its content key and no-ops.
    */
  def ingestLmStream(d: String, stream: org.apache.spark.sql.DataFrame,
      checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ArtifactLake.ingest(stream, checkpoint) { batch =>
      addLmDocs(batch.sparkSession, d,
        batch.select(col("doc_id"), col("text")))
    }

  /** Fold the previous generation and every unconsumed LM segment into
    * ONE new generation — counts summed by token, totals re-derived
    * from the folded counts (vocabulary is NOT additive across layers:
    * shared tokens collapse), docs unioned. Sized to the DML'd docs;
    * the immutable base is never re-read.
    */
  def compactLm(s: org.apache.spark.sql.SparkSession, d: String): Boolean =
    synchronized {
      ensureLm(s, d)
      val installed = ArtifactLake.compactStore(lmPath(d)) { (v, out) =>
        val roots = v.overlays.map(_.getAbsolutePath)
        ArtifactLake.layerUnion(s, roots, "counts").foreach { u =>
          val folded = u.groupBy(col("tok")).agg(sum(col("cnt")).as("cnt"))
            .localCheckpoint(true)
          folded.coalesce(1).write.mode("overwrite").parquet(s"$out/counts")
          folded.agg(
              coalesce(sum(col("cnt")), lit(0L)).as("total_tokens"),
              count(lit(1)).as("vocab"))
            .coalesce(1).write.mode("overwrite").parquet(s"$out/totals")
        }
        ArtifactLake.layerUnion(s, roots, "bigrams").foreach(u =>
          writeBigrams(
            u.groupBy(col("prev"), col("tok")).agg(sum(col("cnt")).as("cnt")),
            s"$out/bigrams"))
        ArtifactLake.layerUnion(s, roots, "trigrams").foreach(u =>
          writeTrigrams(
            u.groupBy(col("p2"), col("prev"), col("tok"))
              .agg(sum(col("cnt")).as("cnt")),
            s"$out/trigrams"))
        ArtifactLake.layerUnion(s, roots, "fourgrams").foreach(u =>
          writeFourgrams(
            u.groupBy(col("p3"), col("p2"), col("prev"), col("tok"))
              .agg(sum(col("cnt")).as("cnt")),
            s"$out/fourgrams"))
        ArtifactLake.layerUnion(s, roots, "fivegrams").foreach(u =>
          writeFivegrams(
            u.groupBy(col("p4"), col("p3"), col("p2"), col("prev"),
                col("tok"))
              .agg(sum(col("cnt")).as("cnt")),
            s"$out/fivegrams"))
        ArtifactLake.layerUnion(s, roots, "docs").foreach(
          _.write.mode("overwrite").parquet(s"$out/docs"))
      }
      if (installed) TextOps.lmCompactions.incrementAndGet()
      installed
    }

  /** Maintenance-window reclamation for the LM store: consumed
    * segments + superseded generations
    * ([[ArtifactLake.vacuumStore]]'s cumulative-fold guarantee).
    * Returns dirs removed.
    */
  def vacuumLm(s: org.apache.spark.sql.SparkSession, d: String): Int =
    synchronized {
      ensureLm(s, d)
      ArtifactLake.vacuumStore(lmPath(d))
    }

  /** Score an ad-hoc `(id BIGINT, text STRING)` batch against the
    * STORED corpus LM: per document, the mean Laplace-smoothed token
    * surprisal −ln((cnt + 1) / (T + V + 1)) in nats — out-of-corpus
    * tokens (cnt = 0) score the maximal defined surprisal. Returns
    * `(id, n_tokens, nats)`; zero-token documents keep a NULL score
    * (no tokens, no mean). Serving never retrains: a fresh session
    * reads the artifact.
    *
    * Scale shape: one explode over the batch, one left join against
    * the vocabulary-sized stored counts (AQE-broadcast while it fits,
    * else a single shuffle on `tok`), one per-id aggregate; the totals
    * are a 1-row read.
    */
  def serveSurprisal(s: org.apache.spark.sql.SparkSession, d: String,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    serveSurprisal(s, d, docs, order = 1)

  /** [[serveSurprisal]] with a model-order switch. `order = 1` is the
    * historical unigram scorer, bit-identical to the 3-arg overload
    * (q103's pinned hashes). `order = 2` scores token i > 0 with the
    * Jelinek-Mercer interpolation λ·P(w|prev) + (1−λ)·P₁(w) — λ from
    * [[graft.config.Tuning.lmLambda]], P(w|prev) = bigram count /
    * prev's unigram count from the STORED corpus LM (0 when prev is
    * out-of-corpus), P₁ the Laplace-smoothed unigram — and the first
    * token with P₁ alone. This is what unigram scoring is blind to:
    * scrambled fluent words score like prose at order 1 but pay the
    * improbable-transition penalty at order 2 (the CCNet-style n-gram
    * quality filter, degenerate to the largest order the oracle can
    * replay exactly).
    *
    * Scale shape: order 2 adds one explode with positions and two
    * joins — prev's unigram count against the vocabulary-sized counts,
    * and (prev, tok) against the corpus-sized bigram table, each a
    * single shuffle (AQE broadcasts whichever side fits). Counts stay
    * additive across DML layers; the bigram recomposition mirrors the
    * unigram one.
    */
  def serveSurprisal(s: org.apache.spark.sql.SparkSession, d: String,
      docs: org.apache.spark.sql.DataFrame, order: Int)
      : org.apache.spark.sql.DataFrame = {
    require(order >= 1 && order <= 5,
      s"serveSurprisal: order must be in [1, 5], got $order")
    graft.functions.GraftFunctions.ensureRegistered(s)
    val p = ensureLm(s, d)
    // layer recomposition: counts are additive across id-disjoint
    // layers (base ∪ generation ∪ unconsumed segments); base-only
    // serving keeps the stored-totals fast path (one 1-row read, no
    // aggregate job) — the bit-stability path q103 pins
    val v = ArtifactLake.deltaView(p)
    val lm =
      if (v.baseOnly) s.read.parquet(s"$p/counts")
      else ArtifactLake.layerUnion(s,
          p +: v.overlays.map(_.getAbsolutePath), "counts").get
        .groupBy(col("tok")).agg(sum(col("cnt")).as("cnt"))
        // two consumers below (the denominator aggregate + the scoring
        // join) — materialize the multi-layer recomposition once
        .localCheckpoint(true)
    val denom = {
      val (total, vocab) =
        if (v.baseOnly) {
          val tv = s.read.parquet(s"$p/totals").head()
          (tv.getAs[Long]("total_tokens"), tv.getAs[Long]("vocab"))
        } else {
          // T sums exactly; V must come from the RECOMPOSED counts
          // (vocabulary is not additive — shared tokens collapse)
          val tv = lm.agg(coalesce(sum(col("cnt")), lit(0L)).as("t"),
            count(lit(1)).as("v")).head()
          (tv.getAs[Long]("t"), tv.getAs[Long]("v"))
        }
      total.toDouble + vocab.toDouble + 1.0
    }
    val sc =
      if (order == 1)
        docs.select(col("id"), explode(expr(toksExpr)).as("tok"))
          .join(lm, Seq("tok"), "left")
          .groupBy(col("id"))
          .agg(count(lit(1)).as("n_tokens"),
            r6(avg(-log((coalesce(col("cnt"), lit(0L)) + lit(1L)) /
              lit(denom)))).as("nats"))
      else {
        val lam = tuning.lmLambda
        val ptk = docs.withColumn("toks", expr(toksExpr))
          .select(col("id"), col("toks"), posexplode(col("toks")))
          .withColumnRenamed("col", "tok")
          .withColumn("prev", expr("CASE WHEN pos > 0 THEN toks[pos - 1] END"))
          .withColumn("p2", expr(
            if (order >= 3) "CASE WHEN pos > 1 THEN toks[pos - 2] END"
            else "CAST(NULL AS STRING)"))
          .withColumn("p3", expr(
            if (order >= 4) "CASE WHEN pos > 2 THEN toks[pos - 3] END"
            else "CAST(NULL AS STRING)"))
          .withColumn("p4", expr(
            if (order >= 5) "CASE WHEN pos > 3 THEN toks[pos - 4] END"
            else "CAST(NULL AS STRING)"))
          .drop("toks")
          // two consumers: the prune collect below + the scoring join
          .localCheckpoint(true)
        // the bigram table is the ONLY corpus-sized input on this
        // path — prune every layer's scan to the probe's `prev` set
        // (bucket partition pruning + literal predicates for
        // batch-sized probes; a distributed semi-join past the cap)
        val probePrevs = {
          val c = ptk.select(col("prev")).where(col("prev").isNotNull)
            .distinct().limit(bgCollectCap + 1).collect()
            .map(_.getString(0))
          if (c.length <= bgCollectCap) Some(c.toSeq) else None
        }
        def prunedBg(df: org.apache.spark.sql.DataFrame) = probePrevs match {
          case Some(ps) =>
            val buckets = ps.map(bgBucketOf).distinct.map(Int.box)
            df.where(col("pb").isin(buckets: _*) && col("prev").isin(ps: _*))
          case None =>
            df.join(ptk.select(col("prev")).where(col("prev").isNotNull)
              .distinct(), Seq("prev"), "left_semi")
        }
        // a layer with no 2-token document writes a bigrams dir holding
        // only _SUCCESS (partitionBy of zero rows) — the hasParquet
        // convention: substitute an empty (prev, tok, bcnt) frame when
        // NO layer has bigram rows instead of failing schema inference
        val emptyBg = {
          import s.implicits._
          s.emptyDataset[(String, String, Long)].toDF("prev", "tok", "bcnt")
        }
        val bg =
          if (v.baseOnly) {
            if (ArtifactLake.hasParquet(new java.io.File(p, "bigrams")))
              prunedBg(s.read.parquet(s"$p/bigrams"))
                .withColumnRenamed("cnt", "bcnt").drop("pb")
            else emptyBg
          } else ArtifactLake.layerUnion(s,
              p +: v.overlays.map(_.getAbsolutePath), "bigrams") match {
            case Some(u) => prunedBg(u)
              .groupBy(col("prev"), col("tok")).agg(sum(col("cnt")).as("bcnt"))
            case None => emptyBg
          }
        val base2 = ptk
          .join(lm, Seq("tok"), "left")
          .join(lm.select(col("tok").as("prev"), col("cnt").as("pcnt")),
            Seq("prev"), "left")
          .join(bg, Seq("prev", "tok"), "left")
          // op order mirrors the oracle EXACTLY (the exact-hash float
          // contract): p1 = (cnt+1)/denom; bterm = bcnt/pcnt (0 for an
          // out-of-corpus prev); p = λ·bterm + (1−λ)·p1, first token p1
          .withColumn("p1",
            (coalesce(col("cnt"), lit(0L)) + lit(1L)) / lit(denom))
          .withColumn("bterm", when(col("pcnt").isNull, lit(0.0))
            .otherwise(coalesce(col("bcnt"), lit(0L)) / col("pcnt")))
        // pruned, layer-recomposed load of a context-bucketed n-gram
        // table — the trigram recipe shared by orders 3/4/5: every
        // table's OUTERMOST context column is positionally a subset of
        // the probe's prev set, so the one collected prune list (or
        // its distributed semi-join fallback) covers them all
        def prunedOn(df: org.apache.spark.sql.DataFrame, c: String) =
          probePrevs match {
            case Some(ps) =>
              val buckets = ps.map(bgBucketOf).distinct.map(Int.box)
              df.where(col("pb").isin(buckets: _*) && col(c).isin(ps: _*))
            case None =>
              df.join(ptk.select(col(c)).where(col(c).isNotNull)
                .distinct(), Seq(c), "left_semi")
          }
        def ngTable(table: String, pruneCol: String, keys: Seq[String],
            cnt: String, empty: org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame =
          if (v.baseOnly) {
            if (ArtifactLake.hasParquet(new java.io.File(p, table)))
              prunedOn(s.read.parquet(s"$p/$table"), pruneCol)
                .withColumnRenamed("cnt", cnt).drop("pb")
            else empty
          } else ArtifactLake.layerUnion(s,
              p +: v.overlays.map(_.getAbsolutePath), table) match {
            case Some(u) => prunedOn(u, pruneCol)
              .groupBy(keys.map(col): _*).agg(sum(col("cnt")).as(cnt))
            case None => empty
          }
        val scored =
          if (order == 2)
            base2.withColumn("p", when(col("pos") === 0, col("p1"))
              .otherwise(lit(lam) * col("bterm") + lit(1.0 - lam) * col("p1")))
          else {
            // ORDERS 3-5, stupid backoff (Brants et al. 2007): token
            // i ≥ n−1 scores count(n-gram)/count(context) when the
            // n-gram is stored (its prefix context then necessarily
            // is too — every occurrence contains it), else α × the
            // (n−1)-gram route, bottoming out at α^(n−1)·P₁; tokens
            // at positions below n−1 score with the largest order
            // they can form. Every backoff CONTEXT count is a lower
            // table re-keyed (context (p_k..prev) IS an (n−1)-gram
            // whose outermost token is in the prune set) — no extra
            // corpus input at any order.
            val alpha = tuning.lmAlpha
            val interp =
              lit(lam) * col("bterm") + lit(1.0 - lam) * col("p1")
            val emptyTg = {
              import s.implicits._
              s.emptyDataset[(String, String, String, Long)]
                .toDF("p2", "prev", "tok", "tcnt")
            }
            val tg = ngTable("trigrams", "p2",
              Seq("p2", "prev", "tok"), "tcnt", emptyTg)
            val ctx = bg.select(col("prev").as("p2"), col("tok").as("prev"),
              col("bcnt").as("ctxcnt"))
            val base3 = base2
              .join(tg, Seq("p2", "prev", "tok"), "left")
              .join(ctx, Seq("p2", "prev"), "left")
            val chain3 =
              when(col("tcnt").isNotNull, col("tcnt") / col("ctxcnt"))
                .when(col("bcnt").isNotNull,
                  lit(alpha) * (col("bcnt") / col("pcnt")))
                .otherwise(lit(alpha * alpha) * col("p1"))
            if (order == 3)
              base3.withColumn("p", when(col("pos") === 0, col("p1"))
                .when(col("pos") === 1, interp)
                .otherwise(chain3))
            else {
              val emptyF4 = {
                import s.implicits._
                s.emptyDataset[(String, String, String, String, Long)]
                  .toDF("p3", "p2", "prev", "tok", "f4cnt")
              }
              val fg4 = ngTable("fourgrams", "p3",
                Seq("p3", "p2", "prev", "tok"), "f4cnt", emptyF4)
              val ctx3 = tg.select(col("p2").as("p3"), col("prev").as("p2"),
                col("tok").as("prev"), col("tcnt").as("ctx3cnt"))
              val base4 = base3
                .join(fg4, Seq("p3", "p2", "prev", "tok"), "left")
                .join(ctx3, Seq("p3", "p2", "prev"), "left")
              val chain4 =
                when(col("f4cnt").isNotNull, col("f4cnt") / col("ctx3cnt"))
                  .when(col("tcnt").isNotNull,
                    lit(alpha) * (col("tcnt") / col("ctxcnt")))
                  .when(col("bcnt").isNotNull,
                    lit(alpha * alpha) * (col("bcnt") / col("pcnt")))
                  .otherwise(lit(alpha * alpha * alpha) * col("p1"))
              if (order == 4)
                base4.withColumn("p", when(col("pos") === 0, col("p1"))
                  .when(col("pos") === 1, interp)
                  .when(col("pos") === 2, chain3)
                  .otherwise(chain4))
              else {
                val emptyF5 = {
                  import s.implicits._
                  s.emptyDataset[
                      (String, String, String, String, String, Long)]
                    .toDF("p4", "p3", "p2", "prev", "tok", "f5cnt")
                }
                val fg5 = ngTable("fivegrams", "p4",
                  Seq("p4", "p3", "p2", "prev", "tok"), "f5cnt", emptyF5)
                val ctx4 = fg4.select(col("p3").as("p4"), col("p2").as("p3"),
                  col("prev").as("p2"), col("tok").as("prev"),
                  col("f4cnt").as("ctx4cnt"))
                val chain5 =
                  when(col("f5cnt").isNotNull, col("f5cnt") / col("ctx4cnt"))
                    .when(col("f4cnt").isNotNull,
                      lit(alpha) * (col("f4cnt") / col("ctx3cnt")))
                    .when(col("tcnt").isNotNull,
                      lit(alpha * alpha) * (col("tcnt") / col("ctxcnt")))
                    .when(col("bcnt").isNotNull,
                      lit(alpha * alpha * alpha) *
                        (col("bcnt") / col("pcnt")))
                    .otherwise(
                      lit(alpha * alpha * alpha * alpha) * col("p1"))
                base4
                  .join(fg5, Seq("p4", "p3", "p2", "prev", "tok"), "left")
                  .join(ctx4, Seq("p4", "p3", "p2", "prev"), "left")
                  .withColumn("p", when(col("pos") === 0, col("p1"))
                    .when(col("pos") === 1, interp)
                    .when(col("pos") === 2, chain3)
                    .when(col("pos") === 3, chain4)
                    .otherwise(chain5))
              }
            }
          }
        scored
          .groupBy(col("id"))
          .agg(count(lit(1)).as("n_tokens"),
            r6(avg(-log(col("p")))).as("nats"))
      }
    docs.select(col("id"))
      .join(sc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"), col("nats"))
  }

  /** q103: the served quality scorer under the gate — a pinned probe
    * batch (a corpus slice plus synthetic texts: one out-of-corpus
    * gibberish probe that must score near the OOV ceiling, one empty)
    * scored through [[serveSurprisal]]'s STORED artifact, while the
    * oracle re-derives the LM, the Laplace denominator, and every
    * probe's mean surprisal from the raw `documents` table. A wrong
    * stored count, a smoothing slip, or an OOV mishandled all
    * hash-mismatch.
    */
  private val q103 = Q(
    "q103_serve_surprisal",
    (s, d) => {
      import s.implicits._
      val corpus = t(s, d, "documents")
        .filter($"doc_id" % 100 === 7)
        .select($"doc_id".as("id"), $"text")
      val synth = Seq(
        (900000001L, "the quick brown fox and a zzgibberish qqparade"),
        (900000002L, "zzxqv wwyzk jjqrp"),
        (900000003L, "")).toDF("id", "text")
      serveSurprisal(s, d, corpus.unionByName(synth))
        .orderBy($"id")
    },
    Some(s"""
      WITH toks AS (SELECT unnest($toksSqlDuck) AS tok FROM documents),
      lm AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
      den AS (SELECT CAST(count(*) AS DOUBLE) +
                     CAST(count(DISTINCT tok) AS DOUBLE) + 1.0 AS denom
              FROM toks),
      probes AS (SELECT doc_id AS id, text FROM documents
                 WHERE doc_id % 100 = 7
                 UNION ALL
                 SELECT * FROM (VALUES
                   (CAST(900000001 AS BIGINT),
                    'the quick brown fox and a zzgibberish qqparade'),
                   (CAST(900000002 AS BIGINT), 'zzxqv wwyzk jjqrp'),
                   (CAST(900000003 AS BIGINT), '')) v(id, text)),
      ptk AS (SELECT id, unnest($toksSqlDuck) AS tok FROM probes),
      sc AS (SELECT id, count(*) AS n_tokens,
               round(avg(-ln((coalesce(cnt, 0) + 1) /
                 (SELECT denom FROM den))), 6) AS nats
             FROM ptk LEFT JOIN lm USING (tok)
             GROUP BY id)
      SELECT p.id, CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
             sc.nats
      FROM probes p LEFT JOIN sc USING (id)
      ORDER BY id"""))

  /** q101: TF-IDF keyword extraction — the top-3 most characteristic
    * terms per document (term frequency × inverse document frequency,
    * the standing relevance weight BM25 smooths), for a deterministic
    * document slice. Ranking happens on the ROUNDED score (r6) with
    * the term as tie-break, so both engines rank identical values —
    * raw-double ordering would let a ULP of `ln` flip two near-equal
    * ranks.
    *
    * Scale shape: df is one corpus-wide map-side-combinable aggregate
    * over distinct (doc, term) pairs; N is the 1-row scalar; tf is
    * computed over the SLICE only (filter before the explode — the
    * window ranks slice×terms, never the corpus); the df join
    * broadcasts under AQE while the vocabulary fits.
    */
  private val q101 = Q(
    "q101_tfidf_keywords",
    (s, d) => {
      import s.implicits._
      val docs = spread(t(s, d, "documents"))
      // cached: the token stream feeds THREE readers (document
      // frequency, the corpus doc count, per-doc term frequency) —
      // uncached the corpus would be scanned + tokenized three times
      val toks = docs.select($"doc_id", explode(expr(toksExpr)).as("term"))
        .cache()
      val df = toks.distinct()
        .groupBy($"term").agg(count(lit(1)).as("df"))
      // the doc count rides the plan as a broadcast 1-row aggregate
      // (the oracle's scalar subquery), not a driver-blocking count()
      // job over a separate tokenize pass
      val nd = toks.agg(
        countDistinct($"doc_id").cast("double").as("n_docs"))
      val tf = toks.filter($"doc_id" % 25 === 0)
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val scored = tf.join(df, "term")
        .crossJoin(broadcast(nd))
        .withColumn("score",
          r6($"tf" * log($"n_docs" / $"df")))
      scored
        .withColumn("rank", row_number().over(
          Window.partitionBy($"doc_id")
            .orderBy($"score".desc, $"term")).cast("long"))
        .filter($"rank" <= 3)
        .select($"doc_id", $"rank", $"term", $"score")
        .orderBy($"doc_id", $"rank")
    },
    Some(s"""
      WITH toks AS (SELECT doc_id, unnest($toksSqlDuck) AS term
                    FROM documents),
      df AS (SELECT term, count(*) AS df
             FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
      n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs
            FROM toks),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
             WHERE doc_id % 25 = 0 GROUP BY doc_id, term),
      sc AS (SELECT doc_id, term,
               round(tf * ln((SELECT n_docs FROM n) / df), 6) AS score
             FROM tf JOIN df USING (term)),
      rk AS (SELECT doc_id, term, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, term) AS rank
             FROM sc)
      SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, score
      FROM rk WHERE rank <= 3
      ORDER BY doc_id, rank"""))

  /** The curation FUNNEL — the composition a corpus-curation user
    * actually runs: every document flows through the five standard
    * gates in order (language-ID = 'en' → composite quality ≥ 0.5 →
    * bigram repetition < 0.2 → PII-free → exact-dup keeper), and the
    * report is the cumulative survivor count per stage — the
    * "where did my corpus go" table that decides which gate to retune.
    * Each gate reuses the exact q50/q51/q54/q55/q30 arithmetic
    * (identical rounding, identical NULL routes), so the funnel is an
    * oracle-checked integration test of the text tier's composability,
    * not new scoring logic.
    *
    * Scale shape: flags are row-local single-pass except the bigram
    * aggregate (docs × distinct-bigram shuffle, as q54) and the
    * exact-dup keeper (one fingerprint groupBy + broadcast-ready
    * join, as q30); the funnel itself is ONE global aggregate row
    * unpivoted with stack() — no per-stage scans.
    */
  private val q65 = Q(
    "q65_curation_funnel",
    (s, d) => {
      import s.implicits._
      val base = spread(t(s, d, "documents"))
        .withColumn("toks", expr(toksExpr))
        .withColumn("s_en", expr(
          "size(filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'in')))"))
        .withColumn("s_es", expr(
          "size(filter(toks, x -> x IN ('el', 'la', 'de', 'que', 'y')))"))
        .withColumn("s_de", expr(
          "size(filter(toks, x -> x IN ('der', 'die', 'und', 'das', 'ist')))"))
        .withColumn("s_fr", expr(
          "size(filter(toks, x -> x IN ('le', 'les', 'et', 'des', 'un')))"))
        .withColumn("pred", expr(
          """CASE WHEN s_es > greatest(s_en, s_de, s_fr) THEN 'es'
                  WHEN s_de > greatest(s_en, s_fr) THEN 'de'
                  WHEN s_fr > s_en THEN 'fr'
                  ELSE 'en' END"""))
        .withColumn("n_toks", size($"toks").cast("long"))
        .withColumn("n_stop", expr(
          "size(filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'in', 'to')))").cast("long"))
        .withColumn("avg_tok_len", r4(
          expr("aggregate(toks, cast(0 as bigint), (acc, x) -> acc + length(x))") /
            greatest($"n_toks", lit(1L))))
        .withColumn("stop_ratio", r4($"n_stop" / greatest($"n_toks", lit(1L))))
        .withColumn("score", r4(
          least($"n_toks" / lit(100.0), lit(1.0)) * 0.5 +
            (lit(1.0) - $"stop_ratio") * 0.3 +
            least($"avg_tok_len" / lit(10.0), lit(1.0)) * 0.2))
        .withColumn("n_pii", expr(
          """size(regexp_extract_all(lower(text), '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', 0)) +
             size(regexp_extract_all(lower(text), 'https?://[^\\s]+', 0)) +
             size(regexp_extract_all(lower(text), '\\+[0-9][0-9() -]{7,}[0-9]', 0))"""))
        .withColumn("fp", md5(lower(trim($"text"))))
        .cache()  // feeds the keeper groupBy AND the flags join —
                  // uncached, the regex-dense scoring pass runs twice
      val rep = spread(t(s, d, "documents"))
        .select($"doc_id", expr(toksExpr).as("toks"))
        .filter(size($"toks") >= 2)
        .select($"doc_id", explode(expr(
          """transform(sequence(1, size(toks)-1),
               i -> concat_ws(' ', slice(toks, i, 2)))""")).as("bg"))
        .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(r4(max($"c") / sum($"c")).as("rep_ratio"))
      val keepers = base.groupBy($"fp").agg(min($"doc_id").as("keeper"))
      val flags = base
        .join(rep, Seq("doc_id"), "left")
        .join(keepers, Seq("fp"))
        .select(
          ($"pred" === "en").as("f1"),
          ($"score" >= 0.5).as("f2"),
          (coalesce($"rep_ratio", lit(0.0)) < 0.2).as("f3"),
          ($"n_pii" === 0).as("f4"),
          ($"doc_id" === $"keeper").as("f5"))
      flags.agg(
          count(lit(1)).as("c0"),
          sum(when($"f1", 1L).otherwise(0L)).as("c1"),
          sum(when($"f1" && $"f2", 1L).otherwise(0L)).as("c2"),
          sum(when($"f1" && $"f2" && $"f3", 1L).otherwise(0L)).as("c3"),
          sum(when($"f1" && $"f2" && $"f3" && $"f4", 1L).otherwise(0L)).as("c4"),
          sum(when($"f1" && $"f2" && $"f3" && $"f4" && $"f5", 1L).otherwise(0L)).as("c5"))
        .selectExpr("""stack(6,
            '0_all', c0, '1_lang_en', c1, '2_quality', c2,
            '3_low_repetition', c3, '4_pii_free', c4,
            '5_exact_dedup', c5) AS (stage, n_kept)""")
        .orderBy($"stage")
    },
    Some(raw"""
      WITH base AS (SELECT doc_id, text, $toksSqlDuck AS toks FROM documents),
      sc AS (SELECT doc_id, text, toks,
               len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'in')))  AS s_en,
               len(list_filter(toks, x -> x IN ('el', 'la', 'de', 'que', 'y')))   AS s_es,
               len(list_filter(toks, x -> x IN ('der', 'die', 'und', 'das', 'ist'))) AS s_de,
               len(list_filter(toks, x -> x IN ('le', 'les', 'et', 'des', 'un'))) AS s_fr,
               CAST(len(toks) AS BIGINT) AS n_toks,
               CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'in', 'to'))) AS BIGINT) AS n_stop,
               round(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT)))
                     / greatest(len(toks), 1), 4) AS avg_tok_len,
               len(regexp_extract_all(lower(text), '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) +
               len(regexp_extract_all(lower(text), 'https?://[^\s]+')) +
               len(regexp_extract_all(lower(text), '\+[0-9][0-9() -]{7,}[0-9]')) AS n_pii,
               md5(lower(trim(text))) AS fp
             FROM base),
      sc2 AS (SELECT *,
                CASE WHEN s_es > greatest(s_en, s_de, s_fr) THEN 'es'
                     WHEN s_de > greatest(s_en, s_fr) THEN 'de'
                     WHEN s_fr > s_en THEN 'fr'
                     ELSE 'en' END AS pred,
                round(n_stop / greatest(n_toks, 1), 4) AS stop_ratio
              FROM sc),
      sc3 AS (SELECT *,
                round(least(n_toks / 100.0, 1.0) * 0.5 + (1.0 - stop_ratio) * 0.3
                      + least(avg_tok_len / 10.0, 1.0) * 0.2, 4) AS score
              FROM sc2),
      bg AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks), 1)),
               i -> array_to_string(list_slice(toks, i, i+1), ' '))) AS bg
             FROM base WHERE len(toks) >= 2),
      bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
      rep AS (SELECT doc_id, round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS rep_ratio
              FROM bc GROUP BY doc_id),
      keep AS (SELECT fp, min(doc_id) AS keeper FROM sc3 GROUP BY fp),
      flags AS (SELECT (sc3.pred = 'en') AS f1,
                       (sc3.score >= 0.5) AS f2,
                       (coalesce(rep.rep_ratio, 0.0) < 0.2) AS f3,
                       (sc3.n_pii = 0) AS f4,
                       (sc3.doc_id = keep.keeper) AS f5
                FROM sc3
                LEFT JOIN rep ON sc3.doc_id = rep.doc_id
                JOIN keep ON sc3.fp = keep.fp),
      agg AS (SELECT count(*) AS c0,
                CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                CAST(sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
                CAST(sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
                CAST(sum(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
                CAST(sum(CASE WHEN f1 AND f2 AND f3 AND f4 AND f5 THEN 1 ELSE 0 END) AS BIGINT) AS c5
              FROM flags)
      SELECT stage, n_kept FROM (
        SELECT '0_all' AS stage, c0 AS n_kept FROM agg
        UNION ALL SELECT '1_lang_en', c1 FROM agg
        UNION ALL SELECT '2_quality', c2 FROM agg
        UNION ALL SELECT '3_low_repetition', c3 FROM agg
        UNION ALL SELECT '4_pii_free', c4 FROM agg
        UNION ALL SELECT '5_exact_dedup', c5 FROM agg)
      ORDER BY stage"""))

  /** Cross-modal curation manifest — the composition a multimodal
    * training-mix assembler runs: the text tier's language gate joined
    * doc-for-doc with the REAL media decode over the stored
    * [[Multimodal.MediaLake]] lake, rolled up per (source, media kind):
    * docs, English docs, total frames, total media bytes — the numbers
    * that size a per-source multimodal training mix. Scale shape: the
    * decode is the q60 row-local map; the join is a doc_id equi-join of
    * two n-sized tables (bucketable/colocatable at scale); the rollup
    * is a map-side-combinable agg over |sources|×|kinds| groups. The
    * oracle derives every media field arithmetically from the id (the
    * fixture is deterministic), so a decoder misreading a header, or
    * the join dropping a doc, breaks the hash.
    */
  private val q66 = Q(
    "q66_crossmodal_manifest",
    (s, d) => {
      import s.implicits._
      import Multimodal.{MediaLake, MediaRecord, RealDecoders}
      val meta = MediaLake.table(s, d)
        .select($"doc_id", $"blob").as[MediaRecord]
        .mapPartitions(_.map { rec =>
          val (kind, m) = RealDecoders.decodePpm(rec).map(("ppm", _))
            .orElse(RealDecoders.decodeWav(rec).map(("wav", _)))
            .orElse(RealDecoders.decodePng(rec).map(("png", _)))
            .orElse(RealDecoders.decodeJpeg(rec).map(("jpeg", _)))
            .getOrElse(("raw", RealDecoders.opaque(rec)))
          (rec.doc_id, kind, m.byte_len, m.n_frames)
        }).toDF("doc_id", "kind", "media_bytes", "n_frames")
      val lang = t(s, d, "documents")
        .withColumn("toks", expr(toksExpr))
        .withColumn("s_en", expr(
          "size(filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'in')))"))
        .withColumn("s_es", expr(
          "size(filter(toks, x -> x IN ('el', 'la', 'de', 'que', 'y')))"))
        .withColumn("s_de", expr(
          "size(filter(toks, x -> x IN ('der', 'die', 'und', 'das', 'ist')))"))
        .withColumn("s_fr", expr(
          "size(filter(toks, x -> x IN ('le', 'les', 'et', 'des', 'un')))"))
        .withColumn("is_en", expr(
          """CASE WHEN s_es > greatest(s_en, s_de, s_fr) THEN false
                  WHEN s_de > greatest(s_en, s_fr) THEN false
                  WHEN s_fr > s_en THEN false
                  ELSE true END"""))
        .select($"doc_id", $"source", $"is_en")
      lang.join(meta, "doc_id")
        .groupBy($"source", $"kind")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"is_en", 1L).otherwise(0L)).as("n_en"),
          sum($"n_frames").cast("long").as("sum_frames"),
          sum($"media_bytes").cast("long").as("sum_media_bytes"))
        .orderBy($"source", $"kind")
    },
    Some(s"""
      WITH sc AS (
        SELECT doc_id, source,
          len(list_filter($toksSqlDuck, x -> x IN ('the', 'a', 'of', 'and', 'in')))  AS s_en,
          len(list_filter($toksSqlDuck, x -> x IN ('el', 'la', 'de', 'que', 'y')))   AS s_es,
          len(list_filter($toksSqlDuck, x -> x IN ('der', 'die', 'und', 'das', 'ist'))) AS s_de,
          len(list_filter($toksSqlDuck, x -> x IN ('le', 'les', 'et', 'des', 'un'))) AS s_fr
        FROM documents),
      lang AS (SELECT doc_id, source,
                 CASE WHEN s_es > greatest(s_en, s_de, s_fr) THEN false
                      WHEN s_de > greatest(s_en, s_fr) THEN false
                      WHEN s_fr > s_en THEN false
                      ELSE true END AS is_en
               FROM sc),
      mm AS (SELECT doc_id,
               CASE doc_id % 4 WHEN 0 THEN 'ppm' WHEN 1 THEN 'wav'
                               WHEN 2 THEN 'png' ELSE 'jpeg' END AS kind,
               CASE doc_id % 4
                    -- ppm dims scale under the resize-injection rule
                    -- (ids ≡ 12 mod 20 are 2× upscales of id−8)
                    WHEN 0 THEN 9 + length(CAST((${Multimodal.ppmScaleSql}) * (1 + (${Multimodal.ppmEffSql}) % 47) AS VARCHAR))
                           + length(CAST((${Multimodal.ppmScaleSql}) * (1 + (${Multimodal.ppmEffSql}) % 19) AS VARCHAR))
                           + (${Multimodal.ppmScaleSql}) * (${Multimodal.ppmScaleSql})
                             * (1 + (${Multimodal.ppmEffSql}) % 47) * (1 + (${Multimodal.ppmEffSql}) % 19) * 3
                    WHEN 1 THEN 44 + (10 + doc_id % 50) * (1 + doc_id % 3) * 2
                    -- PNG: 8 sig + 25 IHDR + (12 + zlib payload) + 12
                    -- IEND, where the zlib stream wraps the filtered
                    -- raster h·(1+3w) in one stored block (+11 framing)
                    WHEN 2 THEN 57 + 11 + (1 + doc_id % 29) * (1 + 3 * (1 + doc_id % 53))
                    -- JPEG: 174 fixed bytes (SOI + JFIF APP0 + DQT +
                    -- 2×DHT + DRI + 3-component SOF + SOS + EOI) +
                    -- the entropy scan: 4:4:4 = 6 bytes/MCU + 2-byte
                    -- RST between MCUs (8·nb − 2); the 4:2:0 sub-tier
                    -- (eff % 3 = 1) = 12 bytes/MCU + RSTs (14·nmcu −
                    -- 2); the PROGRESSIVE sub-tier (eff % 3 = 2) adds
                    -- three 10-byte AC SOS headers and swaps the scan
                    -- layout (DC 5·nb − 2, each AC band 3·nb − 2) →
                    -- 196 + 14·nb — and its SUCCESSIVE-APPROXIMATION
                    -- half (eff % 8 = 7) carries a one-byte-longer DC
                    -- table plus eight scans (DC first 5·nb − 2, DC
                    -- refine 3·nb − 2, six AC band scans 3·nb − 2
                    -- each) → 233 + 26·nb; dims from the EFFECTIVE id
                    -- the 4:2:2 half of the subsampled tier
                    -- (eff % 8 = 7) = 8 bytes/MCU over 16×8 MCUs +
                    -- RSTs → 172 + 10·nmcu
                    ELSE CASE WHEN (${Multimodal.jpegEffSql}) % 3 = 1
                           AND (${Multimodal.jpegEffSql}) % 8 = 7
                      THEN 172 + 10 * (((1 + (${Multimodal.jpegEffSql}) % 61 + 15)//16)
                                       * ((1 + (${Multimodal.jpegEffSql}) % 37 + 7)//8))
                      WHEN (${Multimodal.jpegEffSql}) % 3 = 1
                      THEN 172 + 14 * (((1 + (${Multimodal.jpegEffSql}) % 61 + 15)//16)
                                       * ((1 + (${Multimodal.jpegEffSql}) % 37 + 15)//16))
                      WHEN (${Multimodal.jpegEffSql}) % 3 = 2
                           AND (${Multimodal.jpegEffSql}) % 8 = 7
                      THEN 233 + 26 * (((1 + (${Multimodal.jpegEffSql}) % 61 + 7)//8)
                                      * ((1 + (${Multimodal.jpegEffSql}) % 37 + 7)//8))
                      WHEN (${Multimodal.jpegEffSql}) % 3 = 2
                      THEN 196 + 14 * (((1 + (${Multimodal.jpegEffSql}) % 61 + 7)//8)
                                      * ((1 + (${Multimodal.jpegEffSql}) % 37 + 7)//8))
                      ELSE 172 + 8 * (((1 + (${Multimodal.jpegEffSql}) % 61 + 7)//8)
                                      * ((1 + (${Multimodal.jpegEffSql}) % 37 + 7)//8))
                    END
               END AS media_bytes,
               CASE WHEN doc_id % 4 = 1 THEN 10 + doc_id % 50 ELSE 1 END AS n_frames
             FROM documents)
      SELECT l.source, m.kind, count(*) AS n_docs,
             CAST(sum(CASE WHEN l.is_en THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
             CAST(sum(m.n_frames) AS BIGINT) AS sum_frames,
             CAST(sum(m.media_bytes) AS BIGINT) AS sum_media_bytes
      FROM lang l JOIN mm m ON l.doc_id = m.doc_id
      GROUP BY 1, 2
      ORDER BY 1, 2"""))

  /** q92: Unicode NFC normalization (UAX #15) — the standard
    * pre-tokenization stage: visually identical strings with different
    * code-point sequences must fingerprint/dedup/tokenize identically,
    * so a pipeline normalizes BEFORE q30/q53's hashing and the BPE
    * surfaces. Spark side is the engine's native codegen'd
    * [[graft.functions.NfcNormalize]] expression; the oracle is
    * DuckDB's `nfc_normalize` — two independent UAX #15
    * implementations hash-compared byte for byte. The probe batch
    * carries the denormalized cases the (ASCII) corpus can't: combining
    * accents, a combining ring, decomposed Hangul jamo, and composed
    * fixed points; `n_in`/`n_out` pin the code-point contraction and
    * `unchanged` the fixed-point behavior.
    */
  private val q92 = Q(
    "q92_nfc_normalize",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.GraftShims
      val norm = GraftShims.toColumn(
        graft.functions.NfcNormalize(GraftShims.toExpression($"text")))
      val corpus = t(s, d, "documents")
        .filter($"doc_id" % 100 === 3)
        .select($"doc_id".as("id"), $"text")
      // explicit escapes: the denormalized probes MUST stay the
      // DECOMPOSED sequences (an editor re-composing the source
      // literal would silently hollow out the test)
      val probes = Seq(
        (900000001L, "e\u0301le\u0301phant"), // e + COMBINING ACUTE x2
        (900000002L, "A\u030A ring"), // A + COMBINING RING ABOVE
        (900000003L, "\u1100\u1161\u11A8"), // decomposed Hangul jamo
        (900000004L, "composed \u00E9\u00C5 stays"), // NFC fixed point
        (900000005L, "plain ascii"),
        (900000006L, "")).toDF("id", "text")
      corpus.unionByName(probes)
        .select($"id",
          md5(norm).as("norm_hash"),
          length($"text").cast("long").as("n_in"),
          length(norm).cast("long").as("n_out"),
          ($"text" === norm).as("unchanged"))
        .orderBy($"id")
    },
    Some(s"""
      WITH probes AS (
        SELECT doc_id AS id, text FROM documents WHERE doc_id % 100 = 3
        UNION ALL
        SELECT * FROM (VALUES
          (CAST(900000001 AS BIGINT),
           'e' || chr(769) || 'le' || chr(769) || 'phant'),
          (CAST(900000002 AS BIGINT), 'A' || chr(778) || ' ring'),
          (CAST(900000003 AS BIGINT), chr(4352) || chr(4449) || chr(4520)),
          (CAST(900000004 AS BIGINT),
           'composed ' || chr(233) || chr(197) || ' stays'),
          (CAST(900000005 AS BIGINT), 'plain ascii'),
          (CAST(900000006 AS BIGINT), '')) v(id, text))
      SELECT id, md5(nfc_normalize(text)) AS norm_hash,
             CAST(length(text) AS BIGINT) AS n_in,
             CAST(length(nfc_normalize(text)) AS BIGINT) AS n_out,
             (text = nfc_normalize(text)) AS unchanged
      FROM probes
      ORDER BY id"""))

  /** q107: the order-2 (bigram) served scorer under the gate — q103's
    * pinned probe recipe through `serveSurprisal(order = 2)`: a corpus
    * slice, the OOV/empty probes, plus a SCRAMBLED-stopword probe
    * (fluent unigrams, improbable transitions — what order 1 cannot
    * see), while the oracle re-derives the unigram LM, the bigram
    * counts, the Laplace denominator, and the Jelinek-Mercer
    * interpolation per token position from raw `documents`. A wrong
    * stored bigram count, a λ slip, or a first-token/OOV-prev route
    * mishandled all hash-mismatch.
    */
  private val q107 = Q(
    "q107_serve_bigram_surprisal",
    (s, d) => {
      import s.implicits._
      val corpus = t(s, d, "documents")
        .filter($"doc_id" % 100 === 7)
        .select($"doc_id".as("id"), $"text")
      val synth = Seq(
        (900000001L, "the quick brown fox and a zzgibberish qqparade"),
        (900000002L, "zzxqv wwyzk jjqrp"),
        (900000003L, ""),
        (900000004L, "and the of a in the and of the a")).toDF("id", "text")
      serveSurprisal(s, d, corpus.unionByName(synth), order = 2)
        .orderBy($"id")
    },
    Some(s"""
      WITH toks AS (SELECT $toksSqlDuck AS toks FROM documents),
      ut AS (SELECT unnest(toks) AS tok FROM toks),
      lm AS (SELECT tok, count(*) AS cnt FROM ut GROUP BY tok),
      den AS (SELECT CAST(count(*) AS DOUBLE) +
                     CAST(count(DISTINCT tok) AS DOUBLE) + 1.0 AS denom
              FROM ut),
      bx AS (SELECT unnest(range(1, len(toks))) AS i, toks
             FROM toks WHERE len(toks) >= 2),
      bg AS (SELECT toks[i] AS prev, toks[i + 1] AS tok, count(*) AS bcnt
             FROM bx GROUP BY 1, 2),
      probes AS (SELECT doc_id AS id, text FROM documents
                 WHERE doc_id % 100 = 7
                 UNION ALL
                 SELECT * FROM (VALUES
                   (CAST(900000001 AS BIGINT),
                    'the quick brown fox and a zzgibberish qqparade'),
                   (CAST(900000002 AS BIGINT), 'zzxqv wwyzk jjqrp'),
                   (CAST(900000003 AS BIGINT), ''),
                   (CAST(900000004 AS BIGINT),
                    'and the of a in the and of the a')) v(id, text)),
      ptk0 AS (SELECT id, $toksSqlDuck AS toks FROM probes),
      pe AS (SELECT id, unnest(range(1, len(toks) + 1)) AS pos, toks
             FROM ptk0),
      pe2 AS (SELECT id, pos, toks[pos] AS tok,
                CASE WHEN pos > 1 THEN toks[pos - 1] END AS prev
              FROM pe),
      psc AS (SELECT id, pos,
                (coalesce(l.cnt, 0) + 1) / (SELECT denom FROM den) AS p1,
                CASE WHEN pl.cnt IS NULL THEN 0.0
                     ELSE coalesce(bg.bcnt, 0) / pl.cnt END AS bterm
              FROM pe2 LEFT JOIN lm l ON pe2.tok = l.tok
                       LEFT JOIN lm pl ON pe2.prev = pl.tok
                       LEFT JOIN bg ON pe2.prev = bg.prev
                                   AND pe2.tok = bg.tok),
      sc AS (SELECT id, count(*) AS n_tokens,
               round(avg(-ln(CASE WHEN pos = 1 THEN p1
                 ELSE CAST(${tuning.lmLambda} AS DOUBLE) * bterm +
                      CAST(${1.0 - tuning.lmLambda} AS DOUBLE) * p1 END)), 6) AS nats
             FROM psc GROUP BY id)
      SELECT p.id, CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
             sc.nats
      FROM probes p LEFT JOIN sc USING (id)
      ORDER BY id"""))

  /** q110: the order-3 (trigram, stupid-backoff) served scorer under
    * the gate — q107's probe recipe through `serveSurprisal(order =
    * 3)` plus a TRIGRAM-scramble probe (every adjacent pair corpus-
    * frequent, the triples improbable — what order 2 cannot see),
    * while the oracle re-derives unigrams, bigrams, trigrams, the
    * Laplace denominator, and the full backoff chain per token
    * position from raw `documents`. A wrong stored trigram count, an
    * α slip, or a backoff route mishandled all hash-mismatch.
    */
  private val q110 = Q(
    "q110_serve_trigram_surprisal",
    (s, d) => {
      import s.implicits._
      val corpus = t(s, d, "documents")
        .filter($"doc_id" % 100 === 7)
        .select($"doc_id".as("id"), $"text")
      val synth = Seq(
        (900000001L, "the quick brown fox and a zzgibberish qqparade"),
        (900000002L, "zzxqv wwyzk jjqrp"),
        (900000003L, ""),
        (900000004L, "and the of a in the and of the a"),
        (900000005L, "of the of the of the of")).toDF("id", "text")
      serveSurprisal(s, d, corpus.unionByName(synth), order = 3)
        .orderBy($"id")
    },
    Some(s"""
      WITH toks AS (SELECT $toksSqlDuck AS toks FROM documents),
      ut AS (SELECT unnest(toks) AS tok FROM toks),
      lm AS (SELECT tok, count(*) AS cnt FROM ut GROUP BY tok),
      den AS (SELECT CAST(count(*) AS DOUBLE) +
                     CAST(count(DISTINCT tok) AS DOUBLE) + 1.0 AS denom
              FROM ut),
      bx AS (SELECT unnest(range(1, len(toks))) AS i, toks
             FROM toks WHERE len(toks) >= 2),
      bg AS (SELECT toks[i] AS prev, toks[i + 1] AS tok, count(*) AS bcnt
             FROM bx GROUP BY 1, 2),
      tx AS (SELECT unnest(range(1, len(toks) - 1)) AS i, toks
             FROM toks WHERE len(toks) >= 3),
      tg AS (SELECT toks[i] AS p2, toks[i + 1] AS prev,
               toks[i + 2] AS tok, count(*) AS tcnt
             FROM tx GROUP BY 1, 2, 3),
      probes AS (SELECT doc_id AS id, text FROM documents
                 WHERE doc_id % 100 = 7
                 UNION ALL
                 SELECT * FROM (VALUES
                   (CAST(900000001 AS BIGINT),
                    'the quick brown fox and a zzgibberish qqparade'),
                   (CAST(900000002 AS BIGINT), 'zzxqv wwyzk jjqrp'),
                   (CAST(900000003 AS BIGINT), ''),
                   (CAST(900000004 AS BIGINT),
                    'and the of a in the and of the a'),
                   (CAST(900000005 AS BIGINT),
                    'of the of the of the of')) v(id, text)),
      ptk0 AS (SELECT id, $toksSqlDuck AS toks FROM probes),
      pe AS (SELECT id, unnest(range(1, len(toks) + 1)) AS pos, toks
             FROM ptk0),
      pe2 AS (SELECT id, pos, toks[pos] AS tok,
                CASE WHEN pos > 1 THEN toks[pos - 1] END AS prev,
                CASE WHEN pos > 2 THEN toks[pos - 2] END AS p2
              FROM pe),
      psc AS (SELECT id, pos,
                (coalesce(l.cnt, 0) + 1) / (SELECT denom FROM den) AS p1,
                CASE WHEN pl.cnt IS NULL THEN 0.0
                     ELSE coalesce(bg.bcnt, 0) / pl.cnt END AS bterm,
                pl.cnt AS pcnt, bg.bcnt AS bcnt,
                tg.tcnt AS tcnt, cx.bcnt AS ctxcnt
              FROM pe2 LEFT JOIN lm l ON pe2.tok = l.tok
                       LEFT JOIN lm pl ON pe2.prev = pl.tok
                       LEFT JOIN bg ON pe2.prev = bg.prev
                                   AND pe2.tok = bg.tok
                       LEFT JOIN tg ON pe2.p2 = tg.p2
                                   AND pe2.prev = tg.prev
                                   AND pe2.tok = tg.tok
                       LEFT JOIN bg cx ON pe2.p2 = cx.prev
                                      AND pe2.prev = cx.tok),
      sc AS (SELECT id, count(*) AS n_tokens,
               round(avg(-ln(CASE WHEN pos = 1 THEN p1
                 WHEN pos = 2 THEN
                   CAST(${tuning.lmLambda} AS DOUBLE) * bterm +
                   CAST(${1.0 - tuning.lmLambda} AS DOUBLE) * p1
                 ELSE CASE
                   WHEN tcnt IS NOT NULL THEN tcnt / ctxcnt
                   WHEN bcnt IS NOT NULL THEN
                     CAST(${tuning.lmAlpha} AS DOUBLE) * (bcnt / pcnt)
                   ELSE CAST(${tuning.lmAlpha * tuning.lmAlpha} AS DOUBLE) * p1
                 END END)), 6) AS nats
             FROM psc GROUP BY id)
      SELECT p.id, CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
             sc.nats
      FROM probes p LEFT JOIN sc USING (id)
      ORDER BY id"""))

  /** q111: the order-5 (fivegram, stupid-backoff — the CCNet/KenLM
    * standard quality-filter order) served scorer under the gate —
    * q110's probe recipe through `serveSurprisal(order = 5)`, while
    * the oracle re-derives all five n-gram tables, the Laplace
    * denominator, and the full five-route backoff chain per token
    * position from raw `documents`. A wrong stored 4/5-gram count, an
    * α-power slip, or a route mishandled at any position all
    * hash-mismatch.
    */
  private val q111 = Q(
    "q111_serve_fivegram_surprisal",
    (s, d) => {
      import s.implicits._
      val corpus = t(s, d, "documents")
        .filter($"doc_id" % 100 === 7)
        .select($"doc_id".as("id"), $"text")
      val synth = Seq(
        (900000001L, "the quick brown fox and a zzgibberish qqparade"),
        (900000002L, "zzxqv wwyzk jjqrp"),
        (900000003L, ""),
        (900000004L, "and the of a in the and of the a"),
        (900000005L, "of the of the of the of")).toDF("id", "text")
      serveSurprisal(s, d, corpus.unionByName(synth), order = 5)
        .orderBy($"id")
    },
    Some(s"""
      WITH toks AS (SELECT $toksSqlDuck AS toks FROM documents),
      ut AS (SELECT unnest(toks) AS tok FROM toks),
      lm AS (SELECT tok, count(*) AS cnt FROM ut GROUP BY tok),
      den AS (SELECT CAST(count(*) AS DOUBLE) +
                     CAST(count(DISTINCT tok) AS DOUBLE) + 1.0 AS denom
              FROM ut),
      bx AS (SELECT unnest(range(1, len(toks))) AS i, toks
             FROM toks WHERE len(toks) >= 2),
      bg AS (SELECT toks[i] AS prev, toks[i + 1] AS tok, count(*) AS bcnt
             FROM bx GROUP BY 1, 2),
      tx AS (SELECT unnest(range(1, len(toks) - 1)) AS i, toks
             FROM toks WHERE len(toks) >= 3),
      tg AS (SELECT toks[i] AS p2, toks[i + 1] AS prev,
               toks[i + 2] AS tok, count(*) AS tcnt
             FROM tx GROUP BY 1, 2, 3),
      fx AS (SELECT unnest(range(1, len(toks) - 2)) AS i, toks
             FROM toks WHERE len(toks) >= 4),
      fg AS (SELECT toks[i] AS p3, toks[i + 1] AS p2, toks[i + 2] AS prev,
               toks[i + 3] AS tok, count(*) AS f4cnt
             FROM fx GROUP BY 1, 2, 3, 4),
      vx AS (SELECT unnest(range(1, len(toks) - 3)) AS i, toks
             FROM toks WHERE len(toks) >= 5),
      vg AS (SELECT toks[i] AS p4, toks[i + 1] AS p3, toks[i + 2] AS p2,
               toks[i + 3] AS prev, toks[i + 4] AS tok, count(*) AS f5cnt
             FROM vx GROUP BY 1, 2, 3, 4, 5),
      probes AS (SELECT doc_id AS id, text FROM documents
                 WHERE doc_id % 100 = 7
                 UNION ALL
                 SELECT * FROM (VALUES
                   (CAST(900000001 AS BIGINT),
                    'the quick brown fox and a zzgibberish qqparade'),
                   (CAST(900000002 AS BIGINT), 'zzxqv wwyzk jjqrp'),
                   (CAST(900000003 AS BIGINT), ''),
                   (CAST(900000004 AS BIGINT),
                    'and the of a in the and of the a'),
                   (CAST(900000005 AS BIGINT),
                    'of the of the of the of')) v(id, text)),
      ptk0 AS (SELECT id, $toksSqlDuck AS toks FROM probes),
      pe AS (SELECT id, unnest(range(1, len(toks) + 1)) AS pos, toks
             FROM ptk0),
      pe2 AS (SELECT id, pos, toks[pos] AS tok,
                CASE WHEN pos > 1 THEN toks[pos - 1] END AS prev,
                CASE WHEN pos > 2 THEN toks[pos - 2] END AS p2,
                CASE WHEN pos > 3 THEN toks[pos - 3] END AS p3,
                CASE WHEN pos > 4 THEN toks[pos - 4] END AS p4
              FROM pe),
      psc AS (SELECT id, pos,
                (coalesce(l.cnt, 0) + 1) / (SELECT denom FROM den) AS p1,
                CASE WHEN pl.cnt IS NULL THEN 0.0
                     ELSE coalesce(bg.bcnt, 0) / pl.cnt END AS bterm,
                pl.cnt AS pcnt, bg.bcnt AS bcnt,
                tg.tcnt AS tcnt, cx.bcnt AS ctxcnt,
                fg.f4cnt AS f4cnt, cx3.tcnt AS ctx3cnt,
                vg.f5cnt AS f5cnt, cx4.f4cnt AS ctx4cnt
              FROM pe2 LEFT JOIN lm l ON pe2.tok = l.tok
                       LEFT JOIN lm pl ON pe2.prev = pl.tok
                       LEFT JOIN bg ON pe2.prev = bg.prev
                                   AND pe2.tok = bg.tok
                       LEFT JOIN tg ON pe2.p2 = tg.p2
                                   AND pe2.prev = tg.prev
                                   AND pe2.tok = tg.tok
                       LEFT JOIN bg cx ON pe2.p2 = cx.prev
                                      AND pe2.prev = cx.tok
                       LEFT JOIN fg ON pe2.p3 = fg.p3
                                   AND pe2.p2 = fg.p2
                                   AND pe2.prev = fg.prev
                                   AND pe2.tok = fg.tok
                       LEFT JOIN tg cx3 ON pe2.p3 = cx3.p2
                                       AND pe2.p2 = cx3.prev
                                       AND pe2.prev = cx3.tok
                       LEFT JOIN vg ON pe2.p4 = vg.p4
                                   AND pe2.p3 = vg.p3
                                   AND pe2.p2 = vg.p2
                                   AND pe2.prev = vg.prev
                                   AND pe2.tok = vg.tok
                       LEFT JOIN fg cx4 ON pe2.p4 = cx4.p3
                                       AND pe2.p3 = cx4.p2
                                       AND pe2.p2 = cx4.prev
                                       AND pe2.prev = cx4.tok),
      sc AS (SELECT id, count(*) AS n_tokens,
               round(avg(-ln(CASE WHEN pos = 1 THEN p1
                 WHEN pos = 2 THEN
                   CAST(${tuning.lmLambda} AS DOUBLE) * bterm +
                   CAST(${1.0 - tuning.lmLambda} AS DOUBLE) * p1
                 WHEN pos = 3 THEN CASE
                   WHEN tcnt IS NOT NULL THEN tcnt / ctxcnt
                   WHEN bcnt IS NOT NULL THEN
                     CAST(${tuning.lmAlpha} AS DOUBLE) * (bcnt / pcnt)
                   ELSE CAST(${tuning.lmAlpha * tuning.lmAlpha} AS DOUBLE) * p1
                 END
                 WHEN pos = 4 THEN CASE
                   WHEN f4cnt IS NOT NULL THEN f4cnt / ctx3cnt
                   WHEN tcnt IS NOT NULL THEN
                     CAST(${tuning.lmAlpha} AS DOUBLE) * (tcnt / ctxcnt)
                   WHEN bcnt IS NOT NULL THEN
                     CAST(${tuning.lmAlpha * tuning.lmAlpha} AS DOUBLE) *
                       (bcnt / pcnt)
                   ELSE CAST(${tuning.lmAlpha * tuning.lmAlpha *
                     tuning.lmAlpha} AS DOUBLE) * p1
                 END
                 ELSE CASE
                   WHEN f5cnt IS NOT NULL THEN f5cnt / ctx4cnt
                   WHEN f4cnt IS NOT NULL THEN
                     CAST(${tuning.lmAlpha} AS DOUBLE) * (f4cnt / ctx3cnt)
                   WHEN tcnt IS NOT NULL THEN
                     CAST(${tuning.lmAlpha * tuning.lmAlpha} AS DOUBLE) *
                       (tcnt / ctxcnt)
                   WHEN bcnt IS NOT NULL THEN
                     CAST(${tuning.lmAlpha * tuning.lmAlpha *
                       tuning.lmAlpha} AS DOUBLE) * (bcnt / pcnt)
                   ELSE CAST(${tuning.lmAlpha * tuning.lmAlpha *
                     tuning.lmAlpha * tuning.lmAlpha} AS DOUBLE) * p1
                 END END)), 6) AS nats
             FROM psc GROUP BY id)
      SELECT p.id, CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
             sc.nats
      FROM probes p LEFT JOIN sc USING (id)
      ORDER BY id"""))

  val all: Seq[Q] = Seq(q50, q51, q52, q53, q54, q55, q56, q65, q66, q92,
    q99, q100, q101, q103, q107, q110, q111)
}

object TextOps {
  /** The process-default instance (the [[graft.QRegistry.default]]
    * rationale) backing the static serving face.
    */
  lazy val default = new TextOps(graft.config.Tuning.current)

  /** LM-artifact observability counter (the [[Bpe.shardBuilds]]
    * pattern): incremented only when THIS process performs the build —
    * the spec hook proving replay is a no-op.
    */
  private[operators] val lmBuilds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** DML observability twins ([[Bpe.shardAdds]] pattern): segments
    * installed / generations folded, incremented only when THIS
    * process performed the install.
    */
  private[operators] val lmAdds =
    new java.util.concurrent.atomic.AtomicInteger(0)
  private[operators] val lmCompactions =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Static face of the streaming curation gates — session-default
    * knobs; tuned pipelines call the instance method.
    */
  def curateStream(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    default.curateStream(docs)

  /** Knob-free default registry slice, for callers composing `all`
    * without a tuning instance.
    */
  lazy val all: Seq[Q] = default.all
}
