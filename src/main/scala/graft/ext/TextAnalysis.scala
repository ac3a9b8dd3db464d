package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.QueryDef

/** Text-analysis operators over the `documents` table (SURVEY §2.9
  * extended surface): language ID, quality scoring, token counting,
  * deterministic document fingerprinting.
  *
  * Design rules for oracle parity:
  *  - the scoring lexicons/formulae are generated ONCE in Scala and
  *    rendered into both the Spark expression and the DuckDB SQL, so the
  *    two sides cannot drift;
  *  - ratios of integers are left UNROUNDED: both engines perform the
  *    same IEEE double division on the same ints, so results are
  *    bit-identical (rounding could only introduce half-even/half-up
  *    divergence);
  *  - everything is a narrow per-row projection — no shuffle, scales
  *    linearly at 100 TB.
  */
object TextAnalysis {

  /** Per-language marker-word lexicons (sorted langs = deterministic
    * argmax tie-break order). A tiny stopword-hit heuristic, not a real
    * model — the point is the distributed plumbing and the mirrored
    * deterministic scoring. */
  private val lexicons: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "en" -> Seq("the", "a", "and", "of", "is"),
    "es" -> Seq("el", "la", "de", "que", "es"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "zh" -> Seq("的", "是", "了", "在", "有"))

  private val langs = lexicons.map(_._1)

  /** Argmax over hit counts with ties broken by lang order; identical
    * CASE text on both engines. */
  private val predCase: String = {
    val arms = langs.init.zipWithIndex.map { case (l, i) =>
      val geAll = langs.drop(i + 1).map(r => s"h_$l >= h_$r").mkString(" AND ")
      s"WHEN $geAll THEN '$l'"
    }
    s"CASE ${arms.mkString(" ")} ELSE '${langs.last}' END"
  }

  /** t01 — n-gram/stopword language ID. */
  val langId: QueryDef = {
    val sparkHits = lexicons.map { case (l, ws) =>
      val arr = ws.map(w => s"'$w'").mkString(", ")
      s"size(filter(split(text, ' '), t -> array_contains(array($arr), t))) AS h_$l"
    }
    val duckHits = lexicons.map { case (l, ws) =>
      val arr = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(string_split(text, ' '), t -> list_contains([$arr], t))) AS INTEGER) AS h_$l"
    }
    QueryDef(
      "t01_lang_id",
      (s, d) =>
        Tables.documents(s, d)
          .selectExpr(Seq("doc_id", "lang") ++ sparkHits: _*)
          .selectExpr(Seq("doc_id", "lang", s"$predCase AS pred_lang") ++
            langs.map(l => s"h_$l"): _*)
          .withColumn("is_correct", col("pred_lang") === col("lang"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang, $predCase AS pred_lang,
               ${langs.map(l => s"h_$l").mkString(", ")},
               pred_lang = lang AS is_correct
               FROM (SELECT doc_id, lang, ${duckHits.mkString(", ")}
                     FROM documents)
               ORDER BY doc_id"""))
  }

  /** t37 — McNemar's paired-classifier test on the language-ID task
    * (McNemar, Psychometrika 12, 1947; Dietterich, Neural Computation
    * 1998 established it as THE test for comparing two classifiers on
    * the SAME examples — independent-sample tests like ml10's Welch
    * are wrong here because the per-doc outcomes are paired):
    * classifier A = t01's lexicon argmax, classifier B = the
    * majority-class baseline (predict `en` always), truth = the lang
    * column. Only the DISCORDANT pairs matter: b = A right & B wrong,
    * c = A wrong & B right, χ² = (b−c)²/(b+c).
    *
    * Determinism: FULLY integer — the verdict is the cross-multiplied
    * exact inequality (b−c)²·10⁴ > 38416·(b+c) (χ²₀.₀₅,₁ = 3.8416),
    * and the reported χ² is an exact 10⁻⁶ integer ratio; no doubles
    * anywhere.
    *
    * Scale shape: ONE per-row scoring scan (the same in-row lexicon
    * filters as t01) → a 1-row agg. */
  val mcnemarLangId: QueryDef = {
    val sparkHits = lexicons.map { case (l, ws) =>
      val arr = ws.map(w => s"'$w'").mkString(", ")
      s"size(filter(split(text, ' '), t -> array_contains(array($arr), t))) AS h_$l"
    }
    val duckHits = lexicons.map { case (l, ws) =>
      val arr = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(string_split(text, ' '), t -> list_contains([$arr], t))) AS INTEGER) AS h_$l"
    }
    QueryDef(
      "t37_mcnemar_langid",
      (s, d) =>
        Tables.documents(s, d)
          .selectExpr(Seq("lang") ++ sparkHits: _*)
          .selectExpr("lang", s"$predCase AS pred_a", "'en' AS pred_b")
          .selectExpr(
            "IF(pred_a = lang AND pred_b != lang, 1L, 0L) AS is_b",
            "IF(pred_a != lang AND pred_b = lang, 1L, 0L) AS is_c",
            "IF(pred_a = lang, 1L, 0L) AS a_ok",
            "IF(pred_b = lang, 1L, 0L) AS b_ok")
          .agg(count(lit(1)).as("n_docs"), sum(col("a_ok")).as("n_a_correct"),
            sum(col("b_ok")).as("n_b_correct"), sum(col("is_b")).as("b"),
            sum(col("is_c")).as("c"))
          .withColumn("chi2_e6",
            expr("(1000000 * (b - c) * (b - c)) DIV (b + c)"))
          .withColumn("reject_h0",
            expr("(b - c) * (b - c) * 10000 > 38416 * (b + c)")),
      Some(s"""WITH scored AS (
                 SELECT lang, $predCase AS pred_a, 'en' AS pred_b
                 FROM (SELECT lang, ${duckHits.mkString(", ")}
                       FROM documents)),
               agg AS (
                 SELECT count(*) AS n_docs,
                   CAST(sum(CASE WHEN pred_a = lang THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_a_correct,
                   CAST(sum(CASE WHEN pred_b = lang THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_b_correct,
                   CAST(sum(CASE WHEN pred_a = lang AND pred_b != lang
                     THEN 1 ELSE 0 END) AS BIGINT) AS b,
                   CAST(sum(CASE WHEN pred_a != lang AND pred_b = lang
                     THEN 1 ELSE 0 END) AS BIGINT) AS c
                 FROM scored)
               SELECT n_docs, n_a_correct, n_b_correct, b, c,
                 (1000000 * (b - c) * (b - c)) // (b + c) AS chi2_e6,
                 (b - c) * (b - c) * 10000 > 38416 * (b + c) AS reject_h0
               FROM agg"""))
  }

  /** t38 — Cohen's kappa for the language-ID classifier (Cohen,
    * Educational and Psychological Measurement 20(1), 1960:
    * chance-corrected agreement κ = (p₀−pₑ)/(1−pₑ) — raw accuracy p₀
    * flatters any classifier on a skewed label mix (en is 44% of the
    * fixture), κ subtracts what marginal-matching chance alone would
    * score; t37's McNemar asks "is A better than B", κ asks "is A
    * better than chance"; Landis & Koch 1977 bands read the value).
    *
    * Determinism: FULLY integer — p₀ and pₑ come from exact confusion
    * counts; pₑ's numerator Σ_l row_l·col_l lives on the label-DOMAIN
    * frame (full-outer of the two marginals, zero-filled), and κ is
    * the sign-split exact ratio (10⁶·(n·diag − Σrc)) / (n² − Σrc)
    * (n²·10⁶ < 2⁶³ to ~3·10⁶ docs; the DECIMAL widening path beyond).
    * No doubles anywhere.
    *
    * Scale shape: ONE scoring scan → the ≤|langs|² confusion census;
    * marginals and the two scalars are bounded-frame algebra. */
  val cohensKappa: QueryDef = {
    val sparkHits = lexicons.map { case (l, ws) =>
      val arr = ws.map(w => s"'$w'").mkString(", ")
      s"size(filter(split(text, ' '), t -> array_contains(array($arr), t))) AS h_$l"
    }
    val duckHits = lexicons.map { case (l, ws) =>
      val arr = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(string_split(text, ' '), t -> list_contains([$arr], t))) AS INTEGER) AS h_$l"
    }
    def kappaExpr(div: String): String =
      "CASE WHEN 1000000 * (n_docs * n_agree - src) >= 0 " +
        s"THEN (1000000 * (n_docs * n_agree - src)) $div (n_docs * n_docs - src) " +
        s"ELSE -((-(1000000 * (n_docs * n_agree - src))) $div (n_docs * n_docs - src)) END"
    QueryDef(
      "t38_cohens_kappa",
      (s, d) => {
        val census = Tables.documents(s, d)
          .selectExpr(Seq("lang") ++ sparkHits: _*)
          .selectExpr("lang", s"$predCase AS pred")
          .groupBy("lang", "pred").agg(count(lit(1)).as("c"))
        val rows = census.groupBy("lang").agg(sum(col("c")).as("row_t"))
        val cols = census.groupBy("pred").agg(sum(col("c")).as("col_t"))
        val src = rows.join(cols, col("lang") === col("pred"), "full")
          .select(coalesce(col("row_t"), lit(0L)).as("row_t"),
            coalesce(col("col_t"), lit(0L)).as("col_t"))
          .agg(sum(expr("row_t * col_t")).as("src"))
        census
          .agg(sum(col("c")).as("n_docs"),
            sum(when(col("lang") === col("pred"), col("c")).otherwise(0L))
              .as("n_agree"))
          .crossJoin(broadcast(src))
          .selectExpr("n_docs", "n_agree",
            "(1000000 * n_agree) DIV n_docs AS po_ppm",
            "(1000000 * src) DIV (n_docs * n_docs) AS pe_ppm",
            s"${kappaExpr("DIV")} AS kappa_e6")
      },
      Some(s"""WITH scored AS (
                 SELECT lang, $predCase AS pred
                 FROM (SELECT lang, ${duckHits.mkString(", ")}
                       FROM documents)),
               census AS (
                 SELECT lang, pred, CAST(count(*) AS BIGINT) AS c
                 FROM scored GROUP BY 1, 2),
               r AS (SELECT lang, CAST(sum(c) AS BIGINT) AS row_t
                     FROM census GROUP BY 1),
               co AS (SELECT pred, CAST(sum(c) AS BIGINT) AS col_t
                      FROM census GROUP BY 1),
               srcf AS (
                 SELECT CAST(sum(coalesce(row_t, 0) * coalesce(col_t, 0))
                   AS BIGINT) AS src
                 FROM r FULL OUTER JOIN co ON r.lang = co.pred),
               tot AS (
                 SELECT CAST(sum(c) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN lang = pred THEN c ELSE 0 END)
                     AS BIGINT) AS n_agree
                 FROM census)
               SELECT n_docs, n_agree,
                 (1000000 * n_agree) // n_docs AS po_ppm,
                 (1000000 * src) // (n_docs * n_docs) AS pe_ppm,
                 ${kappaExpr("//")} AS kappa_e6
               FROM tot CROSS JOIN srcf"""))
  }

  /** t39 — degenerate-repetition (loop) detector: the smallest period
    * p ∈ {1..4} such that the document's LAST 12 tokens are p-periodic
    * (tail[p+1..12] == tail[1..12−p] — the slice-shift identity), else
    * 0. Neural text degenerates into short loops under greedy/low-temp
    * decoding (Holtzman et al., "The curious case of neural text
    * degeneration", ICLR 2020 §3 documents the repetition failure;
    * production filters drop looping tails before training on model
    * output). Census per (lang, period).
    *
    * Determinism: pure in-row array algebra — two slices compared per
    * candidate period, smallest-p-wins CASE; docs shorter than the
    * window report period 0 (can't loop in-window by construction).
    *
    * Scale shape: narrow per-row projection + one (lang, period) hash
    * agg; nothing shuffles but the ≤5×5 census. */
  val loopDetection: QueryDef = {
    val w = 12
    def armSpark(p: Int) =
      s"WHEN slice(tail, ${p + 1}, ${w - p}) = slice(tail, 1, ${w - p}) THEN $p"
    def armDuck(p: Int) =
      s"WHEN tail[${p + 1}:$w] = tail[1:${w - p}] THEN $p"
    val caseSpark = (1 to 4).map(armSpark)
      .mkString("CASE ", " ", " ELSE 0 END")
    val caseDuck = (1 to 4).map(armDuck)
      .mkString("CASE ", " ", " ELSE 0 END")
    QueryDef(
      "t39_loop_detection",
      (s, d) =>
        Tables.documents(s, d)
          .selectExpr("lang", "split(text, ' ') AS t")
          .selectExpr("lang",
            s"IF(size(t) >= $w, slice(t, size(t) - ${w - 1}, $w), " +
              "CAST(array() AS ARRAY<STRING>)) AS tail")
          .selectExpr("lang",
            s"IF(size(tail) = $w, $caseSpark, 0) AS period")
          .groupBy("lang", "period")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "period"),
      Some(s"""WITH tl AS (
                 SELECT lang,
                   CASE WHEN len(t) >= $w
                     THEN t[len(t) - ${w - 1}:len(t)]
                     ELSE [] END AS tail
                 FROM (SELECT lang, string_split(text, ' ') AS t
                       FROM documents)),
               p AS (
                 SELECT lang,
                   CASE WHEN len(tail) = $w THEN $caseDuck
                     ELSE 0 END AS period
                 FROM tl)
               SELECT lang, CAST(period AS INTEGER) AS period,
                 count(*) AS n_docs
               FROM p GROUP BY 1, 2 ORDER BY 1, 2"""))
  }

  private val stopWords = Seq("the", "a", "and", "of", "in", "to", "is")
  private val punctClass = "[.,!?;:]"

  /** t02 — quality scoring: length, punctuation ratio, stopword ratio,
    * average token length. */
  val quality: QueryDef = {
    val stopArr = stopWords.map(w => s"'$w'").mkString(", ")
    QueryDef(
      "t02_quality_score",
      (s, d) =>
        Tables.documents(s, d)
          .selectExpr(
            "doc_id",
            "length(text) AS n_chars_txt",
            raw"size(split(trim(text), '\\s+')) AS n_tokens",
            s"length(text) - length(regexp_replace(text, '$punctClass', '')) AS n_punct",
            s"size(filter(split(text, ' '), t -> array_contains(array($stopArr), t))) AS n_stop")
          .selectExpr(
            "doc_id", "n_chars_txt", "n_tokens", "n_punct", "n_stop",
            "CAST(n_punct AS DOUBLE) / n_chars_txt AS punct_ratio",
            "CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio",
            "CAST(n_chars_txt - n_tokens + 1 AS DOUBLE) / n_tokens AS avg_token_len")
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, n_chars_txt, n_tokens, n_punct, n_stop,
               CAST(n_punct AS DOUBLE) / n_chars_txt AS punct_ratio,
               CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
               CAST(n_chars_txt - n_tokens + 1 AS DOUBLE) / n_tokens AS avg_token_len
               FROM (SELECT doc_id,
                 CAST(length(text) AS INTEGER) AS n_chars_txt,
                 CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
                 CAST(length(text) - length(regexp_replace(text, '$punctClass', '', 'g')) AS INTEGER) AS n_punct,
                 CAST(len(list_filter(string_split(text, ' '), t -> list_contains([$stopArr], t))) AS INTEGER) AS n_stop
                 FROM documents)
               ORDER BY doc_id"""))
  }

  /** t03 — token counting: whitespace tokens + a BPE-ish regex
    * tokenization (lowercase runs / capitalized runs / digit runs /
    * single punctuation). */
  val tokenCount: QueryDef = {
    // literal-space class, NOT \s: Spark's SQL string literals process
    // backslash escapes ('\s' → 's') while DuckDB's don't, so \s inside a
    // shared pattern string silently diverges between the two engines.
    val pat = "[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9 ]"
    QueryDef(
      "t03_token_count",
      (s, d) =>
        Tables.documents(s, d)
          .selectExpr(
            "doc_id",
            raw"size(split(trim(text), '\\s+')) AS n_ws_tokens",
            s"size(regexp_extract_all(text, '$pat', 0)) AS n_re_tokens",
            "length(text) AS n_chars_txt")
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '$pat', 0)) AS INTEGER) AS n_re_tokens,
               CAST(length(text) AS INTEGER) AS n_chars_txt
               FROM documents ORDER BY doc_id"""))
  }

  /** t04 — document fingerprint: rolling polynomial hash
    * acc ← (31·acc + codepoint) mod 1e9+7, folded left-to-right over the
    * characters on both engines (mod keeps the accumulator < 2^35 so the
    * DuckDB BIGINT never overflows and the Spark long math is exact).
    * Scope: ASCII text (the documents fixture) — Spark's split('')/ascii
    * walks UTF-16 chars while DuckDB walks codepoints, so astral-plane
    * input would diverge; Multimodal.decodeOne shows the codepoint-exact
    * variant. */
  val fingerprint: QueryDef = QueryDef(
    "t04_fingerprint",
    (s, d) =>
      Tables.documents(s, d)
        .selectExpr(
          "doc_id",
          "aggregate(split(text, ''), 0L, (acc, ch) -> (acc * 31 + ascii(ch)) % 1000000007) AS fp")
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
            list_reduce(
              list_prepend(CAST(0 AS BIGINT),
                list_transform(range(1, length(text) + 1),
                               i -> CAST(ascii(text[i]) AS BIGINT))),
              (acc, ch) -> (acc * 31 + ch) % 1000000007) AS fp
            FROM documents ORDER BY doc_id"""))

  /** t07 — exact-vocabulary TF-IDF. spark.ml's Tokenizer → HashingTF →
    * IDF chain hashes terms into engine-specific buckets, which no
    * oracle can mirror; this operator keeps the real vocabulary and
    * defines
    *   tfidf(doc, term) = tf · n_docs / df
    * (a linear IDF: one exact IEEE division, no ln/log — transcendental
    * functions are not correctly-rounded and could diverge between JVM
    * and C libm in the last ulp, which would break the hash-exact gate).
    * Output is the top-5 terms per doc by tfidf (ties broken by token),
    * one row per (doc, term) — no floating-point SUMs whose accumulation
    * order could differ between engines.
    *
    * Scale: tokenize → one hash agg for tf, a second (much smaller) agg
    * for df over the (doc, term) pairs, a broadcast 1-row corpus count,
    * an equi-join on term (broadcastable when the dictionary is bounded),
    * and a per-doc bounded window. No global sort, no all-pairs. */
  val tfidfExact: QueryDef = {
    val tfidfExpr = "CAST(tf * n_docs AS DOUBLE) / df"
    QueryDef(
      "t07_tfidf_exact",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tf = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .filter(col("token") =!= "")
          .groupBy("doc_id", "token")
          .agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("token"))
        tf.join(df, "token")
          .crossJoin(broadcast(nDocs))
          .withColumn("tfidf", expr(tfidfExpr))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select("doc_id", "token", "tf", "df", "tfidf")
          .orderBy("doc_id", "token")
      },
      Some(s"""WITH toks AS (
                 SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents
               ), tf AS (
                 SELECT doc_id, token, count(*) AS tf
                 FROM toks WHERE token <> '' GROUP BY 1, 2
               ), df AS (
                 SELECT token, count(*) AS df FROM tf GROUP BY 1
               ), n AS (SELECT count(*) AS n_docs FROM documents)
               SELECT doc_id, token, tf, df, tfidf FROM (
                 SELECT t.doc_id, t.token, t.tf, f.df,
                        $tfidfExpr AS tfidf,
                        row_number() OVER (PARTITION BY t.doc_id
                          ORDER BY $tfidfExpr DESC, t.token) AS rn
                 FROM tf t JOIN df f USING (token) CROSS JOIN n
               ) WHERE rn <= 5 ORDER BY doc_id, token"""))
  }

  /** t06 — corpus token-frequency table: explode tokens, global counts,
    * top-20 with deterministic tiebreak — the Zipf-profile op every
    * corpus pipeline starts with. Explode → hash-agg → top-k: at 100 TB
    * this is partial-aggregated per partition and TakeOrdered'd, never a
    * full sort. */
  val tokenFreq: QueryDef = QueryDef(
    "t06_token_freq",
    (s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20),
    Some("""SELECT token, count(*) AS n
            FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
            GROUP BY token ORDER BY n DESC, token LIMIT 20"""))

  /** PII patterns shared by [[redactPii]] and the t08 mirror: simple
    * character-class regexes only (no backreferences, no lookaround), the
    * syntax subset Java regex and DuckDB's RE2 interpret identically. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\+?[0-9][0-9-]{5,}[0-9]"

  /** PII redaction: emails then phones (email FIRST — its local/domain
    * digits would otherwise feed the phone pattern). Per-row projection,
    * shuffle-free, codegen'd — the scrubbing pass every corpus makes
    * before training. */
  def redactPii(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(c, lit(emailRe), lit("<EMAIL>")),
      lit(phoneRe), lit("<PHONE>"))

  /** t08 — PII redaction, oracle-exact. The documents fixture carries no
    * PII by construction, so the registered query plants a deterministic
    * contact trailer (derived from doc_id — NOT random) on every row and
    * then scrubs it; the op under test is the redaction expression, which
    * the spec additionally exercises on realistic standalone strings. */
  val piiRedact: QueryDef = {
    val dirtySpark =
      "concat(text, ' contact user', CAST(doc_id AS STRING), " +
        "'@mail.example.com or +1-202-555-', " +
        "lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))"
    val dirtyDuck =
      "concat(text, ' contact user', CAST(doc_id AS VARCHAR), " +
        "'@mail.example.com or +1-202-555-', " +
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))"
    QueryDef(
      "t08_pii_redact",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), expr(dirtySpark).as("dirty"))
          .select(
            col("doc_id"),
            redactPii(col("dirty")).as("clean"),
            regexp_count(col("dirty"), lit(emailRe)).as("n_emails"),
            regexp_count(
              regexp_replace(col("dirty"), lit(emailRe), lit("<EMAIL>")),
              lit(phoneRe)).as("n_phones"))
          .orderBy("doc_id"),
      Some(s"""WITH dirty AS (SELECT doc_id, $dirtyDuck AS dirty FROM documents)
               SELECT doc_id,
                 regexp_replace(regexp_replace(dirty, '$emailRe', '<EMAIL>', 'g'),
                   '$phoneRe', '<PHONE>', 'g') AS clean,
                 CAST(len(regexp_extract_all(dirty, '$emailRe')) AS INTEGER)
                   AS n_emails,
                 CAST(len(regexp_extract_all(
                   regexp_replace(dirty, '$emailRe', '<EMAIL>', 'g'),
                   '$phoneRe')) AS INTEGER) AS n_phones
               FROM dirty ORDER BY doc_id"""))
  }

  /** t09 — hapax (corpus-unique token) ratio per document: the fraction
    * of a document's distinct tokens that appear in NO other document.
    * A high hapax ratio flags gibberish/OCR noise (made-up tokens), a
    * near-zero one flags boilerplate — the corpus-level complement to
    * t02's within-document quality signals.
    *
    * Scale shape: distinct (doc, token) pairs → one corpus shuffle keyed
    * by token producing the vocabulary-sized `(token, df, only_doc)`
    * aggregate; hapax tokens carry their unique owner in `min(doc_id)`,
    * so attribution needs NO join back to the corpus — just a
    * vocabulary-sized regroup by owner and a per-doc equi-join of two
    * doc-count-sized relations. */
  val hapaxRatio: QueryDef = QueryDef(
    "t09_hapax_ratio",
    (s, d) => {
      val dt = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("tok"))
      val dfreq = dt.groupBy("tok")
        .agg(count(lit(1)).as("df"), min("doc_id").as("only_doc"))
      val hap = dfreq.filter(col("df") === 1)
        .groupBy(col("only_doc").as("doc_id"))
        .agg(count(lit(1)).as("n_hapax"))
      val per = dt.groupBy("doc_id").agg(count(lit(1)).as("n_distinct"))
      per.join(hap, Seq("doc_id"), "left")
        .withColumn("n_hapax", coalesce(col("n_hapax"), lit(0L)))
        .withColumn("hapax_ratio",
          col("n_hapax").cast("double") / col("n_distinct"))
        .orderBy("doc_id")
    },
    Some("""WITH dt AS (
              SELECT DISTINCT doc_id, tok FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents)),
            dfreq AS (
              SELECT tok, count(*) AS df, min(doc_id) AS only_doc
              FROM dt GROUP BY 1),
            hap AS (
              SELECT only_doc AS doc_id, count(*) AS n_hapax
              FROM dfreq WHERE df = 1 GROUP BY 1),
            per AS (
              SELECT doc_id, count(*) AS n_distinct FROM dt GROUP BY 1)
            SELECT p.doc_id, p.n_distinct,
              coalesce(h.n_hapax, 0) AS n_hapax,
              CAST(coalesce(h.n_hapax, 0) AS DOUBLE) / p.n_distinct
                AS hapax_ratio
            FROM per p LEFT JOIN hap h USING (doc_id)
            ORDER BY p.doc_id"""))

  /** t10 — corpus-commonness score: the mean corpus document-frequency
    * of a document's distinct word-3-grams. The third leg of the
    * quality battery — x08 measures WITHIN-doc repetition, t09 corpus
    * UNIQUENESS (gibberish flag), t10 corpus COMMONNESS (boilerplate /
    * template flag: docs built from grams that appear everywhere score
    * high). Integer sum over integer DFs, one final IEEE division —
    * oracle-exact.
    *
    * Scale shape: two gram-keyed corpus shuffles (DF aggregate +
    * join-back — the join-back is irreducible here because the score is
    * a mean over each doc's OWN grams' DFs) and one doc-keyed
    * aggregate; the DF relation is vocabulary-sized. */
  def gramCommonnessOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // fan-out + checkpoint (r15): the gram explode is the corpus-sized
    // CPU pass and it feeds TWO consumers (the DF aggregate and the
    // join-back) — Profile showed it running twice, single-task, 1.5 s
    // + 1.7 s of t10's 3.7 s total
    val sh = graft.core.Tables.fanOutForCpu(
        docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        explode(expr(s"array_distinct(${Dedup.shingleExpr("text")})"))
          .as("sh"))
      .localCheckpoint()
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    sh.join(dfreq, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum("df").as("sum_df"))
      .withColumn("mean_df",
        col("sum_df").cast("double") / col("n_grams"))
      .orderBy("doc_id")
  }

  val gramCommonness: QueryDef = QueryDef(
    "t10_gram_commonness",
    (s, d) => gramCommonnessOf(Tables.documents(s, d)),
    Some("""WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            sh AS (
              SELECT DISTINCT doc_id, array_to_string(t[i + 1:i + 3], ' ') AS sh
              FROM toks, unnest(range(0, greatest(len(t) - 2, 1))) AS u(i)),
            dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1)
            SELECT doc_id, count(*) AS n_grams,
              CAST(sum(df) AS BIGINT) AS sum_df,
              CAST(sum(df) AS DOUBLE) / count(*) AS mean_df
            FROM sh JOIN dfreq USING (sh)
            GROUP BY 1 ORDER BY 1"""))

  /** t11 — corpus-bigram fluency score: the mean conditional probability
    * P(w₂|w₁) of a document's word transitions under the corpus's own
    * bigram model. The perplexity-style fluency filter of a training
    * pipeline, WITHOUT the log: ln() is not bit-portable across engines,
    * and float sums are order-dependent — so each transition probability
    * is FIXED-POINT (×10⁹, integer DIV), the per-doc sum is a long (any
    * order), and the single final mean division is IEEE — oracle-exact.
    * Shuffled-word gibberish scores low, template/natural text high.
    *
    * Scale shape: bigram instances are a LINEAR explode; corpus model =
    * two vocabulary-keyed aggregates; scoring = one join-back on the
    * bigram key (irreducible — each doc is scored under the GLOBAL
    * model) + one doc-keyed aggregate. The model relation is
    * bigram-vocabulary-sized, not corpus-sized. */
  def bigramFluencyOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val bg = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i + 1] AS w2))"))
          .as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val model = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .withColumn("cu", sum("cb").over(
        org.apache.spark.sql.expressions.Window.partitionBy("w1")))
      .withColumn("p_fp", expr("(cb * 1000000000L) DIV cu"))
    bg.join(model.select("w1", "w2", "p_fp"), Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("p_fp").as("sum_p"))
      .withColumn("fluency",
        col("sum_p").cast("double") / col("n_bigrams"))
      .orderBy("doc_id")
  }

  val bigramFluency: QueryDef = QueryDef(
    "t11_bigram_fluency",
    (s, d) => bigramFluencyOf(Tables.documents(s, d)),
    Some("""WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            bg AS (
              SELECT doc_id, t[i + 1] AS w1, t[i + 2] AS w2
              FROM toks, unnest(range(0, len(t) - 1)) AS u(i)
              WHERE len(t) >= 2),
            model AS (
              SELECT w1, w2,
                (count(*) * 1000000000)
                  // (CAST(sum(count(*)) OVER (PARTITION BY w1) AS BIGINT)) AS p_fp
              FROM bg GROUP BY 1, 2)
            SELECT doc_id, count(*) AS n_bigrams,
              CAST(sum(p_fp) AS BIGINT) AS sum_p,
              CAST(sum(p_fp) AS DOUBLE) / count(*) AS fluency
            FROM bg JOIN model USING (w1, w2)
            GROUP BY 1 ORDER BY 1"""))

  /** t12 — encoding-quality signal (the mojibake / control-char gate a
    * web-scraped corpus runs before training): per source, how many
    * documents carry U+FFFD replacement characters (a decoder already
    * gave up), C0 control characters (binary bleed-through), or the
    * UTF-8-read-as-Latin-1 mojibake marker 'Ã' (U+00C3). The fixture is
    * clean by construction, so — t08's pattern — a deterministic
    * md5-selected ~25% of docs get a planted dirty trailer built from
    * `chr()` codepoints (identical on both engines), and the op under
    * test is the counting expressions: single-codepoint counts via
    * length-difference of replace(), the control CLASS via
    * regexp_replace with a character-class both Java regex and RE2 read
    * identically. Pure per-row projection + one source-keyed agg — at
    * 100 TB a map-side pass fused into the scan. */
  val encodingQuality: QueryDef = {
    // chr(195)='Ã' chr(169)='©' chr(7)=BEL — all < 256 so Spark's
    // mod-256 chr() and DuckDB's codepoint chr() agree; U+FFFD is out
    // of chr()'s shared range and rides as a string literal instead
    val repl = "'�'"
    def dirty(textExpr: String, hexFn: String) =
      s"CASE WHEN substring(md5($hexFn), 1, 1) < '4' " +
        s"THEN concat($textExpr, ' caf', chr(195), chr(169), $repl, chr(7)) " +
        s"ELSE $textExpr END"
    // C0 class [\x01-\x08\x0B\x0C\x0E-\x1F] assembled from chr() — a
    // backslash escape inside a SQL string literal parses differently
    // in Spark (Hive-style unescaping) vs DuckDB (none), so the class
    // uses no backslash at all; concat of literals constant-folds
    val ctrlClass = "concat('[', chr(1), '-', chr(8), chr(11), chr(12), " +
      "chr(14), '-', chr(31), ']')"
    def counts(d: String) = Seq(
      s"length($d) - length(replace($d, $repl, '')) AS n_repl",
      s"length($d) - length(regexp_replace($d, $ctrlClass, '')) AS n_ctrl",
      s"length($d) - length(replace($d, chr(195), '')) AS n_moji")
    QueryDef(
      "t12_encoding_quality",
      (s, d) => {
        val dirtyCol = dirty("text", "CAST(doc_id AS STRING)")
        Tables.documents(s, d)
          .selectExpr(Seq("doc_id", "source") ++ counts(dirtyCol): _*)
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("n_repl") + col("n_ctrl") + col("n_moji") > 0, 1L)
              .otherwise(0L)).as("n_dirty"),
            sum("n_repl").as("sum_repl"),
            sum("n_ctrl").as("sum_ctrl"),
            sum("n_moji").as("sum_moji"))
          .orderBy("source")
      },
      Some({
        val dirtyCol = dirty("text", "CAST(doc_id AS VARCHAR)")
        s"""WITH per_doc AS (
              SELECT doc_id, source, ${counts(dirtyCol).mkString(", ")}
              FROM documents)
            SELECT source, count(*) AS n_docs,
              CAST(sum(CASE WHEN n_repl + n_ctrl + n_moji > 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_dirty,
              CAST(sum(n_repl) AS BIGINT) AS sum_repl,
              CAST(sum(n_ctrl) AS BIGINT) AS sum_ctrl,
              CAST(sum(n_moji) AS BIGINT) AS sum_moji
            FROM per_doc GROUP BY 1 ORDER BY 1"""
      }))
  }

  /** t13 — Unicode NFC canonicalization (UAX #15) through the engine's
    * native `nfc_normalize` Expression (graft.expr.NfcNormalize —
    * codegen'd, no UDF): the pass that must run BEFORE any byte-defined
    * dedup/fingerprint stage, because composed (é = U+00E9) and
    * decomposed (e + U+0301) spellings hash apart while rendering
    * identically. The fixture is ASCII-clean, so t08's planting pattern
    * applies: a deterministic md5-selected ~25% of docs get a trailer
    * ending in a decomposed e-acute (the combining mark rides as a
    * shared string literal — it is outside chr()'s Spark/DuckDB common
    * range), and the op under test is normalize-then-measure: docs
    * changed by NFC and codepoints saved, per source. DuckDB's
    * `nfc_normalize` implements the same algorithm → oracle-exact.
    * Pure per-row projection + one bounded agg: map-only at 100 TB. */
  val nfcCanonicalize: QueryDef = {
    val combining = "\u0301"
    def dirty(hexFn: String) =
      s"CASE WHEN substring(md5($hexFn), 1, 1) < '4' " +
        s"THEN concat(text, ' cafe', '$combining') ELSE text END"
    def agg(nfcFn: String => String, d: String) = {
      val n = nfcFn(d)
      s"""WITH per_doc AS (
            SELECT source, length($d) AS len_raw, length($n) AS len_nfc,
                   $d <> $n AS changed
            FROM documents)
          SELECT source, count(*) AS n_docs,
            CAST(sum(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT)
              AS n_denorm,
            CAST(sum(len_raw - len_nfc) AS BIGINT) AS chars_saved
          FROM per_doc GROUP BY 1 ORDER BY 1"""
    }
    QueryDef(
      "t13_nfc_canonicalize",
      (s, d) => {
        graft.expr.NfcNormalize.register(s)
        s.sql(agg(x => s"nfc_normalize($x)",
            dirty("CAST(doc_id AS STRING)"))
          .replace("FROM documents", s"FROM parquet.`$d/documents.parquet`"))
      },
      Some(agg(x => s"nfc_normalize($x)", dirty("CAST(doc_id AS VARCHAR)"))))
  }

  /** The pinned t14 domain lexicons over the fixture vocabulary
    * (disjoint on purpose: a token votes for at most one domain). */
  val domainLexicons: Seq[(String, Seq[String])] = Seq(
    "compute" -> Seq("scan", "filter", "join", "agg", "group", "sort",
      "merge", "hash", "query"),
    "storage" -> Seq("table", "row", "column", "value", "key", "part"),
    "streaming" -> Seq("stream", "batch", "window", "spark"),
    "sizing" -> Seq("small", "big", "fast", "slow"))

  /** Core of t14 over an arbitrary documents frame: score each doc
    * against every lexicon (tokens with repetition hitting the set),
    * label with the argmax domain — deterministic (score DESC, domain
    * ASC) tiebreak, 'other' when nothing matches. The argmax never
    * leaves the row (a lexicon-count array sorted in place, not a
    * join/window), so classification is one narrow shuffle-free map. */
  def classifyDomains(docs: DataFrame): DataFrame = {
    val sparkScored = domainLexicons.map { case (name, kws) =>
      val arr = kws.map(k => s"'$k'").mkString("array(", ", ", ")")
      s"""struct(
            CAST(size(filter(t, w -> array_contains($arr, w))) AS BIGINT)
              AS score,
            '$name' AS domain)"""
    }.mkString("array(", ", ", ")")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), expr(
        s"""array_sort($sparkScored,
              (a, b) -> CASE WHEN a.score > b.score THEN -1
                             WHEN a.score < b.score THEN 1
                             WHEN a.domain < b.domain THEN -1
                             WHEN a.domain > b.domain THEN 1
                             ELSE 0 END)[0]""").as("best"))
      .select(col("doc_id"),
        when(col("best.score") > 0, col("best.domain"))
          .otherwise(lit("other")).as("domain"),
        col("best.score").as("score"))
  }

  /** t14 — keyword-lexicon domain/topic classification (the
    * routing/mixing signal in front of per-domain corpus budgets, as
    * t01 is for language; see [[classifyDomains]]). The lexicons are
    * pinned literals rendered into both engines — oracle-exact. */
  val domainClassify: QueryDef = {
    val duckValues = domainLexicons.map { case (name, kws) =>
      val arr = kws.map(k => s"'$k'").mkString("[", ", ", "]")
      s"('$name', $arr)"
    }.mkString(", ")
    QueryDef(
      "t14_domain_classify",
      (s, d) => classifyDomains(Tables.documents(s, d)).orderBy("doc_id"),
      Some(s"""WITH toks AS (
                 SELECT doc_id, string_split(text, ' ') AS t FROM documents),
               dom(domain, kws) AS (VALUES $duckValues),
               sc AS (
                 SELECT doc_id, domain,
                   CAST(len(list_filter(t, w -> list_contains(kws, w)))
                        AS BIGINT) AS score
                 FROM toks, dom),
               r AS (
                 SELECT doc_id, domain, score,
                   row_number() OVER (PARTITION BY doc_id
                     ORDER BY score DESC, domain) AS rn
                 FROM sc)
               SELECT doc_id,
                 CASE WHEN score > 0 THEN domain ELSE 'other' END AS domain,
                 score
               FROM r WHERE rn = 1 ORDER BY doc_id"""))
  }

  /** t15 — tokenizer vocabulary induction: the ranked token → id
    * mapping every tokenizer-training run starts from. Corpus token
    * counts, the top `vocabSize` by (count DESC, token ASC), contiguous
    * ids 0..V-1 in that order, plus each token's document frequency and
    * corpus share in parts-per-million (integer arithmetic — no
    * cross-engine float sums).
    *
    * Scale shape: the corpus-sized work is ONE hash aggregate on token
    * (map-side partial); the global (count, token) rank then runs over
    * the VOCABULARY, not the corpus — TakeOrderedAndProject prunes to
    * the top V per partition before a bounded single-partition
    * sort-limit, and the id-assigning window touches only those V rows
    * (documented bounded single-partition step, like x11's bucket-total
    * prefix). */
  val vocabBuild: QueryDef = {
    val vocabSize = 1000
    QueryDef(
      "t15_vocab_build",
      (s, d) => {
        // ONE corpus pass: the full token aggregate is LAZILY
        // checkpointed (vocabulary-sized, << corpus) and feeds both the
        // grand total and the top-V rank — not two scans of the corpus.
        // Lazy (not eager) so plan-only consumers (PlanDump,
        // PlanGuardSpec) don't pay a corpus aggregation at DataFrame-
        // construction time, and the bench times execution, not
        // construction; the checkpoint still materializes exactly once
        // when the first action runs.
        val countsAll = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("df"))
          .localCheckpoint(false)
        // grand total as a 1-row broadcast (t07/x09's idiom) instead of
        // a driver collect — the query stays lazily planned end to end.
        // Empty-corpus guard: sum over zero rows is NULL, and with zero
        // rows the ppm expression never evaluates, so any positive
        // placeholder divisor is safe.
        val totals = countsAll.agg(
          coalesce(sum(col("n")), lit(1L)).as("tot"))
        import org.apache.spark.sql.expressions.Window
        val byRank = Window.orderBy(col("n").desc, col("token"))
        countsAll
          .orderBy(col("n").desc, col("token"))
          .limit(vocabSize)
          .crossJoin(broadcast(totals))
          .withColumn("token_id",
            (row_number().over(byRank) - 1).cast("long"))
          .withColumn("ppm", expr("CAST(n * 1000000 DIV tot AS BIGINT)"))
          .select("token_id", "token", "n", "df", "ppm")
          .orderBy("token_id")
      },
      Some(s"""WITH toks AS (
                 SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents),
               tot AS (SELECT count(*) AS n_total FROM toks),
               counts AS (
                 SELECT token, count(*) AS n, count(DISTINCT doc_id) AS df
                 FROM toks GROUP BY token
                 ORDER BY n DESC, token LIMIT $vocabSize)
               SELECT CAST(row_number() OVER (ORDER BY n DESC, token) - 1
                      AS BIGINT) AS token_id,
                 token, n, df,
                 CAST(n * 1000000 // tot.n_total AS BIGINT) AS ppm
               FROM counts, tot ORDER BY token_id"""))
  }

  /** BPE merge-rule induction (Sennrich, Haddow & Birch, "Neural Machine
    * Translation of Rare Words with Subword Units", ACL 2016): `rounds`
    * iterations of count-adjacent-symbol-pairs → merge the most frequent
    * pair everywhere — the actual tokenizer-TRAINING step of an LLM data
    * pipeline (t15 stops at the frequency vocabulary).
    *
    * Representation: each word is its symbols joined by a DOUBLE space.
    * Applying merge (l, r) is then one non-overlapping left-to-right
    * string replace of ` l  r ` with ` lr ` on the `  `-padded word —
    * the single consumed space on each side restores the double-space
    * boundary invariant, so consecutive occurrences (`a b a b`) each
    * merge in one pass and overlapping ones (`a a a`) merge greedily
    * left-to-right, exactly BPE's semantics — and `replace` behaves
    * identically in Spark and DuckDB, which is what makes the unrolled-
    * CTE oracle bit-exact.
    *
    * Scale shape: ONE corpus-sized pass (the word-frequency aggregate,
    * map-side partial); the merge loop runs on the localCheckpointed
    * top-`vocabSize` word list — vocabulary-bounded, like t15's rank —
    * with one 1-row driver collect per round (the argmax pair). Pair
    * ties break by (freq DESC, l ASC, r ASC) in both engines. */
  /** The one corpus-sized pass under t16/t17: lowercase-alpha word
    * frequencies (map-side partial aggregate). */
  private[ext] def wordFreq(docs: DataFrame): DataFrame = docs
    .select(explode(split(col("text"), " ")).as("word"))
    .filter(col("word").rlike("^[a-z]+$"))
    .groupBy("word").agg(count(lit(1)).as("n"))

  /** Char-split a `word` column into the double-space symbol form. */
  private def symInit(c: org.apache.spark.sql.Column) =
    trim(regexp_replace(c, "(.)", "$1  "))

  /** Apply one learned merge to a `sym` column (the padded-replace
    * trick; see [[bpeMerges]]). */
  private def applyMerge(c: org.apache.spark.sql.Column, l: String, r: String) =
    trim(replace(concat(lit("  "), c, lit("  ")),
      lit(s" $l  $r "), lit(s" $l$r ")))

  /** Train merges from a (word, n) frequency frame; returns the rules
    * as driver values so callers can render them into encode
    * expressions. */
  def bpeMergesFromFreq(freq: DataFrame, vocabSize: Int,
      rounds: Int): Seq[(Long, String, String, Long)] = {
    val vocab = freq
      .orderBy(col("n").desc, col("word")).limit(vocabSize)
      .localCheckpoint()
    var words = vocab.select(symInit(col("word")).as("sym"), col("n"))
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var exhausted = false
    for (round <- 1 to rounds if !exhausted) {
      val best = words
        .select(expr("arrays_zip(slice(split(sym, '  '), 1, size(split(sym, '  ')) - 1), " +
          "slice(split(sym, '  '), 2, size(split(sym, '  ')) - 1))").as("ps"), col("n"))
        .select(explode(col("ps")).as("p"), col("n"))
        .groupBy(col("p.0").as("l"), col("p.1").as("r"))
        .agg(sum(col("n")).as("f"))
        .orderBy(col("f").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true // every word fully merged
      else {
        val (l, r, f) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((round.toLong, l, r, f))
        words = words.select(applyMerge(col("sym"), l, r).as("sym"), col("n"))
      }
    }
    merges.result()
  }

  def bpeMerges(docs: DataFrame, vocabSize: Int, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeMergesFromFreq(wordFreq(docs), vocabSize, rounds)
      .toDF("round", "left", "right", "freq").orderBy("round")
  }

  /** BPE ENCODING (t16's apply side): train `rounds` merges on the
    * top-`vocabSize` words, then tokenize the WHOLE alpha word stream
    * with them and report the top-`topN` subwords by weighted usage —
    * what the trained tokenizer actually does to the corpus, and the
    * sanity artifact (subword distribution) a tokenizer-training run
    * ships.
    *
    * Scale shape: ONE corpus pass (the shared word-frequency aggregate,
    * checkpointed, feeding both training and encoding); the learned
    * rules are driver values rendered as a chain of `rounds` literal
    * replaces — a narrow vocabulary-sized map, no shuffle until the
    * final subword aggregate (itself vocabulary-bounded). */
  def bpeEncodeFreq(docs: DataFrame, vocabSize: Int, rounds: Int,
      topN: Int): DataFrame = {
    val freq = wordFreq(docs).localCheckpoint()
    val merges = bpeMergesFromFreq(freq, vocabSize, rounds)
    val sym = merges.foldLeft(symInit(col("word"))) {
      case (c, (_, l, r, _)) => applyMerge(c, l, r)
    }
    import org.apache.spark.sql.expressions.Window
    val byUse = Window.orderBy(col("n").desc, col("subword"))
    freq.select(sym.as("sym"), col("n"))
      .select(explode(split(col("sym"), "  ")).as("subword"), col("n"))
      .groupBy("subword").agg(sum(col("n")).as("n"))
      .orderBy(col("n").desc, col("subword")).limit(topN)
      .withColumn("rank", row_number().over(byUse).cast("long"))
      .select("rank", "subword", "n")
      .orderBy("rank")
  }

  /** WITH-body fragment shared by t16/t17's oracles: `aw` (ALL alpha
    * word frequencies), `w0` (its top-`v` char-split), and the
    * `rounds`-deep training chain `p_k`/`b_k`/`w_k` (pair counts →
    * argmax merge → applied merge — the g01/g03 bounded-rounds
    * unrolled-CTE pattern). */
  private def bpeTrainSql(v: Int, rounds: Int): String = {
    val base =
      s"""aw AS (
            SELECT token AS word, CAST(count(*) AS BIGINT) AS n
            FROM (SELECT unnest(string_split(text, ' ')) AS token
                  FROM documents) t
            WHERE regexp_matches(token, '^[a-z]+${"$"}')
            GROUP BY 1),
          w0 AS (
            SELECT trim(regexp_replace(word, '(.)', '\\1  ', 'g')) AS sym, n
            FROM (SELECT word, n FROM aw ORDER BY n DESC, word LIMIT $v) v)"""
    val roundCtes = (1 to rounds).map { k =>
      s"""p$k AS (
            SELECT a[i] AS l, a[i + 1] AS r, n
            FROM (SELECT string_split(sym, '  ') AS a, n FROM w${k - 1}) s,
                 UNNEST(generate_series(1, len(a) - 1)) AS t(i)),
          b$k AS (
            SELECT l, r, CAST(sum(n) AS BIGINT) AS f
            FROM p$k GROUP BY 1, 2 ORDER BY f DESC, l, r LIMIT 1),
          w$k AS (
            SELECT trim(replace('  ' || sym || '  ',
                     ' ' || b.l || '  ' || b.r || ' ',
                     ' ' || b.l || b.r || ' ')) AS sym, n
            FROM w${k - 1}, b$k b)"""
    }.mkString(",\n")
    s"$base,\n$roundCtes"
  }

  /** t16 — registered BPE induction: top-200 words, 8 merge rounds,
    * mirrored in DuckDB as an unrolled CTE. */
  val bpeInduction: QueryDef = {
    val V = 200
    val R = 8
    val union = (1 to R)
      .map(k => s"SELECT CAST($k AS BIGINT) AS round, l AS \"left\", r AS \"right\", f AS freq FROM b$k")
      .mkString("\n UNION ALL ")
    QueryDef(
      "t16_bpe_induction",
      (s, d) => bpeMerges(Tables.documents(s, d), V, R),
      Some(s"WITH ${bpeTrainSql(V, R)}\n$union ORDER BY round"))
  }

  /** t17 — BPE encoding: the apply side of t16 as a registered query.
    * Trains the same 8 merges, tokenizes the FULL alpha word stream,
    * reports the top-100 subwords by weighted usage. The DuckDB mirror
    * re-derives the merges with t16's training chain and applies them
    * in a chained-CTE replace cascade over `aw` — bit-exact end to end
    * (training AND application both proved against the oracle). */
  val bpeEncode: QueryDef = {
    val V = 200
    val R = 8
    val topN = 100
    // each apply stage LEFT-joins its merge rule: if training exhausted
    // before round k (b_k empty — the case bpeMergesFromFreq's early
    // stop handles on the Spark side), the cross-join form would empty
    // the whole chain; the left join passes syms through unchanged
    val applyCtes =
      s"""a0 AS (
            SELECT trim(regexp_replace(word, '(.)', '\\1  ', 'g')) AS sym, n
            FROM aw),
""" +
      (1 to R).map { k =>
        s"""a$k AS (
              SELECT CASE WHEN b.l IS NULL THEN sym
                     ELSE trim(replace('  ' || sym || '  ',
                       ' ' || b.l || '  ' || b.r || ' ',
                       ' ' || b.l || b.r || ' ')) END AS sym, n
              FROM a${k - 1} LEFT JOIN b$k b ON TRUE)"""
      }.mkString(",\n")
    QueryDef(
      "t17_bpe_encode",
      (s, d) => bpeEncodeFreq(Tables.documents(s, d), V, R, topN),
      Some(s"""WITH ${bpeTrainSql(V, R)},
               $applyCtes,
               sub AS (
                 SELECT unnest(string_split(sym, '  ')) AS subword, n
                 FROM a$R),
               agg AS (
                 SELECT subword, CAST(sum(n) AS BIGINT) AS n
                 FROM sub GROUP BY 1
                 ORDER BY n DESC, subword LIMIT $topN)
               SELECT CAST(row_number() OVER (ORDER BY n DESC, subword)
                      AS BIGINT) AS rank,
                 subword, n
               FROM agg ORDER BY rank"""))
  }

  /** t18 — readability scoring (Flesch reading-ease + Flesch-Kincaid
    * grade, Kincaid et al. 1975): the document-level fluency gate
    * corpus pipelines run next to t02's surface-quality score. Words
    * are whitespace tokens, sentences are terminal-punctuation runs
    * (`[.!?]+`), syllables the standard vowel-group proxy — all three
    * INTEGER counts from one regex pass each, clamped ≥ 1 so the
    * ratios are total.
    *
    * Determinism: both formulas are literal-constant multiplies over
    * two exact integer divisions, built with the identical expression
    * tree in both engines — each IEEE op is correctly rounded, so the
    * doubles agree bit-for-bit before the final round(4).
    *
    * Scale shape: pure per-row projection — three codegen'd regex
    * counts, no shuffle but the output sort. At 100 TB this runs
    * entirely inside the scan stage. */
  val readability: QueryDef = QueryDef(
    "t18_readability",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr(raw"size(split(trim(text), '\\s+'))").cast("long").as("n_words"),
          greatest(lit(1L),
            expr("CAST(size(regexp_extract_all(text, '[.!?]+', 0)) AS BIGINT)"))
            .as("n_sentences"),
          greatest(lit(1L),
            expr("CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS BIGINT)"))
            .as("n_syllables"))
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"),
          round(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") /
              col("n_sentences").cast("double"))
            - lit(84.6) * (col("n_syllables").cast("double") /
              col("n_words").cast("double")), 4).as("flesch"),
          round(lit(0.39) * (col("n_words").cast("double") /
              col("n_sentences").cast("double"))
            + lit(11.8) * (col("n_syllables").cast("double") /
              col("n_words").cast("double"))
            - lit(15.59), 4).as("fk_grade"))
        .orderBy("doc_id"),
    Some(raw"""WITH c AS (
                SELECT doc_id,
                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                    AS n_words,
                  greatest(CAST(1 AS BIGINT),
                    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
                    AS n_sentences,
                  greatest(CAST(1 AS BIGINT),
                    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                      AS BIGINT)) AS n_syllables
                FROM documents)
              SELECT doc_id, n_words, n_sentences, n_syllables,
                round(206.835
                  - 1.015 * (CAST(n_words AS DOUBLE) /
                             CAST(n_sentences AS DOUBLE))
                  - 84.6 * (CAST(n_syllables AS DOUBLE) /
                            CAST(n_words AS DOUBLE)), 4) AS flesch,
                round(0.39 * (CAST(n_words AS DOUBLE) /
                              CAST(n_sentences AS DOUBLE))
                  + 11.8 * (CAST(n_syllables AS DOUBLE) /
                            CAST(n_words AS DOUBLE))
                  - 15.59, 4) AS fk_grade
              FROM c ORDER BY doc_id"""))

  /** t19 — lexical-diversity profile per document: type-token ratio,
    * Simpson's repeat rate D = Σf(f−1) / N(N−1) (the probability two
    * token draws are the same type), and Yule's K = 10⁴·(Σf²−N)/N² —
    * the standard length-robust vocabulary-richness statistics a
    * pretraining quality gate runs next to t02/t09 (templated or
    * looping documents score high K / high D; rich prose scores low).
    *
    * Determinism: every sufficient statistic (N, V, Σf²) is an exact
    * integer from one token-frequency aggregation; the two ratios are
    * single IEEE divisions of exact integers built with the identical
    * expression tree in both engines, then round(6)/round(4).
    *
    * Scale shape: explode → (doc, token) hash agg → (doc) hash agg —
    * two shuffles on keys that only ever grow with corpus size, never
    * with vocabulary skew (the inner key is (doc_id, tok), so one hot
    * token across many docs never concentrates on one reducer). The
    * doc text itself is dropped before the first shuffle. */
  val lexicalDiversity: QueryDef = QueryDef(
    "t19_lexical_diversity",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("f"))
        .groupBy("doc_id").agg(
          sum("f").as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(col("f") * col("f")).as("sum_f2"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          round(col("n_types").cast("double") /
            col("n_tokens").cast("double"), 6).as("ttr"),
          when(col("n_tokens") > 1,
            round((col("sum_f2") - col("n_tokens")).cast("double") /
              (col("n_tokens") * (col("n_tokens") - 1)).cast("double"), 6))
            .otherwise(lit(0.0)).as("simpson_d"),
          round(lit(10000.0) *
            ((col("sum_f2") - col("n_tokens")).cast("double") /
              (col("n_tokens") * col("n_tokens")).cast("double")), 4)
            .as("yule_k"))
        .orderBy("doc_id"),
    Some("""WITH tf AS (
              SELECT doc_id, tok, count(*) AS f FROM (
                SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                FROM documents)
              GROUP BY 1, 2),
            a AS (
              SELECT doc_id, CAST(sum(f) AS BIGINT) AS n_tokens,
                count(*) AS n_types, CAST(sum(f * f) AS BIGINT) AS sum_f2
              FROM tf GROUP BY 1)
            SELECT doc_id, n_tokens, n_types,
              round(CAST(n_types AS DOUBLE) /
                    CAST(n_tokens AS DOUBLE), 6) AS ttr,
              CASE WHEN n_tokens > 1 THEN
                round(CAST(sum_f2 - n_tokens AS DOUBLE) /
                      CAST(n_tokens * (n_tokens - 1) AS DOUBLE), 6)
              ELSE 0.0 END AS simpson_d,
              round(10000.0 *
                (CAST(sum_f2 - n_tokens AS DOUBLE) /
                 CAST(n_tokens * n_tokens AS DOUBLE)), 4) AS yule_k
            FROM a ORDER BY doc_id"""))

  /** t20 — RAKE keyword extraction (Rose et al., "Automatic Keyword
    * Extraction from Individual Documents", 2010): candidate phrases
    * are the maximal runs of tokens between stopword delimiters
    * (gaps-and-islands over the token stream — q50's idiom on text);
    * each word scores deg(w)/freq(w) within its document (deg = Σ
    * lengths of the doc's phrases containing w, freq = occurrence
    * count); a phrase scores the sum of its word scores; top-2
    * distinct phrases per document.
    *
    * Determinism: deg and freq are exact integers; the word score is
    * SCALED INTEGER division ((deg·1000) DIV freq — RAKE's ordering
    * is preserved, float never enters); ranking ties break on the
    * phrase string. Identical phrases within a doc collapse (their
    * scores are equal by construction) with an occurrence count.
    *
    * Scale shape: islands need ONE (doc-keyed) window over token
    * positions; word stats and phrase scores are (doc_id, tok)- and
    * (doc_id, island)-keyed hash aggs — every shuffle key contains
    * doc_id, so corpus growth adds reducers, never widens one. */
  val rakeKeywords: QueryDef = {
    val stop = Seq("the", "a", "of", "and", "in", "to", "is", "on",
      "for", "with")
    val stopSqlList = stop.map(w => s"'$w'").mkString(", ")
    QueryDef(
      "t20_rake_keywords",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
          .withColumn("is_stop", col("tok").isInCollection(stop))
        val words = toks.filter(!col("is_stop"))
          .withColumn("island",
            col("pos") - row_number().over(
              Window.partitionBy("doc_id").orderBy("pos")))
        val phrases = words.groupBy("doc_id", "island")
          .agg(count(lit(1)).as("len"),
            expr("array_join(transform(array_sort(collect_list(" +
              "struct(pos, tok))), x -> x.tok), ' ')").as("phrase"))
        val wordScore = words
          .join(phrases.select(col("doc_id"), col("island"), col("len")),
            Seq("doc_id", "island"))
          .groupBy("doc_id", "tok")
          .agg(sum("len").as("deg"), count(lit(1)).as("freq"))
          .select(col("doc_id"), col("tok"),
            expr("(deg * 1000) DIV freq").as("wscore"))
        val phraseScore = words
          .join(wordScore, Seq("doc_id", "tok"))
          .groupBy("doc_id", "island")
          .agg(sum("wscore").as("score"))
        val ranked = phrases
          .join(phraseScore, Seq("doc_id", "island"))
          .groupBy("doc_id", "phrase")
          .agg(max("len").as("n_words"), max("score").as("score"),
            count(lit(1)).as("n_occur"))
          .withColumn("rank", row_number().over(
            Window.partitionBy("doc_id")
              .orderBy(col("score").desc, col("phrase"))))
          .filter(col("rank") <= 2)
        ranked.select("doc_id", "rank", "phrase", "n_words", "score",
          "n_occur")
          .orderBy("doc_id", "rank")
      },
      Some(s"""WITH toks AS (
                 SELECT doc_id, i - 1 AS pos, t[i] AS tok
                 FROM (SELECT doc_id,
                         string_split(lower(text), ' ') AS t
                       FROM documents),
                   unnest(range(1, len(t) + 1)) AS u(i)),
               words AS (
                 SELECT doc_id, pos, tok,
                   pos - row_number() OVER (PARTITION BY doc_id
                     ORDER BY pos) AS island
                 FROM toks WHERE tok NOT IN ($stopSqlList)),
               phrases AS (
                 SELECT doc_id, island, count(*) AS len,
                   string_agg(tok, ' ' ORDER BY pos) AS phrase
                 FROM words GROUP BY 1, 2),
               wordscore AS (
                 SELECT w.doc_id, w.tok,
                   (CAST(sum(p.len) AS BIGINT) * 1000) // count(*) AS wscore
                 FROM words w
                 JOIN phrases p ON p.doc_id = w.doc_id
                   AND p.island = w.island
                 GROUP BY 1, 2),
               phrasescore AS (
                 SELECT w.doc_id, w.island,
                   CAST(sum(ws.wscore) AS BIGINT) AS score
                 FROM words w
                 JOIN wordscore ws ON ws.doc_id = w.doc_id
                   AND ws.tok = w.tok
                 GROUP BY 1, 2),
               dist AS (
                 SELECT p.doc_id, p.phrase,
                   CAST(max(p.len) AS BIGINT) AS n_words,
                   max(s.score) AS score, count(*) AS n_occur
                 FROM phrases p
                 JOIN phrasescore s ON s.doc_id = p.doc_id
                   AND s.island = p.island
                 GROUP BY 1, 2),
               ranked AS (
                 SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                     ORDER BY score DESC, phrase) AS INTEGER) AS rank
                 FROM dist)
               SELECT doc_id, rank, phrase, n_words, score, n_occur
               FROM ranked WHERE rank <= 2
               ORDER BY doc_id, rank"""))
  }

  /** t21 — language-ID evaluation harness: the confusion matrix of
    * t01's classifier against the corpus's labeled `lang` column, with
    * per-true-language recall — the classifier-quality report every
    * multilingual curation pipeline keeps next to the classifier itself
    * (s08/d17's harness idiom applied to lang ID). One row per
    * (true, predicted) cell.
    *
    * Determinism: cell counts are integers; recall is ONE division of
    * a cell count by the true-language total (a window over the ≤|langs|²
    * matrix, domain-bounded).
    *
    * Scale shape: t01's narrow per-row scoring followed by one
    * (lang, pred)-keyed aggregate to a ≤25-row relation. */
  val langIdConfusion: QueryDef = QueryDef(
    "t21_langid_confusion",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      langId.build(s, d)
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .withColumn("n_true",
          sum(col("n")).over(Window.partitionBy("lang")))
        .select(col("lang"), col("pred_lang"), col("n"), col("n_true"),
          round(col("n").cast("double") / col("n_true").cast("double"), 6)
            .as("recall"))
        .orderBy("lang", "pred_lang")
    },
    Some(s"""WITH t01 AS (${langId.sql.get.replace("ORDER BY doc_id", "")}),
             cells AS (
               SELECT lang, pred_lang, count(*) AS n
               FROM t01 GROUP BY 1, 2)
             SELECT lang, pred_lang, n,
               CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS n_true,
               round(CAST(n AS DOUBLE) /
                     CAST(CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT)
                          AS DOUBLE), 6) AS recall
             FROM cells ORDER BY lang, pred_lang"""))

  /** t22 — Gopher-style quality-rule battery (Rae et al., "Scaling
    * Language Models: \u2026 Gopher", 2021, Appendix A1): the canonical
    * pretraining document gates — word-count bounds, mean-word-length
    * bounds, symbol-to-word ratio, bullet-line fraction, alphabetic-
    * word fraction, minimum distinct stopwords — as one per-document
    * PASS/FAIL report with every sufficient statistic alongside.
    * t02 scores quality continuously; t22 is the rule-gate form
    * production filters actually ship.
    *
    * Determinism: every rule is an INTEGER cross-multiplied
    * comparison (mean length ∈ [3,10] becomes 3n ≤ Σlen ≤ 10n; 80%
    * becomes 5·hits ≥ 4·n) — no division, no float anywhere.
    *
    * Scale shape: pure per-row projection inside the scan stage; the
    * only shuffle is the output sort. */
  /** The six Gopher rule names, in report order — shared by t22 (the
    * per-document gate) and t28 (the per-rule ablation). */
  val gopherRuleNames: Seq[String] = Seq("r_word_count", "r_mean_len",
    "r_symbol_ratio", "r_bullets", "r_alpha_words", "r_stopwords")

  /** The t22 flag frame `(doc_id, 7 sufficient statistics, 6 boolean
    * rule flags)` — one pure per-row projection in the scan stage (no
    * shuffle), shared by t22 and t28 (and, frame-parameterized, by the
    * x62 composed-pipeline stage). */
  def gopherFlagged(s: SparkSession, d: String): DataFrame =
    gopherFlaggedDf(Tables.documents(s, d))

  /** [[gopherFlagged]] over an arbitrary `(doc_id, text, …)` frame —
    * the flags are per-row, so the projection composes with any
    * upstream stage unchanged. */
  def gopherFlaggedDf(docs: DataFrame): DataFrame = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopArr = stops.map(w => s"'$w'").mkString(", ")
    docs
      .selectExpr(
        "doc_id",
        raw"size(split(trim(text), '\\s+')) AS n_words",
        raw"aggregate(transform(split(trim(text), '\\s+'), w -> length(w)), 0, (a, x) -> a + x) AS sum_len",
        "length(text) - length(replace(text, '#', '')) " +
          "+ (length(text) - length(replace(text, '...', ''))) DIV 3 AS n_symbols",
        raw"size(split(text, '\n')) AS n_lines",
        raw"size(filter(split(text, '\n'), l -> l LIKE '- %' OR l LIKE '* %')) AS n_bullets",
        raw"size(filter(split(trim(text), '\\s+'), w -> w RLIKE '[a-zA-Z]')) AS n_alpha",
        s"size(array_intersect(array_distinct(split(lower(text), ' ')), array($stopArr))) AS n_stops")
      .selectExpr(
        "doc_id", "n_words", "sum_len", "n_symbols", "n_lines",
        "n_bullets", "n_alpha", "n_stops",
        "n_words >= 50 AND n_words <= 100000 AS r_word_count",
        "sum_len >= 3 * n_words AND sum_len <= 10 * n_words AS r_mean_len",
        "10 * n_symbols <= n_words AS r_symbol_ratio",
        "10 * n_bullets <= n_lines AS r_bullets",
        "5 * n_alpha >= 4 * n_words AS r_alpha_words",
        "n_stops >= 2 AS r_stopwords")
  }

  /** DuckDB mirror of [[gopherFlagged]] as WITH-body CTEs ending in
    * `${p}f(doc_id, stats…, flags…)`, reading `input` — default the
    * bare documents table (t22/t28); the x62 composed pipeline passes
    * its stage CTE and a collision-free prefix. */
  def gopherFlagsCte(input: String = "documents", p: String = ""): String = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopArr = stops.map(w => s"'$w'").mkString(", ")
    s"""${p}c AS (
         SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\\s+'))
             AS INTEGER) AS n_words,
           CAST(list_reduce(list_prepend(0,
             list_transform(regexp_split_to_array(trim(text), '\\s+'),
               w -> CAST(length(w) AS INTEGER))),
             (a, x) -> a + x) AS INTEGER) AS sum_len,
           CAST(length(text) - length(replace(text, '#', ''))
             + (length(text) - length(replace(text, '...', ''))) // 3
             AS INTEGER) AS n_symbols,
           CAST(len(string_split(text, chr(10))) AS INTEGER)
             AS n_lines,
           CAST(len(list_filter(string_split(text, chr(10)),
             l -> l LIKE '- %' OR l LIKE '* %')) AS INTEGER)
             AS n_bullets,
           CAST(len(list_filter(
             regexp_split_to_array(trim(text), '\\s+'),
             w -> regexp_matches(w, '[a-zA-Z]'))) AS INTEGER)
             AS n_alpha,
           CAST(len(list_intersect(
             list_distinct(string_split(lower(text), ' ')),
             [$stopArr])) AS INTEGER) AS n_stops
         FROM $input),
       ${p}f AS (
         SELECT doc_id, n_words, sum_len, n_symbols, n_lines,
           n_bullets, n_alpha, n_stops,
           n_words >= 50 AND n_words <= 100000 AS r_word_count,
           sum_len >= 3 * n_words AND sum_len <= 10 * n_words
             AS r_mean_len,
           10 * n_symbols <= n_words AS r_symbol_ratio,
           10 * n_bullets <= n_lines AS r_bullets,
           5 * n_alpha >= 4 * n_words AS r_alpha_words,
           n_stops >= 2 AS r_stopwords
         FROM ${p}c)"""
  }

  val gopherRules: QueryDef = {
    QueryDef(
      "t22_gopher_rules",
      (s, d) =>
        gopherFlagged(s, d)
          .selectExpr(("doc_id" +: Seq("n_words", "sum_len", "n_symbols",
            "n_lines", "n_bullets", "n_alpha", "n_stops", "r_word_count",
            "r_mean_len", "r_symbol_ratio", "r_bullets", "r_alpha_words",
            "r_stopwords")) :+
            ("r_word_count AND r_mean_len AND r_symbol_ratio AND r_bullets" +
              " AND r_alpha_words AND r_stopwords AS pass_all"): _*)
          .orderBy("doc_id"),
      Some(s"""WITH ${gopherFlagsCte()}
               SELECT doc_id, n_words, sum_len, n_symbols, n_lines,
                 n_bullets, n_alpha, n_stops,
                 r_word_count, r_mean_len, r_symbol_ratio, r_bullets,
                 r_alpha_words, r_stopwords,
                 r_word_count AND r_mean_len AND r_symbol_ratio
                   AND r_bullets AND r_alpha_words AND r_stopwords
                   AS pass_all
               FROM f ORDER BY doc_id"""))
  }

  /** t28 — quality-rule ablation audit over the t22 Gopher battery:
    * per rule, how many documents FAIL it, how many it UNIQUELY kills
    * (fail this rule, pass the other five — the rule's marginal
    * contribution to the gate), and both as exact ppm of the corpus.
    * The ablation table is how a curation team tunes a rule battery
    * (Rae et al. 2021 Appendix A1 reports exactly these per-filter
    * removal rates; a rule with fail≫unique is redundant with its
    * neighbors, a rule with unique≈fail is load-bearing).
    *
    * Determinism: flags are t22's integer cross-multiplied comparisons;
    * counts are exact sums; ppm is integer DIV — no floats anywhere.
    *
    * Scale shape: [[gopherFlagged]] is a pure scan-stage projection;
    * the per-doc fail count folds the six flags in-row; stack() turns
    * each doc into six (rule, fail, unique) rows inside the same
    * narrow stage; the only shuffle is the 6-group hash agg (map-side
    * combined to 6 rows per partition). n_docs rides the same agg as
    * count(*) — no separate global total, no broadcast. */
  val ruleAblation: QueryDef = QueryDef(
    "t28_rule_ablation",
    (s, d) => {
      val flagged = gopherFlagged(s, d)
        .withColumn("n_fails",
          gopherRuleNames.map(r => when(col(r), 0).otherwise(1))
            .reduce(_ + _))
      val stackExpr = gopherRuleNames
        .map(r => s"'$r', $r").mkString(", ")
      flagged
        .selectExpr("n_fails",
          s"stack(${gopherRuleNames.size}, $stackExpr) AS (rule, pass)")
        .groupBy("rule")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pass"), 0L).otherwise(1L)).as("n_fail"),
          sum(when(!col("pass") && col("n_fails") === 1, 1L)
            .otherwise(0L)).as("n_unique_kill"))
        .select(col("rule"), col("n_docs"), col("n_fail"),
          col("n_unique_kill"),
          expr("(1000000 * n_fail) DIV n_docs").as("fail_ppm"),
          expr("(1000000 * n_unique_kill) DIV n_docs").as("unique_ppm"))
        .orderBy("rule")
    },
    Some {
      val fails = gopherRuleNames
        .map(r => s"CASE WHEN $r THEN 0 ELSE 1 END").mkString(" + ")
      val arms = gopherRuleNames.map { r =>
        s"SELECT n_fails, '$r' AS rule, $r AS pass FROM nf"
      }.mkString("\n UNION ALL ")
      s"""WITH ${gopherFlagsCte()},
           nf AS (SELECT *, $fails AS n_fails FROM f),
           stacked AS ($arms),
           agg AS (
             SELECT rule, count(*) AS n_docs,
               CAST(sum(CASE WHEN pass THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_fail,
               CAST(sum(CASE WHEN NOT pass AND n_fails = 1
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_kill
             FROM stacked GROUP BY rule)
           SELECT rule, n_docs, n_fail, n_unique_kill,
             (1000000 * n_fail) // n_docs AS fail_ppm,
             (1000000 * n_unique_kill) // n_docs AS unique_ppm
           FROM agg ORDER BY rule"""
    })

  /** t23 — Zipf rank-frequency fit per source (Zipf, "Human Behavior
    * and the Principle of Least Effort", 1949): OLS slope/intercept of
    * ln(freq) against ln(rank) over each source's top-50 token ranks.
    * Natural corpora sit near slope −1; a source whose slope is far off
    * is machine-generated, templated, or mis-encoded — the
    * distribution-shape complement to t02's per-document scores and
    * t19's type-token diversity.
    *
    * Determinism: the per-rank regressors are integerized ONCE —
    * x = CAST(round(ln(rank)·10⁶)), y = CAST(round(ln(freq)·10⁶)) —
    * so every sum (Σx, Σy, Σxy, Σx²) is an exact order-independent
    * long; the slope/intercept are ONE double expression over those
    * four longs, then round(6). Sub-ulp ln() divergence between
    * engines is washed out by the 10⁶ rounding (values sit ~10⁹ ulps
    * from the nearest rounding boundary).
    *
    * Scale shape: one token-count aggregate (map-side combined), a
    * rank window per source (sources are a bounded partition key), and
    * a 50-row-per-source bounded tail — the corpus shuffles only
    * (source, token, count) triples, never text. */
  val zipfFit: QueryDef = {
    val topR = 50
    QueryDef(
      "t23_zipf_fit",
      (s, d) =>
        Tables.documents(s, d)
          .selectExpr("source", "explode(split(text, ' ')) AS tok")
          .filter(col("tok") =!= "")
          .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("source")
              .orderBy(col("cnt").desc, col("tok"))))
          .filter(col("rank") <= topR)
          .selectExpr("source",
            "CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS x",
            "CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) AS y")
          .groupBy("source")
          .agg(count(lit(1)).as("n_ranks"),
            sum("x").as("sx"), sum("y").as("sy"),
            sum(expr("x * y")).as("sxy"),
            sum(expr("x * x")).as("sxx"))
          .selectExpr("source", "n_ranks",
            "round((CAST(n_ranks * sxy - sx * sy AS DOUBLE)) / " +
              "(CAST(n_ranks * sxx - sx * sx AS DOUBLE)), 6) AS slope",
            "round((CAST(sy AS DOUBLE) - " +
              "((CAST(n_ranks * sxy - sx * sy AS DOUBLE)) / " +
              "(CAST(n_ranks * sxx - sx * sx AS DOUBLE))) * CAST(sx AS DOUBLE))" +
              " / (1000000.0 * CAST(n_ranks AS DOUBLE)), 6) AS intercept")
          .orderBy("source"),
      Some(s"""WITH toks AS (
                 SELECT source, unnest(string_split(text, ' ')) AS tok
                 FROM documents),
               counts AS (
                 SELECT source, tok, count(*) AS cnt FROM toks
                 WHERE tok != '' GROUP BY 1, 2),
               ranked AS (
                 SELECT source, cnt,
                   row_number() OVER (PARTITION BY source
                     ORDER BY cnt DESC, tok) AS rank
                 FROM counts),
               xy AS (
                 SELECT source,
                   CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT)
                     AS x,
                   CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT)
                     AS y
                 FROM ranked WHERE rank <= $topR),
               sums AS (
                 SELECT source, count(*) AS n_ranks,
                   sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx
                 FROM xy GROUP BY 1)
               SELECT source, n_ranks,
                 round(CAST(n_ranks * sxy - sx * sy AS DOUBLE) /
                       CAST(n_ranks * sxx - sx * sx AS DOUBLE), 6) AS slope,
                 round((CAST(sy AS DOUBLE) -
                        (CAST(n_ranks * sxy - sx * sy AS DOUBLE) /
                         CAST(n_ranks * sxx - sx * sx AS DOUBLE))
                        * CAST(sx AS DOUBLE))
                       / (1000000.0 * CAST(n_ranks AS DOUBLE)), 6)
                   AS intercept
               FROM sums ORDER BY source"""))
  }

  /** t24 — token burstiness profile (Church & Gale, "Poisson
    * mixtures", JNLE 1995): for the corpus's top-30 tokens, the
    * variance-to-mean ratio of the per-document count — content words
    * are "bursty" (VMR ≫ 1: absent from most docs, repeated when
    * present), function words Poisson-like (VMR ≈ 1). The
    * distribution-shape complement to t23's rank-frequency fit; a
    * candidate stopword list is exactly the low-VMR high-frequency
    * band.
    *
    * Determinism: per-token document frequency, Σc and Σc² over ALL N
    * corpus docs (absent docs contribute zeros — only the moments
    * need N, not a dense frame) are exact longs (c is a within-doc
    * count, so c² stays far under 2⁶³);
    * VMR = var/mean = (N·Q − S²)/(N·S) is ONE IEEE division, with the
    * N·Q, S², N·S products widened to exact 128-bit-class integers —
    * DECIMAL(38,0) in Spark, HUGEINT in DuckDB — because S² for a
    * high-frequency token crosses 2⁶³ around S ≈ 3·10⁹, well inside
    * 100 TB scale, and Spark LongType would wrap silently while DuckDB
    * would not (the st16/x36 widening discipline). r12 sweep: the
    * 128-bit values cross to DOUBLE through [[graft.core.Fixed.dec2d]]
    * (direct casts of > 2⁵³ values can differ by 1 ulp between
    * engines — the ml21 class) and the quotient is emitted at full
    * precision (a final round() could sit exactly on a dyadic tie).
    *
    * Scale shape: one (token)-keyed aggregate of per-doc counts
    * (map-side combined), a 1-row corpus-count scalar broadcast, a
    * bounded 30-row output — text never shuffles, no windows. */
  val tokenBurstiness: QueryDef = {
    val topT = 30
    QueryDef(
      "t24_token_burstiness",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val perDoc = docs
          .selectExpr("doc_id", "explode(split(text, ' ')) AS tok")
          .filter(col("tok") =!= "")
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        perDoc.groupBy("tok")
          .agg(count(lit(1)).as("df"),
            sum(col("c")).as("s"),
            sum(expr("c * c")).as("q"))
          .crossJoin(broadcast(n))
          .selectExpr("tok", "df", "s", "q", "n_docs",
            s"""${graft.core.Fixed.dec2d(
                "CAST(n_docs AS DECIMAL(38,0)) * q - " +
                  "CAST(s AS DECIMAL(38,0)) * s", "DIV")} / ${
              graft.core.Fixed.dec2d(
                "CAST(n_docs AS DECIMAL(38,0)) * s", "DIV")} AS vmr""")
          .orderBy(col("s").desc, col("tok"))
          .limit(topT)
      },
      Some(s"""WITH n AS (SELECT count(*) AS n_docs FROM documents),
               perdoc AS (
                 SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents),
               counts AS (
                 SELECT doc_id, tok, count(*) AS c FROM perdoc
                 WHERE tok != '' GROUP BY 1, 2),
               moments AS (
                 SELECT tok, count(*) AS df,
                   CAST(sum(c) AS BIGINT) AS s,
                   CAST(sum(c * c) AS BIGINT) AS q
                 FROM counts GROUP BY 1)
               SELECT tok, df, s, q, n_docs,
                 ${graft.core.Fixed.dec2d(
                   "CAST(n_docs AS HUGEINT) * q - CAST(s AS HUGEINT) * s",
                   "//")} / ${graft.core.Fixed.dec2d(
                   "CAST(n_docs AS HUGEINT) * s", "//")} AS vmr
               FROM moments, n
               ORDER BY s DESC, tok LIMIT $topT"""))
  }

  /** t25 — bigram-LM perplexity quality filter (Wenzek et al., "CCNet:
    * Extracting high quality monolingual datasets from web crawl
    * data", LREC 2020 §3: score every document under a language model;
    * low perplexity ≈ fluent, the head of the corpus). The model is a
    * per-language add-one-smoothed bigram LM trained on the
    * even-doc_id half of the corpus (x26's snapshot idiom) and scored
    * over the odd half: p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V) with
    * c(w1·) the bigram-prefix count and V the training vocabulary.
    *
    * Determinism: every count is an exact long; each bigram's log-prob
    * is integerized ONCE — round(ln(p)·10⁶) on the identical IEEE
    * division of identical longs (t23's ln discipline) — so the
    * per-doc sum is an exact order-free long; ppl = exp(−Σlp/(10⁶·n))
    * is ONE exp() on an engine-identical double, round(6). Bigrams are
    * defined over the RAW split-on-space sequence with any pair
    * touching an empty token dropped — pure list indexing, no windows,
    * engine-identical by construction.
    *
    * Scale shape: the LM is a TABLE, not a broadcast — at 100 TB a
    * trained n-gram model does not fit one executor, so heldout
    * bigrams meet the bigram and prefix counts in two shuffle
    * equi-joins on token keys (KenLM-as-a-join); V is a |langs|-row
    * broadcast; the per-doc reduction is one map-side-combinable
    * aggregate. Nothing iterates, text never rides a shuffle twice. */
  val bigramPerplexity: QueryDef = {
    val keepPpl = 40.0 // head/tail cut: fixture ppl spans ~23-48, mean ~33
    QueryDef(
      "t25_bigram_perplexity",
      (s, d) => {
        val docs = Tables.documents(s, d)
        def bigrams(half: DataFrame): DataFrame = half
          .select(col("lang"), col("doc_id"),
            split(col("text"), " ").as("t"))
          .select(col("lang"), col("doc_id"), col("t"),
            posexplode(col("t")).as(Seq("pos", "w1")))
          .filter(col("pos") < size(col("t")) - 1)
          .withColumn("w2", expr("element_at(t, pos + 2)"))
          .filter(col("w1") =!= "" && col("w2") =!= "")
          .select("lang", "doc_id", "w1", "w2")
        val train = bigrams(docs.filter("doc_id % 2 = 0"))
        val held = bigrams(docs.filter("doc_id % 2 = 1"))
        val cB = train.groupBy("lang", "w1", "w2")
          .agg(count(lit(1)).as("cb"))
        val cU = cB.groupBy("lang", "w1").agg(sum("cb").as("cu"))
        val vocab = docs.filter("doc_id % 2 = 0")
          .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("lang").agg(countDistinct("tok").as("v"))
        held
          .join(cB, Seq("lang", "w1", "w2"), "left")
          .join(cU, Seq("lang", "w1"), "left")
          .join(broadcast(vocab), Seq("lang"))
          .selectExpr("lang", "doc_id",
            "CAST(round(ln(CAST(coalesce(cb, 0) + 1 AS DOUBLE) / " +
              "CAST(coalesce(cu, 0) + v AS DOUBLE)) * 1000000) AS BIGINT)" +
              " AS lp")
          .groupBy("doc_id", "lang")
          .agg(count(lit(1)).as("n_bigrams"), sum("lp").as("lp_sum"))
          .selectExpr("doc_id", "lang", "n_bigrams", "lp_sum",
            "round(exp(-1.0 * CAST(lp_sum AS DOUBLE) / " +
              "(1000000.0 * CAST(n_bigrams AS DOUBLE))), 6) AS ppl")
          .withColumn("keep", col("ppl") <= keepPpl)
          .orderBy("doc_id")
      },
      Some(s"""WITH tr AS (
                 SELECT lang, doc_id, string_split(text, ' ') AS t
                 FROM documents WHERE doc_id % 2 = 0),
               he AS (
                 SELECT lang, doc_id, string_split(text, ' ') AS t
                 FROM documents WHERE doc_id % 2 = 1),
               trb AS (
                 SELECT lang, doc_id, t[i + 1] AS w1, t[i + 2] AS w2
                 FROM tr, unnest(range(0, greatest(len(t) - 1, 0))) AS u(i)
                 WHERE t[i + 1] != '' AND t[i + 2] != ''),
               heb AS (
                 SELECT lang, doc_id, t[i + 1] AS w1, t[i + 2] AS w2
                 FROM he, unnest(range(0, greatest(len(t) - 1, 0))) AS u(i)
                 WHERE t[i + 1] != '' AND t[i + 2] != ''),
               cb AS (
                 SELECT lang, w1, w2, count(*) AS cb
                 FROM trb GROUP BY 1, 2, 3),
               cu AS (
                 SELECT lang, w1, CAST(sum(cb) AS BIGINT) AS cu
                 FROM cb GROUP BY 1, 2),
               vocab AS (
                 SELECT lang, count(DISTINCT tok) AS v
                 FROM (SELECT lang, unnest(t) AS tok FROM tr)
                 WHERE tok != '' GROUP BY 1),
               lp AS (
                 SELECT h.doc_id, h.lang,
                   CAST(round(ln(CAST(coalesce(cb.cb, 0) + 1 AS DOUBLE) /
                     CAST(coalesce(cu.cu, 0) + vocab.v AS DOUBLE))
                     * 1000000) AS BIGINT) AS lp
                 FROM heb h
                 LEFT JOIN cb ON cb.lang = h.lang AND cb.w1 = h.w1
                   AND cb.w2 = h.w2
                 LEFT JOIN cu ON cu.lang = h.lang AND cu.w1 = h.w1
                 JOIN vocab ON vocab.lang = h.lang),
               agg AS (
                 SELECT doc_id, lang, count(*) AS n_bigrams,
                   CAST(sum(lp) AS BIGINT) AS lp_sum
                 FROM lp GROUP BY 1, 2)
               SELECT doc_id, lang, n_bigrams, lp_sum,
                 round(exp(-1.0 * CAST(lp_sum AS DOUBLE) /
                   (1000000.0 * CAST(n_bigrams AS DOUBLE))), 6) AS ppl,
                 round(exp(-1.0 * CAST(lp_sum AS DOUBLE) /
                   (1000000.0 * CAST(n_bigrams AS DOUBLE))), 6) <= $keepPpl
                   AS keep
               FROM agg ORDER BY doc_id"""))
  }

  /** t26 — Unicode spoof / injection scanner (Unicode TS #39
    * confusable detection; Boucher & Anderson, "Trojan Source:
    * Invisible Vulnerabilities", USENIX Security 2023 — bidi-control
    * smuggling): per document, counts of zero-width characters, bidi
    * control characters, and Cyrillic homoglyphs of Latin letters —
    * the three channels used to poison or watermark web-scraped
    * training corpora while reading "clean" to the eye. The fixture
    * corpus is pure ASCII, so the query first builds the INCOMING
    * corpus by deterministically tainting an md5-keyed quarter of the
    * docs (the x26/x38 fixture idiom: homoglyph substitution, ZWSP
    * insertion, or a bidi-override wrap), then the detector — blind to
    * the injection — classifies every doc.
    *
    * Determinism: taint selection is the doc_id md5 byte fold (d10's
    * portable hash); all counts are length-difference integers off the
    * same regexp class in both engines (Spark regexp_replace is
    * global; DuckDB needs the explicit 'g' flag); ppm is integer
    * division. All-BMP codepoints, so Spark's UTF-16 length and
    * DuckDB's codepoint length agree.
    *
    * Scale shape: pure per-row projection — no shuffle at any scale
    * beyond the final output sort. */
  val confusableSpoof: QueryDef = {
    // ASCII-only source: every non-ASCII codepoint enters via \u escape
    val zw = "[\u200b\u200c\u200d\u2060\ufeff]"
    val bidi = "[\u202a-\u202e\u2066-\u2069]"
    val confus = "[\u0430\u0435\u043e\u0440\u0441\u0445\u0443" +
      "\u0410\u0412\u0415\u041a\u041c\u041d\u041e\u0420\u0421\u0422\u0425]"
    val verdictSql = "CASE WHEN n_bidi > 0 THEN 'bidi' " +
      "WHEN n_zw > 0 THEN 'zerowidth' " +
      "WHEN n_confus > 0 THEN 'mixed_script' ELSE 'clean' END AS verdict"
    QueryDef(
      "t26_confusable_spoof",
      (s, d) => {
        def cnt(cls: String) =
          s"CAST(length(txt) - length(regexp_replace(txt, '$cls', '')) AS BIGINT)"
        Tables.documents(s, d)
          .withColumn("h", expr(
            "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 2), " +
              "16, 10) AS BIGINT) % 8"))
          .withColumn("txt", expr(
            "CASE WHEN h <= 1 THEN translate(text, 'aeo', '\u0430\u0435\u043e') " +
              "WHEN h = 2 THEN replace(text, ' ', ' \u200b') " +
              "WHEN h = 3 THEN concat('\u202e', text, '\u202c') " +
              "ELSE text END"))
          .selectExpr("doc_id",
            s"${cnt(zw)} AS n_zw", s"${cnt(bidi)} AS n_bidi",
            s"${cnt(confus)} AS n_confus",
            "CAST(length(txt) AS BIGINT) AS n_chars_in")
          .selectExpr("doc_id", "n_zw", "n_bidi", "n_confus",
            "((n_zw + n_bidi + n_confus) * 1000000) DIV n_chars_in" +
              " AS spoof_ppm",
            verdictSql)
          .orderBy("doc_id")
      },
      Some(s"""WITH tainted AS (
                 SELECT doc_id,
                   CASE
                     WHEN ${Dedup.duckMd5IntSlice(
                       "CAST(doc_id AS VARCHAR)", 1, 2)} % 8 <= 1
                       THEN translate(text, 'aeo', '\u0430\u0435\u043e')
                     WHEN ${Dedup.duckMd5IntSlice(
                       "CAST(doc_id AS VARCHAR)", 1, 2)} % 8 = 2
                       THEN replace(text, ' ', ' \u200b')
                     WHEN ${Dedup.duckMd5IntSlice(
                       "CAST(doc_id AS VARCHAR)", 1, 2)} % 8 = 3
                       THEN concat('\u202e', text, '\u202c')
                     ELSE text END AS txt
                 FROM documents),
               counted AS (
                 SELECT doc_id,
                   CAST(length(txt) - length(regexp_replace(txt,
                     '$zw', '', 'g')) AS BIGINT) AS n_zw,
                   CAST(length(txt) - length(regexp_replace(txt,
                     '$bidi', '', 'g')) AS BIGINT) AS n_bidi,
                   CAST(length(txt) - length(regexp_replace(txt,
                     '$confus', '', 'g')) AS BIGINT) AS n_confus,
                   CAST(length(txt) AS BIGINT) AS n_chars_in
                 FROM tainted)
               SELECT doc_id, n_zw, n_bidi, n_confus,
                 ((n_zw + n_bidi + n_confus) * 1000000) // n_chars_in
                   AS spoof_ppm,
                 $verdictSql
               FROM counted ORDER BY doc_id"""))
  }

  /** t27 — TextRank keyword scores (Mihalcea & Tarau, "TextRank:
    * Bringing Order into Text", EMNLP 2004): weighted PageRank over the
    * corpus-level word co-occurrence graph. Nodes are tokens; an
    * undirected edge joins each ADJACENT token pair (window = 2, the
    * paper's default), weighted by corpus co-occurrence count; scores
    * iterate s(v) = 0.15 + 0.85·Σ_u w(u,v)/W(u)·s(u) for a fixed 4
    * rounds. Distinct from t20 (RAKE is degree/frequency scoring —
    * no iteration); this is the graph-centrality keyworder.
    *
    * Determinism (g01's integer discipline): scores are 10⁶-scaled
    * longs; each edge's contribution is (w·s) DIV W — one exact integer
    * product and floor division per edge, so the per-round sum is an
    * order-free exact long and partitioning can never change a score.
    *
    * Scale shape: tokens are DICTIONARY-ENCODED before iteration —
    * vocab ids assigned by rank over the (bounded) vocabulary, so the 4
    * PageRank rounds shuffle 8-byte ids, never strings (the d08
    * fingerprint discipline, but collision-free and oracle-portable
    * since both engines compute the same rank). Pair counting is one
    * hash agg on adjacent pairs (linear in corpus, never n²); each
    * round is one equi-join + one agg on the edge list. Token names
    * rejoin once at the end. */
  val textrank: QueryDef = {
    val Scale = 1000000L
    val Iters = 4
    val TopK = 25
    QueryDef(
      "t27_textrank",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val adj = docs
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .select(posexplode(col("t")).as(Seq("pos", "w1")), col("t"))
          .filter(col("pos") < size(col("t")) - 1)
          .withColumn("w2", expr("element_at(t, pos + 2)"))
          .filter(col("w1") =!= "" && col("w2") =!= "" &&
            col("w1") =!= col("w2"))
          .select("w1", "w2")
        // undirected pair counts: canonical (min, max) key, then both
        // directions materialized for the iteration
        val pairs = adj
          .select(least(col("w1"), col("w2")).as("a"),
            greatest(col("w1"), col("w2")).as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("w"))
        val vocab = pairs.select(col("a").as("tok"))
          .union(pairs.select(col("b").as("tok"))).distinct()
          .withColumn("id", row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy("tok")))
        val va = vocab.select(col("tok").as("a"), col("id").as("ia"))
        val vb = vocab.select(col("tok").as("b"), col("id").as("ib"))
        val eDir = pairs.join(va, "a").join(vb, "b")
          .select(col("ia").as("u"), col("ib").as("v"), col("w"))
          .union(pairs.join(va, "a").join(vb, "b")
            .select(col("ib").as("u"), col("ia").as("v"), col("w")))
          .localCheckpoint() // feeds W(u) + all 4 rounds: materialize once
        val wu = eDir.groupBy("u").agg(sum("w").as("wu"))
        val ec = eDir.join(wu, "u")
        var sc = wu.select(col("u").as("id"), lit(Scale).as("s"))
        for (_ <- 1 to Iters) {
          sc = ec.join(sc, ec("u") === sc("id"))
            .select(col("v"), expr("(w * s) DIV wu").as("c"))
            .groupBy("v")
            .agg(expr(s"CAST(${Scale * 15 / 100} AS BIGINT) + " +
              "(85 * sum(c)) DIV 100").as("s"))
            .select(col("v").as("id"), col("s"))
        }
        sc.join(vocab, "id")
          .select(col("tok"), col("s").as("score"))
          .orderBy(col("score").desc, col("tok"))
          .limit(TopK)
      },
      Some {
        val base =
          s"""adj AS (
                SELECT t[i + 1] AS w1, t[i + 2] AS w2
                FROM (SELECT string_split(text, ' ') AS t FROM documents),
                  unnest(range(0, greatest(len(t) - 1, 0))) AS u(i)
                WHERE t[i + 1] != '' AND t[i + 2] != ''
                  AND t[i + 1] != t[i + 2]),
              pairs AS (
                SELECT least(w1, w2) AS a, greatest(w1, w2) AS b,
                  count(*) AS w
                FROM adj GROUP BY 1, 2),
              vocab AS (
                SELECT tok, row_number() OVER (ORDER BY tok) AS id
                FROM (SELECT a AS tok FROM pairs
                      UNION SELECT b FROM pairs)),
              edir AS (
                SELECT va.id AS u, vb.id AS v, p.w
                FROM pairs p JOIN vocab va ON va.tok = p.a
                  JOIN vocab vb ON vb.tok = p.b
                UNION ALL
                SELECT vb.id, va.id, p.w
                FROM pairs p JOIN vocab va ON va.tok = p.a
                  JOIN vocab vb ON vb.tok = p.b),
              wu AS (SELECT u, CAST(sum(w) AS BIGINT) AS wu
                     FROM edir GROUP BY 1),
              ec AS (SELECT e.u, e.v, e.w, wu.wu
                     FROM edir e JOIN wu USING (u)),
              s0 AS (SELECT u AS id, CAST($Scale AS BIGINT) AS s FROM wu)"""
        val rounds = (1 to Iters).map { i =>
          s"""s$i AS (SELECT ec.v AS id,
                ${Scale * 15 / 100} +
                  (85 * sum((ec.w * s${i - 1}.s) // ec.wu)) // 100 AS s
              FROM ec JOIN s${i - 1} ON s${i - 1}.id = ec.u
              GROUP BY ec.v)"""
        }.mkString(",\n")
        s"""WITH $base,
            $rounds
            SELECT v.tok, CAST(s.s AS BIGINT) AS score
            FROM s$Iters s JOIN vocab v ON v.id = s.id
            ORDER BY score DESC, tok LIMIT $TopK"""
      })
  }

  /** t29 — inter-document n-gram novelty (the memorization-risk audit:
    * Carlini et al., "Quantifying Memorization Across Neural Language
    * Models", ICLR 2023 measure extractable spans by exactly this
    * cross-document n-gram sharing; McCoy et al.'s RAVEN novelty
    * metrics, TACL 2023, report the same per-document novel-n-gram
    * rate): per document, how many DISTINCT 8-token grams it contains,
    * how many of those also occur in at least one OTHER document, and
    * the novelty share in ppm. A low-novelty document is either
    * boilerplate or a near-copy — the per-document complement of d12's
    * corpus-level span census.
    *
    * Determinism: grams are md5 of the joined window (content-pure);
    * counts are exact; ppm is integer DIV.
    *
    * Scale shape: windows are sliced IN-ROW (transform over the token
    * array — no per-position explode of text), deduplicated per doc
    * in-row (array_distinct), and only 16-byte gram hashes ride the
    * explode; then ONE hash agg keyed by gram (doc counts), one
    * equi-join back, one doc-keyed agg — the d04/d12 inverted-index
    * discipline. Docs with fewer than 8 tokens carry zero grams and
    * are reported with novelty −1 (no gram evidence), never dropped. */
  val ngramNovelty: QueryDef = {
    val W = 8
    QueryDef(
      "t29_ngram_novelty",
      (s, d) => {
        val grams = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .selectExpr("doc_id",
            s"""IF(size(t) >= $W,
                 array_distinct(transform(sequence(0, size(t) - $W), w ->
                   md5(concat_ws(' ', slice(t, w + 1, $W))))),
                 CAST(array() AS ARRAY<STRING>)) AS gs""")
        val exploded = grams
          .select(col("doc_id"), explode(col("gs")).as("g"))
        val census = exploded.groupBy("g")
          .agg(count(lit(1)).as("n_docs"))
        val perDoc = exploded.join(census, "g")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_shared"))
        grams.select(col("doc_id"), size(col("gs")).as("sz"))
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_grams"), lit(0L)).as("n_grams"),
            coalesce(col("n_shared"), lit(0L)).as("n_shared"),
            when(col("sz") > 0,
              expr("(1000000 * (n_grams - n_shared)) DIV n_grams"))
              .otherwise(lit(-1L)).as("novelty_ppm"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (
                 SELECT doc_id, string_split(text, ' ') AS t
                 FROM documents),
               gr AS (
                 SELECT doc_id,
                   CASE WHEN len(t) >= $W THEN
                     list_distinct(list_transform(
                       range(0, len(t) - $W + 1), w ->
                         md5(array_to_string(t[w + 1 : w + $W], ' '))))
                   ELSE [] END AS gs
                 FROM toks),
               ex AS (
                 SELECT doc_id, unnest(gs) AS g FROM gr),
               census AS (
                 SELECT g, count(*) AS n_docs FROM ex GROUP BY 1),
               per AS (
                 SELECT e.doc_id, count(*) AS n_grams,
                   CAST(sum(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_shared
                 FROM ex e JOIN census c ON c.g = e.g
                 GROUP BY 1)
               SELECT gr.doc_id,
                 coalesce(p.n_grams, 0) AS n_grams,
                 coalesce(p.n_shared, 0) AS n_shared,
                 CASE WHEN len(gr.gs) > 0 THEN
                   (1000000 * (p.n_grams - p.n_shared)) // p.n_grams
                 ELSE -1 END AS novelty_ppm
               FROM gr LEFT JOIN per p ON p.doc_id = gr.doc_id
               ORDER BY gr.doc_id"""))
  }

  /** t30 — tokenizer fertility per language (pieces-per-word under the
    * trained tokenizer — the tokenizer-equity metric of Ács 2019 /
    * Petrov et al. 2023's "language disparity" audits: a language with
    * higher fertility pays more sequence length for the same text).
    * Trains t16/t17's 8 merges on the CORPUS word frequencies, applies
    * them to each language's word stream, and reports per language the
    * distinct word types, token occurrences, emitted subword pieces,
    * and fertility = pieces / words (weighted by occurrence).
    *
    * Determinism: t17's bit-exact train+apply chain (argmax merges tie
    * on (freq DESC, l, r) in both engines); the fertility counts are
    * exact BIGINT sums over the vocabulary-bounded (lang, word) frame;
    * ONE IEEE division, rounded.
    *
    * Scale shape: ONE corpus pass for the shared frequency aggregate +
    * one for the (lang, word) frame (both map-side partial); the merge
    * cascade is a narrow vocabulary-sized map (t17's argument) and the
    * output is language-domain bounded. */
  val bpeFertility: QueryDef = {
    val V = 200
    val R = 8
    val applyCtes =
      s"""la0 AS (
            SELECT lang, trim(regexp_replace(word, '(.)', '\\1  ', 'g')) AS sym, n
            FROM awl),
""" +
      (1 to R).map { k =>
        s"""la$k AS (
              SELECT lang, CASE WHEN b.l IS NULL THEN sym
                     ELSE trim(replace('  ' || sym || '  ',
                       ' ' || b.l || '  ' || b.r || ' ',
                       ' ' || b.l || b.r || ' ')) END AS sym, n
              FROM la${k - 1} LEFT JOIN b$k b ON TRUE)"""
      }.mkString(",\n")
    QueryDef(
      "t30_bpe_fertility",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val merges = bpeMergesFromFreq(wordFreq(docs).localCheckpoint(), V, R)
        val freqL = docs
          .select(col("lang"), explode(split(col("text"), " ")).as("word"))
          .filter(col("word").rlike("^[a-z]+$"))
          .groupBy("lang", "word").agg(count(lit(1)).as("n"))
        val sym = merges.foldLeft(symInit(col("word"))) {
          case (c, (_, l, r, _)) => applyMerge(c, l, r)
        }
        freqL.select(col("lang"),
            size(split(sym, "  ")).cast("long").as("pieces"), col("n"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_types"),
            sum(col("n")).as("n_words"),
            sum(expr("pieces * n")).as("n_pieces"))
          .withColumn("fertility", expr(
            "round(CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE), 6)"))
          .select("lang", "n_types", "n_words", "n_pieces", "fertility")
          .orderBy("lang")
      },
      Some(s"""WITH ${bpeTrainSql(V, R)},
               awl AS (
                 SELECT lang, token AS word, CAST(count(*) AS BIGINT) AS n
                 FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
                       FROM documents) t
                 WHERE regexp_matches(token, '^[a-z]+${"$"}')
                 GROUP BY 1, 2),
               $applyCtes,
               per AS (
                 SELECT lang, CAST(count(*) AS BIGINT) AS n_types,
                   CAST(sum(n) AS BIGINT) AS n_words,
                   CAST(sum(CAST(len(string_split(sym, '  ')) AS BIGINT) * n)
                     AS BIGINT) AS n_pieces
                 FROM la$R GROUP BY 1)
               SELECT lang, n_types, n_words, n_pieces,
                 round(CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
                   AS fertility
               FROM per ORDER BY lang"""))
  }

  /** t31 — per-source Jensen–Shannon divergence from the corpus mix
    * (Lin 1991; the symmetric, bounded [0, ln 2] relative of KL): each
    * source's Laplace-smoothed unigram distribution is scored against
    * the corpus-wide distribution — the domain-shift / outlier-source
    * diagnostic a mixture designer reads before setting sampling
    * weights (a source with high JSD is topically alien to the mix;
    * x14/x32's weights should see it). Both distributions are smoothed
    * over the SAME corpus vocabulary V, so each sums to exactly 1 and
    * tokens absent from a source still contribute their smoothing
    * mass.
    *
    * Determinism: every per-token term 0.5·(p·ln(2p/(p+q)) +
    * q·ln(2q/(p+q))) is one fixed-shape IEEE expression over exact
    * integer counts, rounded to pico-nats (×10¹²) — the long sum is
    * order-free and engine-identical (t25's micro-nat discipline, 10⁶
    * finer since JSD ≤ ln 2 keeps the sum < 10¹²).
    *
    * Scale shape: ONE token census (map-side combinable), then the
    * corpus-vocab frame crossed with the BOUNDED source domain (20
    * rows broadcast — the nested loop is |vocab|×|sources|, linear in
    * vocab, corpus never re-read) and one left equi-join back to the
    * per-source census. Vocab ≪ corpus, so the whole divergence stage
    * costs less than the census that feeds it. */
  val jsDivergence: QueryDef = QueryDef(
    "t31_js_divergence",
    (s, d) => {
      val census = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("source", "tok").agg(count(lit(1)).as("n"))
      val corpus = census.groupBy("tok").agg(sum(col("n")).as("nt"))
      val perSrc = census.groupBy("source")
        .agg(sum(col("n")).as("t_s"), count(lit(1)).as("v_s"))
      val scal = corpus.agg(sum(col("nt")).as("t"), count(lit(1)).as("v"))
      corpus
        .crossJoin(broadcast(perSrc.select(col("source"), col("t_s"))))
        .join(census, Seq("source", "tok"), "left")
        .crossJoin(broadcast(scal))
        .withColumn("p", expr(
          "CAST(coalesce(n, 0) + 1 AS DOUBLE) / CAST(t_s + v AS DOUBLE)"))
        .withColumn("q", expr(
          "CAST(nt + 1 AS DOUBLE) / CAST(t + v AS DOUBLE)"))
        .withColumn("term_e12", expr(
          "CAST(round((p * ln(2.0 * p / (p + q)) + " +
            "q * ln(2.0 * q / (p + q))) * 500000000000) AS BIGINT)"))
        .groupBy("source", "t_s")
        .agg(sum(col("term_e12")).as("jsd_e12"))
        .join(broadcast(perSrc.select(col("source"), col("v_s"))),
          Seq("source"))
        .selectExpr("source", "t_s AS n_tokens", "v_s AS vocab_used",
          "jsd_e12",
          "round(CAST(jsd_e12 AS DOUBLE) / 1e12, 9) AS jsd_nats",
          "round(CAST(jsd_e12 AS DOUBLE) / 1e12 / ln(2.0), 9) AS jsd_bits")
        .orderBy("source")
    },
    Some("""WITH tk AS (
              SELECT source, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            census AS (
              SELECT source, tok, count(*) AS n
              FROM tk WHERE tok != '' GROUP BY 1, 2),
            corpus AS (
              SELECT tok, CAST(sum(n) AS BIGINT) AS nt
              FROM census GROUP BY 1),
            persrc AS (
              SELECT source, CAST(sum(n) AS BIGINT) AS t_s,
                count(*) AS v_s
              FROM census GROUP BY 1),
            scal AS (
              SELECT CAST(sum(nt) AS BIGINT) AS t, count(*) AS v
              FROM corpus),
            terms AS (
              SELECT p.source,
                CAST(coalesce(c.n, 0) + 1 AS DOUBLE)
                  / CAST(p.t_s + scal.v AS DOUBLE) AS pp,
                CAST(corpus.nt + 1 AS DOUBLE)
                  / CAST(scal.t + scal.v AS DOUBLE) AS qq
              FROM corpus CROSS JOIN persrc p CROSS JOIN scal
              LEFT JOIN census c
                ON c.source = p.source AND c.tok = corpus.tok),
            agg AS (
              SELECT source,
                CAST(sum(CAST(round((pp * ln(2.0 * pp / (pp + qq)) +
                  qq * ln(2.0 * qq / (pp + qq))) * 500000000000)
                  AS BIGINT)) AS BIGINT) AS jsd_e12
              FROM terms GROUP BY 1)
            SELECT a.source, p.t_s AS n_tokens, p.v_s AS vocab_used,
              a.jsd_e12,
              round(CAST(a.jsd_e12 AS DOUBLE) / 1e12, 9) AS jsd_nats,
              round(CAST(a.jsd_e12 AS DOUBLE) / 1e12 / ln(2.0), 9)
                AS jsd_bits
            FROM agg a JOIN persrc p USING (source)
            ORDER BY source"""))

  /** t32 — per-language OOV rate under the corpus top-V vocabulary
    * (the tokenizer-fairness audit: a vocab built on the corpus MIX
    * over-serves the majority language, and minority languages pay the
    * OOV/fallback cost — the measurement behind UniMax/NLLB-style
    * vocabulary rebalancing, and the type-level complement of t30's
    * fertility): t15's exact top-1000 vocabulary (count-desc,
    * token-asc tie-break) is applied to every language slice, and per
    * language the token-level and type-level out-of-vocabulary ppm are
    * reported.
    *
    * Determinism: the vocabulary is t15's deterministic rank; all
    * counts are exact integers; both ppm are exact integer
    * (10⁶·oov) DIV total.
    *
    * Scale shape: ONE (lang, token) census (map-side combinable), a
    * 1000-row vocab broadcast-joined onto it, one lang-domain agg. The
    * corpus-wide top-V reuses the census via a second bounded agg —
    * token-keyed, not another corpus read. */
  val vocabOov: QueryDef = {
    val vocabSize = 1000
    QueryDef(
      "t32_vocab_oov",
      (s, d) => {
        val census = Tables.documents(s, d)
          .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
        val vocab = census.groupBy("tok").agg(sum(col("n")).as("nt"))
          .orderBy(col("nt").desc, col("tok")).limit(vocabSize)
          .select(col("tok"), lit(1L).as("in_vocab"))
        census.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy("lang")
          .agg(sum(col("n")).as("n_tokens"),
            sum(when(col("in_vocab").isNull, col("n")).otherwise(0L))
              .as("n_oov"),
            count(lit(1)).as("n_types"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L))
              .as("n_oov_types"))
          .withColumn("oov_ppm", expr("(1000000 * n_oov) DIV n_tokens"))
          .withColumn("type_oov_ppm",
            expr("(1000000 * n_oov_types) DIV n_types"))
          .orderBy("lang")
      },
      Some(s"""WITH census AS (
                 SELECT lang, tok, count(*) AS n FROM (
                   SELECT lang, unnest(string_split(text, ' ')) AS tok
                   FROM documents)
                 WHERE tok != '' GROUP BY 1, 2),
               vocab AS (
                 SELECT tok FROM (
                   SELECT tok, CAST(sum(n) AS BIGINT) AS nt
                   FROM census GROUP BY 1)
                 ORDER BY nt DESC, tok LIMIT $vocabSize),
               j AS (
                 SELECT c.lang, c.n,
                   CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
                 FROM census c LEFT JOIN vocab v ON v.tok = c.tok)
               SELECT lang, CAST(sum(n) AS BIGINT) AS n_tokens,
                 CAST(sum(CASE WHEN oov = 1 THEN n ELSE 0 END) AS BIGINT)
                   AS n_oov,
                 count(*) AS n_types,
                 CAST(sum(oov) AS BIGINT) AS n_oov_types,
                 (1000000 * CAST(sum(CASE WHEN oov = 1 THEN n ELSE 0 END)
                   AS BIGINT)) // CAST(sum(n) AS BIGINT) AS oov_ppm,
                 (1000000 * CAST(sum(oov) AS BIGINT)) // count(*)
                   AS type_oov_ppm
               FROM j GROUP BY 1 ORDER BY 1"""))
  }

  /** t33 — vocabulary-growth (Heaps-law) curve: type count V vs token
    * count N over NESTED corpus prefixes (Heaps 1978, V ≈ K·N^β — the
    * curve every tokenizer-budget and dedup-saturation analysis starts
    * from; a corpus whose curve flattens early is duplication-heavy).
    *
    * The nesting trick makes it ONE pass instead of four: docs hash
    * into 4 buckets (doc_id % 4); prefix k = buckets 0..k. A type is
    * in vocab_k iff its MINIMUM bucket ≤ k, so `group tokens → min
    * bucket → count by min bucket → prefix-sum` yields every nested
    * distinct count without re-scanning — the decomposable form of
    * cumulative COUNT(DISTINCT). Token totals prefix-sum the per-
    * bucket counts. Output: 4 exact integer points (prefix, n_tokens,
    * n_vocab); the K/β fit is a reader-side two-point division —
    * cross-engine log() is deliberately NOT emitted (ln is not
    * IEEE-exactness-guaranteed between engines; the integer points
    * are).
    *
    * Scale shape: corpus work is one explode → two hash aggs (token-
    * keyed, then bucket-keyed); prefix sums run on the 4-row bucket
    * frame (bounded global window, whitelisted like x11's). */
  val vocabGrowth: QueryDef = QueryDef(
    "t33_vocab_growth",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select((col("doc_id") % 4).as("b"),
          explode(split(col("text"), " ")).as("tok"))
      val perBucket = toks.groupBy("b").agg(count(lit(1)).as("n_toks"))
      val firstSeen = toks.groupBy("tok").agg(min("b").as("b"))
        .groupBy("b").agg(count(lit(1)).as("n_new"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perBucket.join(firstSeen, Seq("b"), "left")
        .na.fill(0L, Seq("n_new"))
        .withColumn("n_tokens", sum("n_toks").over(w))
        .withColumn("n_vocab", sum("n_new").over(w))
        .select(col("b").as("prefix"), col("n_tokens"), col("n_vocab"))
        .orderBy("prefix")
    },
    Some("""WITH toks AS (
              SELECT doc_id % 4 AS b, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            pb AS (
              SELECT b, CAST(count(*) AS BIGINT) AS n_toks
              FROM toks GROUP BY 1),
            fs AS (SELECT tok, min(b) AS b FROM toks GROUP BY tok),
            nv AS (SELECT b, CAST(count(*) AS BIGINT) AS n_new
                   FROM fs GROUP BY 1)
            SELECT pb.b AS prefix,
              CAST(sum(pb.n_toks) OVER (ORDER BY pb.b) AS BIGINT)
                AS n_tokens,
              CAST(sum(coalesce(nv.n_new, 0)) OVER (ORDER BY pb.b)
                AS BIGINT) AS n_vocab
            FROM pb LEFT JOIN nv USING (b)
            ORDER BY prefix"""))

  /** t34 — truncation-loss / context-budget profile: for candidate
    * sequence lengths L ∈ {32, 64, 96} tokens, how much of the corpus a
    * truncate-at-L tokenization keeps — docs over the limit, tokens
    * lost, and slot utilization (kept tokens per L-token context slot,
    * in exact ppm). The planning table behind every max_seq_len choice:
    * too small loses text, too large pads slots (x11's packing is the
    * downstream fix; this quantifies the tradeoff).
    *
    * All-integer: per-doc token counts explode against the 3-row limit
    * literal, ONE hash agg keyed by limit (3 keys, partial-aggregable);
    * utilization is (10⁶·kept) DIV (docs·L). Scale shape: the corpus
    * work is the tokenize+count scan; the explode multiplies an 8-byte
    * count row ×3, never the text. */
  val truncationLoss: QueryDef = {
    val limits = Seq(32L, 64L, 96L)
    QueryDef(
      "t34_truncation_loss",
      (s, d) => Tables.documents(s, d)
        .select(size(split(col("text"), " ")).cast("long").as("n_tok"))
        .select(col("n_tok"),
          explode(lit(limits.toArray)).as("lim"))
        .groupBy("lim")
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("CASE WHEN n_tok > lim THEN 1 ELSE 0 END"))
            .as("docs_over"),
          sum(expr("greatest(n_tok - lim, 0)")).as("tokens_lost"),
          sum(expr("least(n_tok, lim)")).as("tokens_kept"))
        .withColumn("utilization_ppm",
          expr("(1000000 * tokens_kept) DIV (n_docs * lim)"))
        .select("lim", "n_docs", "docs_over", "tokens_lost",
          "tokens_kept", "utilization_ppm")
        .orderBy("lim"),
      Some(s"""WITH n AS (
                 SELECT CAST(len(string_split(text, ' ')) AS BIGINT)
                   AS n_tok
                 FROM documents),
               x AS (
                 SELECT n_tok, CAST(lim AS BIGINT) AS lim
                 FROM n, unnest([${limits.mkString(", ")}]) AS tl(lim))
               SELECT lim, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(CASE WHEN n_tok > lim THEN 1 ELSE 0 END)
                   AS BIGINT) AS docs_over,
                 CAST(sum(greatest(n_tok - lim, 0)) AS BIGINT)
                   AS tokens_lost,
                 CAST(sum(least(n_tok, lim)) AS BIGINT) AS tokens_kept,
                 (1000000 * CAST(sum(least(n_tok, lim)) AS BIGINT))
                   // (CAST(count(*) AS BIGINT) * lim) AS utilization_ppm
               FROM x GROUP BY 1 ORDER BY lim"""))
  }

  /** t35 — PMI collocation mining (Church & Hanks, Computational
    * Linguistics 16(1), 1990: pointwise mutual information
    * log p(x,y)/(p(x)p(y)) as the association measure behind every
    * collocation/phrase-table extraction — the corpus-level complement
    * of t11, which scores DOCS under the bigram model; this op mines
    * the model itself for its strongest pairs). Bigram and unigram
    * instance counts are exact; candidates need c_xy ≥ 5 (the standard
    * low-frequency guard — PMI is notoriously unstable below it); the
    * top 20 pairs by PMI are reported.
    *
    * Determinism: counts are exact BIGINTs; PMI is ONE fixed-shape
    * IEEE expression ln(c_xy·Nu²/(Nb·c_x·c_y)) integerized to 10⁻⁶
    * nats per CANDIDATE row (bounded, per-row — no cross-row float
    * arithmetic); ranking ties break on (w1, w2).
    *
    * Scale shape: bigrams are an in-row transform+explode (LINEAR —
    * the oracle's positional self-join is the SQL mirror only); the
    * model is two vocabulary-keyed hash aggs; unigram counts attach by
    * token equi-join; the two corpus totals ride a 1-row broadcast;
    * top-20 is a map-side TakeOrdered. No all-pairs anything. */
  val pmiCollocations: QueryDef = {
    val minCount = 5L
    val pmiExpr =
      "CAST(round(ln((CAST(c_xy AS DOUBLE) * CAST(nu AS DOUBLE) * " +
        "CAST(nu AS DOUBLE)) / (CAST(nb AS DOUBLE) * CAST(c_x AS DOUBLE) * " +
        "CAST(c_y AS DOUBLE))) * 1000000) AS BIGINT)"
    QueryDef(
      "t35_pmi_collocations",
      (s, d) => {
        val toks = Tables.documents(s, d).select(split(col("text"), " ").as("t"))
        val uni = toks.select(explode(col("t")).as("w"))
          .filter(col("w") =!= "")
          .groupBy("w").agg(count(lit(1)).as("c"))
        val bg = toks.filter(size(col("t")) >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i + 1] AS w2))"))
            .as("b"))
          .select(col("b.w1"), col("b.w2"))
          .filter(col("w1") =!= "" && col("w2") =!= "")
        val totals = uni.agg(sum(col("c")).as("nu"))
          .crossJoin(bg.agg(count(lit(1)).as("nb")))
        bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
          .filter(col("c_xy") >= minCount)
          .join(uni.select(col("w").as("w1"), col("c").as("c_x")), Seq("w1"))
          .join(uni.select(col("w").as("w2"), col("c").as("c_y")), Seq("w2"))
          .crossJoin(broadcast(totals))
          .withColumn("pmi_e6", expr(pmiExpr))
          .select("w1", "w2", "c_xy", "c_x", "c_y", "pmi_e6")
          .orderBy(col("pmi_e6").desc, col("w1"), col("w2"))
          .limit(20)
      },
      Some(s"""WITH toks AS (
                 SELECT doc_id, string_split(text, ' ') AS t FROM documents),
               pos AS (
                 SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS p
                 FROM toks),
               uni AS (
                 SELECT w, CAST(count(*) AS BIGINT) AS c
                 FROM pos WHERE w != '' GROUP BY 1),
               big AS (
                 SELECT a.w AS w1, b.w AS w2
                 FROM pos a JOIN pos b
                   ON a.doc_id = b.doc_id AND b.p = a.p + 1
                 WHERE a.w != '' AND b.w != ''),
               bc AS (
                 SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
                 FROM big GROUP BY 1, 2 HAVING count(*) >= $minCount),
               tot AS (
                 SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS nu,
                        (SELECT CAST(count(*) AS BIGINT) FROM big) AS nb)
               SELECT w1, w2, c_xy, u1.c AS c_x, u2.c AS c_y,
                 CAST(round(ln((CAST(c_xy AS DOUBLE) * CAST(nu AS DOUBLE) *
                   CAST(nu AS DOUBLE)) / (CAST(nb AS DOUBLE) *
                   CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))) * 1000000)
                   AS BIGINT) AS pmi_e6
               FROM bc
               JOIN uni u1 ON bc.w1 = u1.w
               JOIN uni u2 ON bc.w2 = u2.w
               CROSS JOIN tot
               ORDER BY pmi_e6 DESC, w1, w2 LIMIT 20"""))
  }

  /** t36 — interpolated Kneser–Ney bigram cross-entropy per language
    * (Kneser & Ney, ICASSP 1995; Chen & Goodman, CSL 1999 eq. 4.24 —
    * the smoothing every production n-gram LM (KenLM) uses, and the
    * refinement of t25's add-k: the backoff weight is the CONTINUATION
    * probability N₁₊(•w₂)/|bigram types|, not raw unigram frequency,
    * so "Francisco" stops looking probable after unseen words). The
    * global model is trained on the full corpus; each language slice's
    * cross-entropy under it is the domain-shift readout (t31's JSD at
    * the sequence level).
    *
    * P(w₂|w₁) = max(c₁₂−d, 0)/c₁• + (d·N₁₊(w₁•)/c₁•)·N₁₊(•w₂)/T,
    * d = 0.75 (the Chen–Goodman standard). All five inputs are exact
    * BIGINTs on the observed-bigram-type frame (c₁• and both N₁₊
    * come from two KEY-partitioned windows over it, T from a 1-row
    * broadcast); log P is integerized to 10⁻⁶ nats per TYPE before
    * the exact Σ c·lp instance sum; the per-language mean truncates
    * toward zero via x51's sign-split CASE; perplexity is one
    * fixed-shape exp at 6 dp.
    *
    * Scale shape: one (lang, bigram) census scan; the model frame is
    * bigram-VOCABULARY-sized with w1-/w2-keyed windows (two bounded
    * shuffles of the type frame, never the corpus); scoring joins the
    * census back on the bigram key. */
  val knPerplexity: QueryDef = {
    val lpExpr =
      "CAST(round(ln((greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0) / CAST(c1dot AS DOUBLE)) + " +
        "(0.75 * CAST(n1p_w1 AS DOUBLE) / CAST(c1dot AS DOUBLE)) * " +
        "(CAST(n1p_w2 AS DOUBLE) / CAST(t_types AS DOUBLE))) * 1000000) AS BIGINT)"
    QueryDef(
      "t36_kneser_ney",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val census = Tables.documents(s, d)
          .select(col("lang"), split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 2)
          .select(col("lang"), explode(expr(
            "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i + 1] AS w2))"))
            .as("b"))
          .select(col("lang"), col("b.w1"), col("b.w2"))
          .filter(col("w1") =!= "" && col("w2") =!= "")
          .groupBy("lang", "w1", "w2").agg(count(lit(1)).as("c"))
        val model = census.groupBy("w1", "w2").agg(sum(col("c")).as("c12"))
          .withColumn("c1dot", sum(col("c12")).over(Window.partitionBy("w1")))
          .withColumn("n1p_w1", count(lit(1)).over(Window.partitionBy("w1")))
          .withColumn("n1p_w2", count(lit(1)).over(Window.partitionBy("w2")))
        val lp = model
          .crossJoin(broadcast(model.agg(count(lit(1)).as("t_types"))))
          .withColumn("lp_e6", expr(lpExpr))
          .select("w1", "w2", "lp_e6")
        census.join(lp, Seq("w1", "w2"))
          .groupBy("lang")
          .agg(sum(col("c")).as("n_bigrams"),
            sum(expr("c * lp_e6")).as("sum_lp_e6"))
          .withColumn("mean_lp_e6", expr(
            "CASE WHEN sum_lp_e6 >= 0 THEN sum_lp_e6 DIV n_bigrams " +
              "ELSE -((-sum_lp_e6) DIV n_bigrams) END"))
          .withColumn("ppl", expr(
            "round(exp(-CAST(sum_lp_e6 AS DOUBLE) / CAST(n_bigrams AS DOUBLE) / 1000000.0), 6)"))
          .select("lang", "n_bigrams", "sum_lp_e6", "mean_lp_e6", "ppl")
          .orderBy("lang")
      },
      Some(s"""WITH toks AS (
                 SELECT lang, string_split(text, ' ') AS t FROM documents),
               census AS (
                 SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c
                 FROM (
                   SELECT t.lang,
                     t.t[i] AS w1, t.t[i + 1] AS w2
                   FROM (SELECT lang, t FROM toks WHERE len(t) >= 2) t,
                     unnest(range(1, len(t.t))) AS u(i))
                 WHERE w1 != '' AND w2 != ''
                 GROUP BY 1, 2, 3),
               model AS (
                 SELECT w1, w2, CAST(sum(c) AS BIGINT) AS c12
                 FROM census GROUP BY 1, 2),
               mw AS (
                 SELECT *,
                   CAST(sum(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1dot,
                   CAST(count(*) OVER (PARTITION BY w1) AS BIGINT)
                     AS n1p_w1,
                   CAST(count(*) OVER (PARTITION BY w2) AS BIGINT)
                     AS n1p_w2
                 FROM model),
               lp AS (
                 SELECT w1, w2, $lpExpr AS lp_e6
                 FROM mw CROSS JOIN
                   (SELECT CAST(count(*) AS BIGINT) AS t_types FROM model)),
               sc AS (
                 SELECT c.lang, CAST(sum(c.c) AS BIGINT) AS n_bigrams,
                   CAST(sum(c.c * l.lp_e6) AS BIGINT) AS sum_lp_e6
                 FROM census c JOIN lp l ON c.w1 = l.w1 AND c.w2 = l.w2
                 GROUP BY 1)
               SELECT lang, n_bigrams, sum_lp_e6,
                 CASE WHEN sum_lp_e6 >= 0 THEN sum_lp_e6 // n_bigrams
                   ELSE -((-sum_lp_e6) // n_bigrams) END AS mean_lp_e6,
                 round(exp(-CAST(sum_lp_e6 AS DOUBLE)
                   / CAST(n_bigrams AS DOUBLE) / 1000000.0), 6) AS ppl
               FROM sc ORDER BY lang"""))
  }

  /** t40 — character-coverage curve per language (the SentencePiece
    * `character_coverage` rule, Kudo & Richardson, EMNLP 2018: pick
    * the smallest character set whose cumulative frequency reaches the
    * coverage target — everything else maps to <unk>): per language,
    * the character census is ranked by frequency and, for each target
    * in the standard ladder {99%, 99.9%, 99.95%}, the readout is how
    * many distinct characters the target needs and how many the
    * alphabet has — the tokenizer-prep decision every multilingual
    * vocab build makes before t15/t16 run.
    *
    * Determinism: pure integer counts; the coverage test is the
    * cross-multiplied integer inequality 10⁴·cum_before < target_e4 ·
    * total (never a float share); ranking ties break on the character
    * itself. Scale shape: ONE (lang, char) census — map-side
    * combinable, alphabet-bounded — then windows over the tiny census
    * frame; the targets explode over the census, not the corpus. */
  val charCoverage: QueryDef = {
    val targetsE4 = Seq(9900, 9990, 9995)
    QueryDef(
      "t40_char_coverage",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val census = Tables.documents(s, d)
          .select(col("lang"), explode(split(col("text"), "")).as("ch"))
          .filter(length(col("ch")) > 0)
          .groupBy("lang", "ch").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("n").desc, col("ch"))
        val ranked = census
          .withColumn("cum_before",
            coalesce(sum(col("n")).over(
              w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("total",
            sum(col("n")).over(Window.partitionBy(col("lang"))))
          .withColumn("alphabet",
            count(lit(1)).over(Window.partitionBy(col("lang"))))
        ranked
          .select(col("lang"), col("cum_before"), col("total"),
            col("alphabet"),
            explode(expr(s"array(${targetsE4.mkString(", ")})"))
              .as("target_e4"))
          .filter(expr("10000 * cum_before < target_e4 * total"))
          .groupBy("lang", "target_e4")
          .agg(count(lit(1)).as("n_chars_needed"),
            max(col("alphabet")).as("alphabet_size"),
            max(col("total")).as("total_chars"))
          .orderBy("lang", "target_e4")
      },
      Some(s"""WITH census AS (
                 SELECT lang, ch, count(*) AS n
                 FROM (SELECT lang, unnest(string_split(text, '')) AS ch
                       FROM documents)
                 WHERE length(ch) > 0
                 GROUP BY 1, 2),
               ranked AS (
                 SELECT lang, n,
                   coalesce(sum(n) OVER (PARTITION BY lang
                     ORDER BY n DESC, ch
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS cum_before,
                   sum(n) OVER (PARTITION BY lang) AS total,
                   count(*) OVER (PARTITION BY lang) AS alphabet
                 FROM census)
               SELECT lang, CAST(target_e4 AS INT) AS target_e4,
                 count(*) AS n_chars_needed,
                 CAST(max(alphabet) AS BIGINT) AS alphabet_size,
                 CAST(max(total) AS BIGINT) AS total_chars
               FROM ranked,
                 unnest([${targetsE4.mkString(", ")}]) AS t(target_e4)
               WHERE 10000 * cum_before < target_e4 * total
               GROUP BY 1, 2 ORDER BY 1, 2"""))
  }

  /** t41 — per-document character-entropy gibberish screen (the
    * CCNet/C4-family quality gate neither length nor stopword ratios
    * catch: near-zero char entropy means degenerate repetition
    * ("aaaa…", boilerplate runs), implausibly HIGH entropy means
    * base64/binary/hash spew — cf. the entropy filters in CCNet's
    * LM-free stage and Gopher's heuristic battery): per doc,
    * H = ln n − (Σ c·ln c)/n over the char census, 10⁻⁶-nat
    * integerized per the t23 ln recipe (ln is only ever applied to an
    * INTEGER count — both engines see the identical double argument),
    * then a (lang, 0.25-nat band) census so the output stays bounded
    * while every doc's entropy is exercised.
    *
    * Determinism: c·lnc_e6 products and sums are exact BIGINTs; the
    * per-doc divide is positive-truncating on both engines. Scale
    * shape: char-explode → (doc, ch) agg → doc agg → bounded census —
    * corpus-linear, doc-keyed, no window over the corpus. */
  val charEntropy: QueryDef = QueryDef(
    "t41_char_entropy",
    (s, d) => {
      val census = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), "")).as("ch"))
        .filter(length(col("ch")) > 0)
        .groupBy("doc_id", "lang", "ch").agg(count(lit(1)).as("c"))
      census.groupBy("doc_id", "lang")
        .agg(sum(col("c")).as("n"),
          sum(expr("c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) " +
            "AS BIGINT)")).as("s"))
        .withColumn("h_e6",
          expr("CAST(round(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) " +
            "- s DIV n"))
        .groupBy(col("lang"), expr("h_e6 DIV 250000").as("band"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("h_e6")).as("min_h_e6"),
          max(col("h_e6")).as("max_h_e6"))
        .orderBy("lang", "band")
    },
    Some("""WITH census AS (
              SELECT doc_id, lang, ch, CAST(count(*) AS BIGINT) AS c
              FROM (SELECT doc_id, lang,
                      unnest(string_split(text, '')) AS ch
                    FROM documents)
              WHERE length(ch) > 0
              GROUP BY 1, 2, 3),
            perdoc AS (
              SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS n,
                CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000)
                  AS BIGINT)) AS BIGINT) AS s
              FROM census GROUP BY 1, 2),
            h AS (
              SELECT lang,
                (CAST(round(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
                  - s // n) AS h_e6
              FROM perdoc)
            SELECT lang, h_e6 // 250000 AS band,
              count(*) AS n_docs,
              min(h_e6) AS min_h_e6,
              max(h_e6) AS max_h_e6
            FROM h GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Shared BM25 core for t42 and s26 (Robertson & Walker 1994;
    * Robertson & Zaragoza 2009 "The Probabilistic Relevance Framework:
    * BM25 and Beyond"): the standard sparse lexical baseline every
    * hybrid LLM-retrieval pipeline starts from, re-expressed in the
    * repo's fixed-point discipline so scores are ORACLE-EXACT.
    *
    * Per (query term t, doc d) with k1 = 1.2, b = 0.75:
    *   idf(t)    = (N − df + ½)/(df + ½)        [RSJ idf without the ln:
    *               a monotone rational of the same odds — ln is not
    *               correctly rounded across libms, so the hash-exact
    *               gate bans it on non-integer arguments; ×2 clears the
    *               halves: (2N − 2df + 1)/(2df + 1), always ≥ 1/(2df+1)
    *               > 0 since df ≤ N]
    *   tfc(t,d)  = tf·(k1+1) / (tf + k1·(1 − b + b·len/avglen)), with
    *               avglen = L/N; ×10·L clears every fraction:
    *               22·tf·L / (10·L·tf + 3·L + 9·len·N)
    *   score_e6  = (10⁶ · (2N−2df+1) · 22·tf·L)
    *               DIV ((2df+1) · (10·L·tf + 3·L + 9·len·N))
    * and bm25_e6(q,d) = Σ_t score_e6 — integer sums, exact at any
    * accumulation order. The numerator passes 2⁶³ at corpus scale
    * (N·tf·L·10⁶), so the quotient runs at 128 bits (DECIMAL(38,0) /
    * HUGEINT — the x50 overflow lesson) and lands in BIGINT.
    *
    * Query panel: the tokens of docs with doc_id < 10 (known-item
    * retrieval — the query doc itself should rank first, the m07
    * self-rank readout). Scale shape: tf/len/df are one-pass hash aggs
    * (map-side combinable), the 1-row corpus frame is a broadcast, the
    * panel joins the tf table on term (broadcastable — the panel is
    * bounded), per-query top-k via a ranking window. t07's lineage
    * exactly; no corpus×corpus anywhere. */
  def bm25Frame(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // r15: ONE fanned-out tokenize pass materialized as the TF table;
    // doc length and corpus length are exact sums over tf (len(doc) =
    // SUM tf, big_l = SUM len), so the previous three extra
    // tokenize-the-corpus passes (len, big_l, and tf's own re-run for
    // df/qTerms) collapse into aggregates over the checkpoint —
    // the standard build order of a BM25 index (tokenize once,
    // aggregate the postings) at any scale
    val tf = Tables.fanOutForCpu(
        docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val len = tf.groupBy("doc_id").agg(sum(col("tf")).as("len"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val corpus = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(tf.agg(sum(col("tf")).as("big_l")))
    val qTerms = tf.filter(col("doc_id") < 10)
      .select(col("doc_id").as("q_id"), col("token"))
    broadcast(qTerms)
      .join(tf.withColumnRenamed("doc_id", "n_id"), "token")
      .join(df, "token")
      .join(len.withColumnRenamed("doc_id", "n_id"), "n_id")
      .crossJoin(broadcast(corpus))
      .withColumn("score_e6", expr(
        """CAST((CAST(1000000 AS DECIMAL(38,0))
             * (2 * n_docs - 2 * df + 1) * (22 * tf) * big_l)
           DIV (CAST(2 * df + 1 AS DECIMAL(38,0))
             * (10 * big_l * tf + 3 * big_l + 9 * len * n_docs))
           AS BIGINT)"""))
      .groupBy("q_id", "n_id")
      .agg(sum(col("score_e6")).as("bm25_e6"),
        count(lit(1)).as("n_terms"))
  }

  /** DuckDB CTE chain ending in `bm(q_id, n_id, bm25_e6, n_terms)` —
    * the single mirror of [[bm25Frame]]. */
  val bm25CtesSql: String =
    """toks AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS token
         FROM documents),
       tf AS (
         SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         FROM toks WHERE token <> '' GROUP BY 1, 2),
       len AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS len
         FROM toks WHERE token <> '' GROUP BY 1),
       df AS (SELECT token, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY 1),
       corpus AS (
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
                (SELECT CAST(count(*) AS BIGINT) FROM toks
                 WHERE token <> '') AS big_l),
       term AS (
         SELECT q.doc_id AS q_id, t.doc_id AS n_id,
           CAST((CAST(1000000 AS HUGEINT)
               * (2 * n_docs - 2 * df + 1) * (22 * t.tf) * big_l)
             // (CAST(2 * df + 1 AS HUGEINT)
               * (10 * big_l * t.tf + 3 * big_l + 9 * l.len * n_docs))
             AS BIGINT) AS score_e6
         FROM tf q
         JOIN tf t USING (token)
         JOIN df USING (token)
         JOIN len l ON l.doc_id = t.doc_id
         CROSS JOIN corpus
         WHERE q.doc_id < 10),
       bm AS (
         SELECT q_id, n_id, CAST(sum(score_e6) AS BIGINT) AS bm25_e6,
           CAST(count(*) AS BIGINT) AS n_terms
         FROM term GROUP BY 1, 2)"""

  /** t42 — BM25 top-k retrieval over the bounded query panel (VERDICT
    * r12 ask #3: the engine had exact TF-IDF and a full dense family
    * but no sparse lexical baseline). One row per (query, hit):
    * integerized exact score, term-hit count, rank. */
  val bm25TopK: QueryDef = QueryDef(
    "t42_bm25_topk",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("bm25_e6").desc, col("n_id"))
      bm25Frame(s, d)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
        .select("q_id", "n_id", "rnk", "bm25_e6", "n_terms")
        .orderBy("q_id", "rnk")
    },
    Some(s"""WITH $bm25CtesSql,
             r AS (
               SELECT q_id, n_id,
                 CAST(row_number() OVER (PARTITION BY q_id
                   ORDER BY bm25_e6 DESC, n_id) AS BIGINT) AS rnk,
                 bm25_e6, n_terms
               FROM bm)
             SELECT q_id, n_id, rnk, bm25_e6, n_terms
             FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""))

  val all: Seq[QueryDef] =
    Seq(langId, quality, tokenCount, fingerprint, tokenFreq, tfidfExact,
      piiRedact, hapaxRatio, gramCommonness, bigramFluency, encodingQuality,
      nfcCanonicalize, domainClassify, vocabBuild, bpeInduction, bpeEncode,
      readability, lexicalDiversity, rakeKeywords, langIdConfusion,
      gopherRules, zipfFit, tokenBurstiness, bigramPerplexity,
      confusableSpoof, textrank, ruleAblation, ngramNovelty, bpeFertility,
      jsDivergence, vocabOov, vocabGrowth, truncationLoss, pmiCollocations,
      knPerplexity, mcnemarLangId, cohensKappa, loopDetection, charCoverage,
      charEntropy, bm25TopK)
}
