package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.QueryDef

/** Corpus-curation and reproducible-sampling operators — the pieces a
  * training-data pipeline needs between "raw corpus" and "training
  * shards" (SURVEY §2.9 extended surface).
  *
  * All four are oracle-exact: every source of randomness is replaced by
  * md5 over a stable key, which both Spark and DuckDB compute
  * identically (lowercase hex over UTF-8 bytes), so sampling decisions
  * are reproducible across engines, runs, and cluster sizes — the
  * property seeded RNG sampling (`rand(seed)`) does NOT have, since its
  * draw depends on partition layout.
  *
  * Scale notes:
  *  - hash-threshold sampling is a pure per-row filter: no shuffle, no
  *    sampler state, pushes down to a scan + filter;
  *  - entity-consistent sampling (all lineitems of a sampled order)
  *    falls out for free by hashing the ENTITY key, where seeded
  *    row-level sampling would tear entities apart;
  *  - stratified exact-k is one window per stratum (bounded output);
  *  - shard assignment is a map-side expression + one small agg.
  */
object Curation {

  /** Whitespace token count, one definition per dialect (used by x03,
    * x04, x07 — these two strings are a load-bearing cross-engine pair;
    * edit them together or hash-exactness silently breaks). */
  private[graft] val sparkTokCount = raw"size(split(trim(text), '\\s+'))"
  private val duckTokCount =
    """CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER)"""

  /** Modulus of [[permChecksum]]: the Mersenne prime 2⁶¹ − 1.
    * (Declared ahead of the QueryDefs that interpolate it into oracle
    * SQL — object vals initialize in declaration order.) */
  val ChecksumMod: Long = (1L << 61) - 1

  /** Order-insensitive permutation checksum over non-negative 40-bit
    * key folds — the MODULAR ACCUMULATOR form: accumulate in an exact
    * DECIMAL(38,0) sum (headroom to ~10²⁶ rows, where the plain BIGINT
    * sum the fixture originally used goes inexact past ~8 M rows ·
    * 2⁴⁰), then reduce modulo the Mersenne prime 2⁶¹ − 1 into a
    * compact engine-portable long. Mergeable across shards/epoch
    * partials (mod distributes over the partial sums), and mirrored
    * exactly by DuckDB's HUGEINT sum % the same modulus. */
  def permChecksum(fold40: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (sum(fold40.cast("decimal(38,0)")) % lit(ChecksumMod)).cast("long")

  /** x01 — entity-consistent deterministic sampling: keep every lineitem
    * of the ~5.1% of orders whose md5(l_orderkey) falls under the
    * threshold ('00'..'0c' of 256 two-hex-char prefixes = 13/256).
    * Because membership is a function of the order key alone, the sample
    * is entity-closed (never a partial order) and identical on any
    * engine or partitioning. */
  val sampleEntityHash: QueryDef = QueryDef(
    "x01_sample_entity_hash",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(expr("substring(md5(CAST(l_orderkey AS STRING)), 1, 2) < '0d'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          // quantities are integral: exact BIGINT sum (r12 sweep)
          sum(expr("CAST(l_quantity AS BIGINT)")).as("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus"),
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
            count(DISTINCT l_orderkey) AS n_orders,
            CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
            FROM lineitem
            WHERE substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 2) < '0d'
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** x02 — stratified exact-k reservoir: per (returnflag, linestatus)
    * stratum, the 20 rows with the smallest md5 over the unique row key.
    * Hash order is a uniform-but-deterministic permutation, so this IS a
    * k-reservoir sample — minus the nondeterminism. One bounded window
    * per stratum; strata counts are small so no skew concern. */
  val sampleStratifiedHash: QueryDef = {
    val rowKey =
      "md5(concat(CAST(l_orderkey AS STRING), ':', CAST(l_linenumber AS STRING)))"
    QueryDef(
      "x02_sample_stratified_hash",
      (s, d) => {
        val w = Window.partitionBy("l_returnflag", "l_linestatus")
          .orderBy(expr(rowKey), col("l_orderkey"), col("l_linenumber"))
        Tables.lineitem(s, d)
          .select("l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 20)
          .select("l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber")
          .orderBy("l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber
              FROM (SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber,
                      row_number() OVER (PARTITION BY l_returnflag, l_linestatus
                        ORDER BY md5(concat(CAST(l_orderkey AS VARCHAR), ':',
                                            CAST(l_linenumber AS VARCHAR))),
                                 l_orderkey, l_linenumber) AS rn
                    FROM lineitem)
              WHERE rn <= 20
              ORDER BY 1, 2, 3, 4"""))
  }

  /** x03 — corpus curation: the canonical filter chain every LLM data
    * pipeline runs — quality gates (token count, punctuation ratio) +
    * keep only the exact-dedup survivor (min doc_id per identical text).
    * Text is dropped BEFORE the dedup shuffle: only (doc_id, fingerprint,
    * metrics) move, the d08 discipline. punct_ratio is one exact IEEE
    * division, identical on both engines. Scope: ASCII text (the
    * documents fixture) — like t04, Spark's length() counts UTF-16 units
    * while DuckDB's counts codepoints, so astral-plane input would
    * diverge at the ratio gate. */
  val corpusCuration: QueryDef = QueryDef(
    "x03_corpus_curation",
    (s, d) => {
      val metered = Tables.documents(s, d).select(
        col("doc_id"),
        expr("md5(text)").as("fp"),
        expr(sparkTokCount).as("n_tokens"),
        // nullif guards the empty-text row: Spark 4 ANSI division would
        // throw DIVIDE_BY_ZERO where DuckDB NULL-filters; with nullif both
        // engines yield NULL and the ratio gate drops the row identically
        expr("CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '')) AS DOUBLE) / nullif(length(text), 0)")
          .as("punct_ratio"))
      val w = Window.partitionBy("fp")
      metered
        .withColumn("canonical_id", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("canonical_id") &&
          col("n_tokens") >= 5 && col("punct_ratio") < 0.2)
        .select("doc_id", "n_tokens", "punct_ratio")
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id, n_tokens, punct_ratio
             FROM (SELECT doc_id,
                     $duckTokCount AS n_tokens,
                     CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                       / nullif(length(text), 0) AS punct_ratio,
                     min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
                   FROM documents)
             WHERE doc_id = canonical_id AND n_tokens >= 5 AND punct_ratio < 0.2
             ORDER BY doc_id"""))

  /** x04 — deterministic shard assignment: route each doc to one of 16
    * training shards by its md5 first hex char, report per-shard doc and
    * token totals. The hash is uniform, so shards balance without any
    * coordination — the property that lets 1000 writers emit shards
    * independently. Map-side expression + a 16-group agg. */
  val shardHash: QueryDef = QueryDef(
    "x04_shard_hash",
    (s, d) =>
      Tables.documents(s, d)
        .select(
          expr("substring(md5(CAST(doc_id AS STRING)), 1, 1)").as("shard"),
          expr(sparkTokCount).as("n_tokens"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
        .orderBy("shard"),
    Some(s"""SELECT substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
             count(*) AS n_docs,
             CAST(sum($duckTokCount) AS BIGINT) AS total_tokens
             FROM documents GROUP BY 1 ORDER BY 1"""))

  /** x05 — salted two-phase aggregation as a registered, oracle-checked
    * query: `ops.Skew.saltedSum` fans the hot grouping keys over
    * saltFactor reducers (partial agg on (key, salt), final agg on key).
    * The salt is internal, so the result is salt-invariant and the
    * oracle is the plain GROUP BY — proving the skew path is
    * semantics-preserving, not just present. l_quantity is
    * integer-valued, so the double sums are exact in any accumulation
    * order. */
  val saltedAgg: QueryDef = QueryDef(
    "x05_salted_agg",
    (s, d) =>
      graft.ops.Skew.saltedSum(
        Tables.lineitem(s, d), "l_returnflag", "l_quantity")
        // integral-valued doubles sum exactly in any order; snap the
        // generic double output to the exact BIGINT (r12 sweep).
        .withColumn("sum_l_quantity",
          expr("CAST(round(sum_l_quantity) AS BIGINT)"))
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
            CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_l_quantity
            FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** x06 — incremental dedup: an arriving batch (the fixture-pinned
    * first 250 doc_ids — a constant-size batch at every sf, while the
    * "existing" corpus doc_id ≥ 250 grows with sf: 250 rows at sf0.01,
    * 4 750 at sf0.1 — the steady-state shape) is admitted only if its
    * content fingerprint is absent from the existing corpus AND it is
    * the min-id survivor within the batch itself. This is d01/d08's
    * steady-state form — at 100 TB the "existing" side is a compact
    * fingerprint index (8-byte keys, no bodies), and the plan is one
    * anti equi-join plus one batch-local aggregate. The mirror uses
    * NOT EXISTS, not NOT IN: NOT IN's three-valued NULL semantics would
    * diverge from the anti-join if a fingerprint were ever NULL. */
  val incrementalDedup: QueryDef = QueryDef(
    "x06_incremental_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), expr("md5(text)").as("fp"))
      val batchMax = 250L // fixture-pinned batch: doc_ids [0, 250)
      val existing = docs.filter(col("doc_id") >= batchMax)
        .select("fp").distinct()
      val batch = docs.filter(col("doc_id") < batchMax)
      batch
        .join(existing, Seq("fp"), "left_anti")
        .groupBy("fp")
        .agg(min(col("doc_id")).as("admitted_id"),
          count(lit(1)).as("n_batch_copies"))
        .select("admitted_id", "n_batch_copies")
        .orderBy("admitted_id")
    },
    Some("""WITH docs AS (SELECT doc_id, md5(text) AS fp FROM documents),
            batch AS (SELECT * FROM docs WHERE doc_id < 250)
            SELECT min(doc_id) AS admitted_id, count(*) AS n_batch_copies
            FROM batch b
            WHERE NOT EXISTS (
              SELECT 1 FROM docs e WHERE e.doc_id >= 250 AND e.fp = b.fp)
            GROUP BY fp ORDER BY admitted_id"""))

  /** x07 — reproducible train/eval split by content-independent hash:
    * md5(doc_id) < threshold ⇒ eval (~12.5%), else train. Unlike
    * `randomSplit(seed)`, membership is a pure row function —
    * partitioning, cluster size, and engine cannot change it, which is
    * what makes 100 TB experiment reruns comparable. Reported as
    * per-split doc/token totals. */
  val hashSplit: QueryDef = QueryDef(
    "x07_hash_split",
    (s, d) =>
      Tables.documents(s, d)
        .select(
          expr("CASE WHEN substring(md5(CAST(doc_id AS STRING)), 1, 1) " +
            "IN ('0', '1') THEN 'eval' ELSE 'train' END").as("split"),
          expr(sparkTokCount).as("n_tokens"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
        .orderBy("split"),
    Some(s"""SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                         IN ('0', '1') THEN 'eval' ELSE 'train' END AS split,
             count(*) AS n_docs,
             CAST(sum($duckTokCount) AS BIGINT) AS total_tokens
             FROM documents GROUP BY 1 ORDER BY 1"""))

  /** x08 — n-gram repetition ratio (the Gopher/MassiveText-style
    * repetitiousness quality signal: Rae et al., "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher", 2021,
    * §A.1.1): fraction of word-3-grams that are duplicates of an earlier
    * 3-gram in the SAME document. Pure per-row array arithmetic — no
    * shuffle, no join; at 100 TB it is a map-only pass fused into
    * whatever scan already reads `text`. Integer/integer division is one
    * exact IEEE op, identical on both engines. */
  val repetitionRatio: QueryDef = QueryDef(
    "x08_repetition_ratio",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr(Dedup.shingleExpr("text")).as("sh"))
        .select(col("doc_id"),
          size(col("sh")).as("n_grams"),
          size(array_distinct(col("sh"))).as("n_distinct"))
        .withColumn("rep_ratio",
          (col("n_grams") - col("n_distinct")).cast("double") / col("n_grams"))
        .orderBy("doc_id"),
    Some("""WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            sh AS (
              SELECT doc_id, array_to_string(t[i + 1:i + 3], ' ') AS sh
              FROM toks, unnest(range(0, greatest(len(t) - 2, 1))) AS u(i)),
            agg AS (
              SELECT doc_id, CAST(count(*) AS INTEGER) AS n_grams,
                CAST(count(DISTINCT sh) AS INTEGER) AS n_distinct
              FROM sh GROUP BY 1)
            SELECT doc_id, n_grams, n_distinct,
              CAST(n_grams - n_distinct AS DOUBLE) / n_grams AS rep_ratio
            FROM agg ORDER BY doc_id"""))

  /** x09 — corpus-driven boilerplate removal (the C4-style cleaning
    * pass, Raffel et al. 2020 §2.2, applied at token granularity since
    * the fixture has no line structure): tokens appearing in more than
    * 75% of documents are induced as boilerplate and stripped from every
    * document, which is then reassembled in original token order.
    *
    * Scale shape: one distinct+agg for document frequency (vocabulary-
    * sized output — small), the DF table joined back BROADCAST as an
    * anti-join (the corpus is never shuffled for the filter), and one
    * final per-doc aggregation whose sort key is the in-document
    * position. Documents consisting entirely of boilerplate disappear —
    * same rule both engines. */
  val boilerplateRemoval: QueryDef = QueryDef(
    "x09_boilerplate_removal",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val dfreq = toks.select("doc_id", "tok").distinct()
        .groupBy("tok").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val bw = dfreq.crossJoin(broadcast(nDocs))
        .filter(col("df") > col("n_docs") * 0.75)
        .select("tok")
      toks.join(broadcast(bw), Seq("tok"), "left_anti")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_kept"),
          expr("array_join(transform(array_sort(collect_list(struct(pos, tok)))" +
            ", s -> s.tok), ' ')").as("clean_text"))
        .select("doc_id", "n_kept", "clean_text")
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id, i AS pos, t[i] AS tok
              FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                   unnest(range(1, len(t) + 1)) AS u(i)),
            dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df
                      FROM toks GROUP BY 1),
            n AS (SELECT count(*) AS n_docs FROM documents),
            bw AS (SELECT tok FROM dfreq, n WHERE df > n_docs * 0.75)
            SELECT doc_id, count(*) AS n_kept,
                   string_agg(tok, ' ' ORDER BY pos) AS clean_text
            FROM toks WHERE tok NOT IN (SELECT tok FROM bw)
            GROUP BY doc_id ORDER BY doc_id"""))

  /** Word n-gram array expression (generalizes Dedup.shingleExpr's
    * 3-gram form); docs shorter than n yield ONE truncated gram — their
    * full text — so whole-document matches on short docs still register.
    * Convention shared with the DuckDB mirror (`t[i+1:i+n]` over
    * `range(0, greatest(len(t) - (n-1), 1))`). */
  private def ngramExpr(textCol: String, n: Int): String =
    // token array LET-BOUND via a one-element outer transform so split
    // runs once per row, not once per gram position (Catalyst does not
    // hoist loop-invariant subexpressions out of HOF lambdas; the
    // unhoisted form re-tokenized the doc O(L²) — see
    // Dedup.shingleExpr, same r15 fix, 2.4-3x measured on this pass)
    s"transform(array(split($textCol, ' ')), t -> " +
      s"transform(sequence(0, greatest(size(t) - $n, 0)), " +
      s"i -> concat_ws(' ', slice(t, i + 1, $n))))[0]"

  /** x10 — benchmark decontamination (the GPT-3-style n-gram overlap
    * filter: Brown et al., "Language Models are Few-Shot Learners", 2020,
    * §C): flag every training document sharing at least one word
    * 13-gram with the held-out eval split. The eval/train split is x07's
    * rule (first md5 hex digit of doc_id in {0,1} → eval), so the two
    * operators compose into one pipeline: split, then decontaminate the
    * train side against the eval side.
    *
    * Scale shape: the eval set is benchmark-sized (a fixed, small
    * fraction), so its distinct 13-gram set is BROADCAST and the corpus
    * side stays a map-only scan + semi-join — the 100 TB train split is
    * never shuffled. Grams are xxhash64'd to 8-byte keys before the
    * broadcast (the d08 discipline); the oracle joins raw grams, so a
    * 64-bit collision would surface as a hard oracle diff (~n²/2⁶⁵,
    * zero observed — same documented trade as d04). */
  val decontaminate: QueryDef = {
    val n = 13
    QueryDef(
      "x10_decontaminate",
      (s, d) => {
        val grams = Tables.documents(s, d)
          .select(col("doc_id"),
            expr("substring(md5(CAST(doc_id AS STRING)), 1, 1)").as("hx"),
            explode(expr(ngramExpr("text", n))).as("g"))
          .select(col("doc_id"), col("hx"), xxhash64(col("g")).as("g"))
        val evalGrams = grams.filter(col("hx").isin("0", "1"))
          .select("g").distinct()
        val trainGrams = grams.filter(!col("hx").isin("0", "1"))
          .select("doc_id", "g").distinct()
        trainGrams.join(broadcast(evalGrams), Seq("g"), "left_semi")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_contam_grams"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (
                 SELECT doc_id, substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS hx,
                        string_split(text, ' ') AS t
                 FROM documents),
               grams AS (
                 SELECT DISTINCT doc_id, hx,
                        array_to_string(t[i + 1:i + $n], ' ') AS g
                 FROM toks,
                      unnest(range(0, greatest(len(t) - ${n - 1}, 1))) AS u(i)),
               ev AS (SELECT DISTINCT g FROM grams WHERE hx IN ('0', '1')),
               tr AS (SELECT doc_id, g FROM grams WHERE hx NOT IN ('0', '1'))
               SELECT doc_id, count(*) AS n_contam_grams
               FROM tr WHERE g IN (SELECT g FROM ev)
               GROUP BY 1 ORDER BY 1"""))
  }

  /** x11 — sequence packing by token budget (the pre-tokenization
    * chunking step of LLM training: concatenate documents in stable
    * doc_id order, cut every `binTokens` tokens, report per-bin
    * composition). The interesting part at 100 TB is the global prefix
    * sum: a naive `sum() OVER (ORDER BY doc_id)` plans an Exchange
    * SinglePartition over the whole corpus (the q21 anti-pattern). This
    * is the classic two-phase scan instead:
    *
    *  1. bucket docs by fixed id ranges; cumulative sums WITHIN each
    *     bucket are parallel windows (partitioned by bucket);
    *  2. per-bucket token totals — a `buckets`-row relation — get an
    *     exclusive running total in a single-partition window that
    *     touches exactly `buckets` rows, never the corpus, and is then
    *     broadcast back as each bucket's offset.
    *
    * cum_before = bucket offset + within-bucket cumsum − own tokens;
    * bin = cum_before DIV binTokens. Long addition is associative, so
    * the result is independent of bucketing — the oracle mirrors it with
    * the naive single window, which is exactly the point: same answer,
    * scalable plan. One bounded 1-row collect derives the id span. */
  val packSequences: QueryDef = {
    val binTokens = 2048L
    val buckets = 32
    QueryDef(
      "x11_pack_sequences",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), expr(sparkTokCount).cast("long").as("n_tokens"))
        // bounded 1-row collect; null on an empty corpus → any width works
        val maxId = Option(docs.agg(max("doc_id")).head.get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        val width = math.max(maxId / buckets + 1, 1L)
        val bucketed = docs.withColumn("bucket",
          expr(s"CAST(doc_id DIV $width AS INT)"))
        val inBucket = Window.partitionBy("bucket").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val within = bucketed.withColumn("cum_in", sum("n_tokens").over(inBucket))
        val overBuckets = Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = bucketed.groupBy("bucket")
          .agg(sum("n_tokens").as("btok"))
          .withColumn("offset",
            coalesce(sum("btok").over(overBuckets), lit(0L)))
          .select("bucket", "offset")
        within.join(broadcast(offsets), "bucket")
          .withColumn("cum_before",
            col("offset") + col("cum_in") - col("n_tokens"))
          .withColumn("bin", expr(s"cum_before DIV $binTokens"))
          .groupBy("bin")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_tokens").as("bin_tokens"),
            min("doc_id").as("first_doc"),
            max("doc_id").as("last_doc"))
          .orderBy("bin")
      },
      Some(s"""WITH d AS (
                 SELECT doc_id, CAST($duckTokCount AS BIGINT) AS n_tokens
                 FROM documents),
               c AS (
                 SELECT doc_id, n_tokens,
                   CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS cum_before
                 FROM d)
               SELECT CAST(cum_before // $binTokens AS BIGINT) AS bin,
                 count(*) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
                 min(doc_id) AS first_doc, max(doc_id) AS last_doc
               FROM c GROUP BY 1 ORDER BY 1"""))
  }

  /** x12 — the end-to-end fuzzy-dedup pass every LLM corpus gets
    * between crawl and training: near-dup pairs (d04's word-3-gram
    * Jaccard) → connected components (d07's large-star/small-star
    * contraction) → keep ONE representative per cluster (the min-id
    * member) → per-source cleaned-corpus accounting. The three stages
    * exist as separately-verified operators; this registers their
    * composition so the driver checks the pipeline seam, not just the
    * parts.
    *
    * Scale shape: the removal list is cluster-membership-bounded (dup
    * members only — a small fraction of any real corpus), so the final
    * filter is a BROADCAST anti-flag over the corpus scan; the corpus
    * is never shuffled after the pair stage. Oracle: DuckDB recomputes
    * pairs, takes the transitive closure with a recursive CTE, and
    * mirrors the survivor rule. */
  val fuzzyDedupPipeline: QueryDef = QueryDef(
    "x12_fuzzy_dedup_pipeline",
    (s, d) => {
      // pairs + CC come from the session-shared materialized stage
      // (Dedup.ngramSharedStage): x12/x19/x28/x34 all layer on the same
      // d04/d07 machinery, so it is computed once per session, not four
      // times — the production materialize-once pattern.
      val removed = Dedup.ngramSharedLabels(s, d)
        .filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id"), lit(1).as("rm"))
      val toks = Tables.documents(s, d).select(col("doc_id"), col("source"),
        expr(sparkTokCount).cast("long").as("n_tokens"))
      toks.join(broadcast(removed), Seq("doc_id"), "left")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("rm").isNull, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rm").isNull, col("n_tokens")).otherwise(0L))
            .as("kept_tokens"))
        .withColumn("n_removed", col("n_docs") - col("n_kept"))
        .select("source", "n_docs", "n_kept", "n_removed", "kept_tokens")
        .orderBy("source")
    },
    Some(s"""WITH RECURSIVE ${Dedup.ngramPairSql(Dedup.ngramTheta)},
             edges AS (
               SELECT a_id AS src, b_id AS dst FROM pairs
               UNION
               SELECT b_id AS src, a_id AS dst FROM pairs),
             reach(id, r) AS (
               SELECT src, src FROM edges
               UNION
               SELECT e.src, reach.r FROM edges e
               JOIN reach ON reach.id = e.dst),
             labels AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
             removed AS (SELECT id AS doc_id FROM labels WHERE id <> component),
             tok AS (
               SELECT doc_id, source, CAST($duckTokCount AS BIGINT) AS n_tokens
               FROM documents),
             sel AS (
               SELECT t.source, t.n_tokens, r.doc_id IS NOT NULL AS rm
               FROM tok t LEFT JOIN removed r USING (doc_id))
             SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN NOT rm THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_kept,
               CAST(count(*) - sum(CASE WHEN NOT rm THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_removed,
               CAST(sum(CASE WHEN NOT rm THEN n_tokens ELSE 0 END) AS BIGINT)
                 AS kept_tokens
             FROM sel GROUP BY 1 ORDER BY 1"""))

  /** x13 — batch MERGE / upsert (the SCD-1 "corpus refresh" between
    * snapshot N and N+1, done as a plain full-outer join + coalesce —
    * the parquet-era form of `MERGE INTO` that needs no transactional
    * catalog): a deterministic changes feed (md5-selected ~6% of orders
    * repriced, plus the same rows re-keyed as brand-new inserts) merged
    * into the snapshot; changed rows win, unmatched snapshot rows pass
    * through, unmatched changes insert.
    *
    * Money stays in integer CENTS end to end ((cents*11) DIV 10 — pure
    * long arithmetic, identical on both engines) and only the final
    * per-group sum is rendered as a double — the fixed-point discipline
    * float reprice-then-round cannot guarantee across engines.
    *
    * Scale shape: one equi full-outer shuffle on the merge key — the
    * minimum any engine pays; at a real refresh the changes side is a
    * fraction of the snapshot, so AQE typically picks a broadcast/
    * shuffled-hash plan on that side. Output is priority-bounded. */
  val upsertMerge: QueryDef = QueryDef(
    "x13_upsert_merge",
    (s, d) => {
      val snap = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderpriority"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val upd = snap
        .filter(expr("substring(md5(CAST(o_orderkey AS STRING)), 1, 2) < '10'"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          expr("(cents * 11) DIV 10").as("cents"))
      val ins = upd.select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
        col("o_orderpriority"), col("cents"))
      val changes = upd.union(ins)
      snap.as("s")
        .join(changes.as("c"), Seq("o_orderkey"), "full_outer")
        .select(
          coalesce(col("c.o_orderpriority"), col("s.o_orderpriority")).as("pri"),
          coalesce(col("c.cents"), col("s.cents")).as("cents"),
          (col("s.cents").isNotNull && col("c.cents").isNotNull).as("updated"),
          col("s.cents").isNull.as("inserted"))
        .groupBy("pri")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("updated"), 1L).otherwise(0L)).as("n_updated"),
          sum(when(col("inserted"), 1L).otherwise(0L)).as("n_inserted"),
          (sum("cents") / expr("CAST(100 AS DOUBLE)")).as("total_value"))
        .orderBy("pri")
    },
    Some("""WITH snap AS (
              SELECT o_orderkey, o_orderpriority,
                CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders),
            upd AS (
              SELECT o_orderkey, o_orderpriority, (cents * 11) // 10 AS cents
              FROM snap
              WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '10'),
            changes AS (
              SELECT * FROM upd
              UNION ALL
              SELECT o_orderkey + 100000000, o_orderpriority, cents FROM upd),
            merged AS (
              SELECT
                coalesce(c.o_orderpriority, s.o_orderpriority) AS pri,
                coalesce(c.cents, s.cents) AS cents,
                (s.cents IS NOT NULL AND c.cents IS NOT NULL) AS updated,
                s.cents IS NULL AS inserted
              FROM snap s FULL OUTER JOIN changes c USING (o_orderkey))
            SELECT pri, count(*) AS n_rows,
              CAST(sum(CASE WHEN updated THEN 1 ELSE 0 END) AS BIGINT)
                AS n_updated,
              CAST(sum(CASE WHEN inserted THEN 1 ELSE 0 END) AS BIGINT)
                AS n_inserted,
              CAST(sum(cents) AS BIGINT) / CAST(100 AS DOUBLE) AS total_value
            FROM merged GROUP BY 1 ORDER BY 1"""))

  /** x14 — weighted corpus mixing (the training-mixture step: each
    * source gets a sampling weight — upweight books, downweight crawl —
    * and the mixture is drawn reproducibly). Weights are generated ONCE
    * in Scala and rendered into BOTH the Spark expression and the DuckDB
    * SQL (the TextAnalysis lexicon discipline), and membership is
    * md5-threshold per document, so the draw is a pure per-row filter:
    * no sampler state, no shuffle, identical on any engine, partitioning
    * or cluster size — and STABLE under weight changes (raising a
    * source's weight only ADDS documents, it never resamples the ones
    * already in, because a doc's hash does not move).
    *
    * Scale shape: filter + one source-keyed agg; the weight CASE is a
    * literal expression evaluated inside the scan's codegen stage. */
  val mixtureWeights: QueryDef = {
    // srcN -> weight in {1.0, 0.75, 0.5, 0.25} by N mod 4 (deterministic,
    // derivable by a reader; any literal map works the same way)
    val weights: Seq[(String, Double)] = (0 until 20)
      .map(n => s"src$n" -> Seq(1.0, 0.75, 0.5, 0.25)(n % 4))
    def hexThr(w: Double): String =
      if (w >= 1.0) "zz" else f"${(w * 256).toInt}%02x"
    val thrCase = weights.map { case (s, w) =>
      s"WHEN source = '$s' THEN '${hexThr(w)}'"
    }.mkString("CASE ", " ", " ELSE '00' END")
    val wCase = weights.map { case (s, w) =>
      s"WHEN source = '$s' THEN CAST($w AS DOUBLE)"
    }.mkString("CASE ", " ", " ELSE CAST(0 AS DOUBLE) END")
    QueryDef(
      "x14_mixture_weights",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("source"),
            expr(sparkTokCount).cast("long").as("n_tokens"),
            expr(s"substring(md5(CAST(doc_id AS STRING)), 1, 2) < ($thrCase)")
              .as("kept"),
            expr(wCase).as("weight"))
          .groupBy("source", "weight")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("kept"), col("n_tokens")).otherwise(0L))
              .as("kept_tokens"))
          .orderBy("source"),
      Some(s"""WITH d AS (
                 SELECT source, CAST($duckTokCount AS BIGINT) AS n_tokens,
                   substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                     < ($thrCase) AS kept,
                   $wCase AS weight
                 FROM documents)
               SELECT source, weight, count(*) AS n_docs,
                 CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
                 CAST(sum(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT)
                   AS kept_tokens
               FROM d GROUP BY 1, 2 ORDER BY 1"""))
  }

  /** x15 — data-driven length-outlier filter: drop documents outside the
    * corpus's exact [p1, p99] band of `n_chars`. The thresholds are
    * EXACT discrete percentiles — smallest value whose cumulative count
    * covers ⌈p·N⌉ — computed with pure integer predicates (`cum·100 ≥
    * p·total`), so both engines agree bit-for-bit where interpolating
    * `percentile()` floats would not.
    *
    * Scale shape (the x11 two-phase discipline): phase 1 reduces the
    * corpus to a VALUE HISTOGRAM (one hash agg, domain-sized — distinct
    * lengths, not rows); the cumulative window runs over that histogram
    * only, and its single partition is bounded by the value domain, not
    * the corpus. Phase 2 broadcasts the 1-row threshold pair back as a
    * per-row filter. No corpus-sized sort anywhere. */
  val quantileOutlierFilter: QueryDef = QueryDef(
    "x15_quantile_outlier_filter",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
      val hist = docs.groupBy("n_chars").agg(count(lit(1)).as("c"))
      val wCum = Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val thr = hist
        .withColumn("cum", sum("c").over(wCum))
        .withColumn("total", sum("c").over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .agg(
          min(when(expr("cum * 100 >= total"), col("n_chars"))).as("lo"),
          min(when(expr("cum * 100 >= 99 * total"), col("n_chars"))).as("hi"))
      docs.crossJoin(broadcast(thr))
        .filter(col("n_chars").between(col("lo"), col("hi")))
        .groupBy("source", "lo", "hi")
        .agg(count(lit(1)).as("n_kept"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .orderBy("source")
    },
    Some("""WITH hist AS (
              SELECT n_chars, count(*) AS c FROM documents GROUP BY 1),
            cum AS (
              SELECT n_chars,
                CAST(sum(c) OVER (ORDER BY n_chars
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                CAST(sum(c) OVER () AS BIGINT) AS total
              FROM hist),
            thr AS (
              SELECT min(CASE WHEN cum * 100 >= total THEN n_chars END) AS lo,
                     min(CASE WHEN cum * 100 >= 99 * total THEN n_chars END) AS hi
              FROM cum)
            SELECT source, lo, hi, count(*) AS n_kept,
              min(n_chars) AS min_chars, max(n_chars) AS max_chars
            FROM documents, thr
            WHERE n_chars BETWEEN lo AND hi
            GROUP BY 1, 2, 3 ORDER BY source"""))

  /** x16 — salted equi-join (the join-side companion of x05's salted
    * aggregation): the skewed fact side draws a seeded salt, the
    * medium dim side replicates saltFactor×, each hot key fans out over
    * saltFactor reducers, and the salt drops before output — inner-join
    * semantics are IDENTICAL to the plain join, which is exactly what
    * the oracle checks (the DuckDB mirror is the unsalted join; any
    * divergence means the salting broke semantics). For bounded dims
    * Spark would broadcast anyway; salting is the tool for the
    * medium-dim shuffled-hash case AQE's sort-merge skew split can't
    * fix. */
  val saltedJoinQ: QueryDef = QueryDef(
    "x16_salted_join",
    (s, d) => {
      val dim = Tables.part(s, d)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      graft.ops.Skew.saltedJoin(
          Tables.lineitem(s, d).select("l_partkey", "l_quantity"),
          dim, "l_partkey", saltFactor = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(l_quantity AS BIGINT)")).as("sum_qty"))
        .orderBy("p_brand")
    },
    Some("""SELECT p_brand, count(*) AS n,
            CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1 ORDER BY 1"""))

  /** x17 — data-driven budget rebalancing: cap every source at 1/20 of
    * the GLOBAL char budget (x14's declared-weight mixing with the
    * weights computed FROM the data). Keep fraction per source is
    * `min(1, target/actual)` — one IEEE division of two exact longs —
    * and row membership is the reproducible md5-threshold draw:
    * `hash60(doc_id)/2⁶⁰ < f`, identical on any engine or partitioning
    * (both sides compute the same double rounding of the same 60-bit
    * integer). Oversized sources are downsampled toward the cap in
    * expectation; small sources pass through whole (f = 1 exactly).
    *
    * Scale shape: phase 1 one source-keyed aggregate (+ one global sum
    * broadcast back over the ~20-row relation); phase 2 a pure per-row
    * filter. No corpus-sized shuffle; the draw never tears an entity
    * (doc-keyed hash). */
  val budgetRebalance: QueryDef = QueryDef(
    "x17_budget_rebalance",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
      val actual = docs.groupBy("source").agg(sum("n_chars").as("actual"))
        .withColumn("total", sum("actual").over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("f", least(lit(1.0),
          expr("CAST(total DIV 20 AS DOUBLE) / CAST(actual AS DOUBLE)")))
      docs.join(broadcast(actual.select("source", "f")), "source")
        .withColumn("kept", expr(
          s"CAST(${Dedup.sparkMd5Int60("CAST(doc_id AS STRING)")} AS DOUBLE)" +
            " / CAST(1152921504606846976 AS DOUBLE) < f"))
        .groupBy("source", "f")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("kept_chars"))
        .orderBy("source")
    },
    Some(s"""WITH a AS (
               SELECT source, CAST(sum(n_chars) AS BIGINT) AS actual
               FROM documents GROUP BY 1),
             f AS (
               SELECT source,
                 least(1.0,
                   CAST(CAST(sum(actual) OVER () AS BIGINT) // 20 AS DOUBLE)
                     / CAST(actual AS DOUBLE)) AS f
               FROM a),
             k AS (
               SELECT d.source, f.f, d.n_chars,
                 CAST(${Dedup.duckMd5Int60("CAST(doc_id AS VARCHAR)")} AS DOUBLE)
                   / CAST(1152921504606846976 AS DOUBLE) < f.f AS kept
               FROM documents d JOIN f USING (source))
             SELECT source, f, count(*) AS n_docs,
               CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT)
                 AS kept_chars
             FROM k GROUP BY 1, 2 ORDER BY source"""))

  /** x18 — Bloom-prefiltered decontamination: x10's exact n-gram
    * overlap with a Bloom filter inserted between the corpus scan and
    * the shuffle. x10 already broadcasts the eval grams for the confirm
    * join; what still scales with the CORPUS there is the
    * `(doc_id, gram)` distinct — every train gram is shuffled once just
    * to be deduplicated. Here the train side is first filtered through a
    * broadcast Bloom of the eval grams (1% fpp, built with Spark's
    * distributed `stat.bloomFilter` tree-aggregate), so only grams that
    * MIGHT be contaminated — a benchmark-sized trickle, not the corpus —
    * reach the distinct+semi-join. False positives are then removed by
    * the same exact broadcast semi-join as x10, so the output is
    * bit-identical to x10's and shares its oracle.
    *
    * This is the hand-built form of the runtime bloom join Spark injects
    * under AQE (asserted in PlanSpec for q-joins); building it
    * explicitly decouples it from join-planning heuristics — at 100 TB
    * you always want this filter, not only when the optimizer's
    * row-count estimate happens to cross a threshold. The probe is
    * Spark's own codegen'd [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    * (the expression AQE's injected bloom joins use) over the serialized
    * filter as a foldable binary literal — no Scala UDF in the hot path,
    * so the scan→filter pipeline stays inside WholeStageCodegen. The
    * prefilter sits outside the correctness path (any fpp still yields
    * exact output). */
  val decontaminateBloom: QueryDef = {
    val n = 13
    QueryDef(
      "x18_decontaminate_bloom",
      (s, d) => {
        val grams = Tables.documents(s, d)
          .select(col("doc_id"),
            expr("substring(md5(CAST(doc_id AS STRING)), 1, 1)").as("hx"),
            explode(expr(ngramExpr("text", n))).as("g"))
          .select(col("doc_id"), col("hx"), xxhash64(col("g")).as("g"))
        val evalGrams = grams.filter(col("hx").isin("0", "1"))
          .select("g").distinct().localCheckpoint()
        // exact distinct count sizes the filter; eval split is
        // benchmark-sized, so this extra action touches a sliver of data
        val nEval = math.max(evalGrams.count(), 1L)
        val bloom = evalGrams.stat.bloomFilter("g", nEval, 0.01)
        val ser = new java.io.ByteArrayOutputStream()
        bloom.writeTo(ser)
        // `might_contain` isn't in the public FunctionRegistry; register
        // the catalyst expression once per session (idempotent, same
        // pattern as graft.expr.DayPart.register)
        if (!s.sessionState.functionRegistry.functionExists(
            org.apache.spark.sql.catalyst.FunctionIdentifier("graft_might_contain")))
          s.sessionState.functionRegistry.createOrReplaceTempFunction(
            "graft_might_contain",
            exprs => org.apache.spark.sql.catalyst.expressions
              .BloomFilterMightContain(exprs.head, exprs(1)),
            "internal")
        grams.filter(!col("hx").isin("0", "1"))
          .filter(call_function("graft_might_contain",
            lit(ser.toByteArray), col("g")))
          .select("doc_id", "g").distinct()
          .join(broadcast(evalGrams), Seq("g"), "left_semi")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_contam_grams"))
          .orderBy("doc_id")
      },
      // exact x10 semantics → same oracle text
      decontaminate.sql)
  }

  /** x19 — leakage-safe train/eval split: x07's reproducible hash split
    * made near-dup-aware. Splitting doc-by-doc lets two near-duplicate
    * documents straddle the boundary — the eval twin then "leaks" into
    * training and eval scores inflate (the failure x10 detects after the
    * fact; this op prevents it at split time). Every near-dup cluster
    * (d04 Jaccard pairs → connected components) is assigned WHOLE: the
    * split hash is taken on the cluster root (min reachable doc_id, the
    * CC label; singletons hash their own id), so cluster membership —
    * not partitioning or engine — decides the side.
    *
    * Scale shape: the pair join + CC loop is d04/d07's (inverted shingle
    * index, star contraction, checkpointed rounds); the label frame only
    * holds docs that HAVE a near-dup (a small fraction of a deduped-ish
    * corpus), and the final split is a pure per-row hash — no
    * corpus-wide shuffle beyond the label equi-join, which AQE plans as
    * broadcast when labels are small. */
  val leakageSafeSplit: QueryDef = QueryDef(
    "x19_leakage_safe_split",
    (s, d) => {
      val labels = Dedup.ngramSharedLabels(s, d) // shared materialized stage
        .select(col("id").as("doc_id"), col("component"))
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), expr(sparkTokCount).cast("long").as("n_tokens"))
      docs.join(labels, Seq("doc_id"), "left")
        .withColumn("root", coalesce(col("component"), col("doc_id")))
        .withColumn("split",
          expr("CASE WHEN substring(md5(CAST(root AS STRING)), 1, 1) " +
            "IN ('0', '1') THEN 'eval' ELSE 'train' END"))
        .groupBy("split")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("component").isNotNull, 1L).otherwise(0L))
            .as("n_clustered"),
          sum(col("n_tokens")).as("total_tokens"))
        .orderBy("split")
    },
    Some(s"""WITH RECURSIVE ${Dedup.ngramPairSql(Dedup.ngramTheta)},
             edges AS (
               SELECT a_id AS src, b_id AS dst FROM pairs
               UNION
               SELECT b_id AS src, a_id AS dst FROM pairs),
             reach(id, r) AS (
               SELECT src, src FROM edges
               UNION
               SELECT e.src, reach.r FROM edges e
               JOIN reach ON reach.id = e.dst),
             labels AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
             lab AS (
               SELECT d.doc_id, coalesce(l.component, d.doc_id) AS root,
                      l.component IS NOT NULL AS clustered,
                      CAST($duckTokCount AS BIGINT) AS n_tokens
               FROM documents d LEFT JOIN labels l ON l.id = d.doc_id)
             SELECT CASE WHEN substring(md5(CAST(root AS VARCHAR)), 1, 1)
                         IN ('0', '1') THEN 'eval' ELSE 'train' END AS split,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN clustered THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_clustered,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens
             FROM lab GROUP BY 1 ORDER BY 1"""))

  /** x20 — INCREMENTAL fuzzy dedup: x06's stored-index pattern upgraded
    * from exact fingerprints to MinHash LSH. Production shape: the
    * corpus keeps a persisted BAND INDEX table (band, band-value,
    * doc_id — d10's md5 Carter-Wegman family, 8 sigs banded 2×4); each
    * arriving batch is shingled/hashed ALONE, probes the index with one
    * equi-join, and only the candidates get the exact-Jaccard confirm.
    * History is never re-paired against itself — the n² of the corpus
    * happens zero times, and per batch the cost is batch-size × index
    * lookup. Here both sides derive from the fixture in-query (batch =
    * first md5 hex digit of doc_id < '2', ~1/8), exactly how x06 stages
    * its corpus index; the oracle mirrors the full chain, so the
    * band-key arithmetic, the index join, and the confirm are all
    * hash-checked. No mega-bucket cap: identical docs share every band,
    * so exact dups surface through the band join itself (the cap +
    * recovery trade is d10's; an operational index would cap and keep a
    * dup-cluster sidecar the same way). */
  val incrementalFuzzy: QueryDef = {
    val K = 8; val bandRows = 4; val theta = 0.5
    QueryDef(
      "x20_incremental_fuzzy",
      (s, d) => {
        val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val shingled = Tables.documents(s, d)
          .select(col("doc_id"),
            expr("substring(md5(CAST(doc_id AS STRING)), 1, 1) < '2'")
              .as("is_new"),
            expr(s"array_distinct(${Dedup.shingleExpr("text")})").as("sh"))
          .persist(lvl)
        val bands = Dedup.md5MinhashBands(shingled, K, bandRows,
          Seq("doc_id", "is_new"))._2
        val index = bands.filter(!col("is_new"))
          .select(col("doc_id").as("old_id"), col("band"), col("bv"))
        val batch = bands.filter(col("is_new"))
          .select(col("doc_id").as("new_id"), col("band"), col("bv"))
        val cand = batch.join(index, Seq("band", "bv"))
          .select("new_id", "old_id").distinct()
        val sa = shingled.select(col("doc_id").as("new_id"), col("sh").as("a_sh"))
        val sb = shingled.select(col("doc_id").as("old_id"), col("sh").as("b_sh"))
        val out = cand.join(sa, "new_id").join(sb, "old_id")
          .withColumn("n_inter", expr("size(array_intersect(a_sh, b_sh))"))
          .withColumn("jaccard", expr(
            "CAST(n_inter AS DOUBLE) / (size(a_sh) + size(b_sh) - n_inter)"))
          .filter(col("jaccard") >= theta)
          .select("new_id", "old_id", "jaccard")
          .orderBy("new_id", "old_id")
          .localCheckpoint()
        shingled.unpersist()
        out
      },
      Some(s"""WITH toks AS (
                 SELECT doc_id,
                   substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2' AS is_new,
                   string_split(text, ' ') AS t
                 FROM documents),
               sh AS (
                 SELECT DISTINCT doc_id, is_new,
                   array_to_string(t[i + 1:i + 3], ' ') AS sh
                 FROM toks, unnest(range(0, greatest(len(t) - 2, 1))) AS u(i)),
               hx AS (
                 SELECT doc_id, is_new, sh,
                   ${Dedup.duckMd5Int60("sh")} AS ha,
                   ${Dedup.duckMd5IntSlice("sh", 17, 14)} AS hb
                 FROM sh),
               sigs AS (
                 SELECT doc_id, is_new, k, min(ha + k * hb) AS sig
                 FROM hx, unnest(range(0, $K)) AS tk(k)
                 GROUP BY 1, 2, 3),
               bands AS (
                 SELECT doc_id, is_new, k // $bandRows AS band,
                   string_agg(CAST(sig AS VARCHAR), ',' ORDER BY k) AS bv
                 FROM sigs GROUP BY 1, 2, 3),
               cand AS (
                 SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
                 FROM bands n JOIN bands o
                   ON n.band = o.band AND n.bv = o.bv
                 WHERE n.is_new AND NOT o.is_new),
               sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
               inter AS (
                 SELECT c.new_id, c.old_id, count(*) AS n_inter
                 FROM cand c
                 JOIN sh a ON a.doc_id = c.new_id
                 JOIN sh b ON b.doc_id = c.old_id AND b.sh = a.sh
                 GROUP BY 1, 2)
               SELECT new_id, old_id,
                 CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)
                   AS jaccard
               FROM inter
               JOIN sizes sa ON sa.doc_id = new_id
               JOIN sizes sb ON sb.doc_id = old_id
               WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)
                 >= $theta
               ORDER BY new_id, old_id"""))
  }

  /** x21 — JSONL export → import round trip, content-verified: the
    * interchange format every corpus pipeline speaks. The corpus is
    * written as `to_json(struct(*))` text lines and read back with the
    * EXPLICIT original schema (schema inference over 100 TB is a full
    * extra scan — never pay it), then per-source counts, char totals,
    * and an order-independent md5-based content fingerprint (bit_xor of
    * a 60-bit hash over doc_id:text) are computed FROM THE READ-BACK
    * ROWS while the oracle computes them from the original parquet —
    * the comparison proves JSON escaping round-trips every document
    * byte-exactly, not just that row counts survive. Scale shape: one
    * narrow write + one narrow read, both parallel over line-split
    * text; the agg is source-keyed. */
  val jsonlRoundtrip: QueryDef = QueryDef(
    "x21_jsonl_roundtrip",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val out = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_jsonl_" + d.replaceAll("[^0-9a-zA-Z]", "_")).getAbsolutePath
      docs.selectExpr("to_json(struct(*)) AS line")
        .write.mode("overwrite").text(out)
      s.read.schema(docs.schema).json(out)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          expr("bit_xor(" +
            Dedup.sparkMd5Int60(
              "concat(CAST(doc_id AS STRING), ':', text)") + ")")
            .as("content_fp"))
        .orderBy("source")
    },
    Some(s"""SELECT source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(${Dedup.duckMd5Int60(
                 "concat(CAST(doc_id AS VARCHAR), ':', text)")}) AS content_fp
             FROM documents GROUP BY 1 ORDER BY 1"""))

  /** Morton/z-order key over two 16-bit-masked dimensions as pure
    * div/mod arithmetic — `((x DIV 2^i) % 2) · 2^(2i)` summed over the
    * 16 bit positions of each dimension. No shift operators (Spark and
    * DuckDB disagree on them), no UDF: one flat codegen'd integer
    * expression. `divOp` renders the engine's integer-division token
    * (Spark `DIV`, DuckDB `//`). */
  def zorderExpr(x: String, y: String, divOp: String): String = {
    val terms = (0 until 16).flatMap { i =>
      val p = 1L << i
      Seq(
        s"((($x) $divOp $p) % 2) * ${1L << (2 * i)}",
        s"((($y) $divOp $p) % 2) * ${1L << (2 * i + 1)}")
    }
    s"CAST(${terms.mkString(" + ")} AS BIGINT)"
  }

  /** x22 — z-order layout key (Morton curve: Morton, "A computer
    * oriented geodetic data base...", IBM 1966; the DataBricks/Iceberg
    * Z-ORDER BY): the multi-dimensional clustering lever for data
    * skipping. Sorting a 100 TB fact table by the interleaved key packs
    * rows close in BOTH dimensions into the same files, so parquet
    * min/max row-group stats prune 2-D range predicates that a 1-D sort
    * can only prune on its leading column. Here the key is computed
    * over (l_partkey, l_suppkey) masked to 16 bits (real tables z-order
    * a bounded projection — masking is the documented convention), and
    * the query reports the curve order; SinksSpec's partitioned/compact
    * writers are where the sorted layout gets written. Bijectivity and
    * the Morton bit pattern are spec-asserted on an 8×8 grid. */
  val zorderKey: QueryDef = QueryDef(
    "x22_zorder_key",
    (s, d) => {
      val z = zorderExpr("l_partkey % 65536", "l_suppkey % 65536", "DIV")
      Tables.lineitem(s, d)
        .selectExpr("l_partkey", "l_suppkey", s"$z AS zkey")
        .distinct()
        .orderBy("zkey", "l_partkey", "l_suppkey")
        .limit(50)
    },
    Some {
      val z = zorderExpr("l_partkey % 65536", "l_suppkey % 65536", "//")
      s"""SELECT DISTINCT l_partkey, l_suppkey, $z AS zkey
          FROM lineitem
          ORDER BY zkey, l_partkey, l_suppkey
          LIMIT 50"""
    })

  /** x23 — k-anonymity suppression (Sweeney, "k-anonymity: a model for
    * protecting privacy", IJUFKS 2002): before an aggregate over
    * quasi-identifiers is published or shared as training metadata,
    * every group smaller than k must be suppressed — small groups
    * re-identify individuals. Groups of (nation, segment) with ≥ k
    * members publish as-is; the rest collapse into one '*' bucket that
    * still accounts for their rows (totals conserve, identities don't
    * leak). Two bounded aggregates — group counts, then the
    * suppression re-group; the quasi-identifier domain is small by
    * definition, so phase 2 never sees corpus-sized data. */
  val kAnonymity: QueryDef = {
    val k = 10
    def sql(strTy: String) =
      s"""WITH g AS (
            SELECT c_nationkey, c_mktsegment, count(*) AS n
            FROM customer GROUP BY 1, 2)
          SELECT
            CASE WHEN n >= $k THEN CAST(c_nationkey AS $strTy)
                 ELSE '*' END AS nation,
            CASE WHEN n >= $k THEN c_mktsegment ELSE '*' END AS segment,
            CAST(sum(n) AS BIGINT) AS n_rows,
            count(*) AS n_source_groups
          FROM g GROUP BY 1, 2 ORDER BY 1, 2"""
    QueryDef(
      "x23_k_anonymity",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("g_x23_customer")
        s.sql(sql("STRING").replace(" customer ", " g_x23_customer "))
      },
      Some(sql("VARCHAR")))
  }

  /** Core of x24 over an arbitrary documents frame: fixed-size
    * token-window chunking with overlap — the RAG/context-window
    * splitter (chunk size `window` tokens, stride `stride`, so
    * consecutive chunks share `window - stride` tokens). Chunk starts
    * are 0, stride, 2·stride, …; the last start is ceil((n-window)/
    * stride) clamped to ≥ 0, which covers every token (the final chunk
    * may be shorter). One `split` per row projected BEFORE the
    * transform (the CollapseProject re-tokenization trap, see d12) and
    * one `explode` — a narrow, shuffle-free map at any scale.
    *
    * The ceil-div is (n - window + stride - 1) DIV stride with a
    * greatest(…, 0) clamp OUTSIDE the DIV: for short docs the dividend
    * goes negative, where Spark's DIV truncates toward zero but
    * DuckDB's // floors — the clamp lands both on 0 before anything
    * downstream can see the difference. */
  def chunkByTokens(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(stride >= 1 && stride <= window, "0 < stride <= window")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), expr(
        s"""explode(transform(
              sequence(0, greatest((size(t) - $window + $stride - 1) DIV $stride, 0)),
              i -> struct(
                i AS chunk_idx,
                i * $stride AS start_tok,
                slice(t, i * $stride + 1, $window) AS ct)))""").as("c"))
      .select(col("doc_id"),
        col("c.chunk_idx").cast("long").as("chunk_idx"),
        col("c.start_tok").cast("long").as("start_tok"),
        size(col("c.ct")).cast("long").as("n_tok"),
        concat_ws(" ", col("c.ct")).as("chunk_text"))
  }

  /** x24 — overlapping token-window chunking (the document splitter in
    * front of every RAG / embedding / context-packing pipeline; x11
    * packs whole docs into sequences, this splits docs into bounded
    * chunks). 32-token chunks, stride 24 (8-token overlap), byte-exact
    * chunk text carried through with token offsets. Oracle-exact: the
    * DuckDB mirror slices the same token lists. */
  val chunkOverlap: QueryDef = {
    val W = 32; val S = 24
    QueryDef(
      "x24_chunk_overlap",
      (s, d) => chunkByTokens(Tables.documents(s, d), W, S)
        .orderBy("doc_id", "chunk_idx"),
      Some(s"""WITH toks AS (
                 SELECT doc_id, string_split(text, ' ') AS t FROM documents),
               c AS (
                 SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
                   CAST(i * $S AS BIGINT) AS start_tok,
                   t[i * $S + 1 : i * $S + $W] AS ct
                 FROM toks, unnest(range(0,
                   greatest((len(t) - $W + $S - 1) // $S, 0) + 1)) AS u(i))
               SELECT doc_id, chunk_idx, start_tok,
                 CAST(len(ct) AS BIGINT) AS n_tok,
                 array_to_string(ct, ' ') AS chunk_text
               FROM c ORDER BY doc_id, chunk_idx"""))
  }

  /** x25 — end-to-end training-manifest pipeline: the quality gate →
    * chunk → shard → manifest chain a corpus run actually ships.
    * Language + minimum-length gate, x24's overlapping chunker, x04's
    * md5 shard routing, then one per-shard manifest row carrying doc /
    * chunk / token counts and an order-independent 60-bit content
    * fingerprint over (doc_id, chunk_idx, chunk text) — the artifact a
    * downstream trainer validates its shard downloads against.
    *
    * Scale shape: gate + chunk + fingerprint are one narrow
    * shuffle-free map pass; the only shuffle is the final 16-group
    * manifest aggregate (with a map-side partial phase). The whole
    * chain, fingerprint included, is mirrored in SQL — the driver
    * hash-checks byte-level chunk content across the full pipeline,
    * not just counts. */
  /** The x25 gate → chunk → per-shard manifest aggregate over an
    * arbitrary (doc_id, lang, text) frame — factored out so x27 can run
    * the SAME pipeline over delta subsets and patch by association:
    * counts add/subtract, and the XOR content fingerprint composes
    * (`old ⊕ removed-contribs ⊕ added-contribs`). */
  /** THE quality gate (x25/x27/x28/x29b all share this one definition —
    * the file-header rule about load-bearing duplicated predicates):
    * gated languages, and at least `minTok` space-split tokens. DuckDB
    * mirror: `lang IN ('en','de','es','fr') AND
    * len(string_split(text, ' ')) >= minTok`. */
  def qualityGatePred(minTok: Int = 20): Column =
    col("lang").isin("en", "de", "es", "fr") &&
      size(split(col("text"), " ")) >= minTok
  def qualityGate(docs: DataFrame, minTok: Int = 20): DataFrame =
    docs.filter(qualityGatePred(minTok))

  def manifestOf(docsIn: DataFrame, w: Int = 32, s: Int = 24,
      minTok: Int = 20): DataFrame = {
    val docs = qualityGate(docsIn, minTok)
    chunkByTokens(docs, w, s)
      .select(
        expr("substring(md5(CAST(doc_id AS STRING)), 1, 1)").as("shard"),
        col("doc_id"), col("n_tok"),
        expr(graft.ext.Dedup.sparkMd5Int60(
          "concat_ws(':', doc_id, chunk_idx, chunk_text)")).as("cfp"))
      .groupBy("shard")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(col("n_tok")).as("n_tokens"),
        expr("bit_xor(cfp)").as("content_fp"))
  }

  val trainingManifest: QueryDef = {
    val W = 32; val S = 24; val minTok = 20
    QueryDef(
      "x25_training_manifest",
      (s, d) => manifestOf(Tables.documents(s, d), W, S, minTok)
        .orderBy("shard"),
      Some(s"""WITH docs AS (
                 SELECT doc_id, text FROM documents
                 WHERE lang IN ('en', 'de', 'es', 'fr')
                   AND len(string_split(text, ' ')) >= $minTok),
               toks AS (
                 SELECT doc_id, string_split(text, ' ') AS t FROM docs),
               c AS (
                 SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
                   t[i * $S + 1 : i * $S + $W] AS ct
                 FROM toks, unnest(range(0,
                   greatest((len(t) - $W + $S - 1) // $S, 0) + 1)) AS u(i)),
               ch AS (
                 SELECT substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
                   doc_id, CAST(len(ct) AS BIGINT) AS n_tok,
                   ${graft.ext.Dedup.duckMd5Int60(
                     "concat_ws(':', doc_id, chunk_idx, array_to_string(ct, ' '))")} AS cfp
                 FROM c)
               SELECT shard, count(DISTINCT doc_id) AS n_docs,
                 count(*) AS n_chunks, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                 bit_xor(cfp) AS content_fp
               FROM ch GROUP BY 1 ORDER BY 1"""))
  }

  /** x26 — corpus snapshot diff/audit: the dataset-versioning
    * primitive (x13 MERGES a delta in; this AUDITS two versions
    * against each other — the release-note every corpus version bump
    * ships with). Two snapshots are derived deterministically from the
    * fixture (v1 = doc_id % 7 ≠ 3, v2 = doc_id % 5 ≠ 2, and v2 edits
    * every doc_id % 11 = 0 by appending a revision marker — the
    * x06/x13/x20 staging style), then every doc in either version is
    * labeled added / removed / changed / unchanged by comparing md5
    * content fingerprints through a full-outer join on doc_id.
    *
    * Scale shape: fingerprints are computed in the scan pass, so the
    * full-outer join shuffles (id, 32-byte fp) pairs — never document
    * bodies (d08's discipline applied to diffing); the join is
    * equi-keyed on doc_id. Oracle-exact end to end. */
  val snapshotDiff: QueryDef = QueryDef(
    "x26_snapshot_diff",
    (s, d) => snapshotStatus(Tables.documents(s, d)).orderBy("doc_id"),
    Some("""WITH v1 AS (
              SELECT doc_id, md5(text) AS fp1 FROM documents
              WHERE doc_id % 7 != 3),
            v2 AS (
              SELECT doc_id,
                md5(CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]'
                         ELSE text END) AS fp2
              FROM documents WHERE doc_id % 5 != 2)
            SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
              CASE WHEN v1.doc_id IS NULL THEN 'added'
                   WHEN v2.doc_id IS NULL THEN 'removed'
                   WHEN fp1 <> fp2 THEN 'changed'
                   ELSE 'unchanged' END AS status
            FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
            ORDER BY doc_id"""))

  /** x26's two snapshot derivations, shared with x27 (THE one place the
    * snapshot rules live): v1 = doc_id % 7 ≠ 3; v2 = doc_id % 5 ≠ 2
    * with every doc_id % 11 = 0 doc edited by an appended revision
    * marker. */
  def snapshotV1(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 7 =!= 3).select("doc_id", "lang", "text")
  def snapshotV2(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 5 =!= 2)
      .select(col("doc_id"), col("lang"),
        when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("text"))

  /** The x26 diff labeling over the two snapshots — shared by x26
    * (where it IS the output) and x27 (where it selects the delta):
    * every doc in either version labeled added / removed / changed /
    * unchanged by comparing content fingerprints through a full-outer
    * join on doc_id. Fingerprints are computed in the scan pass, so
    * the join shuffles (id, fp) pairs — never bodies. */
  def snapshotStatus(docs: DataFrame): DataFrame =
    snapshotV1(docs).select(col("doc_id"), md5(col("text")).as("fp1"))
      .join(snapshotV2(docs).select(col("doc_id"), md5(col("text")).as("fp2")),
        Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("fp1").isNull, lit("added"))
          .when(col("fp2").isNull, lit("removed"))
          .when(col("fp1") =!= col("fp2"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))

  /** x27 — incremental manifest refresh: x26's snapshot diff composed
    * with x25's manifest, the production shape of a corpus version bump
    * (a 100 TB corpus cannot afford the from-scratch manifest). The
    * previous (v1) manifest is PATCHED: per shard,
    * `counts_new = counts_old − counts(removed ∪ changed, v1 text) +
    * counts(added ∪ changed, v2 text)`, and the order-independent XOR
    * content fingerprint composes the same way because XOR is its own
    * inverse. Both delta pipelines run AFTER the quality gate, so a
    * changed doc that newly fails (or newly passes) the gate nets out
    * correctly; a shard whose last doc disappears drops its row.
    *
    * Scale shape: the refresh touches fingerprint pairs (the diff) and
    * re-curates ONLY the delta docs — the unchanged bulk of the corpus
    * is never re-chunked. (The v1 manifest is derived here because a
    * registered query has no stored state; in production it is the
    * previous run's stored output.)
    *
    * THE ORACLE IS THE FULL REBUILD: the DuckDB mirror computes the
    * from-scratch x25 manifest of v2, so the driver's hash compare IS
    * the patched-equals-rebuilt theorem, checked bit-exactly per shard
    * (x06/x20/d14's equality-to-batch pattern). */
  val manifestRefresh: QueryDef = {
    val W = 32; val S = 24; val minTok = 20
    QueryDef(
      "x27_manifest_refresh",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val v1 = snapshotV1(docs)
        val v2 = snapshotV2(docs)
        val status = snapshotStatus(docs)
        val oldSide = v1.join(
          status.filter(col("status").isin("removed", "changed"))
            .select("doc_id"), "doc_id")
        val newSide = v2.join(
          status.filter(col("status").isin("added", "changed"))
            .select("doc_id"), "doc_id")
        val prev = manifestOf(v1, W, S, minTok)
        val neg = manifestOf(oldSide, W, S, minTok)
          .select(col("shard"), col("n_docs").as("nd_neg"),
            col("n_chunks").as("nc_neg"), col("n_tokens").as("nt_neg"),
            col("content_fp").as("fp_neg"))
        val pos = manifestOf(newSide, W, S, minTok)
          .select(col("shard"), col("n_docs").as("nd_pos"),
            col("n_chunks").as("nc_pos"), col("n_tokens").as("nt_pos"),
            col("content_fp").as("fp_pos"))
        prev.join(neg, Seq("shard"), "full_outer")
          .join(pos, Seq("shard"), "full_outer")
          .select(col("shard"),
            (coalesce(col("n_docs"), lit(0L)) - coalesce(col("nd_neg"), lit(0L))
              + coalesce(col("nd_pos"), lit(0L))).as("n_docs"),
            (coalesce(col("n_chunks"), lit(0L)) - coalesce(col("nc_neg"), lit(0L))
              + coalesce(col("nc_pos"), lit(0L))).as("n_chunks"),
            (coalesce(col("n_tokens"), lit(0L)) - coalesce(col("nt_neg"), lit(0L))
              + coalesce(col("nt_pos"), lit(0L))).as("n_tokens"),
            (coalesce(col("content_fp"), lit(0L))
              .bitwiseXOR(coalesce(col("fp_neg"), lit(0L)))
              .bitwiseXOR(coalesce(col("fp_pos"), lit(0L)))).as("content_fp"))
          .filter(col("n_chunks") > 0)
          .orderBy("shard")
      },
      Some(s"""WITH docs AS (
                 SELECT doc_id,
                   CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]'
                        ELSE text END AS text
                 FROM documents
                 WHERE doc_id % 5 != 2
                   AND lang IN ('en', 'de', 'es', 'fr')),
               gated AS (
                 SELECT doc_id, string_split(text, ' ') AS t FROM docs
                 WHERE len(string_split(text, ' ')) >= $minTok),
               c AS (
                 SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
                   t[i * $S + 1 : i * $S + $W] AS ct
                 FROM gated, unnest(range(0,
                   greatest((len(t) - $W + $S - 1) // $S, 0) + 1)) AS u(i)),
               ch AS (
                 SELECT substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
                   doc_id, CAST(len(ct) AS BIGINT) AS n_tok,
                   ${graft.ext.Dedup.duckMd5Int60(
                     "concat_ws(':', doc_id, chunk_idx, array_to_string(ct, ' '))")} AS cfp
                 FROM c)
               SELECT shard, count(DISTINCT doc_id) AS n_docs,
                 count(*) AS n_chunks, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                 bit_xor(cfp) AS content_fp
               FROM ch GROUP BY 1 ORDER BY 1"""))
  }

  /** x28 — the end-to-end corpus RELEASE pipeline: the composition a
    * real training-data run ships, proving the verified pieces compose
    * — quality gate (x25's) → exact-dedup survivors (d01's min-id
    * semantics) → leakage-safe cluster split (x19's: near-dup cluster
    * roots from d04 pairs + connected components decide the side, so
    * an eval twin can never leak into train) → per-(split, lang)
    * release manifest with doc/token counts and the x25-style
    * order-independent XOR content fingerprint.
    *
    * Scale shape: every stage is a proven registered shape — the gate
    * and fingerprints ride the scan pass; exact dedup is one hash
    * aggregate on text; the pair/CC stage is d04/d07's (inverted
    * shingle index, checkpointed star contraction); the final manifest
    * is an 8-group aggregate. Oracle-exact end to end through the
    * recursive-CTE closure. */
  val releasePipeline: QueryDef = {
    val minTok = 20
    QueryDef(
      "x28_release_pipeline",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // the shared x25 gate (space-split tokens); the manifest's
        // total_tokens metric below intentionally stays the \s+-split
        // sparkTokCount — a counting convention, not the gate
        val gated = qualityGate(docs, minTok)
        // d01 semantics: the minimum doc_id per identical text survives
        val survivors = gated.join(
          gated.groupBy("text").agg(min(col("doc_id")).as("doc_id")),
          Seq("doc_id", "text"))
        // x19: near-dup cluster roots over the FULL corpus decide the
        // split side (a discarded dup's twin still pins its cluster)
        val labels = Dedup.ngramSharedLabels(s, d) // shared materialized stage
          .select(col("id").as("doc_id"), col("component"))
        survivors.join(labels, Seq("doc_id"), "left")
          .withColumn("root", coalesce(col("component"), col("doc_id")))
          .withColumn("split",
            expr("CASE WHEN substring(md5(CAST(root AS STRING)), 1, 1) " +
              "IN ('0', '1') THEN 'eval' ELSE 'train' END"))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(expr(sparkTokCount).cast("long")).as("total_tokens"),
            expr(s"bit_xor(${graft.ext.Dedup.sparkMd5Int60(
              "concat_ws(':', doc_id, text)")})").as("content_fp"))
          .orderBy("split", "lang")
      },
      Some(s"""WITH RECURSIVE ${Dedup.ngramPairSql(Dedup.ngramTheta)},
               edges AS (
                 SELECT a_id AS src, b_id AS dst FROM pairs
                 UNION
                 SELECT b_id AS src, a_id AS dst FROM pairs),
               reach(id, r) AS (
                 SELECT src, src FROM edges
                 UNION
                 SELECT e.src, reach.r FROM edges e
                 JOIN reach ON reach.id = e.dst),
               labels AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
               gated AS (
                 SELECT doc_id, lang, text FROM documents
                 WHERE lang IN ('en', 'de', 'es', 'fr')
                   AND len(string_split(text, ' ')) >= $minTok),
               surv AS (
                 SELECT g.doc_id, g.lang, g.text FROM gated g
                 JOIN (SELECT text, min(doc_id) AS doc_id
                       FROM gated GROUP BY text) m
                   ON m.doc_id = g.doc_id AND m.text = g.text),
               lab AS (
                 SELECT s.doc_id, s.lang, s.text,
                   coalesce(l.component, s.doc_id) AS root
                 FROM surv s LEFT JOIN labels l ON l.id = s.doc_id)
               SELECT CASE WHEN substring(md5(CAST(root AS VARCHAR)), 1, 1)
                           IN ('0', '1') THEN 'eval' ELSE 'train' END AS split,
                 lang, count(*) AS n_docs,
                 CAST(sum($duckTokCount) AS BIGINT) AS total_tokens,
                 bit_xor(${graft.ext.Dedup.duckMd5Int60(
                   "concat_ws(':', doc_id, text)")}) AS content_fp
               FROM lab GROUP BY 1, 2 ORDER BY split, lang"""))
  }

  private val protoF = 1024

  /** The x29b scoring frame `(doc_id, label, score)` — weak gate label
    * plus the integer nearest-prototype score — shared by x29b (the
    * filter audit) and ml05 (the calibration bins). Plan body
    * documented at [[qualityPrototype]]. */
  def prototypeScored(s: SparkSession, d: String): DataFrame = {
    val sparkBucket = s"${graft.ext.Dedup.sparkMd5Int60("tok")} % $protoF"
    val labeled = Tables.documents(s, d)
      .withColumn("label",
        when(qualityGatePred(), 1L).otherwise(0L))
    val trainToks = labeled
      .filter(expr("substring(md5(CAST(doc_id AS STRING)), 1, 1) < '8'"))
      .select(col("label"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("label"), expr(sparkBucket).as("bucket"))
    val classCounts = trainToks.groupBy("bucket")
      .agg(sum(col("label")).as("c1"),
        sum(lit(1L) - col("label")).as("c0"))
    val totals = classCounts
      .agg(sum("c1").as("t1"), sum("c0").as("t0"))
    val weights = classCounts.crossJoin(broadcast(totals))
      .select(col("bucket"),
        (col("c1") * col("t0") - col("c0") * col("t1")).as("w"))
    labeled
      .select(col("doc_id"), col("label"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), col("label"), expr(sparkBucket).as("bucket"))
      .join(broadcast(weights), Seq("bucket"), "left")
      .groupBy("doc_id", "label")
      .agg(sum(coalesce(col("w"), lit(0L))).as("score"))
  }

  /** DuckDB mirror of [[prototypeScored]] as a WITH-body fragment
    * ending in `sc(doc_id, label, score)`. */
  def prototypeScoreCtes: String = {
    val duckBucket = s"${graft.ext.Dedup.duckMd5Int60("tok")} % $protoF"
    s"""labeled AS (
         SELECT doc_id, text,
           CASE WHEN lang IN ('en', 'de', 'es', 'fr')
             AND len(string_split(text, ' ')) >= 20
             THEN 1 ELSE 0 END AS label
         FROM documents),
       train_toks AS (
         SELECT label, $duckBucket AS bucket
         FROM (SELECT label, unnest(string_split(text, ' ')) AS tok
               FROM labeled
               WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                     < '8')),
       cc AS (
         SELECT bucket,
           CAST(sum(label) AS BIGINT) AS c1,
           CAST(sum(1 - label) AS BIGINT) AS c0
         FROM train_toks GROUP BY bucket),
       tot AS (SELECT CAST(sum(c1) AS BIGINT) AS t1,
                 CAST(sum(c0) AS BIGINT) AS t0 FROM cc),
       w AS (SELECT bucket, c1 * t0 - c0 * t1 AS w FROM cc, tot),
       score_toks AS (
         SELECT doc_id, label, $duckBucket AS bucket
         FROM (SELECT doc_id, label,
                 unnest(string_split(text, ' ')) AS tok
               FROM labeled)),
       sc AS (
         SELECT st.doc_id, st.label,
           CAST(sum(coalesce(w.w, 0)) AS BIGINT) AS score
         FROM score_toks st LEFT JOIN w ON w.bucket = st.bucket
         GROUP BY st.doc_id, st.label)"""
  }

  /** x29b — model-in-the-loop quality filtering (Brown et al.,
    * "Language Models are Few-Shot Learners", NeurIPS 2020, Appendix A;
    * Wenzek et al., "CCNet", LREC 2020), ORACLE-EXACT: weak labels from
    * the shared gate, train on a deterministic md5-half, score EVERY
    * doc, emit the filter-audit frame. The model is a closed-form
    * nearest-prototype classifier (Rocchio 1971; Manning, Raghavan &
    * Schütze, "Introduction to Information Retrieval" ch. 14) over md5-hashed
    * token buckets, cross-multiplied into pure INTEGER weights:
    *
    *   w[b] = c1[b]·T0 − c0[b]·T1      (class token counts × opposing
    *   score(doc) = Σ_tok w[bucket]     class totals — sign of the
    *   predicted = score > 0            tf-proportion difference)
    *
    * Everything is 64-bit integer arithmetic — training AND scoring are
    * order-independent and exactly mirrorable in SQL, which a fitted
    * logistic regression (engine-specific L-BFGS doubles) can never be.
    * VERDICT r6 suggested pinning trained LR weights as literals; that
    * would have required fitting at registry-construction time (a
    * corpus action, breaking the lazy-build contract), so x29b pins the
    * MODEL FORM instead of the coefficients.
    *
    * Scale shape: the training aggregation reduces to an F-row (1024)
    * weight frame + a 1-row total — both broadcast; scoring is one
    * explode → broadcast join → doc-keyed re-aggregation with map-side
    * partial sums. Overflow bound: |w| ≤ T0·T1 and |score| ≤ tokens/doc
    * × max|w|, so sampled training tokens must stay ≲ 3·10⁹ for int64 —
    * at 100 TB tighten the md5 gate to more hex digits (sample, don't
    * fit the corpus). */
  val qualityPrototype: QueryDef = {
    QueryDef(
      "x29b_quality_prototype",
      (s, d) => {
        val scored = prototypeScored(s, d)
        scored.select(col("doc_id"),
            col("label").as("weak_label"),
            when(col("score") > 0L, 1L).otherwise(0L).as("predicted"),
            col("score"),
            (col("label") === when(col("score") > 0L, 1L).otherwise(0L))
              .cast("long").as("agree"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $prototypeScoreCtes
               SELECT doc_id,
                 CAST(label AS BIGINT) AS weak_label,
                 CAST(CASE WHEN score > 0 THEN 1 ELSE 0 END AS BIGINT)
                   AS predicted,
                 score,
                 CAST(CASE WHEN label = (CASE WHEN score > 0 THEN 1 ELSE 0 END)
                   THEN 1 ELSE 0 END AS BIGINT) AS agree
               FROM sc ORDER BY doc_id"""))
  }

  /** ml05 — classifier calibration / reliability table (DeGroot &
    * Fienberg 1983; Niculescu-Mizil & Caruana, ICML 2005: bin the
    * classifier's score, compare each bin's predicted-positive share
    * with its ACTUAL positive rate): the x29b prototype scores are cut
    * into 10 equal-population score deciles (ntile over the total
    * (score, doc_id) order) and each bin reports its size, score range,
    * exact mean score, weak-label positive rate, and predicted-positive
    * rate. A well-calibrated quality filter shows pos_rate rising
    * monotonically with the score decile — THE audit a production
    * quality-gate runs before trusting model scores as sampling
    * weights (x35's weighted sampling consumes scores like these).
    *
    * Determinism: scores/labels are exact integers (x29b's discipline);
    * ntile on a total order is engine-identical; every reported rate is
    * one IEEE division of exact integer sums, round(6).
    *
    * Scale shape: reuses [[prototypeScored]] (broadcast-weight scoring,
    * one doc-keyed agg); the decile assignment is one global-order
    * window — the only stage that is not embarrassingly parallel, and
    * exactly the one you'd replace with approx quantile edges (x15's
    * machinery) at 100 TB, trading exact equal population for a
    * full-sort-free plan; the audit table itself is 10 rows. */
  val calibrationBins: QueryDef = QueryDef(
    "ml05_calibration_bins",
    (s, d) => {
      val binned = prototypeScored(s, d)
        .withColumn("bin", ntile(10).over(
          Window.orderBy(col("score"), col("doc_id"))))
      binned.groupBy("bin")
        .agg(count(lit(1)).as("n"),
          min("score").as("min_score"),
          max("score").as("max_score"),
          expr("round(CAST(sum(score) AS DOUBLE) / count(*), 6)")
            .as("mean_score"),
          expr("round(CAST(sum(label) AS DOUBLE) / count(*), 6)")
            .as("pos_rate"),
          expr("round(CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) " +
            "AS DOUBLE) / count(*), 6)").as("pred_pos_rate"))
        .orderBy("bin")
    },
    Some(s"""WITH $prototypeScoreCtes,
             binned AS (
               SELECT *, ntile(10) OVER (ORDER BY score, doc_id) AS bin
               FROM sc)
             SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n,
               min(score) AS min_score, max(score) AS max_score,
               round(CAST(sum(score) AS DOUBLE) / count(*), 6)
                 AS mean_score,
               round(CAST(sum(label) AS DOUBLE) / count(*), 6)
                 AS pos_rate,
               round(CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*), 6) AS pred_pos_rate
             FROM binned GROUP BY bin ORDER BY bin"""))

  /** ml06 — classifier evaluation readout (confusion matrix + exact
    * rank-sum AUC) for the x29b prototype quality filter against its
    * weak labels: the audit a production gate publishes alongside
    * ml05's calibration table before the filter's scores are trusted.
    * One row: population, confusion counts at the score>0 operating
    * point, precision/recall/F1, and AUC computed via the Mann-Whitney
    * rank-sum identity AUC = (R₁ − n₁(n₁+1)/2)/(n₁n₀) with AVERAGE
    * ranks over score ties (the textbook tie handling — Hanley &
    * McNeil, Radiology 1982).
    *
    * Determinism: confusion counts are exact integer sums. For AUC the
    * tie-group average rank is the half-integer (2·cum + cnt + 1)/2, so
    * the whole rank sum is carried DOUBLED as an exact integer
    * (r1x2 = Σ_groups pos_g·(2·cum_g + cnt_g + 1)) and the identity
    * becomes AUC = (r1x2 − n₁(n₁+1)) / (2n₁n₀) — ONE IEEE division of
    * exact integers, round(6). The rank-sum accumulators are widened to
    * DECIMAL(38,0) (Spark) / HUGEINT-backed DECIMAL (DuckDB): r1x2 is
    * O(n²) and exceeds int64 near n ≈ 3·10⁹ scored docs (t24/st16's
    * widening discipline, applied up front).
    *
    * Scale shape: reuses [[prototypeScored]] (broadcast-weight scoring,
    * one doc-keyed agg); ranks come from ONE hash agg by score plus a
    * cumulative window over the DISTINCT-SCORE frame (value-domain
    * bounded, x15/x39's idiom — never the corpus); everything after is
    * a 1-row fold. F1 is computed from the integer identity
    * 2tp/(2tp+fp+fn) — no intermediate precision/recall rounding. */
  val classifierMetrics: QueryDef = QueryDef(
    "ml06_classifier_metrics",
    (s, d) => {
      val sc = prototypeScored(s, d)
      val conf = sc.agg(
        count(lit(1)).as("n"),
        sum(col("label")).as("n_pos"),
        sum(lit(1L) - col("label")).as("n_neg"),
        sum(when(col("score") > 0L && col("label") === 1L, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("score") > 0L && col("label") === 0L, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("score") <= 0L && col("label") === 0L, 1L)
          .otherwise(0L)).as("tn"),
        sum(when(col("score") <= 0L && col("label") === 1L, 1L)
          .otherwise(0L)).as("fn"))
      val groups = sc.groupBy("score")
        .agg(count(lit(1)).as("cnt"), sum("label").as("pos"))
      val ranked = groups.withColumn("cum",
        coalesce(sum("cnt").over(Window.orderBy("score")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val r1 = ranked.agg(
        sum(expr("CAST(pos AS DECIMAL(38,0)) * (2 * cum + cnt + 1)"))
          .as("r1x2"))
      conf.crossJoin(broadcast(r1))
        .select(col("n"), col("n_pos"), col("n_neg"),
          col("tp"), col("fp"), col("tn"), col("fn"),
          expr("CASE WHEN tp + fp = 0 THEN 0.0 ELSE " +
            "round(CAST(tp AS DOUBLE) / (tp + fp), 6) END").as("prec"),
          expr("CASE WHEN n_pos = 0 THEN 0.0 ELSE " +
            "round(CAST(tp AS DOUBLE) / n_pos, 6) END").as("recall"),
          expr("CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0 ELSE " +
            "round(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn), 6) END")
            .as("f1"),
          expr("round(CAST(r1x2 - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1) " +
            "AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE), 6)").as("auc"))
    },
    Some(s"""WITH $prototypeScoreCtes,
             conf AS (
               SELECT count(*) AS n,
                 CAST(sum(label) AS BIGINT) AS n_pos,
                 CAST(sum(1 - label) AS BIGINT) AS n_neg,
                 CAST(sum(CASE WHEN score > 0 AND label = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS tp,
                 CAST(sum(CASE WHEN score > 0 AND label = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS fp,
                 CAST(sum(CASE WHEN score <= 0 AND label = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS tn,
                 CAST(sum(CASE WHEN score <= 0 AND label = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS fn
               FROM sc),
             grp AS (
               SELECT score, count(*) AS cnt,
                 CAST(sum(label) AS BIGINT) AS pos
               FROM sc GROUP BY score),
             rk AS (
               SELECT *, coalesce(sum(cnt) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cum
               FROM grp),
             r1 AS (
               SELECT sum(CAST(pos AS DECIMAL(38,0)) * (2 * cum + cnt + 1))
                 AS r1x2
               FROM rk)
             SELECT n, n_pos, n_neg, tp, fp, tn, fn,
               CASE WHEN tp + fp = 0 THEN 0.0 ELSE
                 round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS prec,
               CASE WHEN n_pos = 0 THEN 0.0 ELSE
                 round(CAST(tp AS DOUBLE) / n_pos, 6) END AS recall,
               CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0 ELSE
                 round(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn), 6) END
                 AS f1,
               round(CAST(r1x2 - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1)
                 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE), 6) AS auc
             FROM conf, r1"""))

  /** x30 — per-domain quota cap (the "no single source dominates"
    * discipline of web-corpus curation: C4 caps per-URL repetition,
    * RefinedWeb/Gopher cap per-domain document share — without a cap,
    * one crawler-friendly domain floods the training mix): keep the
    * `cap` longest documents per source, ties broken by doc_id, drop
    * the rest.
    *
    * This is the CURATION call site of the custom TopKPerKey physical
    * operator (graft.plans.TopKPerKey, oracle-proven ≡ the row_number
    * window form by e04): per-domain caps are exactly the k ≪ group-size
    * regime the bounded-heap exec exists for — at 100 TB a hot domain
    * holds millions of documents of which `cap` survive, and WindowExec
    * would sort (or spill) every such group in full while the heap keeps
    * O(cap) rows per domain. requiredChildDistribution clusters on
    * `source`, so Catalyst inserts the one unavoidable shuffle and
    * nothing else. Oracle-exact: length ordering + id tiebreak are
    * engine-independent. */
  val domainCap: QueryDef = {
    val cap = 10
    QueryDef(
      "x30_domain_cap",
      (s, d) => {
        val prepped = Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            col("n_chars"), col("n_chars").cast("double").as("len_d"))
        graft.plans.TopKPerKey.topKPerKey(
            prepped, Seq("source"), "len_d", "doc_id", cap)
          .select(col("source"), col("doc_id"), col("n_chars"))
          .orderBy("source", "doc_id")
      },
      Some(s"""SELECT source, doc_id, n_chars
               FROM (SELECT source, doc_id, n_chars,
                       row_number() OVER (PARTITION BY source
                         ORDER BY n_chars DESC, doc_id) AS rn
                     FROM documents)
               WHERE rn <= $cap ORDER BY source, doc_id"""))
  }

  /** x31 — SCD2 (type-2 slowly-changing-dimension) history build: turn
    * an append-only fact stream (a customer's orders over time) into the
    * versioned dimension table a warehouse keeps — one row per state
    * with `[valid_from, valid_to)` effective ranges, a per-entity
    * version number, and an `is_current` flag on the open-ended row.
    * This is the complement of x13's MERGE upsert: x13 keeps only the
    * latest state, SCD2 keeps the full history so any as-of date (q29's
    * as-of join) can be answered against the dimension.
    *
    * Built with one window over (entity, event-time): `lead()` closes
    * each interval at the next version's start, `row_number` assigns
    * versions — no self-join, one shuffle on the entity key. At 100 TB
    * history builds are exactly this shape: partition by entity, sort
    * within partition; the window never sees more than one entity's
    * rows. Timestamps render as UTC strings (determinism contract —
    * session is UTC in both engines). */
  val scd2History: QueryDef = QueryDef(
    "x31_scd2_history",
    (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
          col("o_orderpriority"))
        .withColumn("version", row_number().over(w))
        .withColumn("valid_from",
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
        .withColumn("valid_to",
          date_format(lead(col("o_orderdate"), 1).over(w),
            "yyyy-MM-dd HH:mm:ss"))
        .withColumn("is_current", col("valid_to").isNull)
        .select("o_custkey", "version", "o_orderpriority",
          "valid_from", "valid_to", "is_current")
        .orderBy("o_custkey", "version")
    },
    Some("""SELECT o_custkey,
              CAST(row_number() OVER w AS INTEGER) AS version,
              o_orderpriority,
              strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from,
              strftime(lead(o_orderdate, 1) OVER w,
                '%Y-%m-%d %H:%M:%S') AS valid_to,
              (lead(o_orderdate, 1) OVER w) IS NULL AS is_current
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey)
            ORDER BY o_custkey, version"""))

  /** x32 — temperature-scaled sampling weights (α = 0.5): each source's
    * sampling weight ∝ n_tokens^α, the multinomial temperature mix that
    * upsamples low-resource sources relative to proportional sampling
    * (mC4/UNIMAX-style; Xue et al., NAACL 2021 §3.3). x14 applies
    * DECLARED weights; x17 caps by budget; x32 COMPUTES the weights
    * from corpus statistics with an exponent.
    *
    * Determinism: n^0.5 is the one exponent that is exact — but even
    * sqrt yields doubles whose cross-source SUM would be
    * accumulation-order-dependent, so the weight basis is the INTEGER
    * square root (floor(√n), the IEEE sqrt corrected by one comparison
    * step — exact for n < 2⁵², engine-independent): long sums are
    * order-free, the weight is ONE exact division, and the per-source
    * token target is pure integer arithmetic (budget·isq DIV Σisq).
    *
    * Scale shape: one source-keyed aggregate reduces the corpus to ~20
    * rows; the Σisq window runs over that bounded relation only (x17's
    * idiom). Applying the computed weights is x14's per-row hash draw —
    * nothing here touches row scale again. */
  val temperatureMix: QueryDef = {
    val budget = 1000000L // token budget the targets are carved from
    QueryDef(
      "x32_temperature_mix",
      (s, d) =>
        Tables.documents(s, d)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(expr(sparkTokCount).cast("long")).as("n_tokens"))
          .withColumn("r0",
            expr("CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)"))
          .withColumn("isq", expr(
            "r0 + IF((r0 + 1) * (r0 + 1) <= n_tokens, 1L, 0L)" +
              " - IF(r0 * r0 > n_tokens, 1L, 0L)"))
          .withColumn("tot_isq", sum(col("isq")).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .select(col("source"), col("n_docs"), col("n_tokens"), col("isq"),
            round(col("isq").cast("double") / col("tot_isq").cast("double"), 6)
              .as("weight"),
            expr(s"($budget * isq) DIV tot_isq").as("target_tokens"))
          .orderBy("source"),
      Some(s"""WITH a AS (
                 SELECT source, count(*) AS n_docs,
                   CAST(sum($duckTokCount) AS BIGINT) AS n_tokens
                 FROM documents GROUP BY 1),
               r AS (
                 SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
                   AS r0
                 FROM a),
               i AS (
                 SELECT source, n_docs, n_tokens,
                   r0 + CASE WHEN (r0 + 1) * (r0 + 1) <= n_tokens
                        THEN 1 ELSE 0 END
                      - CASE WHEN r0 * r0 > n_tokens THEN 1 ELSE 0 END AS isq
                 FROM r)
               SELECT source, n_docs, n_tokens, isq,
                 round(CAST(isq AS DOUBLE) /
                       CAST(CAST(sum(isq) OVER () AS BIGINT) AS DOUBLE), 6)
                   AS weight,
                 ($budget * isq) // CAST(sum(isq) OVER () AS BIGINT)
                   AS target_tokens
               FROM i ORDER BY source"""))
  }

  /** x33 — dataset card: the per-(lang, source) release statistics a
    * published training corpus ships with (Gebru et al., "Datasheets
    * for Datasets", CACM 2021) — doc/token totals, exact median and max
    * document length, mean chars, corpus-wide exact-duplicate counts,
    * and each cell's token share of the release. x25's manifest lists
    * shard files for the trainer; x33 summarizes content for the data
    * card.
    *
    * Determinism: counts/sums/max are integers; median over integers is
    * the exact midpoint (both engines interpolate (a+b)/2 — exact in
    * IEEE for longs < 2⁵²); mean/share/rate are single divisions of
    * exact integers, round()ed.
    *
    * Scale shape: one fingerprint-keyed aggregate flags corpus-wide
    * duplicates (text dropped first — the md5 travels, not the
    * document), then one (lang, source) aggregate reduces to ~cells
    * rows; the share window runs over that bounded relation only.
    * The median is the one non-algebraic aggregate: at 100 TB it
    * switches to e07's mergeable Q-digest (approx_percentile) — noted
    * here because exactness is part of this card's contract. */
  val datasetCard: QueryDef = QueryDef(
    "x33_dataset_card",
    (s, d) => {
      val rows = Tables.documents(s, d)
        .select(col("lang"), col("source"),
          expr(sparkTokCount).cast("long").as("n_tokens"),
          col("n_chars"), md5(col("text")).as("fp"))
      val dupFlag = rows
        .withColumn("dup",
          (count(lit(1)).over(Window.partitionBy("fp")) > 1).cast("long"))
      dupFlag.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          expr("percentile(n_tokens, 0.5)").as("median_raw"),
          max("n_tokens").as("max_tokens"),
          sum("n_chars").as("sum_chars"),
          sum("dup").as("dup_docs"))
        .withColumn("corpus_tokens", sum(col("total_tokens")).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .select(col("lang"), col("source"), col("n_docs"),
          col("total_tokens"),
          round(col("median_raw"), 1).as("median_tokens"),
          col("max_tokens"),
          round(col("sum_chars").cast("double") /
            col("n_docs").cast("double"), 4).as("mean_chars"),
          col("dup_docs"),
          round(col("dup_docs").cast("double") /
            col("n_docs").cast("double"), 6).as("dup_rate"),
          round(col("total_tokens").cast("double") /
            col("corpus_tokens").cast("double"), 6).as("token_share"))
        .orderBy("lang", "source")
    },
    Some(s"""WITH rows_ AS (
               SELECT lang, source,
                 CAST($duckTokCount AS BIGINT) AS n_tokens,
                 n_chars, md5(text) AS fp
               FROM documents),
             flagged AS (
               SELECT *, CASE WHEN count(*) OVER (PARTITION BY fp) > 1
                 THEN 1 ELSE 0 END AS dup
               FROM rows_),
             cells AS (
               SELECT lang, source, count(*) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                 quantile_cont(n_tokens, 0.5) AS median_raw,
                 max(n_tokens) AS max_tokens,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                 CAST(sum(dup) AS BIGINT) AS dup_docs
               FROM flagged GROUP BY 1, 2)
             SELECT lang, source, n_docs, total_tokens,
               round(median_raw, 1) AS median_tokens, max_tokens,
               round(CAST(sum_chars AS DOUBLE) /
                     CAST(n_docs AS DOUBLE), 4) AS mean_chars,
               dup_docs,
               round(CAST(dup_docs AS DOUBLE) /
                     CAST(n_docs AS DOUBLE), 6) AS dup_rate,
               round(CAST(total_tokens AS DOUBLE) /
                     CAST(CAST(sum(total_tokens) OVER () AS BIGINT)
                          AS DOUBLE), 6) AS token_share
             FROM cells ORDER BY lang, source"""))

  /** x34 — quality-aware canonical selection: x12 keeps each dup
    * cluster's MIN-ID member (arbitrary but stable); real curation
    * keeps the BEST member — here the longest document (token count,
    * the "most complete version" policy; any integer quality score
    * slots into the same argmax), doc_id ascending as the total
    * tiebreak. Reports one row per near-dup cluster: size, the kept
    * member, its tokens, and how many were removed.
    *
    * Scale shape: pairs + components are d04/d07's machinery (inverted
    * shingle index, star-contraction CC); the argmax is ONE window over
    * the cluster-member frame, which holds only docs that HAVE a
    * near-dup — cluster-membership-bounded, not corpus-bounded. The
    * token-count join is a narrow projection of the scan. */
  val canonicalSelection: QueryDef = QueryDef(
    "x34_canonical_selection",
    (s, d) => {
      val labels = Dedup.ngramSharedLabels(s, d) // shared materialized stage
      val toks = Tables.documents(s, d).select(col("doc_id"),
        expr(sparkTokCount).cast("long").as("n_tokens"))
      val members = labels.join(toks, labels("id") === toks("doc_id"))
        .select(col("component"), col("doc_id"), col("n_tokens"))
      val ranked = members.withColumn("rk", row_number().over(
        Window.partitionBy("component")
          .orderBy(col("n_tokens").desc, col("doc_id"))))
      ranked.groupBy("component")
        .agg(count(lit(1)).as("n_members"),
          max(when(col("rk") === 1, col("doc_id"))).as("kept_id"),
          max(when(col("rk") === 1, col("n_tokens"))).as("kept_tokens"),
          (count(lit(1)) - 1).as("n_removed"))
        .orderBy("component")
    },
    Some(s"""WITH RECURSIVE ${Dedup.ngramPairSql(Dedup.ngramTheta)},
             edges AS (
               SELECT a_id AS src, b_id AS dst FROM pairs
               UNION
               SELECT b_id AS src, a_id AS dst FROM pairs),
             reach(id, r) AS (
               SELECT src, src FROM edges
               UNION
               SELECT e.src, reach.r FROM edges e
               JOIN reach ON reach.id = e.dst),
             labels AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
             tok AS (
               SELECT doc_id, CAST($duckTokCount AS BIGINT) AS n_tokens
               FROM documents),
             members AS (
               SELECT l.component, l.id AS doc_id, t.n_tokens,
                 row_number() OVER (PARTITION BY l.component
                   ORDER BY t.n_tokens DESC, l.id) AS rk
               FROM labels l JOIN tok t ON t.doc_id = l.id)
             SELECT component, count(*) AS n_members,
               CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
                 AS kept_id,
               CAST(max(CASE WHEN rk = 1 THEN n_tokens END) AS BIGINT)
                 AS kept_tokens,
               count(*) - 1 AS n_removed
             FROM members GROUP BY component ORDER BY component"""))

  /** x35 — deterministic WEIGHTED sampling: keep the k documents with
    * the smallest priority = hash DIV weight, weight = token count —
    * the token-budget-aware sample (long docs proportionally likelier)
    * where x01/x02 sample uniformly. The hash-over-weight priority is
    * the integer-arithmetic surrogate of Efraimidis-Spirakis A-ES
    * keys (u^(1/w) ordering, VLDB 2006-era weighted reservoirs): a
    * doc's inclusion is a pure function of (content hash, weight), so
    * the sample is reproducible on any engine, partitioning, or
    * cluster size, and mergeable across shards (take the k smallest
    * of the union — a weighted-reservoir property the float form
    * shares but cannot make bit-stable).
    *
    * Scale shape: priority is a map-side expression; the top-k is one
    * rank-limit (WindowGroupLimit map-side prune at k rows per task);
    * no corpus shuffle. */
  val weightedSample: QueryDef = {
    val k = 50
    QueryDef(
      "x35_weighted_sample",
      (s, d) =>
        // top-k via sort-limit (TakeOrdered — per-partition heaps, no
        // global window): the q21 anti-pattern a rank-window would plan
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            expr(sparkTokCount).cast("long").as("n_tokens"),
            expr(Dedup.sparkMd5Int60("text")).as("h"))
          .withColumn("priority", expr("h DIV greatest(n_tokens, 1)"))
          .select("doc_id", "source", "n_tokens", "priority")
          .orderBy(col("priority"), col("doc_id"))
          .limit(k),
      Some(s"""SELECT doc_id, source,
                 CAST($duckTokCount AS BIGINT) AS n_tokens,
                 ${Dedup.duckMd5Int60("text")}
                   // greatest(CAST($duckTokCount AS BIGINT), 1)
                   AS priority
               FROM documents
               ORDER BY priority, doc_id LIMIT $k"""))
  }

  /** x36 — deterministic epoch shuffling: each training epoch orders
    * the corpus by md5(epoch ‖ doc_id) — a fresh pseudo-random
    * permutation per epoch that is a PURE ROW FUNCTION (reproducible on
    * any engine/partitioning/cluster size, resumable mid-epoch from a
    * position, no shuffle-state to persist — the dataloader property
    * `orderBy(rand(seed))` cannot give because rand's row assignment
    * depends on partitioning). Registered output: the first 10
    * documents of epochs 0 and 1 with their epoch-order positions,
    * plus a per-epoch checksum over the full permutation so the oracle
    * pins the ENTIRE order, not just the head.
    *
    * Scale shape: the sort key is a map-side md5; the per-epoch head
    * is a rank-limit window partitioned by epoch (Spark 4's
    * WindowGroupLimit prunes to ≤10 rows per task map-side); the
    * checksum is an order-insensitive sum of 40-bit key folds through
    * [[permChecksum]] — the widened modular accumulator, exact at any
    * corpus size (a plain BIGINT sum overflows past ~8 M docs/epoch). */
  val epochShuffle: QueryDef = {
    val epochs = 2; val head = 10
    QueryDef(
      "x36_epoch_shuffle",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d).select(col("doc_id"))
        val keyed = s.range(0, epochs).select(col("id").cast("int").as("epoch"))
          .crossJoin(docs)
          .select(col("epoch"), col("doc_id"),
            md5(concat(col("epoch").cast("string"), lit(":"),
              col("doc_id").cast("string"))).as("k"))
        val heads = keyed
          .withColumn("position", row_number().over(
            Window.partitionBy("epoch").orderBy(col("k"), col("doc_id"))))
          .filter(col("position") <= head)
          .select(col("epoch"), col("position"), col("doc_id"),
            col("k").as("order_key"))
        val sums = keyed.groupBy("epoch")
          .agg(permChecksum(
            expr("CAST(conv(substring(k, 1, 10), 16, 10) AS BIGINT)"))
            .as("perm_checksum"))
        heads.join(sums, "epoch")
          .select("epoch", "position", "doc_id", "order_key", "perm_checksum")
          .orderBy("epoch", "position")
      },
      Some(s"""WITH keyed AS (
                 SELECT e.epoch, d.doc_id,
                   md5(concat(CAST(e.epoch AS VARCHAR), ':',
                       CAST(d.doc_id AS VARCHAR))) AS k
                 FROM (SELECT unnest(range(0, $epochs)) AS epoch) e,
                      (SELECT doc_id FROM documents) d),
               heads AS (
                 SELECT epoch, doc_id, k AS order_key,
                   CAST(row_number() OVER (PARTITION BY epoch
                     ORDER BY k, doc_id) AS INTEGER) AS position
                 FROM keyed),
               sums AS (
                 SELECT epoch,
                   CAST(sum(${duckHexFold("k", 1, 10)})
                        % ${ChecksumMod} AS BIGINT)
                     AS perm_checksum
                 FROM keyed GROUP BY 1)
               SELECT CAST(h.epoch AS INTEGER) AS epoch, h.position,
                 h.doc_id, h.order_key, s.perm_checksum
               FROM heads h JOIN sums s ON s.epoch = h.epoch
               WHERE h.position <= $head
               ORDER BY epoch, position"""))
  }

  /** DuckDB hex fold over md5 chars [from, from+len) — local alias of
    * Dedup.duckMd5IntSlice's digit fold for an ALREADY-hex column. */
  private def duckHexFold(col: String, from: Int, len: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range($from, ${from + len}),
            i -> CAST(strpos('0123456789abcdef',
              substring($col, i, 1)) - 1 AS BIGINT))),
          (a, d) -> a * 16 + d)"""

  /** x38 — differentially-private-style release of per-(lang, source)
    * cell counts (Dwork et al., "Calibrating noise to sensitivity",
    * TCC 2006: the Laplace mechanism for sensitivity-1 count queries,
    * scale b = 1/ε = 2; plus the small-cell suppression rule every
    * census-style release pairs it with). x23 k-anonymity suppresses;
    * x38 is the ADDITIVE-noise release form. The noise here is
    * PSEUDO-random — the Laplace inverse CDF driven by the cell key's
    * md5 — so the release is reproducible and both engines agree
    * bit-for-bit; a production ε-DP deployment would swap ONLY the
    * uniform source for a cryptographic one (the plumbing — inverse
    * CDF, integerized noise, suppression, true counts never released —
    * is exactly this).
    *
    * Determinism: u ∈ [0,1) is the 40-bit md5 hex fold over 2⁴⁰ (the
    * x36 key idiom); the ln() in the inverse CDF is washed through the
    * t23 discipline (round at integer granularity on identical IEEE
    * inputs). The inverse-CDF argument 1−|2u−1| is clamped at 2⁻⁴⁰
    * in BOTH engines: a key whose 40-bit fold is exactly 0 would give
    * ln(0)=−∞, which Spark silently wraps to Long.MinValue on the
    * BIGINT cast while DuckDB errors — the clamp caps |noise| at
    * b·40·ln 2 ≈ 55 and keeps the engines agreeing on every possible
    * key. Cell keys are NULL-safe (coalesce to '' before the concat):
    * Spark's concat is NULL-absorbing where DuckDB's concat skips NULL
    * args, so an unguarded key would diverge the moment the schema
    * admits a NULL lang/source. Cells with a true count under k=20
    * release NULL + suppressed=true; noisy counts clamp at 0.
    *
    * Scale shape: one (lang, source)-keyed count over bounded domains
    * — the noise/suppression stage is a pure projection on the
    * ~|langs|·|sources| cell frame. */
  val dpRelease: QueryDef = {
    val b = 2.0; val k = 20
    QueryDef(
      "x38_dp_release",
      (s, d) =>
        Tables.documents(s, d)
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_true"))
          .selectExpr("lang", "source", "n_true",
            "CAST(conv(substring(md5(concat(coalesce(lang, ''), ':', coalesce(source, ''))), 1, 10), 16, 10) AS BIGINT) AS h")
          .selectExpr("lang", "source", "n_true",
            "CAST(h AS DOUBLE) / 1099511627776.0 AS u")
          .selectExpr("lang", "source", "n_true",
            "CASE WHEN u < 0.5 THEN -1 ELSE 1 END AS sgn",
            "abs(2.0 * u - 1.0) AS a")
          .selectExpr("lang", "source", "n_true",
            s"CAST(round(-1.0 * sgn * $b * " +
              "ln(greatest(1.0 - a, pow(2.0, -40)))) AS BIGINT) AS noise")
          // the released frame carries ONLY (noisy count, suppressed
          // flag) — emitting the noise or the true count alongside
          // would un-privatize the release
          .selectExpr("lang", "source",
            s"CASE WHEN n_true < $k THEN NULL " +
              "ELSE greatest(n_true + noise, CAST(0 AS BIGINT)) END " +
              "AS noisy_docs",
            s"n_true < $k AS suppressed")
          .orderBy("lang", "source"),
      Some(s"""WITH cells AS (
                 SELECT lang, source, count(*) AS n_true
                 FROM documents GROUP BY 1, 2),
               keyed AS (
                 SELECT lang, source, n_true,
                   ${duckHexFold(
                     "md5(concat(coalesce(lang, ''), ':', " +
                       "coalesce(source, '')))", 1, 10)}
                     AS h
                 FROM cells),
               unif AS (
                 SELECT lang, source, n_true,
                   CAST(h AS DOUBLE) / 1099511627776.0 AS u
                 FROM keyed),
               lap AS (
                 SELECT lang, source, n_true,
                   CAST(round(-1.0 *
                     (CASE WHEN u < 0.5 THEN -1 ELSE 1 END) * $b *
                     ln(greatest(1.0 - abs(2.0 * u - 1.0),
                                 pow(2.0, -40)))) AS BIGINT) AS noise
                 FROM unif)
               SELECT lang, source,
                 CASE WHEN n_true < $k THEN NULL
                      ELSE greatest(n_true + noise, 0) END AS noisy_docs,
                 n_true < $k AS suppressed
               FROM lap ORDER BY lang, source"""))
  }

  /** x39 — population stability index (PSI) distribution-drift monitor
    * between two corpus snapshots (the standard production data-quality
    * alarm — e.g. Siddiqi, "Credit Risk Scorecards", 2006, ch. 8:
    * PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) over the REFERENCE snapshot's
    * decile buckets; <0.1 stable, <0.25 moderate, else shifted). x26
    * diffs snapshots row-by-row; x39 says whether the SHAPE of the
    * corpus moved — the alarm that fires when a new crawl batch skews
    * short, even though every row is new. Snapshots here are the
    * deterministic even/odd doc_id halves (x26's fixture idiom); the
    * monitored feature is document length.
    *
    * Determinism: decile edges are positional — e_i = the reference
    * value at row ceil(i·N/10) under the total (n_chars, doc_id) order,
    * pure integer position arithmetic ((i·N + 9) DIV 10). Bucket
    * assignment is an integer comparison count against the 9-row edge
    * frame. The smoothed (+0.5, Laplace) PSI term is integerized at
    * 10⁻⁹ through the t23 ln() wash, so the bucket terms and their sum
    * are exact order-independent longs; the total is ONE division,
    * round(6).
    *
    * Scale shape: one pass builds the reference histogram (the edge
    * window runs over the BOUNDED distinct-length frame at 100 TB —
    * x15's value-domain idiom; here the direct row window is fine at
    * fixture scale and the edge frame is 9 rows either way); bucket
    * assignment is a broadcast join against 9 edges; everything after
    * is a 10-row frame. */
  val psiDrift: QueryDef = {
    val buckets = 10
    QueryDef(
      "x39_psi_drift",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"),
            (col("doc_id") % 2 === 0).as("is_ref"))
        val ref = docs.filter(col("is_ref"))
        val nRef = ref.agg(count(lit(1)).as("n_ref"))
        val ordered = ref
          .withColumn("rn", row_number().over(
            Window.orderBy(col("n_chars"), col("doc_id"))))
          .select("n_chars", "rn")
        val edges = ordered.crossJoin(broadcast(nRef))
          .withColumn("i", explode(expr(
            s"sequence(1, ${buckets - 1})")))
          .filter(expr(s"rn = (i * n_ref + ${buckets - 1}) DIV $buckets"))
          .select(col("i").as("edge_i"), col("n_chars").as("edge_v"))
        val assigned = docs.crossJoin(broadcast(edges))
          .groupBy("doc_id", "is_ref")
          .agg((sum(when(col("n_chars") > col("edge_v"), 1)
            .otherwise(0)) + 1).as("bucket"))
        val cells = assigned.groupBy("bucket")
          .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("p_cnt"),
            sum(when(!col("is_ref"), 1L).otherwise(0L)).as("q_cnt"))
        val totals = cells.agg(sum("p_cnt").as("n_p"), sum("q_cnt").as("n_q"))
        val terms = cells.crossJoin(broadcast(totals))
          .withColumn("term_e9", expr(
            s"""CAST(round(
                ((CAST(p_cnt AS DOUBLE) + 0.5) / (CAST(n_p AS DOUBLE) + ${buckets / 2.0})
                 - (CAST(q_cnt AS DOUBLE) + 0.5) / (CAST(n_q AS DOUBLE) + ${buckets / 2.0}))
                * ln(((CAST(p_cnt AS DOUBLE) + 0.5) / (CAST(n_p AS DOUBLE) + ${buckets / 2.0}))
                     / ((CAST(q_cnt AS DOUBLE) + 0.5) / (CAST(n_q AS DOUBLE) + ${buckets / 2.0})))
                * 1e9) AS BIGINT)"""))
        val psi = terms.agg(sum("term_e9").as("psi_e9"))
        terms.crossJoin(broadcast(psi))
          .selectExpr("bucket", "p_cnt", "q_cnt", "term_e9",
            "round(CAST(psi_e9 AS DOUBLE) / 1e9, 6) AS psi_total",
            """CASE WHEN psi_e9 < 100000000 THEN 'stable'
                    WHEN psi_e9 < 250000000 THEN 'moderate'
                    ELSE 'shifted' END AS drift""")
          .orderBy("bucket")
      },
      Some(s"""WITH docs AS (
                 SELECT doc_id, n_chars, doc_id % 2 = 0 AS is_ref
                 FROM documents),
               ref AS (SELECT * FROM docs WHERE is_ref),
               nref AS (SELECT count(*) AS n_ref FROM ref),
               ordered AS (
                 SELECT n_chars,
                   row_number() OVER (ORDER BY n_chars, doc_id) AS rn
                 FROM ref),
               edges AS (
                 SELECT i.i AS edge_i, o.n_chars AS edge_v
                 FROM (SELECT unnest(range(1, $buckets)) AS i) i, nref, ordered o
                 WHERE o.rn = (i.i * nref.n_ref + ${buckets - 1}) // $buckets),
               assigned AS (
                 SELECT d.doc_id, d.is_ref,
                   1 + sum(CASE WHEN d.n_chars > e.edge_v THEN 1 ELSE 0 END)
                     AS bucket
                 FROM docs d, edges e GROUP BY 1, 2),
               cells AS (
                 SELECT bucket,
                   CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
                     AS p_cnt,
                   CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT)
                     AS q_cnt
                 FROM assigned GROUP BY 1),
               totals AS (
                 SELECT CAST(sum(p_cnt) AS BIGINT) AS n_p,
                   CAST(sum(q_cnt) AS BIGINT) AS n_q FROM cells),
               terms AS (
                 SELECT bucket, p_cnt, q_cnt,
                   CAST(round(
                     ((CAST(p_cnt AS DOUBLE) + 0.5) / (CAST(n_p AS DOUBLE) + ${buckets / 2.0})
                      - (CAST(q_cnt AS DOUBLE) + 0.5) / (CAST(n_q AS DOUBLE) + ${buckets / 2.0}))
                     * ln(((CAST(p_cnt AS DOUBLE) + 0.5) / (CAST(n_p AS DOUBLE) + ${buckets / 2.0}))
                          / ((CAST(q_cnt AS DOUBLE) + 0.5) / (CAST(n_q AS DOUBLE) + ${buckets / 2.0})))
                     * 1e9) AS BIGINT) AS term_e9
                 FROM cells, totals),
               psi AS (SELECT CAST(sum(term_e9) AS BIGINT) AS psi_e9 FROM terms)
               SELECT CAST(t.bucket AS BIGINT) AS bucket, t.p_cnt, t.q_cnt,
                 t.term_e9,
                 round(CAST(p.psi_e9 AS DOUBLE) / 1e9, 6) AS psi_total,
                 CASE WHEN p.psi_e9 < 100000000 THEN 'stable'
                      WHEN p.psi_e9 < 250000000 THEN 'moderate'
                      ELSE 'shifted' END AS drift
               FROM terms t, psi p ORDER BY bucket"""))
  }

  /** x40 — blocklist density gate (the C4 "bad words" discipline,
    * Raffel et al. 2020 §2.2 — documents containing blocklisted terms
    * are filtered; the density variant drops a document only when the
    * blocklisted fraction of its tokens crosses a threshold, which is
    * what production filters moved to once single-hit removal proved
    * too aggressive on long documents). Per doc: token count, hit
    * count, integer density in ppm, and the keep verdict.
    *
    * Scale shape: the blocklist is joined as a TABLE (broadcast — real
    * blocklists run to 10⁴-10⁵ terms across languages, far past what an
    * IN-list literal can carry through codegen), so the match is one
    * broadcast-hash equi-join on the exploded token stream followed by
    * one map-side-combinable per-doc aggregate. Document text rides no
    * shuffle; only (doc_id, token) pairs do, and the density math is
    * exact integer arithmetic (ppm = 1e6·hits DIV tokens — no floats
    * anywhere, so partitioning can never change a verdict). */
  val blocklistGate: QueryDef = {
    val terms = Seq("slow", "dup", "stale")
    val thresholdPpm = 60000L
    QueryDef(
      "x40_blocklist_gate",
      (s, d) => {
        import s.implicits._
        val bl = broadcast(terms.toDF("term"))
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
        toks.join(bl, col("tok") === col("term"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("term").isNotNull, 1L).otherwise(0L)).as("n_hits"))
          .withColumn("density_ppm",
            expr("(1000000 * n_hits) DIV n_tokens"))
          .withColumn("keep", col("density_ppm") <= thresholdPpm)
          .orderBy("doc_id")
      },
      Some {
        val vals = terms.map(t => s"('$t')").mkString(", ")
        s"""WITH bl(term) AS (VALUES $vals),
             toks AS (
               SELECT doc_id, unnest(string_split(text, ' ')) AS tok
               FROM documents),
             agg AS (
               SELECT doc_id, count(*) AS n_tokens,
                 CAST(sum(CASE WHEN bl.term IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_hits
               FROM toks LEFT JOIN bl ON toks.tok = bl.term
               WHERE toks.tok != '' GROUP BY doc_id)
             SELECT doc_id, n_tokens, n_hits,
               (1000000 * n_hits) // n_tokens AS density_ppm,
               (1000000 * n_hits) // n_tokens <= $thresholdPpm AS keep
             FROM agg ORDER BY doc_id"""
      })
  }

  /** x41 — curriculum training order (Bengio et al., "Curriculum
    * Learning", ICML 2009: present easy examples first; the practical
    * LM curriculum orders by sequence LENGTH, the paper's own first
    * criterion and the one production pipelines actually use): docs are
    * cut into 4 equal-population difficulty phases by token count
    * (short → long), and WITHIN each phase the order is the x36
    * reproducible-shuffle idiom (md5 over doc_id — a curriculum must
    * still randomize inside a phase or the model sees the corpus in
    * storage order). The output is the consumable training manifest:
    * global_rank is phase-major, so a trainer streaming it top-to-
    * bottom executes the curriculum.
    *
    * Determinism: phase = ntile over the total (n_tokens, doc_id)
    * order; within-phase rank = row_number over (md5(doc_id), doc_id);
    * global rank is integer arithmetic on the two.
    *
    * Scale shape: one narrow token-count projection, one global-order
    * ntile window (at 100 TB: swap for x15's quantile-edge assignment
    * to avoid the full sort — phase boundaries don't need exact equal
    * population), one within-phase window partitioned by phase. No
    * joins, no text through any shuffle. */
  val curriculumOrder: QueryDef = {
    val phases = 4
    QueryDef(
      "x41_curriculum_order",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"),
            expr("size(filter(split(text, ' '), t -> t != ''))")
              .cast("long").as("n_tokens"))
        val phased = docs.withColumn("phase", ntile(phases).over(
          Window.orderBy(col("n_tokens"), col("doc_id"))))
        val ranked = phased.withColumn("rank_in_phase",
          row_number().over(Window.partitionBy("phase")
            .orderBy(expr("md5(CAST(doc_id AS STRING))"), col("doc_id"))))
        val sizes = ranked.groupBy("phase")
          .agg(count(lit(1)).as("phase_n"))
        val offsets = sizes
          .withColumn("offset",
            coalesce(sum("phase_n").over(
              Window.orderBy("phase")
                .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("phase", "offset")
        ranked.join(broadcast(offsets), "phase")
          .select(col("doc_id"), col("n_tokens"),
            col("phase").cast("long").as("phase"),
            col("rank_in_phase").cast("long").as("rank_in_phase"),
            (col("offset") + col("rank_in_phase")).as("global_rank"))
          .orderBy("global_rank")
      },
      Some(s"""WITH docs AS (
                 SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '),
                     t -> t != '')) AS BIGINT) AS n_tokens
                 FROM documents),
               phased AS (
                 SELECT *, ntile($phases) OVER
                   (ORDER BY n_tokens, doc_id) AS phase
                 FROM docs),
               ranked AS (
                 SELECT *, row_number() OVER (PARTITION BY phase
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                   AS rank_in_phase
                 FROM phased),
               offsets AS (
                 SELECT phase,
                   coalesce(sum(phase_n) OVER (ORDER BY phase
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS off
                 FROM (SELECT phase, count(*) AS phase_n
                       FROM ranked GROUP BY 1))
               SELECT r.doc_id, r.n_tokens,
                 CAST(r.phase AS BIGINT) AS phase,
                 CAST(r.rank_in_phase AS BIGINT) AS rank_in_phase,
                 CAST(o.off + r.rank_in_phase AS BIGINT) AS global_rank
               FROM ranked r JOIN offsets o USING (phase)
               ORDER BY global_rank"""))
  }

  /** x42 — cross-source contamination matrix: for every PAIR of
    * sources, how many distinct document-prefix fingerprints they
    * share. Exact whole-document hashing misses near-copies that
    * diverge in a footer, so the fingerprint is the md5 of the first 8
    * tokens — the prefix-span discipline of Lee et al. ("Deduplicating
    * Training Data Makes Language Models Better", ACL 2022; d12 applies
    * the same idea at window granularity) — and the output is the
    * source×source audit a mixture designer reads before trusting x14's
    * per-source weights: two "independent" crawls sharing a large
    * prefix-fingerprint set are one source counted twice. Per pair:
    * distinct shared fingerprints, each side's distinct-fingerprint
    * total, and the overlap Jaccard.
    *
    * Determinism: fingerprints are md5 (content-pure); counts are
    * distinct counts; jaccard is one IEEE division of exact integers,
    * round(6).
    *
    * Scale shape: documents collapse to DISTINCT (fp, source) — 16-byte
    * keys, text never leaves the scan — then the pair stage is ONE
    * self-equi-join on fp (shuffle keyed by fingerprint, the d04/d10
    * banded-candidate discipline: pairs are generated per fingerprint
    * bucket, bounded by sources², never corpus²); per-source totals are
    * a source-keyed agg broadcast onto the ≤ sources² pair frame. */
  val sourceOverlap: QueryDef = {
    val prefixToks = 8
    QueryDef(
      "x42_source_overlap",
      (s, d) => {
        val fps = Tables.documents(s, d)
          .select(
            md5(expr(s"array_join(slice(split(text, ' '), 1, $prefixToks), ' ')"))
              .as("fp"),
            col("source"))
          .distinct()
        val totals = fps.groupBy("source")
          .agg(count(lit(1)).as("n_fp"))
        val a = fps.select(col("fp"), col("source").as("src_a"))
        val b = fps.select(col("fp"), col("source").as("src_b"))
        a.join(b, "fp")
          .filter(col("src_a") < col("src_b"))
          .groupBy("src_a", "src_b")
          .agg(count(lit(1)).as("n_shared"))
          .join(broadcast(totals.select(col("source").as("src_a"),
            col("n_fp").as("n_a"))), "src_a")
          .join(broadcast(totals.select(col("source").as("src_b"),
            col("n_fp").as("n_b"))), "src_b")
          .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
            col("n_shared"),
            expr("round(CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared), 6)")
              .as("jaccard"))
          .orderBy("src_a", "src_b")
      },
      Some(s"""WITH fps AS (
                 SELECT DISTINCT
                   md5(array_to_string(
                     string_split(text, ' ')[1:$prefixToks], ' ')) AS fp,
                   source
                 FROM documents),
               tot AS (
                 SELECT source, count(*) AS n_fp FROM fps GROUP BY 1),
               pairs AS (
                 SELECT a.source AS src_a, b.source AS src_b,
                   count(*) AS n_shared
                 FROM fps a JOIN fps b ON a.fp = b.fp
                 WHERE a.source < b.source
                 GROUP BY 1, 2)
               SELECT p.src_a, p.src_b,
                 ta.n_fp AS n_a, tb.n_fp AS n_b, p.n_shared,
                 round(CAST(p.n_shared AS DOUBLE)
                   / (ta.n_fp + tb.n_fp - p.n_shared), 6) AS jaccard
               FROM pairs p
                 JOIN tot ta ON ta.source = p.src_a
                 JOIN tot tb ON tb.source = p.src_b
               ORDER BY p.src_a, p.src_b"""))
  }

  /** x43 — shard-skew audit: the partition-health readout a 1000-
    * executor job runs BEFORE launch (straggler prediction: one
    * oversized shard sets the stage's wall-clock; AQE fixes skewed
    * JOINS at runtime, but storage-shard skew must be caught at layout
    * time). Documents are assigned to 32 md5 shards (x04's hashing at
    * x22/x36's int60 granularity) and each shard reports doc/token/char
    * totals, its exact share in ppm, and the fleet-wide
    * max-shard-over-mean-shard token ratio — the number that says "the
    * slowest task will run N× the average".
    *
    * Determinism: md5 shard keys are content-pure; all counts exact
    * longs; shares and the imbalance ratio are integer DIV ppm.
    *
    * Scale shape: ONE map-side-combinable hash agg on the 5-bit shard
    * key (32 groups); the totals row is a 1-row broadcast onto the
    * 32-row frame (e05's idiom, whitelisted). Text never shuffles. */
  val shardSkew: QueryDef = {
    val S = 32
    QueryDef(
      "x43_shard_skew",
      (s, d) => {
        val perShard = Tables.documents(s, d)
          .select(
            expr(s"${graft.ext.Dedup.sparkMd5Int60("CAST(doc_id AS STRING)")} % $S")
              .as("shard"),
            expr(sparkTokCount).as("n_tokens"), col("n_chars"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").as("n_tokens"),
            sum("n_chars").as("n_chars"))
        val totals = perShard.agg(
          sum("n_docs").as("t_docs"), sum("n_tokens").as("t_tokens"),
          max("n_tokens").as("max_tokens"))
        perShard.crossJoin(broadcast(totals))
          .select(col("shard"), col("n_docs"), col("n_tokens"),
            col("n_chars"),
            expr("(1000000 * n_docs) DIV t_docs").as("doc_share_ppm"),
            expr("(1000000 * n_tokens) DIV t_tokens").as("token_share_ppm"),
            expr(s"(1000000 * $S * max_tokens) DIV t_tokens")
              .as("max_over_mean_ppm"))
          .orderBy("shard")
      },
      Some(s"""WITH per AS (
                 SELECT ${graft.ext.Dedup.duckMd5Int60("CAST(doc_id AS VARCHAR)")} % $S
                     AS shard,
                   count(*) AS n_docs,
                   CAST(sum($duckTokCount) AS BIGINT) AS n_tokens,
                   CAST(sum(n_chars) AS BIGINT) AS n_chars
                 FROM documents GROUP BY 1),
               tot AS (
                 SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS t_tokens,
                   max(n_tokens) AS max_tokens
                 FROM per)
               SELECT shard, n_docs, n_tokens, n_chars,
                 (1000000 * n_docs) // t_docs AS doc_share_ppm,
                 (1000000 * n_tokens) // t_tokens AS token_share_ppm,
                 (1000000 * $S * max_tokens) // t_tokens
                   AS max_over_mean_ppm
               FROM per, tot ORDER BY shard"""))
  }

  /** x44 — duplicate-cluster accounting: the dedup COST/BENEFIT report
    * every large-scale dedup run ships with (how many clusters at each
    * size, how many documents and bytes a keep-one-per-cluster policy
    * removes — the numbers behind "dedup saved N% of the corpus" in
    * the C4/RefinedWeb ablations). Consumes the SAME near-dup stage as
    * the production pipeline: d04's ngram pair frame + d07's CC labels
    * via [[Dedup.ngramSharedStage]] (materialized once per session —
    * this query adds dedup accounting to the x12/x19/x28/x34 stage for
    * two bounded aggregates, not a re-shingle).
    *
    * Per cluster-size row: cluster count, docs covered, removable docs
    * (size−1 per cluster under min-id canonical), and removable chars
    * (Σ n_chars over non-canonical members — exact BIGINT sums).
    *
    * Scale shape: labels are bounded by docs-that-have-a-near-dup; the
    * n_chars attach is an equi-join of that bounded frame against the
    * documents table (doc bodies never move — only (id, n_chars)
    * rides); then two hash aggregates over cluster-domain frames. */
  val dupClusterStats: QueryDef = QueryDef(
    "x44_dup_cluster_stats",
    (s, d) => {
      val labels = Dedup.ngramSharedLabels(s, d)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      val per = labels.join(docs, col("id") === col("doc_id"))
        .groupBy("component")
        .agg(count(lit(1)).as("cluster_size"),
          sum(when(col("id") =!= col("component"), col("n_chars"))
            .otherwise(lit(0L))).as("rm_chars"))
      per.groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("cluster_size")).as("n_docs"),
          sum(col("cluster_size") - 1).as("removable_docs"),
          sum(col("rm_chars")).as("removable_chars"))
        .orderBy("cluster_size")
    },
    Some(s"""WITH RECURSIVE ${Dedup.ngramPairSql(Dedup.ngramTheta)},
             edges AS (
               SELECT a_id AS src, b_id AS dst FROM pairs
               UNION
               SELECT b_id AS src, a_id AS dst FROM pairs),
             reach(id, r) AS (
               SELECT src, src FROM edges
               UNION
               SELECT e.src, reach.r FROM edges e
               JOIN reach ON reach.id = e.dst),
             labels AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
             per AS (
               SELECT l.component, count(*) AS cluster_size,
                 CAST(sum(CASE WHEN l.id != l.component THEN d.n_chars
                          ELSE 0 END) AS BIGINT) AS rm_chars
               FROM labels l JOIN documents d ON d.doc_id = l.id
               GROUP BY 1)
             SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sum(cluster_size) AS BIGINT) AS n_docs,
               CAST(sum(cluster_size - 1) AS BIGINT) AS removable_docs,
               CAST(sum(rm_chars) AS BIGINT) AS removable_chars
             FROM per GROUP BY 1 ORDER BY cluster_size"""))

  /** x45 — UniMax budget allocation (Chung et al., "UniMax: fairer and
    * more effective language sampling for large-scale multilingual
    * pretraining", ICLR 2023): given a token budget B and a per-language
    * epoch cap E, allocate uniformly across languages but never draw
    * more than E epochs of any language — the water-filling whose
    * closed form is: sort languages by cap = E·n_tokens ascending; a
    * language is CAPPED iff its cap sits below the water level λ_i =
    * (B − cum_i)/(L − i) at its own rank, and every uncapped language
    * gets λ = (B − Σ capped caps)/(#uncapped). x14 applies declared
    * weights, x32 a temperature exponent; x45 computes the allocation
    * the UniMax way — from supply caps, not proportions.
    *
    * Determinism: token counts are exact longs; the capped test is
    * PURE INTEGER (cap·(L−i) ≤ B−cum_i — no division), so the capped
    * set is engine- and order-independent; the sort key (cap, lang) is
    * a total order; λ and the final weights are one fixed-shape IEEE
    * division over exact longs, rounded.
    *
    * Scale shape: ONE partial-aggregable corpus scan to lang totals;
    * everything after runs on the language-domain relation (~10 rows)
    * — windows, cumsums and the capped-set scalar all cost nothing at
    * any corpus size. */
  val unimaxAllocation: QueryDef = {
    val epochCap = 3L // E: max epochs any language may repeat
    QueryDef(
      "x45_unimax_allocation",
      (s, d) => {
        val langs = Tables.documents(s, d)
          .groupBy("lang")
          .agg(sum(expr(sparkTokCount).cast("long")).as("n_tokens"))
          .withColumn("cap", expr(s"n_tokens * $epochCap"))
        val byCap = Window.orderBy(col("cap"), col("lang"))
        val whole = Window.partitionBy(lit(1))
        val ranked = langs
          .withColumn("b", sum(col("n_tokens")).over(whole))
          .withColumn("l", count(lit(1)).over(whole))
          .withColumn("i", row_number().over(byCap))
          .withColumn("cum", sum(col("cap")).over(byCap))
          .withColumn("capped", expr("cap * (l - i) <= b - cum"))
        val lam = ranked
          .withColumn("n_capped",
            sum(when(col("capped"), 1L).otherwise(0L)).over(whole))
          .withColumn("capped_caps",
            sum(when(col("capped"), col("cap")).otherwise(0L)).over(whole))
          .withColumn("lambda", expr(
            "CAST(b - capped_caps AS DOUBLE) / CAST(l - n_capped AS DOUBLE)"))
        lam.withColumn("allocation", expr(
            "CASE WHEN capped THEN CAST(cap AS DOUBLE) ELSE lambda END"))
          .selectExpr("lang", "n_tokens", "cap AS cap_tokens", "capped",
            "round(allocation, 4) AS allocation",
            "round(allocation / CAST(b AS DOUBLE), 6) AS weight",
            "round(allocation / CAST(n_tokens AS DOUBLE), 6) AS epochs")
          .orderBy("lang")
      },
      Some(s"""WITH langs AS (
                 SELECT lang, CAST(sum($duckTokCount) AS BIGINT) AS n_tokens
                 FROM documents GROUP BY 1),
               c AS (
                 SELECT lang, n_tokens,
                   CAST(n_tokens * $epochCap AS BIGINT) AS cap
                 FROM langs),
               ranked AS (
                 SELECT *,
                   CAST(sum(n_tokens) OVER () AS BIGINT) AS b,
                   CAST(count(*) OVER () AS BIGINT) AS l,
                   CAST(row_number() OVER (ORDER BY cap, lang) AS BIGINT) AS i,
                   CAST(sum(cap) OVER (ORDER BY cap, lang
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                 FROM c),
               cppd AS (
                 SELECT *, cap * (l - i) <= b - cum AS capped FROM ranked),
               lam AS (
                 SELECT *,
                   CAST(sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER ()
                     AS BIGINT) AS n_capped,
                   CAST(sum(CASE WHEN capped THEN cap ELSE 0 END) OVER ()
                     AS BIGINT) AS capped_caps
                 FROM cppd),
               fin AS (
                 SELECT *,
                   CAST(b - capped_caps AS DOUBLE)
                     / CAST(l - n_capped AS DOUBLE) AS lambda,
                   CASE WHEN capped THEN CAST(cap AS DOUBLE)
                        ELSE CAST(b - capped_caps AS DOUBLE)
                          / CAST(l - n_capped AS DOUBLE) END AS allocation
                 FROM lam)
               SELECT lang, n_tokens, cap AS cap_tokens, capped,
                 round(allocation, 4) AS allocation,
                 round(allocation / CAST(b AS DOUBLE), 6) AS weight,
                 round(allocation / CAST(n_tokens AS DOUBLE), 6) AS epochs
               FROM fin ORDER BY lang"""))
  }

  /** x46 — one DoReMi domain-reweighting step (Xie et al., "DoReMi:
    * Optimizing data mixtures speeds up language model pretraining",
    * NeurIPS 2023, Alg. 1): per-domain multiplicative-weights update
    * α ← normalize(α·exp(η·excess)) followed by the ε-uniform smoothing
    * that keeps every domain sampled. The excess-loss proxy here is the
    * per-source unigram entropy surplus over the corpus-mix entropy —
    * sources harder to compress than the blend (DoReMi's
    * "excess loss > 0" signal) get upweighted, and sources the mix
    * already models well decay toward the uniform floor.
    *
    * Determinism: both entropies are exact long sums of pico-nat
    * (×10¹²) per-token terms −p·ln p over exact integer counts (t31's
    * discipline); the single exp per SOURCE row is one fixed-shape IEEE
    * expression integerized at 10⁹ BEFORE the normalizing sum, so Z is
    * an exact long and every ratio is engine-identical (a double sum
    * across rows would be addition-order-dependent — the st07 trap).
    *
    * Scale shape: ONE token census feeds both entropy frames (the
    * corpus side reuses the per-source census — no second corpus
    * read); everything after is algebra on the BOUNDED source-domain
    * frame (~20 rows; global windows bounded by the domain, x17's
    * idiom). At 100 TB the census is the only data-sized stage and is
    * map-side combinable. */
  val doremiStep: QueryDef = {
    val etaE12 = 1000000000000L // η = 1.0 in pico-nats
    val epsE6 = 10000L          // ε = 0.01 at 10⁻⁶ scale
    val budget = 1000000L
    QueryDef(
      "x46_doremi_step",
      (s, d) => {
        val census = Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("source", "tok").agg(count(lit(1)).as("n"))
        val perSrcTot = census.groupBy("source")
          .agg(sum(col("n")).as("t_s"))
        val hSrc = census
          .join(broadcast(perSrcTot), Seq("source"))
          .withColumn("p", expr("CAST(n AS DOUBLE) / CAST(t_s AS DOUBLE)"))
          .groupBy("source")
          .agg(max(col("t_s")).as("t_s"),
            sum(expr("CAST(round(-p * ln(p) * 1000000000000) AS BIGINT)"))
              .as("h_e12"))
        val hRef = census.groupBy("tok").agg(sum(col("n")).as("nt"))
          .crossJoin(broadcast(
            census.agg(sum(col("n")).as("t"))))
          .withColumn("q", expr("CAST(nt AS DOUBLE) / CAST(t AS DOUBLE)"))
          .agg(sum(expr(
            "CAST(round(-q * ln(q) * 1000000000000) AS BIGINT)"))
            .as("h_ref_e12"), max(col("t")).as("t"))
        val whole = Window.partitionBy(lit(1))
        hSrc.crossJoin(broadcast(hRef))
          .withColumn("excess_e12",
            expr("greatest(h_e12 - h_ref_e12, 0L)"))
          .withColumn("a_e9", expr(
            "CAST(round(1000000000 * (CAST(t_s AS DOUBLE) / CAST(t AS DOUBLE)) * " +
              s"exp(CAST($etaE12 AS DOUBLE) * CAST(excess_e12 AS DOUBLE) / 1e24)) AS BIGINT)"))
          .withColumn("z", sum(col("a_e9")).over(whole))
          .withColumn("k", count(lit(1)).over(whole))
          .withColumn("alpha_e6", expr("(1000000 * a_e9) DIV z"))
          .withColumn("w_e6", expr(
            s"((1000000 - $epsE6) * alpha_e6) DIV 1000000 + $epsE6 DIV k"))
          .selectExpr("source", "t_s AS n_tokens", "h_e12", "excess_e12",
            "round(CAST(t_s AS DOUBLE) / CAST(t AS DOUBLE), 6) AS w0",
            "round(CAST(w_e6 AS DOUBLE) / 1e6, 6) AS w_doremi",
            s"($budget * w_e6) DIV 1000000 AS target_tokens")
          .orderBy("source")
      },
      Some(s"""WITH census AS (
                 SELECT source, tok, count(*) AS n FROM (
                   SELECT source, unnest(string_split(text, ' ')) AS tok
                   FROM documents)
                 WHERE tok != '' GROUP BY 1, 2),
               pstot AS (
                 SELECT source, CAST(sum(n) AS BIGINT) AS t_s
                 FROM census GROUP BY 1),
               hsrc AS (
                 SELECT c.source, CAST(max(p.t_s) AS BIGINT) AS t_s,
                   CAST(sum(CAST(round(
                     -(CAST(c.n AS DOUBLE) / CAST(p.t_s AS DOUBLE))
                     * ln(CAST(c.n AS DOUBLE) / CAST(p.t_s AS DOUBLE))
                     * 1000000000000) AS BIGINT)) AS BIGINT) AS h_e12
                 FROM census c JOIN pstot p USING (source)
                 GROUP BY 1),
               tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM census),
               href AS (
                 SELECT CAST(sum(CAST(round(-q * ln(q) * 1000000000000)
                   AS BIGINT)) AS BIGINT) AS h_ref_e12, max(t) AS t
                 FROM (
                   SELECT CAST(sum(n) AS BIGINT) AS nt, tot.t,
                     CAST(sum(n) AS DOUBLE) / CAST(tot.t AS DOUBLE) AS q
                   FROM census, tot GROUP BY census.tok, tot.t)),
               a AS (
                 SELECT hsrc.source, hsrc.t_s, hsrc.h_e12,
                   greatest(hsrc.h_e12 - href.h_ref_e12, 0) AS excess_e12,
                   href.t,
                   CAST(round(1000000000
                     * (CAST(hsrc.t_s AS DOUBLE) / CAST(href.t AS DOUBLE))
                     * exp(CAST($etaE12 AS DOUBLE)
                       * CAST(greatest(hsrc.h_e12 - href.h_ref_e12, 0)
                         AS DOUBLE) / 1e24)) AS BIGINT) AS a_e9
                 FROM hsrc CROSS JOIN href),
               z AS (
                 SELECT a.*, CAST(sum(a_e9) OVER () AS BIGINT) AS z,
                   count(*) OVER () AS k
                 FROM a),
               w AS (
                 SELECT *, (1000000 * a_e9) // z AS alpha_e6 FROM z)
               SELECT source, t_s AS n_tokens, h_e12, excess_e12,
                 round(CAST(t_s AS DOUBLE) / CAST(t AS DOUBLE), 6) AS w0,
                 round(CAST(((1000000 - $epsE6) * alpha_e6) // 1000000
                   + $epsE6 // k AS DOUBLE) / 1e6, 6) AS w_doremi,
                 ($budget * (((1000000 - $epsE6) * alpha_e6) // 1000000
                   + $epsE6 // k)) // 1000000 AS target_tokens
               FROM w ORDER BY source"""))
  }

  /** x47 — dedup pair-audit sample: a deterministic 25% review sample
    * of d04's near-dup pairs, each routed to one of 4 audit slots —
    * the human-eval manifest every production dedup rollout ships
    * (precision of the pair generator is measured on a reproducible
    * sample BEFORE the delete list runs; the same discipline as
    * RefinedWeb's manual dedup audits, Penedo et al. 2023 §G). The
    * sample key is the md5 of the PAIR (both ids), so re-runs, engine
    * changes, and resharding all select the same pairs — x01's
    * entity-hash discipline lifted to 2-key entities.
    *
    * Determinism: pair selection and slot routing are integer md5
    * arithmetic; jaccard rides through from the d04 stage unchanged
    * (its oracle-exactness is proven there).
    *
    * Scale shape: one narrow filter + projection over the pair frame —
    * the audit layer adds NOTHING to the dedup pipeline's shuffle
    * budget; at 100 TB the sample is what leaves the cluster, not the
    * pair table. */
  val pairAuditSample: QueryDef = {
    val keepNum = 1L << 58 // 25% of the 2^60 hash space
    QueryDef(
      "x47_pair_audit_sample",
      (s, d) => {
        val u = Dedup.sparkMd5Int60(
          "concat(CAST(a_id AS STRING), ':', CAST(b_id AS STRING))")
        // consume the session-materialized pair stage (jaccard rides
        // in it; the canonical d04 still documents the real plan)
        Dedup.ngramSharedPairs(s, d)
          .withColumn("u", expr(u))
          .filter(col("u") < keepNum)
          .select(col("a_id"), col("b_id"), col("jaccard"),
            expr("u % 4").as("audit_slot"))
          .orderBy("a_id", "b_id")
      },
      Some {
        val u = Dedup.duckMd5IntSlice(
          "concat(CAST(a_id AS VARCHAR), ':', CAST(b_id AS VARCHAR))",
          2, 15)
        s"""WITH ${Dedup.ngramPairSql(Dedup.ngramTheta)},
            sampled AS (
              SELECT a_id, b_id, jaccard, ($u) AS u FROM pairs)
            SELECT a_id, b_id, jaccard, u % 4 AS audit_slot
            FROM sampled WHERE u < $keepNum
            ORDER BY a_id, b_id"""
      })
  }

  /** x48 — l-diversity audit (Machanavajjhala et al., "l-diversity:
    * Privacy beyond k-anonymity", ICDE 2006): x23's k-anonymity keeps
    * groups LARGE, but a large group whose sensitive attribute is
    * uniform still leaks it ("homogeneity attack" — everyone in the
    * group has the same account-balance band). Per quasi-identifier
    * group (nation, segment) this reports the group size, the number
    * of DISTINCT sensitive values (acctbal k$-band), and the
    * l-diversity verdict at l = 3 — the release gate a privacy review
    * runs AFTER the k-anonymity pass.
    *
    * Determinism: bands are exact integer cents DIV 100 000; counts
    * and distinct-counts are exact; the verdict is an integer compare.
    *
    * Scale shape: ONE partial-aggregable two-level census (the
    * (QI, band) frame, then the QI frame) — the same cost envelope as
    * x23; nothing touches row granularity after the first agg. */
  val lDiversity: QueryDef = {
    val l = 3
    QueryDef(
      "x48_l_diversity",
      (s, d) =>
        Tables.customer(s, d)
          .selectExpr("c_nationkey", "c_mktsegment",
            "CAST(round(c_acctbal * 100) AS BIGINT) DIV 100000 AS band")
          .groupBy("c_nationkey", "c_mktsegment")
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("band")).as("n_sensitive"))
          .withColumn("l_diverse", col("n_sensitive") >= l)
          .orderBy("c_nationkey", "c_mktsegment"),
      Some(s"""SELECT c_nationkey, c_mktsegment, count(*) AS n_rows,
                 count(DISTINCT CAST(round(c_acctbal * 100) AS BIGINT)
                   // 100000) AS n_sensitive,
                 count(DISTINCT CAST(round(c_acctbal * 100) AS BIGINT)
                   // 100000) >= $l AS l_diverse
               FROM customer GROUP BY 1, 2 ORDER BY 1, 2"""))
  }

  /** x49 — decontamination drill (the canary protocol: Jacovi et al.,
    * "Stop uploading test data in plain text", EMNLP 2023 argue eval
    * sets WILL leak; a pipeline proves its decontamination gate works
    * by planting known eval content and checking the gate catches
    * every plant): an md5-selected slice of TRAIN docs gets the eval
    * set's canonical canary (the first 13-gram of the minimum-id eval
    * doc) appended; x10's matcher — same n, same hashing, blind to the
    * plant — then scans the tampered corpus, and the drill reports
    * detection by cohort: every planted doc MUST flag (the drill's
    * pass condition), and the unplanted cohort's flag rate is the
    * organic-contamination baseline x10 measures in production.
    *
    * Determinism: plant selection is integer md5 arithmetic; the
    * canary is a deterministic token slice; all tallies exact.
    *
    * Scale shape: the canary is a 1-row broadcast onto the train scan
    * (no shuffle added); the matcher stage is exactly x10's
    * gram-keyed left-semi join; the readout is a 2-row cohort agg. */
  val decontaminationDrill: QueryDef = {
    val n = 13
    QueryDef(
      "x49_decontamination_drill",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"),
            expr("substring(md5(CAST(doc_id AS STRING)), 1, 1)").as("hx"),
            expr("substring(md5(CAST(doc_id AS STRING)), 2, 1)").as("hx2"),
            col("text"))
        val evalDocs = docs.filter(col("hx").isin("0", "1"))
        val canary = evalDocs
          .orderBy("doc_id").limit(1)
          .select(expr(
            s"array_join(slice(split(text, ' '), 1, $n), ' ')").as("canary"))
        val train = docs.filter(!col("hx").isin("0", "1"))
          .crossJoin(broadcast(canary))
          .withColumn("planted", col("hx2") === "0")
          .withColumn("text2", expr(
            "IF(hx2 = '0', concat(text, ' ', canary), text)"))
        val grams = train
          .select(col("doc_id"), col("planted"),
            explode(expr(ngramExpr("text2", n))).as("g"))
          .select(col("doc_id"), col("planted"), xxhash64(col("g")).as("g"))
          .distinct()
        val evalGrams = evalDocs
          .select(explode(expr(ngramExpr("text", n))).as("g"))
          .select(xxhash64(col("g")).as("g")).distinct()
        val flagged = grams.join(broadcast(evalGrams), Seq("g"), "left_semi")
          .select("doc_id").distinct()
          .withColumn("hit", lit(1L))
        train.select(col("doc_id"), col("planted"))
          .join(flagged, Seq("doc_id"), "left")
          .groupBy("planted")
          .agg(count(lit(1)).as("n_docs"),
            sum(coalesce(col("hit"), lit(0L))).as("n_flagged"))
          .withColumn("flag_ppm", expr("(1000000 * n_flagged) DIV n_docs"))
          .withColumn("drill_pass",
            expr("NOT planted OR n_flagged = n_docs"))
          .orderBy("planted")
      },
      Some(s"""WITH docs AS (
                 SELECT doc_id,
                   substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS hx,
                   substring(md5(CAST(doc_id AS VARCHAR)), 2, 1) AS hx2,
                   text
                 FROM documents),
               ev AS (SELECT * FROM docs WHERE hx IN ('0', '1')),
               canary AS (
                 SELECT array_to_string(string_split(text, ' ')[1:$n], ' ')
                   AS canary
                 FROM ev ORDER BY doc_id LIMIT 1),
               train AS (
                 SELECT doc_id, hx2 = '0' AS planted,
                   CASE WHEN hx2 = '0'
                        THEN concat(text, ' ', canary.canary)
                        ELSE text END AS text2
                 FROM docs CROSS JOIN canary
                 WHERE hx NOT IN ('0', '1')),
               grams AS (
                 SELECT DISTINCT doc_id, planted,
                   array_to_string(t[i + 1:i + $n], ' ') AS g
                 FROM (SELECT doc_id, planted,
                         string_split(text2, ' ') AS t FROM train),
                   unnest(range(0, greatest(len(t) - ${n - 1}, 1))) AS u(i)),
               evg AS (
                 SELECT DISTINCT array_to_string(t[i + 1:i + $n], ' ') AS g
                 FROM (SELECT string_split(text, ' ') AS t FROM ev),
                   unnest(range(0, greatest(len(t) - ${n - 1}, 1))) AS u(i)),
               flagged AS (
                 SELECT DISTINCT doc_id FROM grams
                 WHERE g IN (SELECT g FROM evg)),
               cohort AS (
                 SELECT t.planted, count(*) AS n_docs,
                   CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_flagged
                 FROM train t LEFT JOIN flagged f ON f.doc_id = t.doc_id
                 GROUP BY 1)
               SELECT planted, n_docs, n_flagged,
                 (1000000 * n_flagged) // n_docs AS flag_ppm,
                 NOT planted OR n_flagged = n_docs AS drill_pass
               FROM cohort ORDER BY planted"""))
  }

  /** x50 — NEYMAN ALLOCATION of an evaluation/labeling budget across
    * strata (Neyman 1934; the survey-sampling optimum: sample counts ∝
    * N_h·σ_h, minimizing estimator variance for a fixed budget — the
    * principled version of the proportional split every eval-set
    * builder starts with). Strata are market segments; σ_h is the
    * population sd of account balance in EXACT integer cents:
    *
    *   - sufficient statistics per stratum: (n, Σc, Σc²) as BIGINT —
    *     one partial-aggregable scan, order-free;
    *   - sd_cents = floor(sqrt(n·Σc² − (Σc)²) / n) — sqrt/div/floor
    *     are the same IEEE ops on both engines, then INTEGERIZED so
    *     every downstream sum/ratio is exact 64-bit arithmetic (the
    *     cross-row-double-sum trap never opens);
    *   - weights w = n·sd_cents, floor allocation (B·w) DIV W, and the
    *     remaining seats assigned largest-remainder ((B·w) mod W,
    *     segment-name tiebreak) — textbook exact apportionment.
    *
    * Bounds: cents ≤ 10⁶ → Σc² ≤ n·10¹², fine to sf2.0 probe scale;
    * B·w ≤ 10³·n·sd ≲ 10¹⁵ « 2⁶³. Scale shape: corpus work is the one
    * groupBy(segment) scan; allocation runs on the segment-domain
    * frame (bounded global windows whitelisted like x17's). */
  val neymanAllocation: QueryDef = {
    val B = 1000L
    QueryDef(
      "x50_neyman_allocation",
      (s, d) => {
        val wAll = Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.customer(s, d)
          .select(col("c_mktsegment").as("segment"),
            expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("c"))
          .groupBy("segment")
          .agg(count(lit(1)).as("n_h"), sum("c").as("sc"),
            // c*c fits a long (c <= 10^6 cents) but the SUM and the
            // variance products do not past ~10^4 rows/segment: the
            // sf0.5 probe overflowed n_h*scc at 6.7e19, so the whole
            // numerator chain is 128-bit (t24's widening path)
            sum(expr("CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))"))
              .as("scc"))
          // the variance numerator exceeds 2^53: a direct 128-bit ->
          // DOUBLE cast is the r11 ml21 1-ulp class — go through the
          // deterministic hi/lo split (r12 sweep)
          .withColumn("sd_cents", expr(
            s"""CAST(floor(sqrt(${graft.core.Fixed.dec2d(
              "CAST(n_h AS DECIMAL(38,0)) * scc - " +
                "CAST(sc AS DECIMAL(38,0)) * CAST(sc AS DECIMAL(38,0))",
              "DIV")}) / CAST(n_h AS DOUBLE)) AS BIGINT)"""))
          .withColumn("w", expr("n_h * sd_cents"))
          .withColumn("wt", sum("w").over(wAll))
          // degenerate-strata guard (r12, ADVICE): if every stratum's
          // sd floors to 0 the Neyman weights vanish — fall back to
          // proportional allocation by n_h instead of dividing by 0
          .withColumn("weff", expr("IF(wt = 0, n_h, w)"))
          .withColumn("wteff", sum(expr("IF(wt = 0, n_h, w)")).over(wAll))
          .withColumn("alloc0", expr(s"($B * weff) DIV wteff"))
          .withColumn("rem", expr(s"($B * weff) % wteff"))
          .withColumn("seats", lit(B) - sum("alloc0").over(wAll))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("rem").desc, col("segment"))))
          .withColumn("n_alloc",
            expr("alloc0 + CASE WHEN rk <= seats THEN 1 ELSE 0 END"))
          .select("segment", "n_h", "sd_cents", "n_alloc")
          .orderBy("segment")
      },
      Some(s"""WITH c AS (
                 SELECT c_mktsegment AS segment,
                        CAST(round(c_acctbal * 100) AS BIGINT) AS c
                 FROM customer),
               stats AS (
                 SELECT segment, CAST(count(*) AS BIGINT) AS n_h,
                        CAST(sum(c) AS BIGINT) AS sc,
                        CAST(sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT))
                          AS HUGEINT) AS scc
                 FROM c GROUP BY 1),
               sd AS (
                 SELECT *,
                   CAST(floor(sqrt(${graft.core.Fixed.dec2d(
                     "CAST(n_h AS HUGEINT) * scc - " +
                       "CAST(sc AS HUGEINT) * CAST(sc AS HUGEINT)",
                     "//")})
                        / CAST(n_h AS DOUBLE)) AS BIGINT) AS sd_cents
                 FROM stats),
               w AS (
                 SELECT *, n_h * sd_cents AS w,
                   sum(n_h * sd_cents) OVER () AS wt
                 FROM sd),
               we AS (
                 SELECT *,
                   CASE WHEN wt = 0 THEN n_h ELSE w END AS weff,
                   sum(CASE WHEN wt = 0 THEN n_h ELSE w END) OVER () AS wteff
                 FROM w),
               a AS (
                 SELECT *, ($B * weff) // wteff AS alloc0,
                   ($B * weff) % wteff AS rem,
                   $B - sum(($B * weff) // wteff) OVER () AS seats,
                   row_number() OVER (ORDER BY ($B * weff) % wteff DESC,
                     segment) AS rk
                 FROM we)
               SELECT segment, n_h, sd_cents,
                 CAST(alloc0 + CASE WHEN rk <= seats THEN 1 ELSE 0 END
                      AS BIGINT) AS n_alloc
               FROM a ORDER BY segment"""))
  }

  /** The DSIR per-document score frame `(doc_id, lang, score_e6,
    * n_tok)` over an arbitrary `(doc_id, lang, text, …)` corpus frame —
    * x51's model-build + scoring stages, extracted so the x62 composed
    * pipeline scores its survivor corpus with the IDENTICAL formula
    * (target = the corpus's `en` slice, +0.5 Laplace over the union
    * vocabulary, per-token log-ratio integerized at 1e-6 nats on the
    * vocabulary frame, exact long doc sums). */
  def dsirDocScores(docs: DataFrame): DataFrame = {
    val wExpr =
      "CAST(round(ln(((CAST(ct AS DOUBLE) + 0.5) / (CAST(nt AS DOUBLE) + " +
        "0.5 * CAST(v AS DOUBLE))) / ((CAST(cs AS DOUBLE) + 0.5) / " +
        "(CAST(ns AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)))) * 1000000) AS BIGINT)"
    val census = Tables.fanOutForCpu(
        docs.select("doc_id", "lang", "text"), col("doc_id"))
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("doc_id", "lang", "tok").agg(count(lit(1)).as("n"))
    val vocab = census.groupBy("tok").agg(
      sum(when(col("lang") === "en", col("n")).otherwise(0L)).as("ct"),
      sum(col("n")).as("cs"))
    val totals = vocab.agg(sum(col("ct")).as("nt"),
      sum(col("cs")).as("ns"), count(lit(1)).as("v"))
    val weights = vocab.crossJoin(broadcast(totals))
      .withColumn("w_e6", expr(wExpr))
      .select("tok", "w_e6")
    census.join(weights, Seq("tok"))
      .groupBy("doc_id", "lang")
      .agg(sum(expr("n * w_e6")).as("score_e6"),
        sum(col("n")).as("n_tok"))
  }

  /** DuckDB CTE chain mirroring [[dsirDocScores]] over `input`, ending
    * in `${p}dsdocs(doc_id, lang, score_e6, n_tok)` — shared by x51 and
    * x62 so the mirrors cannot drift. */
  def dsirScoreCte(input: String, p: String = ""): String =
    s"""${p}census AS (
         SELECT doc_id, lang, tok, CAST(count(*) AS BIGINT) AS n
         FROM (
           SELECT doc_id, lang,
             unnest(string_split(text, ' ')) AS tok
           FROM $input)
         WHERE tok != '' GROUP BY 1, 2, 3),
       ${p}vocab AS (
         SELECT tok,
           CAST(sum(CASE WHEN lang = 'en' THEN n ELSE 0 END)
             AS BIGINT) AS ct,
           CAST(sum(n) AS BIGINT) AS cs
         FROM ${p}census GROUP BY 1),
       ${p}tot AS (
         SELECT CAST(sum(ct) AS BIGINT) AS nt,
           CAST(sum(cs) AS BIGINT) AS ns,
           CAST(count(*) AS BIGINT) AS v
         FROM ${p}vocab),
       ${p}wts AS (
         SELECT tok,
           CAST(round(ln(((CAST(ct AS DOUBLE) + 0.5)
               / (CAST(nt AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)))
             / ((CAST(cs AS DOUBLE) + 0.5)
               / (CAST(ns AS DOUBLE) + 0.5 * CAST(v AS DOUBLE))))
             * 1000000) AS BIGINT) AS w_e6
         FROM ${p}vocab CROSS JOIN ${p}tot),
       ${p}dsdocs AS (
         SELECT c.doc_id, c.lang,
           CAST(sum(c.n * w.w_e6) AS BIGINT) AS score_e6,
           CAST(sum(c.n) AS BIGINT) AS n_tok
         FROM ${p}census c JOIN ${p}wts w ON c.tok = w.tok
         GROUP BY 1, 2)"""

  /** x51 — DSIR data selection (Xie, Shao, Liang et al., "Data
    * Selection for Language Models via Importance Resampling", NeurIPS
    * 2023: score every raw document by the log importance ratio
    * Σ_tokens log p_target(tok)/p_raw(tok) between a target-domain
    * unigram model and the raw-corpus model, then keep the
    * target-resembling slice — the selection step between x14's
    * mixture weighting and x29b's trained classifier gate; here the
    * target is the `en` slice and selection is the closed-form
    * score > 0 rule, i.e. "likelier under the target model").
    *
    * Determinism: both models are +0.5-Laplace-smoothed over the SAME
    * union vocabulary (t31's discipline); each token's log ratio is
    * ONE fixed-shape IEEE ln over exact BIGINT counts, integerized to
    * 10⁻⁶ nats on the VOCABULARY frame before any cross-row sum; doc
    * scores and the per-language readout are exact long sums. The
    * mean-weight readout truncates toward zero via an explicit
    * sign-split CASE (Spark DIV truncates, DuckDB // floors — the
    * CASE makes both truncate).
    *
    * Scale shape: ONE (doc, token) census scan (map-side combinable);
    * the vocabulary frame gets its two totals by 1-row broadcast; doc
    * scoring is a token-keyed equi-join of census against the weight
    * table (both token-partitioned — co-located at 100 TB); readout is
    * a language-domain agg. No global sort: the score > 0 threshold
    * replaces DSIR's top-k resampling exactly so no doc-frame ranking
    * is ever needed. */
  val dsirSelection: QueryDef = {
    QueryDef(
      "x51_dsir_selection",
      (s, d) => {
        dsirDocScores(Tables.documents(s, d))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("score_e6") > 0L, 1L).otherwise(0L))
              .as("n_selected"),
            sum(col("score_e6")).as("sum_score_e6"),
            sum(col("n_tok")).as("n_tokens"))
          .withColumn("sel_ppm", expr("(1000000 * n_selected) DIV n_docs"))
          .withColumn("mean_tok_w_e6", expr(
            "CASE WHEN sum_score_e6 >= 0 THEN sum_score_e6 DIV n_tokens " +
              "ELSE -((-sum_score_e6) DIV n_tokens) END"))
          .select("lang", "n_docs", "n_selected", "sum_score_e6",
            "n_tokens", "sel_ppm", "mean_tok_w_e6")
          .orderBy("lang")
      },
      Some(s"""WITH ${dsirScoreCte("documents")}
              SELECT lang, count(*) AS n_docs,
                CAST(sum(CASE WHEN score_e6 > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_selected,
                CAST(sum(score_e6) AS BIGINT) AS sum_score_e6,
                CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                (1000000 * CAST(sum(CASE WHEN score_e6 > 0 THEN 1 ELSE 0 END)
                  AS BIGINT)) // count(*) AS sel_ppm,
                CASE WHEN sum(score_e6) >= 0
                  THEN CAST(sum(score_e6) AS BIGINT)
                    // CAST(sum(n_tok) AS BIGINT)
                  ELSE -((-CAST(sum(score_e6) AS BIGINT))
                    // CAST(sum(n_tok) AS BIGINT)) END AS mean_tok_w_e6
              FROM dsdocs GROUP BY 1 ORDER BY 1"""))
  }

  /** x52 — length-bucketed batching plan (the padding-waste table
    * behind bucketed batching / "bucketing by sequence length" in
    * every trainer data loader, e.g. the bucketing batch samplers in
    * fairseq/T5: assign each doc to the SMALLEST bucket length that
    * holds it — cap bucket truncates — and account, per bucket, the
    * padding a bucketed batcher pays vs the single-max-length policy.
    * t34 prices truncation for ONE global limit; this op prices the
    * padding side across a bucket ladder, and x11's packer is the
    * downstream fix the saved-tokens column justifies).
    *
    * Determinism: all-integer accounting; the bucket ladder is
    * rendered from ONE Scala list into both engines; the bucket
    * domain frame keeps empty buckets (s13's lesson) with a guarded
    * utilization.
    *
    * Scale shape: one tokenize-count scan → a 4-key hash agg; the
    * ladder CASE is a per-row expression, the domain join is 4 rows.
    * No shuffle beyond the 4-key agg. */
  val lengthBucketing: QueryDef = {
    val buckets = Seq(32L, 64L, 96L, 128L)
    val cap = buckets.last
    def ladder(cast: Long => String): String =
      buckets.init.map(b => s"WHEN n_tok <= $b THEN ${cast(b)}")
        .mkString("CASE ", " ", s" ELSE ${cast(cap)} END")
    QueryDef(
      "x52_length_bucketing",
      (s, d) => {
        val rows = Tables.documents(s, d)
          .select(size(split(col("text"), " ")).cast("long").as("n_tok"))
          .withColumn("bucket",
            expr(ladder(b => s"CAST($b AS BIGINT)")))
          .withColumn("kept", expr("least(n_tok, bucket)"))
          .withColumn("pad", expr("bucket - least(n_tok, bucket)"))
          .withColumn("fixed_pad", expr(s"$cap - least(n_tok, $cap)"))
        val agg = rows.groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("kept")).as("tokens_kept"),
            sum(col("pad")).as("padding_toks"),
            sum(col("fixed_pad")).as("fixed_pad_toks"))
        s.range(1)
          .select(explode(lit(buckets.toArray)).as("bucket"))
          .join(agg, Seq("bucket"), "left")
          .na.fill(0L,
            Seq("n_docs", "tokens_kept", "padding_toks", "fixed_pad_toks"))
          .withColumn("util_ppm", expr(
            "CASE WHEN n_docs = 0 THEN 0L " +
              "ELSE (1000000 * tokens_kept) DIV (n_docs * bucket) END"))
          .withColumn("saved_vs_fixed",
            expr("fixed_pad_toks - padding_toks"))
          .select("bucket", "n_docs", "tokens_kept", "padding_toks",
            "util_ppm", "saved_vs_fixed")
          .orderBy("bucket")
      },
      Some(s"""WITH n AS (
                 SELECT CAST(len(string_split(text, ' ')) AS BIGINT)
                   AS n_tok
                 FROM documents),
               b AS (
                 SELECT n_tok,
                   CAST(${ladder(_.toString)} AS BIGINT) AS bucket,
                   least(n_tok, CAST(${ladder(_.toString)} AS BIGINT))
                     AS kept,
                   $cap - least(n_tok, $cap) AS fixed_pad
                 FROM n),
               agg AS (
                 SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(kept) AS BIGINT) AS tokens_kept,
                   CAST(sum(bucket - kept) AS BIGINT) AS padding_toks,
                   CAST(sum(fixed_pad) AS BIGINT) AS fixed_pad_toks
                 FROM b GROUP BY 1),
               dom AS (
                 SELECT CAST(bkt AS BIGINT) AS bucket
                 FROM unnest([${buckets.mkString(", ")}]) AS t(bkt))
               SELECT dom.bucket,
                 coalesce(agg.n_docs, 0) AS n_docs,
                 coalesce(agg.tokens_kept, 0) AS tokens_kept,
                 coalesce(agg.padding_toks, 0) AS padding_toks,
                 CASE WHEN coalesce(agg.n_docs, 0) = 0 THEN 0
                   ELSE (1000000 * agg.tokens_kept)
                     // (agg.n_docs * dom.bucket) END AS util_ppm,
                 coalesce(agg.fixed_pad_toks, 0)
                   - coalesce(agg.padding_toks, 0) AS saved_vs_fixed
               FROM dom LEFT JOIN agg USING (bucket)
               ORDER BY bucket"""))
  }

  /** x53 — cluster-aware shard assignment audit (the data-layout
    * decision AFTER dedup: if near-duplicate clusters are split across
    * shards, any shard-local dedup/packing/inspection job sees only
    * fragments — C4/RefinedWeb-scale pipelines shard by CLUSTER
    * representative so each cluster lands whole. This op runs both
    * policies — naive doc_id-modulo vs cluster-keyed modulo on the
    * d07/d04 component label — and accounts split clusters and shard
    * skew for each, consuming the SAME materialized pair/CC stage as
    * x12/x19/x44: zero re-shingling).
    *
    * Determinism: labels are the shared CC min-id components
    * (singletons = own id via the left-join coalesce); both policies
    * are pure modulo arithmetic; all counts exact.
    *
    * Scale shape: one left join docs↔labels (doc-keyed equi), a
    * (policy, component) hash agg, a (policy, shard) hash agg — the
    * 2× policy explode rides an 8-byte pair, never the text. */
  val clusterSharding: QueryDef = {
    val nShards = 8L
    QueryDef(
      "x53_cluster_sharding",
      (s, d) => {
        val labels = Dedup.ngramSharedLabels(s, d)
        val docs = Tables.documents(s, d).select(col("doc_id"))
          .join(labels, col("doc_id") === col("id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("comp"))
        val policies = docs
          .select(col("doc_id"), col("comp"), explode(expr(
            s"array(struct('naive' AS policy, doc_id % $nShards AS shard), " +
              s"struct('cluster' AS policy, comp % $nShards AS shard))"))
            .as("p"))
          .select(col("comp"), col("p.policy"), col("p.shard"))
        val clusterStats = policies.groupBy("policy", "comp")
          .agg(countDistinct(col("shard")).as("n_sh"),
            count(lit(1)).as("sz"))
          .groupBy("policy")
          .agg(count(lit(1)).as("n_clusters"),
            sum(when(col("n_sh") > 1, 1L).otherwise(0L))
              .as("clusters_split"),
            sum(when(col("n_sh") > 1, col("sz")).otherwise(0L))
              .as("docs_in_split"))
        val shardStats = policies.groupBy("policy", "shard")
          .agg(count(lit(1)).as("n"))
          .groupBy("policy")
          .agg(sum(col("n")).as("n_docs"), max(col("n")).as("max_shard"),
            min(col("n")).as("min_shard"))
          .withColumn("skew_ppm", expr(
            s"(1000000 * (max_shard * $nShards - n_docs)) DIV n_docs"))
        clusterStats.join(shardStats, Seq("policy"))
          .select("policy", "n_docs", "n_clusters", "clusters_split",
            "docs_in_split", "max_shard", "min_shard", "skew_ppm")
          .orderBy("policy")
      },
      Some(s"""WITH RECURSIVE ${Dedup.ngramPairSql(Dedup.ngramTheta)},
               edges AS MATERIALIZED (
                 SELECT a_id AS src, b_id AS dst FROM pairs
                 UNION
                 SELECT b_id AS src, a_id AS dst FROM pairs),
               reach(id, r) AS (
                 SELECT src, src FROM edges
                 UNION
                 SELECT e.src, reach.r FROM edges e
                 JOIN reach ON reach.id = e.dst),
               labels AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
               docs AS MATERIALIZED (
                 SELECT d.doc_id, coalesce(l.component, d.doc_id) AS comp
                 FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
               pol AS MATERIALIZED (
                 SELECT comp, 'naive' AS policy,
                   doc_id % $nShards AS shard FROM docs
                 UNION ALL
                 SELECT comp, 'cluster' AS policy,
                   comp % $nShards AS shard FROM docs),
               cs AS (
                 SELECT policy, CAST(count(*) AS BIGINT) AS n_clusters,
                   CAST(sum(CASE WHEN n_sh > 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS clusters_split,
                   CAST(sum(CASE WHEN n_sh > 1 THEN sz ELSE 0 END)
                     AS BIGINT) AS docs_in_split
                 FROM (
                   SELECT policy, comp,
                     count(DISTINCT shard) AS n_sh,
                     CAST(count(*) AS BIGINT) AS sz
                   FROM pol GROUP BY 1, 2)
                 GROUP BY 1),
               ss AS (
                 SELECT policy, CAST(sum(n) AS BIGINT) AS n_docs,
                   CAST(max(n) AS BIGINT) AS max_shard,
                   CAST(min(n) AS BIGINT) AS min_shard
                 FROM (
                   SELECT policy, shard, CAST(count(*) AS BIGINT) AS n
                   FROM pol GROUP BY 1, 2)
                 GROUP BY 1)
               SELECT cs.policy, ss.n_docs, cs.n_clusters,
                 cs.clusters_split, cs.docs_in_split, ss.max_shard,
                 ss.min_shard,
                 (1000000 * (ss.max_shard * $nShards - ss.n_docs))
                   // ss.n_docs AS skew_ppm
               FROM cs JOIN ss USING (policy)
               ORDER BY policy"""))
  }

  /** x54 — rejection resampling to a TARGET language mix (the sampling
    * counterpart of x45/x46's weighting: instead of assigning epoch
    * weights, DROP documents of over-represented languages with
    * probability 1 − min(1, target/actual) so the surviving corpus
    * approaches the uniform target in ONE pass — von Neumann 1951
    * rejection, the way data loaders rebalance when they cannot
    * repeat-sample). Acceptance is md5-deterministic per doc:
    * accept ⟺ u < 2⁶⁰·(N/L)/n_lang ⟺ u·L·n_lang < 2⁶⁰·N, evaluated
    * as an EXACT 128-bit integer inequality (u·L·n reaches ~10²⁴ —
    * DECIMAL(38,0)/HUGEINT, the x50/ml21 recipe), so no doc's fate
    * can flip on float noise, partitioning, or engine.
    *
    * Scale shape: one lang census (bounded), broadcast back onto the
    * scan; the accept test is a per-row expression; readout is a
    * lang-domain agg with a 1-row total broadcast. */
  val rejectionResample: QueryDef = {
    val acceptExpr =
      "CAST(u AS DECIMAL(38,0)) * CAST(n_langs AS DECIMAL(38,0)) * " +
        "CAST(n_lang AS DECIMAL(38,0)) < " +
        "CAST(1152921504606846976 AS DECIMAL(38,0)) * CAST(n_total AS DECIMAL(38,0))"
    QueryDef(
      "x54_rejection_resample",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            expr(graft.ext.Dedup.sparkMd5Int60("CAST(doc_id AS STRING)"))
              .as("u"))
        val census = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
        val totals = census.agg(sum(col("n_lang")).as("n_total"),
          count(lit(1)).as("n_langs"))
        val accepted = docs
          .join(broadcast(census), Seq("lang"))
          .crossJoin(broadcast(totals))
          .withColumn("acc", expr(s"IF($acceptExpr, 1L, 0L)"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("acc")).as("n_accepted"))
        val accTot = accepted.agg(sum(col("n_accepted")).as("acc_total"))
        accepted.crossJoin(broadcast(accTot))
          .crossJoin(broadcast(totals.select("n_total")))
          .withColumn("before_ppm", expr("(1000000 * n_docs) DIV n_total"))
          .withColumn("after_ppm",
            expr("(1000000 * n_accepted) DIV acc_total"))
          .select("lang", "n_docs", "n_accepted", "before_ppm", "after_ppm")
          .orderBy("lang")
      },
      Some {
        val uSql = graft.ext.Dedup.duckMd5Int60("CAST(doc_id AS VARCHAR)")
        val acceptSql = acceptExpr.replace("DECIMAL(38,0)", "HUGEINT")
        s"""WITH docs AS (
              SELECT doc_id, lang, ($uSql) AS u FROM documents),
            census AS (
              SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
              FROM docs GROUP BY 1),
            tot AS (
              SELECT CAST(sum(n_lang) AS BIGINT) AS n_total,
                CAST(count(*) AS BIGINT) AS n_langs
              FROM census),
            acc AS (
              SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN $acceptSql THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_accepted
              FROM docs d
              JOIN census USING (lang) CROSS JOIN tot
              GROUP BY 1),
            at AS (
              SELECT CAST(sum(n_accepted) AS BIGINT) AS acc_total
              FROM acc)
            SELECT lang, n_docs, n_accepted,
              (1000000 * n_docs) // tot.n_total AS before_ppm,
              (1000000 * n_accepted) // at.acc_total AS after_ppm
            FROM acc CROSS JOIN at CROSS JOIN tot
            ORDER BY lang"""
      })
  }

  /** x55 — stratified quota sample (the "k per stratum" reservoir): a
    * deterministic md5 priority orders every customer WITHIN its
    * market segment and the top k=20 survive — Vitter's reservoir
    * semantics made partition-invariant by replacing the RNG with a
    * keyed hash (the x35 priority idiom, per-stratum). Quota sampling
    * is how eval/audit sets are drawn from skewed corpora: uniform
    * sampling would under-represent small strata; the quota guarantees
    * every stratum its k.
    *
    * Determinism: the priority is md5(custkey) — identical text, both
    * engines; ties impossible (key is unique). Output is the sample
    * plus each stratum's census (n_stratum, k_taken = least(k, n)).
    *
    * Scale shape: ONE shuffle on the stratum key; the per-stratum
    * top-k is a bounded heap under the window (rank ≤ k prunes
    * early via WindowGroupLimit at 100 TB — the same TopK push-down
    * q13 relies on), never a global sort. */
  val stratifiedReservoir: QueryDef = {
    val k = 20
    QueryDef(
      "x55_stratified_reservoir",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        Tables.customer(s, d)
          .select(col("c_mktsegment").as("segment"), col("c_custkey"),
            expr("md5(CAST(c_custkey AS STRING))").as("prio"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("segment"))
              .orderBy(col("prio"), col("c_custkey"))))
          .withColumn("n_stratum",
            count(lit(1)).over(Window.partitionBy(col("segment"))))
          .filter(col("rk") <= k)
          .withColumn("k_taken", least(lit(k.toLong), col("n_stratum")))
          .select("segment", "rk", "c_custkey", "n_stratum", "k_taken")
          .orderBy("segment", "rk")
      },
      Some(s"""WITH p AS (
                 SELECT c_mktsegment AS segment, c_custkey,
                   md5(CAST(c_custkey AS VARCHAR)) AS prio
                 FROM customer),
               r AS (
                 SELECT segment, c_custkey,
                   row_number() OVER (PARTITION BY segment
                     ORDER BY prio, c_custkey) AS rk,
                   count(*) OVER (PARTITION BY segment) AS n_stratum
                 FROM p)
               SELECT segment, CAST(rk AS BIGINT) AS rk, c_custkey,
                 n_stratum,
                 least(CAST($k AS BIGINT), n_stratum) AS k_taken
               FROM r WHERE rk <= $k
               ORDER BY segment, rk"""))
  }

  /** x56 — greedy quality-first budget fill (the Pareto-frontier
    * mixing policy next to x17's proportional, x32's temperature,
    * x45's UniMax and x46's DoReMi: rank sources by a quality score
    * and take WHOLE sources in rank order until the token budget is
    * exhausted, with a partial take on the boundary source — how
    * curation teams spend a fixed training budget when sources have a
    * clear quality ordering): source = (lang, source) cell, quality =
    * exact mean chars/doc at e4 fixed point (the proxy the documents
    * table supports; swap in any per-source score), budget = 100k chars (below even the sf0.001 corpus, so the fill STOPS at every fixture scale).
    *
    * Determinism: census sums are exact BIGINTs, the quality rank
    * breaks ties on the cell key, the fill test is an integer
    * cum_before < budget comparison, and the boundary take is an
    * integer subtraction — no floats anywhere. Scale shape: one
    * (lang, source) census scan (map-side combinable), then windows
    * over the cell-domain frame (x17's bounded-frame idiom). */
  val budgetPareto: QueryDef = {
    val budget = 100000L
    QueryDef(
      "x56_budget_pareto_fill",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val cells = Tables.documents(s, d)
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(expr("CAST(n_chars AS BIGINT)")).as("n_chars"))
          .withColumn("quality_e4", expr("(10000 * n_chars) DIV n_docs"))
        val byQ = Window.orderBy(col("quality_e4").desc, col("lang"),
          col("source"))
        cells
          .withColumn("rk", row_number().over(byQ).cast("long"))
          .withColumn("cum_before",
            coalesce(sum(col("n_chars")).over(
              byQ.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .filter(col("cum_before") < budget)
          .withColumn("chars_taken",
            least(col("n_chars"), lit(budget) - col("cum_before")))
          .withColumn("take_ppm",
            expr("(1000000 * chars_taken) DIV n_chars"))
          .select("rk", "lang", "source", "n_docs", "n_chars",
            "quality_e4", "cum_before", "chars_taken", "take_ppm")
          .orderBy("rk")
      },
      Some(s"""WITH cells AS (
                 SELECT lang, source, count(*) AS n_docs,
                   CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS n_chars
                 FROM documents GROUP BY 1, 2),
               q AS (
                 SELECT *,
                   (10000 * n_chars) // n_docs AS quality_e4
                 FROM cells),
               r AS (
                 SELECT *,
                   CAST(row_number() OVER w AS BIGINT) AS rk,
                   coalesce(sum(n_chars) OVER (w
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS cum_before
                 FROM q
                 WINDOW w AS (ORDER BY quality_e4 DESC, lang, source))
               SELECT rk, lang, source, n_docs, n_chars,
                 CAST(quality_e4 AS BIGINT) AS quality_e4,
                 CAST(cum_before AS BIGINT) AS cum_before,
                 CAST(least(n_chars, $budget - cum_before) AS BIGINT)
                   AS chars_taken,
                 CAST((1000000 * least(n_chars, $budget - cum_before))
                   // n_chars AS BIGINT) AS take_ppm
               FROM r WHERE cum_before < $budget
               ORDER BY rk"""))
  }

  /** x58 — small-file compaction plan (the Delta OPTIMIZE / Iceberg
    * rewrite_data_files planning step — at 100 TB the small-file
    * problem IS a first-order cost: every under-sized shard pays a
    * task-scheduling and open/seek overhead, so lakehouse maintenance
    * bins small files into target-sized merge groups): over the x04
    * md5-nibble shard census, shards are ordered ascending by size
    * (smallest files merge first — the standard compaction heuristic)
    * and packed by running-quota into groups of target = ceil(total/4)
    * chars; per group: member shards, docs, chars, and the fill ratio.
    *
    * Determinism: group id = cum_before DIV target over a total
    * (size, shard) order — the x41 running-quota idiom; all integers.
    * Scale shape: one doc-keyed census scan (map-side), then
    * everything on the 16-row shard frame. */
  val compactionPlan: QueryDef = {
    def tail(div: String): String =
      s"""t AS (SELECT CAST(sum(shard_chars) AS BIGINT) AS total FROM sh),
          ord AS (
            SELECT shard, n_docs, shard_chars,
              CAST(coalesce(sum(shard_chars) OVER (
                ORDER BY shard_chars, shard
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS cum_b,
              (total + 3) $div 4 AS target
            FROM sh, t)
          SELECT cum_b $div target AS merge_group,
            CAST(count(*) AS BIGINT) AS n_shards,
            CAST(sum(n_docs) AS BIGINT) AS n_docs,
            CAST(sum(shard_chars) AS BIGINT) AS group_chars,
            (1000000 * CAST(sum(shard_chars) AS BIGINT)) $div max(target)
              AS fill_ppm
          FROM ord GROUP BY 1 ORDER BY 1"""
    def shSql(str: String): String =
      s"""SELECT substring(md5(CAST(doc_id AS $str)), 1, 1) AS shard,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_chars) AS BIGINT) AS shard_chars
          FROM documents GROUP BY 1"""
    QueryDef(
      "x58_compaction_plan",
      (s, d) => {
        Tables.documents(s, d).createOrReplaceTempView("g_x58_documents")
        s.sql(shSql("STRING").replace("FROM documents", "FROM g_x58_documents"))
          .localCheckpoint()
          .createOrReplaceTempView("g_x58_sh")
        s.sql(("WITH " + tail("DIV")).replace("FROM sh", "FROM g_x58_sh"))
      },
      Some(s"""WITH sh AS MATERIALIZED (${shSql("VARCHAR")}),
               ${tail("//")}"""))
  }

  /** x59 — consistent-hash ring churn audit (Karger et al. STOC 1997,
    * the assignment scheme every distributed store uses precisely for
    * the property audited here: adding a node moves only ~1/(n+1) of
    * the keys, where modulo-sharding reshuffles nearly everything —
    * x04/x43's modulo shards are the contrast): a 4-node × 64-vnode
    * md5 ring assigns every doc to its clockwise-successor vnode; the
    * SAME ring plus a 5th node re-assigns; per node the before/after
    * census and the moved-doc churn, with the expected-churn law
    * (≈ 1/5 of keys move, ALL into the new node — a doc moves iff the
    * new node's vnode is the first point in its arc) checked by the
    * spec.
    *
    * Determinism: ring points and doc points are md5 integers (d10's
    * portable family); successor = the NODE AT the minimal ring point
    * ≥ the doc point (argmin via the pos·8+node packing — a plain
    * min(node) would pick the smallest node id among candidates, the
    * bug the first draft shipped), wrapping to the global minimum. Scale shape: the ring is a bounded 256/320-row
    * broadcast; assignment is one min-conditional fold per doc —
    * map-side, no shuffle except the final node census. */
  val consistentHashRing: QueryDef = {
    val vnodes = 64
    def ringSql(nodes: Int, str: String): String =
      s"""SELECT CAST(n AS BIGINT) AS node,
            ${graft.ext.Dedup.duckMd5Int60(
              s"('ring:' || CAST(n AS $str) || ':' || CAST(v AS $str))")}
              AS pos
          FROM unnest(range(0, $nodes)) AS a(n),
            unnest(range(0, $vnodes)) AS b(v)"""
    def sparkRing(nodes: Int): String =
      s"""SELECT CAST(n AS BIGINT) AS node,
            ${graft.ext.Dedup.sparkMd5Int60(
              s"concat('ring:', CAST(n AS STRING), ':', CAST(v AS STRING))")}
              AS pos
          FROM (SELECT explode(sequence(0, ${nodes - 1})) AS n)
          LATERAL VIEW explode(sequence(0, ${vnodes - 1})) t AS v"""
    def tail(div: String): String =
      s"""dp AS (
            SELECT doc_id, MD5DOC AS p FROM documents),
          a4 AS (
            SELECT doc_id,
              CAST(coalesce(
                min(CASE WHEN r.pos >= dp.p
                  THEN r.pos * 8 + r.node END),
                min(r.pos * 8 + r.node)) % 8 AS BIGINT) AS node
            FROM dp CROSS JOIN ring4 r GROUP BY doc_id),
          a5 AS (
            SELECT doc_id,
              CAST(coalesce(
                min(CASE WHEN r.pos >= dp.p
                  THEN r.pos * 8 + r.node END),
                min(r.pos * 8 + r.node)) % 8 AS BIGINT) AS node
            FROM dp CROSS JOIN ring5 r GROUP BY doc_id)
          SELECT a5.node,
            CAST(count(*) AS BIGINT) AS n_docs_after,
            CAST(sum(CASE WHEN a4.node != a5.node THEN 1 ELSE 0 END)
              AS BIGINT) AS n_moved_in,
            (1000000 * CAST(sum(CASE WHEN a4.node != a5.node
              THEN 1 ELSE 0 END) AS BIGINT)) $div count(*) AS moved_ppm
          FROM a4 JOIN a5 USING (doc_id)
          GROUP BY a5.node ORDER BY a5.node"""
    QueryDef(
      "x59_consistent_hash_ring",
      (s, d) => {
        // fan-out: the per-(doc, ring) md5 assignment pass ran as one
        // task on the fixture scan (r15, guide §2.5)
        Tables.fanOutForCpu(Tables.documents(s, d), col("doc_id"))
          .createOrReplaceTempView("g_x59_documents")
        s.sql(sparkRing(4)).localCheckpoint()
          .createOrReplaceTempView("g_x59_ring4")
        s.sql(sparkRing(5)).localCheckpoint()
          .createOrReplaceTempView("g_x59_ring5")
        val minArg = graft.ext.Dedup
          .sparkMd5Int60("CAST(doc_id AS STRING)")
        s.sql(("WITH " + tail("DIV"))
          .replace("MD5DOC", minArg)
          .replace("FROM documents", "FROM g_x59_documents")
          .replace("JOIN ring4", "JOIN g_x59_ring4")
          .replace("JOIN ring5", "JOIN g_x59_ring5"))
      },
      Some(s"""WITH ring4 AS MATERIALIZED (${ringSql(4, "VARCHAR")}),
               ring5 AS MATERIALIZED (${ringSql(5, "VARCHAR")}),
               ${tail("//").replace("MD5DOC",
                 graft.ext.Dedup.duckMd5Int60("CAST(doc_id AS VARCHAR)"))}""")
    )
  }

  /** x57 — data-constrained epoch/repeat plan (Muennighoff et al.
    * NeurIPS 2023, "Scaling Data-Constrained Language Models": when the
    * token budget exceeds unique data, repeats still help but with
    * decaying value — their fitted decay is smooth; this planning table
    * uses the deterministic integer stand-in of HALVING value per full
    * epoch, capped at 16 epochs): the budget (2× total corpus chars
    * here) is allocated EQUALLY across sources (the UniMax-flavored
    * fairness degenerate), so small sources need many repeats and the
    * plan prices what those repeats are worth — per source: unique
    * chars, allocation, full epochs, effective chars under halving
    * returns (Σ u DIV 2ᵏ + partial-epoch tail), efficiency ppm, and
    * the capped flag (allocation unfillable within 16 epochs).
    *
    * Determinism: pure integer arithmetic — shifts for 2ᵏ, truncating
    * DIV on non-negative terms. Scale shape: one source-keyed agg over
    * documents (map-side partial), then everything on the ≤|sources|
    * frame × a fixed 16-term generator; the Spark side checkpoints
    * the source census so the tot/plan consumers never rescan the
    * corpus (g19 multi-ref lesson; DuckDB AS MATERIALIZED). */
  val epochRepeatPlan: QueryDef = {
    def tail(div: String, pow2: String, kgen: String): String =
      s"""tot AS (
            SELECT CAST(sum(u) AS BIGINT) AS total,
              CAST(count(*) AS BIGINT) AS ns
            FROM src),
          plan AS (
            SELECT source, n_docs, u, (2 * total) $div ns AS alloc
            FROM src, tot),
          p2 AS (
            SELECT source, n_docs, u, alloc,
              least(alloc $div u, CAST(16 AS BIGINT)) AS ef,
              alloc - least(alloc $div u, CAST(16 AS BIGINT)) * u AS rem
            FROM plan),
          terms AS (
            SELECT source, n_docs, u, alloc, ef,
              CASE WHEN k < ef THEN u $div $pow2
                   WHEN k = ef THEN rem $div $pow2
                   ELSE CAST(0 AS BIGINT) END AS t
            FROM p2, $kgen)
          SELECT source, n_docs, u AS unique_chars, alloc,
            ef AS epochs_full,
            CAST(sum(t) AS BIGINT) AS effective_chars,
            (1000000 * CAST(sum(t) AS BIGINT)) $div alloc
              AS efficiency_ppm,
            alloc > 16 * u AS capped
          FROM terms GROUP BY source, n_docs, u, alloc, ef
          ORDER BY source"""
    val srcSql =
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS u
         FROM documents GROUP BY 1"""
    QueryDef(
      "x57_epoch_repeat_plan",
      (s, d) => {
        graft.core.Tables.documents(s, d)
          .createOrReplaceTempView("g_x57_documents")
        s.sql(srcSql.replace("FROM documents", "FROM g_x57_documents"))
          .localCheckpoint()
          .createOrReplaceTempView("g_x57_src")
        s.sql(("WITH " + tail("DIV",
            "shiftleft(CAST(1 AS BIGINT), CAST(k AS INT))",
            "(SELECT explode(sequence(0, 15)) AS k)"))
          .replace("FROM src", "FROM g_x57_src"))
      },
      Some(s"""WITH src AS MATERIALIZED ($srcSql),
               ${tail("//", "(CAST(1 AS BIGINT) << k)",
                 "(SELECT unnest(range(0, 16)) AS k)")}"""))
  }

  /** x60 — temporal train/val/test split audit (the TIME-based
    * leakage-safe split x19's entity split doesn't cover: any model
    * evaluated on the future — forecasting, drift monitors, the
    * time-ordered eval every production model faces — must split BY
    * TIME, and the audit must prove (a) the boundaries are clean
    * (max(train) < min(val) < ... ) and (b) how many eval users were
    * seen in training — the warm/cold-start census that decides
    * whether eval metrics generalize to new users): 70/15/15 at DAY
    * boundaries — production temporal splits cut at calendar
    * granularity, and the day census is the x15 value-domain-bounded
    * frame (a distinct-µs cut would drag a corpus-sized global window)
    * — thresholds = smallest day with 20·cum ≥ {14,17}·N by integer
    * cross-multiply (never a float quantile), split assignment a pure
    * CASE, census per split with boundary and warm-user checks. The
    * output always carries ALL THREE split rows (a fixed 3-value
    * domain frame left-joined to the census — ADVICE r13): on a tiny
    * day domain the 70/85 thresholds can coincide with the max day,
    * and an empty val/test split must surface as n_rows = 0 with
    * degenerate = 1 (and boundary_ok = 0), not silently vanish. A
    * NON-empty test after an empty val compares its boundary against
    * the last non-empty preceding split (train) via coalesce — a
    * genuinely clean boundary must not read as dirty just because the
    * middle split collapsed.
    *
    * Determinism: exact cumulative counts, integer cross-multiply,
    * integer census values. Scale shape: one scan to the bounded day
    * census, a broadcast 1-row threshold pair onto the assignment
    * scan, one split census with a train-user semi-style join (user
    * dimension bounded). */
  val temporalSplit: QueryDef = {
    def sql(epochUs: String, div: String): String =
      s"""WITH e AS (
            SELECT user_id, $epochUs(ts) $div 86400000000 AS day
            FROM events),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM e),
          cum AS (
            SELECT day,
              CAST(sum(c) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_n
            FROM (SELECT day, count(*) AS c FROM e GROUP BY 1) q),
          thr AS (
            SELECT
              min(CASE WHEN 20 * cum_n >= 14 * n_total THEN day END) AS t70,
              min(CASE WHEN 20 * cum_n >= 17 * n_total THEN day END) AS t85
            FROM cum CROSS JOIN n),
          lab AS (
            SELECT user_id, day,
              CASE WHEN day <= t70 THEN 'train'
                   WHEN day <= t85 THEN 'val'
                   ELSE 'test' END AS split
            FROM e CROSS JOIN thr),
          tr_users AS (
            SELECT DISTINCT user_id FROM lab WHERE split = 'train'),
          census AS (
            SELECT split, CAST(count(*) AS BIGINT) AS n_rows,
              CAST(min(day) AS BIGINT) AS min_day,
              CAST(max(day) AS BIGINT) AS max_day,
              CAST(count(DISTINCT l.user_id) AS BIGINT) AS n_users,
              CAST(count(DISTINCT CASE WHEN t.user_id IS NOT NULL
                THEN l.user_id END) AS BIGINT) AS n_warm_users
            FROM lab l LEFT JOIN tr_users t ON l.user_id = t.user_id
            GROUP BY split),
          dom AS (
            SELECT 'train' AS split UNION ALL
            SELECT 'val' UNION ALL SELECT 'test'),
          filled AS (
            SELECT dm.split,
              CAST(coalesce(c.n_rows, 0) AS BIGINT) AS n_rows,
              c.min_day, c.max_day,
              CAST(coalesce(c.n_users, 0) AS BIGINT) AS n_users,
              CAST(coalesce(c.n_warm_users, 0) AS BIGINT) AS n_warm_users
            FROM dom dm LEFT JOIN census c ON dm.split = c.split)
          SELECT f.split, n_rows, min_day, max_day, n_users, n_warm_users,
            CAST(CASE f.split
              WHEN 'train' THEN CASE WHEN n_rows > 0 THEN 1 ELSE 0 END
              WHEN 'val' THEN CASE WHEN n_rows > 0 AND f.min_day >
                (SELECT max_day FROM filled WHERE split = 'train')
                THEN 1 ELSE 0 END
              ELSE CASE WHEN n_rows > 0 AND f.min_day > coalesce(
                (SELECT max_day FROM filled WHERE split = 'val'),
                (SELECT max_day FROM filled WHERE split = 'train'))
                THEN 1 ELSE 0 END END AS BIGINT) AS boundary_ok,
            CAST(CASE WHEN n_rows = 0 THEN 1 ELSE 0 END AS BIGINT)
              AS degenerate
          FROM filled f ORDER BY f.split"""
    QueryDef(
      "x60_temporal_split_audit",
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("g_x60_events")
        s.sql(sql("unix_micros", "DIV")
          .replace("FROM events", "FROM g_x60_events"))
      },
      Some(sql("epoch_us", "//")))
  }

  /** x61 — contamination-rate vs n-gram-size sweep (the calibration
    * BEHIND x10's fixed n = 13: GPT-3 appendix C picked 13 grams, PaLM
    * and Llama audits reuse it, but the right n is corpus-dependent —
    * too small and boilerplate phrases flag everything, too large and
    * reworded leakage slips through. This sweep prices the whole
    * decision from the same split: for n ∈ {4, 8, 13}, the count of
    * train docs sharing ≥ 1 n-gram with the x07 eval split, the
    * contamination ppm, and the eval index size the Bloom/broadcast
    * side would carry).
    *
    * Determinism: md5 split, exact distinct counts, integer ppm.
    * Scale shape: per n one gram explode → the eval side stays
    * benchmark-sized and BROADCASTS into a semi-join; the train side
    * is map-scan + semi (x10's shape, three times); monotone law
    * contam(4) ≥ contam(8) ≥ contam(13) asserted by the spec. */
  val contaminationSweep: QueryDef = {
    val ns = Seq(4, 8, 13)
    QueryDef(
      "x61_contamination_sweep",
      (s, d) => {
        val docs = Tables.fanOutForCpu(
            Tables.documents(s, d).select("doc_id", "text"), col("doc_id"))
          .select(col("doc_id"),
            expr("substring(md5(CAST(doc_id AS STRING)), 1, 1)").as("hx"),
            col("text"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val counts = docs.agg(
          sum(expr("CASE WHEN hx IN ('0','1') THEN 1 ELSE 0 END"))
            .as("n_eval_docs"),
          sum(expr("CASE WHEN hx IN ('0','1') THEN 0 ELSE 1 END"))
            .as("n_train_docs"))
        val perN = ns.map { n =>
          val grams = docs.select(col("doc_id"), col("hx"),
            explode(expr(ngramExpr("text", n))).as("g"))
            .select(col("doc_id"), col("hx"), xxhash64(col("g")).as("g"))
          val ev = grams.filter(col("hx").isin("0", "1"))
            .select("g").distinct()
          val contam = grams.filter(!col("hx").isin("0", "1"))
            .join(broadcast(ev), Seq("g"), "left_semi")
            .select("doc_id").distinct()
            .agg(count(lit(1)).as("n_contam_docs"))
          val evCnt = ev.agg(count(lit(1)).as("n_eval_grams"))
          contam.crossJoin(evCnt).crossJoin(broadcast(counts))
            .select(lit(n.toLong).as("n"), col("n_eval_docs"),
              col("n_train_docs"), col("n_contam_docs"),
              expr("(1000000 * n_contam_docs) DIV n_train_docs")
                .as("contam_ppm"),
              col("n_eval_grams"))
        }
        val out = perN.reduce(_ unionAll _).orderBy("n").localCheckpoint()
        docs.unpersist()
        out
      },
      Some {
        val chains = ns.map { n =>
          s"""g$n AS (
                SELECT DISTINCT doc_id, hx,
                  array_to_string(t[i + 1:i + $n], ' ') AS g
                FROM toks,
                  unnest(range(0, greatest(len(t) - ${n - 1}, 1))) AS u(i)),
              ev$n AS MATERIALIZED (
                SELECT DISTINCT g FROM g$n WHERE hx IN ('0', '1')),
              c$n AS (
                SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_contam
                FROM g$n
                WHERE hx NOT IN ('0', '1')
                  AND g IN (SELECT g FROM ev$n)),
              e$n AS (
                SELECT CAST(count(*) AS BIGINT) AS n_eval_grams
                FROM ev$n)"""
        }.mkString(",\n")
        val rows = ns.map { n =>
          s"""SELECT CAST($n AS BIGINT) AS n, n_eval_docs, n_train_docs,
                n_contam AS n_contam_docs,
                (1000000 * n_contam) // n_train_docs AS contam_ppm,
                n_eval_grams
              FROM c$n, e$n, cnt"""
        }.mkString(" UNION ALL ")
        s"""WITH toks AS (
              SELECT doc_id,
                substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS hx,
                string_split(text, ' ') AS t
              FROM documents),
            cnt AS (
              SELECT
                CAST(sum(CASE WHEN hx IN ('0','1') THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_eval_docs,
                CAST(sum(CASE WHEN hx IN ('0','1') THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_train_docs
              FROM toks),
            $chains
            SELECT * FROM ($rows) ORDER BY n"""
      })
  }

  // ---- x62/x62b shared stage engine ----
  // Calibration shared by both manifest variants and their mirrors.
  private val MfK = 8; private val MfBandRows = 4
  private val MfTheta = 0.5; private val MfCap = 64
  private val MfPerSource = 10; private val MfNGram = 13
  // the five STRUCTURAL Gopher rules; r_stopwords is an
  // ENGLISH-stopword test that a multilingual corpus fails by
  // construction (Gopher applies it per-language — Rae et al. 2021
  // A1.1 filters "documents in English" only), so gating on it here
  // would zero the corpus at stage 3 and no-op every later stage.
  // t28's ablation table is where the full six-rule battery is priced.
  private def mfGateRules: Seq[String] =
    TextAnalysis.gopherRuleNames.filterNot(_ == "r_stopwords")

  /** The per-row hash-split column every manifest stage reads (x07's
    * split device): first md5 hex digit of doc_id. */
  private[graft] def mfWithHx(df: DataFrame): DataFrame =
    df.withColumn("hx", expr("substring(md5(CAST(doc_id AS STRING)), 1, 1)"))

  /** Stage-3 survivors: docs passing the five structural Gopher rules.
    * Shared by the batch engine and st27's per-micro-batch application
    * (graft.stream.Events) so the two cannot drift. */
  private[graft] def mfQualityGate(df: DataFrame): DataFrame = {
    // fan-out: the Gopher stat pass (three regex re-tokenizations per
    // row) inherits the AQE-coalesced 1-4 partitions of the survivor
    // checkpoint it reads (r15, guide §2.5)
    val passing = TextAnalysis.gopherFlaggedDf(Tables.fanOutForCpu(
        df.select("doc_id", "text"), col("doc_id")))
      .filter(mfGateRules.map(col).reduce(_ && _))
      .select("doc_id")
    df.join(passing, Seq("doc_id"), "left_semi")
  }

  /** Stage-4 survivors: the x07 hash holdout (hx ∉ {0,1} stays). */
  private[graft] def mfHoldout(df: DataFrame): DataFrame =
    df.filter(!col("hx").isin("0", "1"))

  /** The fixed benchmark gram index: distinct xxhash64 13-gram
    * fingerprints of the ORIGINAL corpus's eval split. */
  private[graft] def mfEvalGrams(d0: DataFrame): DataFrame =
    Tables.fanOutForCpu(
        d0.filter(col("hx").isin("0", "1")).select("doc_id", "text"),
        col("doc_id"))
      .select(explode(expr(ngramExpr("text", MfNGram))).as("g"))
      .select(xxhash64(col("g")).as("g")).distinct()

  /** Stage-5 survivors: docs sharing no 13-gram fingerprint with the
    * eval index (hash-collision-exact, d04's pattern). */
  private[graft] def mfDecontam(df: DataFrame, evalGrams: DataFrame): DataFrame = {
    val contam = Tables.fanOutForCpu(
        df.select("doc_id", "text"), col("doc_id"))
      .select(col("doc_id"),
        explode(expr(ngramExpr("text", MfNGram))).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .select("doc_id").distinct()
    df.join(contam, Seq("doc_id"), "left_anti")
  }

  /** The raw corpus frame and the seven survivor frames behind x62 and
    * x62b (and Round15OpsSpec's stage assertions). `ccStage2` selects
    * the stage-2 survivor rule: false = drop any doc that is the
    * greater member of any verified near-dup pair (x62's blanket
    * rule); true = keep exactly one doc, the minimum id, per CONNECTED
    * COMPONENT of the verified-pair graph (x62b — d07's device).
    *
    * d0 is deliberately NOT checkpointed: its three consumers (stage-1
    * accounting, the canon join, the eval-gram explode) each
    * column-prune a different narrow slice of the parquet scan, and at
    * 100 TB re-scanning pruned columns beats materializing the full
    * raw corpus (the survivor frames s1..s7 ARE checkpointed — they
    * shrink and feed 2+ stages each). */
  private[graft] def manifestFrames(s: SparkSession, d: String,
      ccStage2: Boolean,
      stages: Seq[Int] = 0 to 6): (DataFrame, Seq[DataFrame]) = {
    def ck(df: DataFrame) = df.localCheckpoint()
    val d0 = mfWithHx(Tables.documents(s, d))
    // r16 (guide §2.6, overlap independent jobs): the eval gram index
    // depends only on d0, not on stages 1-4, yet sat on the critical
    // path inside stage 5's checkpoint job. When the decontam stage is
    // selected, materialize it from a driver thread at chain start so
    // its fanned-out explode runs UNDER stages 1-4's small jobs.
    // Identical frame either way — only the build time moves.
    val evalGramsFut =
      if (stages.contains(4)) {
        import scala.concurrent.{ExecutionContext, Future}
        Some(Future(scala.concurrent.blocking {
          mfEvalGrams(d0).localCheckpoint()
        })(ExecutionContext.global))
      } else None
    // each stage as survivor-frame -> survivor-frame, so a restriction
    // (st27's twin runs 0/2/3/4; a spec can stop at 0-1) composes the
    // SAME stage engines without paying — or needing non-degenerate
    // input for — the stages it omits
    val mkStage: Seq[DataFrame => DataFrame] = Seq(
      _ => {
        val canon = Tables.fanOutForCpu(
            d0.select("doc_id", "text"), col("doc_id"))
          .groupBy("text")
          .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
        d0.join(canon, Seq("doc_id"), "left_semi")
      },
      s1 => {
        val pairs =
          Dedup.minhashMd5Pairs(s1, MfK, MfBandRows, MfTheta, MfCap)
        val dropIds =
          if (!ccStage2) pairs.select(col("b_id").as("doc_id")).distinct()
          else Dedup.connectedComponents(pairs.select("a_id", "b_id"))
            .filter(col("id") =!= col("component"))
            .select(col("id").as("doc_id"))
        s1.join(dropIds, Seq("doc_id"), "left_anti")
      },
      s2 => mfQualityGate(s2),
      s3 => mfHoldout(s3),
      s4 => mfDecontam(s4, scala.concurrent.Await.result(
        evalGramsFut.get, scala.concurrent.duration.Duration.Inf)),
      s5 => {
        val kept = graft.plans.TopKPerKey.topKPerKey(
            s5.withColumn("len_d", col("n_chars").cast("double")),
            Seq("source"), "len_d", "doc_id", MfPerSource)
          .select("doc_id")
        s5.join(kept, Seq("doc_id"), "left_semi")
      },
      s6 => {
        val sel = dsirDocScores(s6)
          .filter(col("score_e6") > 0L).select("doc_id")
        s6.join(sel, Seq("doc_id"), "left_semi")
      })
    val frames = stages.map(mkStage)
      .foldLeft(Vector.empty[DataFrame]) { (acc, mk) =>
        acc :+ ck(mk(acc.lastOption.getOrElse(d0)))
      }
    (d0, frames)
  }

  private val MfStageNames = Seq(
    "exact_dedup", "fuzzy_dedup", "quality_gate", "eval_holdout",
    "decontam", "domain_cap", "dsir_selection")

  /** Per-stage accounting frame over [[manifestFrames]] — the shared
    * body of x62, x62b and st27's batch twin (which runs the
    * restriction stages 0/2/3/4). */
  private[graft] def manifestBuild(ccStage2: Boolean,
      stages: Seq[Int] = 0 to 6)(s: SparkSession, d: String): DataFrame = {
    val (d0, frames) = manifestFrames(s, d, ccStage2, stages)
    mfAcctFrame((d0 +: frames).sliding(2).toSeq.zip(stages)
      .map { case (io, idx) => (MfStageNames(idx), io(0), io(1)) })
  }

  /** One accounting row per (stage name, in-frame, out-frame), numbered
    * positionally — shared by [[manifestBuild]] and st27's
    * per-micro-batch accounting (graft.stream.Events). */
  private[graft] def mfAcctFrame(
      chain: Seq[(String, DataFrame, DataFrame)]): DataFrame = {
    def acct(df: DataFrame, side: String) = df.agg(
      count(lit(1)).as(s"rows_$side"),
      coalesce(sum(col("n_chars")), lit(0L)).as(s"chars_$side"))
    chain.zipWithIndex.map { case ((nm, in, out), k) =>
      acct(in, "in").crossJoin(acct(out, "out"))
        .select(lit(k + 1L).as("stage_no"), lit(nm).as("stage"),
          col("rows_in"), col("rows_out"),
          (col("rows_in") - col("rows_out")).as("n_dropped"),
          col("chars_in"), col("chars_out"),
          (col("chars_in") - col("chars_out")).as("chars_dropped"))
    }.reduce(_ union _).orderBy("stage_no")
  }

  /** DuckDB mirror shared by x62/x62b/st27-twin: per-stage CTE
    * generators chained over the requested stage subset, so composed
    * and restricted mirrors are generated from ONE source and cannot
    * drift. The only variant point inside a stage is stage 1's
    * survivor rule — blanket drop of verified-pair greater members vs
    * a recursive-CTE transitive closure dropping every id whose
    * minimum reachable id differs from itself (d07's oracle device,
    * independent of Spark's star-contraction labels). */
  private[graft] def manifestSql(ccStage2: Boolean,
      stages: Seq[Int] = 0 to 6): String = {
    val refs = "d0" +: stages.indices.map(i => s"s${i + 1}")
    def stageCte(idx: Int, in: String, out: String): String = idx match {
      case 0 =>
        s"""$out AS MATERIALIZED (
              SELECT * FROM $in
              WHERE doc_id IN (SELECT min(doc_id) FROM $in GROUP BY text))"""
      case 1 =>
        val drop =
          if (!ccStage2)
            s"""$out AS MATERIALIZED (
              SELECT * FROM $in
              WHERE doc_id NOT IN (SELECT b_id FROM mh_pairs))"""
          else
            s"""cc_e AS MATERIALIZED (
              SELECT a_id AS src, b_id AS dst FROM mh_pairs
              UNION
              SELECT b_id AS src, a_id AS dst FROM mh_pairs),
            cc_reach(id, r) AS (
              SELECT src, src FROM cc_e
              UNION
              SELECT e.src, cc_reach.r FROM cc_e e
              JOIN cc_reach ON cc_reach.id = e.dst),
            cc_drop AS (
              SELECT id FROM cc_reach GROUP BY id HAVING min(r) <> id),
            $out AS MATERIALIZED (
              SELECT * FROM $in
              WHERE doc_id NOT IN (SELECT id FROM cc_drop))"""
        s"""${Dedup.minhashMd5PairsCte(
              in, MfK, MfBandRows, MfTheta, MfCap, "mh_")},
            $drop"""
      case 2 =>
        s"""${TextAnalysis.gopherFlagsCte(in, "gq_")},
            $out AS MATERIALIZED (
              SELECT $in.* FROM $in JOIN gq_f USING (doc_id)
              WHERE ${mfGateRules.mkString(" AND ")})"""
      case 3 =>
        s"""$out AS MATERIALIZED (
              SELECT * FROM $in WHERE hx NOT IN ('0', '1'))"""
      case 4 =>
        s"""evg AS MATERIALIZED (
              SELECT DISTINCT array_to_string(t[i + 1:i + $MfNGram], ' ') AS g
              FROM (SELECT string_split(text, ' ') AS t FROM d0
                    WHERE hx IN ('0', '1')),
                unnest(range(0, greatest(len(t) - ${MfNGram - 1}, 1)))
                  AS u(i)),
            contam AS (
              SELECT DISTINCT doc_id FROM (
                SELECT doc_id, array_to_string(t[i + 1:i + $MfNGram], ' ')
                  AS g
                FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $in),
                  unnest(range(0, greatest(len(t) - ${MfNGram - 1}, 1)))
                    AS u(i))
              WHERE g IN (SELECT g FROM evg)),
            $out AS MATERIALIZED (
              SELECT * FROM $in
              WHERE doc_id NOT IN (SELECT doc_id FROM contam))"""
      case 5 =>
        s"""$out AS MATERIALIZED (
              SELECT doc_id, text, lang, source, n_chars, hx FROM (
                SELECT *, row_number() OVER (PARTITION BY source
                  ORDER BY n_chars DESC, doc_id) AS rn FROM $in)
              WHERE rn <= $MfPerSource)"""
      case 6 =>
        s"""${dsirScoreCte(in, "ds_")},
            $out AS MATERIALIZED (
              SELECT $in.* FROM $in JOIN ds_dsdocs USING (doc_id)
              WHERE score_e6 > 0)"""
    }
    val ctes = stages.zipWithIndex
      .map { case (idx, k) => stageCte(idx, refs(k), refs(k + 1)) }
    val acctRows = stages.zipWithIndex.map { case (idx, k) =>
      val (i, o) = (refs(k), refs(k + 1))
      def rows(r: String) = s"(SELECT CAST(count(*) AS BIGINT) FROM $r)"
      def chars(r: String) =
        s"(SELECT CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM $r)"
      s"""SELECT CAST(${k + 1} AS BIGINT) AS stage_no,
           '${MfStageNames(idx)}' AS stage,
           ${rows(i)} AS rows_in, ${rows(o)} AS rows_out,
           ${rows(i)} - ${rows(o)} AS n_dropped,
           ${chars(i)} AS chars_in, ${chars(o)} AS chars_out,
           ${chars(i)} - ${chars(o)} AS chars_dropped"""
    }.mkString("\nUNION ALL\n")
    val recursive =
      if (ccStage2 && stages.contains(1)) "RECURSIVE " else ""
    s"""WITH ${recursive}d0 AS (
          SELECT doc_id, text, lang, source, n_chars,
            substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS hx
          FROM documents),
        ${ctes.mkString(",\n        ")}
        SELECT * FROM (
        $acctRows
        ) ORDER BY stage_no"""
  }

  /** x62 — the composed end-to-end curation manifest (VERDICT r13 ask
    * #5): ONE audited frame chaining the engine's existing curation
    * stages over the documents corpus, in the order a real
    * training-data pipeline runs them (RefinedWeb/Gopher/GPT-3 stage
    * ordering — dedup before quality before decontamination before
    * mixture):
    *
    *   1. exact_dedup    — d01: keep min(doc_id) per identical text
    *   2. fuzzy_dedup    — d10: MinHash-md5 LSH pairs ≥ 0.5 on the
    *                       survivors; any doc that is the GREATER
    *                       member of any verified pair is dropped (a
    *                       transitive-closure-free blanket drop — NOT
    *                       sequential greedy: with pairs (1,2) and
    *                       (2,3) but not (1,3), doc 3 drops even
    *                       though its only near-dup, 2, was itself
    *                       dropped; x62b's d07-CC form keeps one doc
    *                       per connected component instead)
    *   3. quality_gate   — t22: the five STRUCTURAL Gopher rules
    *                       (r_stopwords excluded — an English-only
    *                       test; see the mfGateRules note above)
    *   4. eval_holdout   — x07: md5-hex split, hx ∈ {0,1} held out
    *   5. decontam       — x10: drop docs sharing a word 13-gram with
    *                       the ORIGINAL corpus's eval split (the
    *                       benchmark is fixed external data — it is
    *                       not itself deduped/gated first). The Spark
    *                       side compares xxhash64 gram FINGERPRINTS
    *                       where the DuckDB mirror compares the raw
    *                       13-gram strings — hash-collision-exact,
    *                       d04's documented pattern: a fingerprint
    *                       collision would contaminate a clean doc on
    *                       the Spark side only; astronomically
    *                       unlikely, and an explicit audited choice
    *   6. domain_cap     — x30: keep the 10 longest docs per source
    *                       (TopKPerKey physical operator)
    *   7. dsir_selection — x51: keep docs likelier under the en-target
    *                       unigram model (score_e6 > 0), model built
    *                       ON the surviving corpus
    *
    * (x60's temporal split is the events-table sibling of stage 4; the
    * documents table has no time axis, so the pipeline's split stage is
    * x07's hash split — the one x10 composes with by construction.)
    *
    * Output: one row per stage — rows_in/rows_out/n_dropped and
    * chars_in/chars_out/chars_dropped — the per-stage accounting frame
    * a 100 TB curation run publishes next to its output manifest. Every
    * stage reuses the STANDALONE operator's engine (minhashMd5Pairs,
    * gopherFlaggedDf, ngramExpr+broadcast semi, TopKPerKey,
    * dsirDocScores) and the DuckDB mirror reuses the same generated CTE
    * chains (minhashMd5PairsCte, gopherFlagsCte, dsirScoreCte), so the
    * composition is oracle-hash-exact end to end and cannot drift from
    * the stages it composes. Round14OpsSpec additionally asserts each
    * stage's accounting equals the standalone operator applied to that
    * stage's input (pure-Scala md5/cap/DSIR replays).
    *
    * Scale shape: the chain inherits each stage's law — hash-agg on
    * text (1), banded LSH + candidate-bounded verify (2), pure scan
    * projection (3), per-row md5 (4), broadcast semi-join against
    * benchmark-sized gram set (5), bounded-heap top-k per key (6), one
    * token census + token-keyed weight join (7); the accounting rows
    * are seven 1-row aggregates over progressively smaller
    * checkpointed survivor frames. */
  val curationManifest: QueryDef = QueryDef(
    "x62_curation_manifest",
    manifestBuild(ccStage2 = false),
    Some(manifestSql(ccStage2 = false)))

  /** x62b — x62 with the TRANSITIVE-CLOSURE stage-2 survivor rule
    * (VERDICT r14 ask #3): production pipelines (RefinedWeb, Dolma)
    * keep exactly ONE document per CONNECTED COMPONENT of the verified
    * near-dup pair graph — the component minimum — where x62's blanket
    * rule drops every doc that is the greater member of any verified
    * pair. The rules genuinely differ: with pairs (3,5) and (4,5) but
    * not (3,4), the component is {3,4,5} so x62b keeps {3}, while x62
    * keeps {3,4} (4 is never a greater member). A component minimum is
    * never the greater member of any pair, so x62b's stage-2 survivor
    * set is always a SUBSET of x62's — Round15OpsSpec asserts the
    * subset law and the exact equality of x62b's stage-2 survivors
    * with d07-style component representatives on the fixture.
    *
    * Implementation: stages 1 and 3-7 are x62's — both variants call
    * the SAME [[manifestFrames]] engine and their mirrors the same
    * generated CTE chains, so the variants cannot drift anywhere but
    * stage 2. Stage 2 labels the verified pairs with
    * [[Dedup.connectedComponents]] (large-star/small-star, bounded
    * rounds) and drops every non-root member; the DuckDB mirror takes
    * the transitive closure with a recursive CTE and drops ids whose
    * minimum reachable id differs from themselves — d07's oracle
    * device, so min-rooted CC labeling is machine-checked against an
    * independent closure on every oracle run.
    *
    * Scale shape: x62's laws everywhere except stage 2, which adds
    * d07's: CC rounds are edge-set-bounded contractions over the PAIR
    * list (near-dup pairs, orders of magnitude smaller than the
    * corpus), never over documents. */
  val curationManifestCc: QueryDef = QueryDef(
    "x62b_curation_manifest_cc",
    manifestBuild(ccStage2 = true),
    Some(manifestSql(ccStage2 = true)))

  val all: Seq[QueryDef] =
    Seq(sampleEntityHash, sampleStratifiedHash, corpusCuration, shardHash,
      saltedAgg, incrementalDedup, hashSplit, repetitionRatio,
      boilerplateRemoval, decontaminate, packSequences, fuzzyDedupPipeline,
      upsertMerge, mixtureWeights, quantileOutlierFilter, saltedJoinQ,
      budgetRebalance, decontaminateBloom, leakageSafeSplit,
      incrementalFuzzy, jsonlRoundtrip, zorderKey, kAnonymity, chunkOverlap,
      trainingManifest, snapshotDiff, manifestRefresh, releasePipeline,
      qualityPrototype, calibrationBins,
      classifierMetrics, domainCap, scd2History,
      temperatureMix, datasetCard, canonicalSelection, weightedSample,
      epochShuffle, dpRelease, psiDrift, blocklistGate, curriculumOrder,
      sourceOverlap, shardSkew, dupClusterStats, unimaxAllocation,
      doremiStep, pairAuditSample, lDiversity, decontaminationDrill,
      neymanAllocation, dsirSelection, lengthBucketing, clusterSharding,
      rejectionResample, stratifiedReservoir, budgetPareto, epochRepeatPlan,
      compactionPlan, consistentHashRing, temporalSplit, contaminationSweep,
      curationManifest, curationManifestCc)

}
