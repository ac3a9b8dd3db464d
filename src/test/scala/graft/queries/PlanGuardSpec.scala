package graft.queries

import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** Plan-shape regression guard over the WHOLE registry (VERDICT r4 §next).
  *
  * PlanSpec asserts load-bearing properties for hand-picked queries; this
  * spec closes the gap for the other ~120: a regression that introduces a
  * cartesian product, an unapproved nested-loop join, or an unapproved
  * global (no-partition) window into ANY registered query fails here
  * instead of shipping silently.
  *
  * The whitelists below are THE enumeration of the documented bounded
  * cases (VERDICT r4 "What's wrong" audit + PLANS.txt): every entry
  * carries its boundedness argument. Adding a name to a whitelist is a
  * reviewable act — the rationale string is mandatory.
  *
  * KNOWN LIMIT: driver-composed queries (the ML fits, d07/g03's
  * checkpointed loops, t16/t17's merge training)
  * execute their driver-side stages during build, and the plan this
  * guard then inspects is only the final composition — their internal
  * stages are asserted by their own specs/PLANS.txt instead. That is
  * inherent to driver loops, not a gap a different guard could close.
  */
class PlanGuardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf0001

  /** Queries whose BroadcastNestedLoopJoin is a documented BOUNDED
    * broadcast (1-row scalar, bounded query/probe set, vocabulary-domain
    * pair stage, or a declared all-pairs baseline with a registered
    * banded twin). */
  private val nestedLoopBounded: Map[String, String] = Map(
    "q20_having_scalar_subquery" -> "1-row scalar threshold broadcast",
    "t07_tfidf_exact" -> "1-row corpus-size scalar broadcast",
    "x09_boilerplate_removal" -> "1-row corpus-size scalar broadcast",
    "x15_quantile_outlier_filter" -> "1-row quantile-threshold broadcast",
    "e05_kmv_distinct" -> "1-row sketch-summary broadcast",
    "e02b_hll_md5" -> "1-row exact-count scalar broadcast (e05's idiom)",
    "e06_heavy_hitters" -> "1-row candidate-summary broadcast",
    "st09_funnel_steps" -> "1-row funnel-window scalar broadcast",
    "s01_cosine_topk" -> "bounded query-vector set broadcast (corpus never shuffles)",
    "s03b_ann_ivf_pinned" -> "bounded probe stage: query set x pinned centroid broadcast",
    "s08_ann_recall" -> "composes s01+s03b; inherits s03b's bounded query x centroid probe stage",
    "s05_ann_int8" -> "bounded query-vector set broadcast",
    "s11_two_stage_rescore" -> "bounded query-vector set broadcast (s05's idiom; rescore stage is candidate-bounded)",
    "s06_ann_pq_adc" -> "bounded query dot-table broadcast (corpus scans 4-byte codes in place)",
    "m04_multimodal_embed_topk" -> "bounded probe set broadcast",
    "m07_crossmodal_retrieval" -> "bounded text-query set broadcast (m04's idiom; image corpus scans in place)",
    "x36_epoch_shuffle" -> "2-row epoch frame broadcast against the corpus (epoch fan-out, not a data join)",
    "g11_modularity" -> "1-row graph-totals scalar broadcast x2 (e05's idiom: m and Q attach to every output row)",
    "q35_fuzzy_levenshtein" -> "name-DOMAIN pair stage, vocabulary-bounded by design",
    "ml12_naive_bayes" -> "bounded language-domain (5-row) + 1-row vocab scalar broadcasts against the held token stream",
    "t31_js_divergence" -> "bounded source-domain (20-row) + 1-row corpus-totals scalar broadcasts against the vocab frame",
    "x46_doremi_step" -> "1-row corpus-totals + 1-row reference-entropy scalar broadcasts onto the bounded source frame",
    "x49_decontamination_drill" -> "1-row canary broadcast onto the train scan (x10's matcher join itself is equi)",
    "s19_reindex_churn" -> "1-row corpus-count scalar broadcast onto the bounded migration matrix (codebooks ride inside the row expression)",
    "t15_vocab_build" -> "1-row grand-total broadcast (t07/x09's idiom)",
    "x29b_quality_prototype" -> "1-row class-token-total broadcast into the 1024-row weight frame",
    "e10_ams_f2" -> "three 1-row summary broadcasts (exact F2, mean, median-of-means) onto the 16-row estimator frame",
    "e11_kmv_set_algebra" -> "four 1-row sketch/exact summaries crossJoined into the single output row (e05's idiom)",
    "ml02b_stump_exact" -> "1-row totals frame crossJoined onto the 12-row month aggregate (e05's idiom)",
    "q45_not_in_null_semantics" -> "ANSI NOT-IN null semantics: Spark's null-aware anti form",
    "d05_dedup_embedding" -> "documented all-pairs BASELINE; bucketed twins s02/s04/s05 registered",
    "s12_knn_classify" -> "bounded evaluation-panel broadcast (s01's idiom; corpus never shuffles)",
    "t24_token_burstiness" -> "1-row corpus-size scalar broadcast (t07/x09's idiom)",
    "s13_nprobe_sweep" -> "composes s01's bounded query broadcast (exact baseline) + a 1-row query-count scalar; candidate stage is the s03b bounded equi-join",
    "x39_psi_drift" -> "9-row decile-edge broadcast + three 1-row scalar broadcasts (n_ref / totals / psi, e05's idiom)",
    "s14_hard_negatives" -> "bounded query-panel broadcast with an exclusion predicate (s01's idiom; the label filter cannot equi-key)",
    "ml04_cv_slope_stability" -> "1-row cross-fold summary broadcast onto the 5-row fold frame (e05's idiom)",
    "g14_wcc" -> "1-row graph-totals broadcast onto the component-size histogram (g11's idiom)",
    "ml05_calibration_bins" -> "inherits x29b's 1-row class-token-total broadcast (shared prototypeScored stage)",
    "ml06_classifier_metrics" -> "inherits x29b's 1-row class-token-total broadcast + 1-row confusion x rank-sum fold (e05's idiom)",
    "s15_ndcg_eval" -> "composes s01+s03b; inherits their bounded query/centroid broadcasts (s08's idiom)",
    "ml07_learning_curve" -> "4x10 bounded budget-bucket theta join on the sufficient-statistics frame + 1-row eval-moments broadcast (e05's idiom)",
    "x43_shard_skew" -> "1-row fleet-totals broadcast onto the 32-row shard frame (e05's idiom)",
    "ml08_transfer_matrix" -> "lang-domain sufficient-statistics frame crossed with itself (|langs|^2 rows; ml07's idiom)",
    "s16_rocchio_feedback" -> "bounded query-panel broadcast x2 (s01's idiom, round 1 + refined round 2; corpus never shuffles)",
    "ml17_ridge_path" -> "1-row sufficient-statistics broadcast onto the 4-row lambda frame (e05's idiom)",
    "t35_pmi_collocations" -> "1-row corpus-totals (Nu, Nb) broadcast onto the candidate-pair frame (e05's idiom; pairs come from an in-row bigram transform, never a join)",
    "x51_dsir_selection" -> "1-row model-totals (NT, NS, V) broadcast onto the vocabulary frame (t31's idiom; doc scoring is a token equi-join)",
    "s20_range_search" -> "bounded query-panel broadcast (s01's idiom; the radius filter runs inside the scan stage)",
    "ml20_chi_square" -> "bounded band-domain (<=10-row) broadcast crossed onto the type domain (ml08's idiom)",
    "t36_kneser_ney" -> "1-row bigram-type-count broadcast onto the model frame (t35's idiom; scoring join is equi on the bigram key)",
    "ml21_logit_newton" -> "1-row coefficient broadcast onto the scoring scan (x29b's idiom)",
    "ml22_permutation_test" -> "1-row observed-moments broadcast onto the 32-row replicate frame (ml13's idiom)",
    "s21_farthest_first" -> "bounded (k=4) centroid-frame broadcast onto the assignment scan (d13's pinned idiom; selection scans use rendered literals, no join at all)",
    "q57_scd2_asof_lookup" -> "bounded (3-row) probe-date broadcast; the range predicate evaluates inside the SCD2 scan (x36's epoch fan-out idiom)",
    "g19_ktruss_support" -> "three 1-row census scalars crossJoined per peel round (e05's idiom; the triangle joins themselves are oriented equi-joins)",
    "g18_two_hop_reach" -> "1-row supplier-universe scalar broadcast onto the 9-row seed frame (e05's idiom)",
    "t38_cohens_kappa" -> "1-row chance-agreement scalar broadcast onto the 1-row confusion totals (e05's idiom)",
    "e13_kmv_size_sweep" -> "1-row exact-count scalar broadcast onto the 4-row sweep frame (e05's idiom)",
    "x54_rejection_resample" -> "1-row corpus-totals + 1-row accepted-total scalar broadcasts onto the scan / the 5-row lang frame (e05's idiom; the lang census itself is a broadcast equi-join)",
    "ml26_kendall_tau" -> "cell-pair theta join (a.x < b.x) over the checkpointed <=550-row joint-domain census — bounded by the 50x11 value domain, never the corpus",
    "s23_anisotropy_panel" -> "fixed 100-vector panel self-join (4950 pairs, corpus-independent by construction — the s01 bounded-panel idiom)",
    "x57_epoch_repeat_plan" -> "1-row budget-totals crossJoin + the fixed 16-term epoch generator onto the <=|sources| frame (e05's idiom)",
    "x58_compaction_plan" -> "1-row chars-total crossJoin onto the 16-row shard census (e05's idiom)",
    "e14_bloom_fpr_sweep" -> "1-row census scalars (bits_set/n_fp/n_keys/n_present) crossJoined per sweep size, plus the 200x3 probe-bit generator (e05's idiom; the membership join itself is equi on the bit key)",
    "ml31_benford_audit" -> "9-row digit domain frame LEFT-joined to the census + 1-row total crossJoin (ml20's domain-frame idiom)",
    "x59_consistent_hash_ring" -> "bounded 256/320-point ring broadcast crossJoined onto the doc scan — the ring IS the whole index (Karger's scheme); per-doc work is one min fold over the broadcast",
    "t42_bm25_topk" -> "1-row corpus-totals (n_docs, big_l) crossJoin onto the per-term scoring frame (e05's idiom; the panel-term join itself is equi on token, t07's lineage)",
    "s26_rrf_fusion" -> "bounded 10-query panel broadcast for the dense leg (s01/s05's idiom) + t42's inherited 1-row corpus-totals crossJoin; the fusion join is full-outer EQUI on (q_id, n_id)",
    "q66_cdc_merge" -> "1-row customer-domain scalar (n_cust) crossJoined onto the change-feed scan (e05's idiom); the merge itself is a full-outer EQUI join on the key",
    "ml34_kaplan_meier" -> "1-row cohort-size scalar (n0) crossJoined onto the bounded distinct-day frame (e05's idiom)",
    "ml35_logrank" -> "1-row two-cohort totals (n0a, n0b) crossJoined onto the bounded distinct-day frame (ml34's idiom)",
    "x60_temporal_split_audit" -> "1-row corpus-count + 1-row threshold-pair scalars crossJoined onto the day census / assignment scan (e05's idiom); the warm-user join is equi on user_id",
    "x62_curation_manifest" -> "seven 1-row-x-1-row accounting crossJoins (rows/chars per stage, e05's idiom) — every pipeline stage join (semi/anti on doc_id, band equi, gram semi) is an equi-join on the checkpointed survivor frames",
    "x62b_curation_manifest_cc" -> "x62's seven 1-row-x-1-row accounting crossJoins (shared manifestBuild engine); the CC stage's joins are equi-joins on the pair frame",
    "st27_incremental_manifest" -> "x62's restriction (shared manifestBuild engine, stages 1/3/4/5): four 1-row-x-1-row accounting crossJoins")

  /** Queries whose no-partition Window runs over a DOMAIN-BOUNDED input
    * (never the corpus): the boundedness argument is written at the use
    * site and repeated here. */
  private val globalWindowBounded: Map[String, String] = Map(
    "x11_pack_sequences" -> "32-row bucket-offset frame (two-phase prefix sum), Curation.scala",
    "x15_quantile_outlier_filter" -> "distinct-length histogram, value-domain bounded, Curation.scala",
    "t15_vocab_build" -> "1000-row vocabulary rank, TextAnalysis.scala",
    "x17_budget_rebalance" -> "global sum over the ~20-row per-source aggregate (source-domain bounded), Curation.scala",
    "x32_temperature_mix" -> "global isq sum over the ~20-row per-source aggregate (x17's idiom), Curation.scala",
    "x33_dataset_card" -> "global corpus-token sum over the ~cells (lang, source) aggregate (x17's idiom), Curation.scala",
    "t17_bpe_encode" -> "100-row subword rank after LIMIT (t15's vocabulary-rank idiom), TextAnalysis.scala",
    "ml02b_stump_exact" -> "12-row month-domain prefix-sum frame + 11-row split argmin rank, MlQueries.scala",
    "x39_psi_drift" -> "reference-snapshot decile rank; at 100 TB the window runs over the bounded distinct-length frame (x15's value-domain idiom), Curation.scala",
    "t27_textrank" -> "vocabulary rank for dictionary encoding (t15's vocabulary-domain idiom), TextAnalysis.scala",
    "ml05_calibration_bins" -> "decile ntile over the 16-byte (doc_id, score) frame; 100 TB path = x15 approx-quantile edges, documented at the use site, Curation.scala",
    "x41_curriculum_order" -> "phase ntile over the 16-byte (doc_id, n_tokens) frame + 4-row phase-offset prefix sum; 100 TB path = x15 quantile-edge phase boundaries, documented at the use site, Curation.scala",
    "ml06_classifier_metrics" -> "cumulative rank over the DISTINCT-score group frame (value-domain bounded, x15/x39's idiom), Curation.scala",
    "x45_unimax_allocation" -> "water-filling rank/prefix-sum over the per-LANGUAGE aggregate frame (language-domain bounded, x17's idiom), Curation.scala",
    "s17_ivf_balance" -> "health scalars over the per-CELL census frame (k = index parameter, bounded like s03's centroid panel), Similarity.scala",
    "x46_doremi_step" -> "normalizer Z / domain count over the per-SOURCE aggregate frame (source-domain bounded, x17's idiom), Curation.scala",
    "ml14_woe_iv" -> "class totals / IV sum over the 10-row fixed-bin frame (bin-domain bounded, x17's idiom), MlQueries.scala",
    "ml15_ks_test" -> "ECDF cumulative + totals over the bounded DISTINCT-cent frame (value-domain bounded, x15/ml06's idiom), MlQueries.scala",
    "t33_vocab_growth" -> "prefix sums over the 4-row bucket frame (x11's idiom), TextAnalysis.scala",
    "ml34_kaplan_meier" -> "at-risk prefix sum + log-survival prefix sum over the bounded distinct-DAY frame (value-domain bounded, x15's idiom), MlQueries.scala",
    "ml35_logrank" -> "per-cohort at-risk prefix sums over the bounded distinct-DAY frame (ml34's idiom), MlQueries.scala",
    "x60_temporal_split_audit" -> "cumulative count over the bounded day census (value-domain bounded, x15's idiom — a distinct-us cut would be corpus-sized, deliberately avoided), Curation.scala",
    "x50_neyman_allocation" -> "allocation windows over the segment-domain (5-row) frame (x17's idiom), Curation.scala",
    "ml19_mann_whitney" -> "doubled-rank cumulative + totals over the bounded DISTINCT-cent frame (value-domain bounded, ml15's idiom), MlQueries.scala",
    "ml20_chi_square" -> "N / chi-square totals over the bounded type x band cell frame (ml14's idiom), MlQueries.scala",
    "e13_kmv_size_sweep" -> "rank over the 32-row bottom-k frame (the TakeOrdered output; x11's idiom), Extensions.scala",
    "ml25_lift_gains" -> "cumulative gains windows over the 10-row value-band frame (bin-domain bounded, ml14's idiom), MlQueries.scala",
    "x56_budget_pareto_fill" -> "quality rank + prefix sum over the (lang, source) cell-domain frame (x17's idiom), Curation.scala",
    "q62_growth_accounting" -> "cumulative-reach window over the <=|days| day frame (day-domain bounded, x17's idiom), Relational.scala",
    "ml27_spearman_rho" -> "midrank cum_before windows over the <=50/<=11 marginal frames of the checkpointed cell census (value-domain bounded, ml15's idiom), MlQueries.scala",
    "x58_compaction_plan" -> "running-quota prefix sum over the 16-row shard census (x11's idiom), Curation.scala")

  /** name -> physical plan for every registered query. sparkPlan (the
    * pre-AQE physical plan) carries the concrete join/window nodes; a
    * build failure fails the guard loudly rather than skipping. */
  private lazy val plans: Seq[(String, SparkPlan)] =
    SparkEntry.registry.map { q =>
      q.name -> q.build(spark, sf).queryExecution.sparkPlan
    }

  test("no registered query plans a CartesianProduct") {
    val hits = plans.flatMap { case (n, p) =>
      p.collect { case c: CartesianProductExec => n }
    }.distinct
    assert(hits.isEmpty, s"cartesian products in: ${hits.mkString(", ")}")
  }

  test("every BroadcastNestedLoopJoin is a whitelisted bounded broadcast") {
    val hits = plans.flatMap { case (n, p) =>
      p.collect { case j: BroadcastNestedLoopJoinExec => n }
    }.distinct
    val rogue = hits.filterNot(nestedLoopBounded.contains)
    assert(rogue.isEmpty,
      s"unapproved nested-loop joins in: ${rogue.mkString(", ")} — " +
        "either fix the plan or add a boundedness rationale to the whitelist")
    // prune stale whitelist entries so the enumeration stays honest
    val stale = nestedLoopBounded.keySet -- hits.toSet
    assert(stale.isEmpty,
      s"whitelist entries with no nested loop in the current plan: " +
        s"${stale.mkString(", ")} — remove them")
  }

  test("every no-partition Window runs over a whitelisted bounded input") {
    val hits = plans.flatMap { case (n, p) =>
      p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => n
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => n
      }
    }.distinct
    val rogue = hits.filterNot(globalWindowBounded.contains)
    assert(rogue.isEmpty,
      s"unapproved global windows in: ${rogue.mkString(", ")} — " +
        "either partition the window or add a boundedness rationale")
    val stale = globalWindowBounded.keySet -- hits.toSet
    assert(stale.isEmpty,
      s"whitelist entries with no global window in the current plan: " +
        s"${stale.mkString(", ")} — remove them")
  }
}
