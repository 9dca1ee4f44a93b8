"""Repo-wide plan lint: every declared BATCH query's physical plan is
scanned for scale anti-patterns (unbroadcast cartesian products, row-wise
Python UDFs, nested-loop joins). This operationalizes the anti-pattern
audit as a standing gate: a new query that sneaks in a cartesian or a
row-UDF fails here, not in a judge review.

Queries with a DELIBERATE nested-loop broadcast (scalar thresholds, tiny
theta-join sides, interval probes) are allowlisted BY NAME with the
reason — additions must justify themselves.
"""

from __future__ import annotations

import pytest

from pixels_spark.plans.pushdown import plan_anti_patterns
from pixels_spark.queries import load_all_modules

REGISTRY = load_all_modules()

# mutation/streaming queries execute side effects on build — their plans
# are covered by their own tests; linting here would run whole pipelines.
# mm_/src_ are the documented Arrow mapInPandas decode seams (fixture-
# driven, no sf-scaled scan to lint)
_SKIP_PREFIXES = ("stream_", "mvcc_", "sql_dml", "mm_", "src_")

# name -> why its BroadcastNestedLoopJoin / pattern is deliberate
ALLOWLIST = {
    "join_cross_theta": "theta join: tiny broadcast side by construction",
    "ts_theil_sen": "theta self-join of the calendar-bounded day frame "
    "(O(#days²) pairs — 435 at 30 days) + scalar count frames",
    "ts_mann_kendall": "theta self-join of the calendar-bounded day frame "
    "(O(#days²) pairs) + 1-row scalar frames",
    "ts_kendall_tau": "theta self-join of the calendar-bounded day frame "
    "(O(#days²) pairs) + 1-row scalar frames",
    "stat_hodges_lehmann": "theta self-join of the calendar-bounded day "
    "frame (O(#days²) Walsh pairs — 465 at 30 days) + 1-row scalar frames",
    "ts_theil_sen_binned": "theta self-join of the k=8 bin-median frame "
    "(C(8,2)=28 pairs — the pair-budget bound itself) + scalar frames",
    "stat_welch_t": "2-group moment frame crossJoin (1 row each side)",
    "stat_anova_f": "1-row grand-total frame crossJoin onto the k=3 "
    "group-moment frame",
    "stat_levene": "1-row grand-total frame crossJoin onto the k=3 "
    "deviation-moment frame",
    "stat_bh_fdr": "scalar k* threshold frame crossJoin (1 row) onto the "
    "day-grain family frame (O(#days))",
    "stat_bootstrap_ci": "scalar base-mean frame crossJoin (1 row) onto "
    "the 32-row replicate-mean frame",
    "stat_permutation_test": "scalar total/observed frames crossJoin "
    "(1 row each) onto the row scan and the 32-row replicate frame",
    "eval_rbo": "1-row query-vector crossJoin; 10-row depth grid × "
    "≤10-row overlap frame",
    "eval_ece": "scalar total-count frame crossJoin (1 row) onto the "
    "10-bin calibration frame",
    "cb_approx_distinct": "scalar tolerance frame crossJoin (1 row)",
    "cb_approx_quantile": "scalar sketch frame crossJoin (1 row)",
    "range_price_bands": "interval probe against a tiny bands frame",
    "dec_qty_bands": "interval probe against a tiny bands frame",
    "scalar_winsorize": "scalar percentile frame crossJoin (1 row)",
    "stat_zscore_outliers": "scalar mean/std frame crossJoin (1 row)",
    "txt_kl_drift": "scalar corpus-total frame crossJoin (1 row)",
    "txt_lm_score": "scalar corpus-size frame crossJoin (1 row)",
    "txt_quality_cut": "scalar corpus frame crossJoin (1 row)",
    "txt_temperature_mix": "scalar normalizer frame crossJoin (1 row)",
    "txt_tfidf": "scalar doc-count frame crossJoin (1 row)",
    "txt_token_budget_mix": "scalar budget frame crossJoin (1 row)",
    "txt_boilerplate": "scalar doc-count frame crossJoin (1 row)",
    "txt_heavy_hitters": "scalar row-count frame crossJoin (1 row)",
    "vec_knn": "1-row query-vector crossJoin",
    "vec_mmr": "1-row query-vector crossJoin + greedy-step joins over "
    "the <=16-row candidate frame (<=4-row selected side)",
    "vec_kmeanspp_seed": "greedy farthest-first steps: corpus scan "
    "crossJoined with the broadcast <=3-row seed frame, folded into "
    "TakeOrdered(1) — k linear passes, no corpus shuffle",
    "rec_coverage": "1-row totals/catalog/top10 scalar frames "
    "crossJoined (composition over the benched rec_user_topk path)",
    "vec_knn_int8": "1-row query-vector crossJoin",
    "vec_knn_pq": "1-row query-vector crossJoin",
    "vec_batch_knn": "bounded query-set crossJoin (16 rows, broadcast)",
    "vec_ivf_knn": "1-row query-vector crossJoin",
    "vec_ivf_probe": "1-row query-vector crossJoin",
    "vec_ivf_incremental": "1-row query-vector crossJoin",
    "vec_ivfpq_probe": "1-row query-vector crossJoin",
    "vec_pq_probe": "1-row query-vector crossJoin",
    "vec_semdedup": "scalar threshold frame crossJoin",
    "vec_kmeans_round": "tiny centroid frame crossJoin",
    "vec_near_dup": "tiny centroid frame crossJoin (auto-sized k <= 4096, "
    "broadcast)",
    "vec_cluster_purity": "tiny centroid frame crossJoin (k=8 broadcast)",
    "asof_signup_error": "tiny tolerance frame",
    "ts_gap_fill": "per-key grid expansion against a tiny calendar frame",
    "tpch_q11": "scalar value-fraction threshold crossJoin (1 row)",
    "tpch_q11_ps": "scalar value-fraction threshold crossJoin (1 row)",
    "tpch_q22": "scalar avg-acctbal threshold crossJoin (1 row)",
    "txt_collocations": "scalar corpus-total frame crossJoin (1 row)",
    "txt_training_pipeline": "scalar corpus/budget frames (composition)",
    "vec_lsh_pairs": "tiny hyperplane frame crossJoin (seeded planes)",
    "vec_hybrid_rrf": "1-row query-vector crossJoin",
    "vec_hybrid_rrf_topn": "1-row query-vector crossJoin (bounded kNN leg)",
    "txt_quota_sample": "1-row corpus-total / leftover frame crossJoins",
    "txt_bpe_train": "1-row chosen-merge frame crossJoins (broadcast)",
    "rec_assoc_rules": "scalar basket-total frame crossJoin (1 row)",
    "sketch_histogram": "3-row quantile probe against the <=64-row sketch",
    "stat_chi_square": "R x C contingency grid cross join (5x24, broadcast)",
    "vec_pca_top2": "1-row deflation-scalar (c1,c2) frame crossJoin",
    "ts_lttb": "1-row first-point frame crossJoin seeding the bucket fold",
    "feat_target_encode": "1-row global-rate fallback frame crossJoin",
    "eval_avg_precision": "1-row (n_pos, n_tot) totals frame crossJoin",
    "eval_gains_table": "1-row totals frame crossJoin",
    "ts_periodogram": "1-row corpus-total frame crossJoin",
    "ts_seasonal_profile": "1-row corpus-total frame crossJoin",
    "eval_ndcg_ann": "1-row query-vector crossJoin (both ranking legs)",
    "stat_benford": "1-row totals + 1-row chi2 frame crossJoins (<=9-row "
    "digit frame, persisted)",
    "eval_mrr_ternary": "bounded query-set crossJoin (8 rows, both "
    "batch_knn legs) + 1-row MRR frame onto the persisted 8-row frame",
    "txt_bm25_topk": "1-row corpus-stats (N, sum dl) frame crossJoin",
    "eval_group_auc": "1-row AUC-gap frame crossJoin onto the persisted "
    "4-row per-cohort frame",
    "eval_psi": "1-row totals + 1-row PSI frame crossJoins onto the "
    "persisted 10-bin frame",
    "vec_hybrid_bm25": "1-row query-vector + 1-row corpus-stats "
    "crossJoins (both bounded retrieval legs)",
    "eval_recall_sweep": "1-row query-vector + per-leg 1-row "
    "candidate/hit frame crossJoins (6 bounded probe legs)",
    "graph_modularity": "1-row edge-count + 1-row global-Q frame "
    "crossJoins onto the persisted per-community frame",
    "eval_brier": "1-row totals frame crossJoin onto the persisted "
    "10-bin frame",
    "stat_friedman": "1-row n-blocks + 1-row k + 1-row tie-sum frame "
    "crossJoins onto the <=|types|-row rank-sum frame",
    "graph_hits": "1-row L1-total frame crossJoins (hub + auth "
    "normalization) onto the node frames",
}

BATCH = sorted(
    n for n in REGISTRY if not n.startswith(_SKIP_PREFIXES)
)

# name -> the ROW BOUND (or shape rationale) that makes an unpartitioned
# (global) Window safe: a single-task sort over a provably tiny frame is
# the scalar pattern, not a scale risk. Every entry must STATE the bound —
# an unbounded global window (one row per input row through one task) has
# no valid entry here; it gets rewritten to the two-level prefix pattern
# instead (stat_skyline / _exclusive_offsets precedent).
GLOBAL_WINDOW_ALLOWLIST = {
    # r12 optimization round: bounded-frame scalar attaches converted
    # from persist+aggregate+broadcast-crossJoin (2-3 jobs) to global
    # windows (1 job) — each frame below is CONSTANT-bounded by
    # construction, never data-sized
    "eval_brier": "bin totals over the 10-row calibration-bin frame",
    "eval_psi": "totals + PSI sum over the 10-row bin frame",
    "eval_group_auc": "AUC gap over the 4-row cohort frame "
    "(plus the inherited band-prefix windows, O(#bands) per cohort)",
    "eval_mrr_ternary": "MRR over the 8-row per-query frame",
    "stat_benford": "digit total + chi² sum over the ≤9-row digit frame",
    "txt_zipf_fit": "exclusive prefix over the distinct-frequency frame: "
    "O(#distinct token frequencies) — thousands even at corpus scale",
    "sketch_histogram": "cum over the histogram sketch: <=64 bin rows",
    "stat_ks_test": "exclusive prefix over value-band subtotals: O(#bands), <=256",
    "stat_mann_whitney": "exclusive prefix over value-band subtotals: O(#bands), <=256",
    "stat_kruskal_wallis": "exclusive prefix over value-band subtotals: "
    "O(#bands), <=256 (the stat_mann_whitney two-level pattern)",
    "stat_bh_fdr": "rank / count / suffix-min q-value windows over the "
    "day-grain FAMILY of tests: O(#days) rows by construction — the "
    "events scan folds to day grain in one map-side-partial aggregate "
    "before any window",
    "stat_skyline": "prefix-max over price-bucket subtotals: O(#buckets) ~ price_range/100",
    "ts_active_intervals": "cum over the day grain: O(#days) — 3.7k rows/decade",
    "ts_cumulative_users": "cum over the day grain: O(#days) — 3.7k rows/decade",
    "ts_changepoint": "prefix/total windows + 1-row argmax over the day "
    "grain: O(#days) — 3.7k rows/decade",
    "ts_stl_decompose": "moving-average / dow-mean / centering windows "
    "over the day grain: O(#days) — 3.7k rows/decade",
    "ts_lttb": "bucket folds over the hourly series: O(#hours), decimated to 26 points",
    "txt_bpe_train": "rank over the LIMIT-10 merge-candidate frame: <=10 rows/round",
    "txt_pack_spans": "exclusive prefix over id-bucket subtotals: O(#docs/4096)",
    "txt_token_shards": "exclusive prefix over id-bucket subtotals: O(#docs/4096)",
    "txt_training_pipeline": "exclusive prefix over id-bucket subtotals: O(#docs/4096)",
    "txt_quota_sample": "Hamilton apportionment rank over the strata frame: O(#langs)",
    "txt_priority_sample": "global top-(k+1) rank, k=64 — WindowGroupLimit shape; "
    "per-partition top-k then one <=k*P-row merge at scale",
    "scalar_winsorize": "exact-percentile rank for the p05/p95 cut — the "
    "1-row scalar frame pattern; two-level bucketed rank at 100 TB "
    "(stat_weighted_median machinery)",
    "vec_covariance": "d^2 co-moment frame: 256 rows at d=16",
    "vec_kmeans_round": "seed-selection rank over vec_id: k-seed prefix of the "
    "id order; WindowGroupLimit shape (rank filter <= k)",
    "vec_pca_power": "d^2/d co-moment + normalizer frames: <=256 rows at d=16",
    "vec_pca_scores": "d^2/d co-moment + normalizer frames: <=256 rows at d=16",
    "vec_pca_top2": "d^2/d frames through the deflation chain: <=256 rows each",
    "vec_hybrid_rrf": "per-leg candidate ranks: both legs bounded (kNN top-N, "
    "keyword-overlap support-thresholded) before ranking",
    "vec_semdedup": "cluster-seed rank over vec_id: WindowGroupLimit shape "
    "(rank filter <= k seeds)",
    "vec_near_dup": "cluster-seed rank over vec_id: k-seed prefix "
    "(rank filter <= k), the vec_kmeans_round kernel",
    "vec_cluster_purity": "cluster-seed rank over vec_id: k-seed prefix "
    "(rank filter <= k), the vec_kmeans_round kernel",
    "win_ranking_family": "SQL window-family parity demo — global ntile IS the "
    "demonstrated semantic; partition by a key at scale",
    "eval_auc": "exclusive prefix over value-band subtotals: O(#bands), <=256 "
    "(the stat_mann_whitney kernel)",
    "ts_theil_sen": "lower-median rank over the O(#days²) slope frame — "
    "435 rows at 30 days, ~5M/decade; band-kernel beyond",
    "stat_hodges_lehmann": "lower-median rank over the O(#days²) Walsh "
    "frame — 465 rows at 30 days; theil_sen_guarded binning beyond",
    "ts_theil_sen_binned": "lower-median rank over the <=28-row binned "
    "slope frame (the pair budget is the bound)",
    "eval_rbo": "rank windows over the two LIMIT-10 result frames + "
    "cumulative over the 10-row depth grid",
    "eval_ndcg_ann": "rank windows over the two LIMIT-10 result frames: "
    "<=10 rows each",
    "eval_avg_precision": "exclusive prefix over value-band subtotals: "
    "O(#bands), <=256 (eval_auc kernel, descending)",
    "eval_gains_table": "cumulative over the 10-row score-bin frame",
}


@pytest.mark.parametrize("name", BATCH)
def test_plan_has_no_anti_patterns(spark, sf_dir, name):
    findings = plan_anti_patterns(REGISTRY[name].fn(spark, sf_dir))
    if name in ALLOWLIST:
        # The allowlist waives ONLY the deliberate BroadcastNestedLoopJoin
        # each entry documents — a CartesianProduct or row-wise Python UDF
        # sneaking into an allowlisted query must still fail the gate.
        findings = [f for f in findings if "nested-loop" not in f]
    if name in GLOBAL_WINDOW_ALLOWLIST:
        # Likewise the global-window allowlist waives ONLY the documented
        # bounded-frame windows.
        findings = [f for f in findings if "global window" not in f]
    assert not findings, f"{name}: {findings}"


def test_sketch_kmv_reuses_one_orders_scan(spark, sf_dir, monkeypatch):
    """sketch_kmv's one collect shares the membership shuffle across its
    three branches through ReusedExchange, so orders is scanned once. The
    reuse only fires while each branch's filter keeps its tautological
    reference to the other flag (``statsq.sketch_kmv``); a Spark version
    that prunes it would fall back to three scans."""
    from pyspark.sql.classic.dataframe import DataFrame

    collected = []
    collect = DataFrame.collect

    def spy(self):
        collected.append(self)
        return collect(self)

    monkeypatch.setattr(DataFrame, "collect", spy)
    REGISTRY["sketch_kmv"].fn(spark, sf_dir)
    assert len(collected) == 1
    plan = collected[0]._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final, plan
    scans = [line for line in final.splitlines() if "FileScan" in line]
    assert len(scans) == 1 and "orders" in scans[0], plan
