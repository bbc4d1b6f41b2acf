"""Unit tests for the round-12 evaluation/statistics wave —
classifier_eval (AUC / Mann-Whitney), psi_drift, moments_profile —
hand-computed pins; the sf-scale DuckDB oracle checks live in
test_oracle (qx112/qx113/qx114)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from strategicai_visibility_loop_etl_spark.operators.aggregate import (
    moments_profile,
)
from strategicai_visibility_loop_etl_spark.operators.drift import psi_drift
from strategicai_visibility_loop_etl_spark.operators.scorer import (
    classifier_eval,
)


def _scored(spark, rows):
    return spark.createDataFrame(rows, "g string, score double, label int")


# ---------------------------------------------------------------- AUC


def test_auc_perfect_separation(spark):
    rows = [("a", float(s), 1 if s >= 10 else 0) for s in range(20)]
    out = classifier_eval(_scored(spark, rows), "score", "label", ["g"]).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_pos"] == 10 and r["n_neg"] == 10
    assert r["auc"] == 1.0
    assert r["u_stat"] == 100.0  # n_pos * n_neg
    assert r["z"] > 3.0


def test_auc_reversed_is_zero(spark):
    rows = [("a", float(s), 0 if s >= 10 else 1) for s in range(20)]
    r = classifier_eval(_scored(spark, rows), "score", "label", ["g"]).collect()[0]
    assert r["auc"] == 0.0
    assert r["u_stat"] == 0.0
    assert r["z"] < -3.0


def test_auc_all_tied_is_half(spark):
    rows = [("a", 1.0, i % 2) for i in range(10)]
    r = classifier_eval(_scored(spark, rows), "score", "label", ["g"]).collect()[0]
    assert r["auc"] == 0.5
    # Every comparison is a tie -> U = n_pos*n_neg/2; variance is 0
    # (single tie group of size n), so z must be NULL, not a 0/0.
    assert r["u_stat"] == 12.5
    assert r["z"] is None


def test_auc_hand_case_with_ties(spark):
    # scores [1,1,2,3], labels [0,1,0,1]: avg ranks 1.5,1.5,3,4.
    # R_pos = 1.5+4 = 5.5 -> AUC = (5.5 - 3)/4 = 0.625, U = 2.5.
    rows = [("a", 1.0, 0), ("a", 1.0, 1), ("a", 2.0, 0), ("a", 3.0, 1)]
    r = classifier_eval(_scored(spark, rows), "score", "label", ["g"]).collect()[0]
    assert r["auc"] == 0.625
    assert r["u_stat"] == 2.5


def test_auc_single_class_null_metrics(spark):
    rows = [("a", float(s), 1) for s in range(5)]
    r = classifier_eval(_scored(spark, rows), "score", "label", ["g"]).collect()[0]
    assert r["n_pos"] == 5 and r["n_neg"] == 0
    assert r["auc"] is None and r["u_stat"] is None and r["z"] is None


def test_auc_null_rows_excluded_and_groups_independent(spark):
    rows = [
        ("a", 0.0, 1), ("a", 1.0, 0),          # AUC 0 in group a
        ("b", 0.0, 0), ("b", 1.0, 1),          # AUC 1 in group b
        ("a", None, 1), ("b", 2.0, None),      # excluded
    ]
    out = {r["g"]: r for r in classifier_eval(
        _scored(spark, rows), "score", "label", ["g"]).collect()}
    assert out["a"]["auc"] == 0.0 and out["a"]["n"] == 2
    assert out["b"]["auc"] == 1.0 and out["b"]["n"] == 2


# ---------------------------------------------------------------- PSI


def _vals(spark, rows):
    return spark.createDataFrame(rows, "g string, v double")


def test_psi_identical_distribution_near_zero(spark):
    base = _vals(spark, [("x", float(i)) for i in range(100)])
    cur = _vals(spark, [("s", float(i)) for i in range(100)])
    r = psi_drift(cur, "v", ["g"], baseline=base).collect()[0]
    assert r["n_cur"] == 100 and r["n_base"] == 100
    assert 0.0 <= r["psi"] < 1e-6


def test_psi_shifted_distribution_large(spark):
    base = _vals(spark, [("x", float(i)) for i in range(100)])
    shifted = _vals(spark, [("s", float(i) + 1000.0) for i in range(100)])
    r = psi_drift(shifted, "v", ["g"], baseline=base).collect()[0]
    # Everything lands in the top bin: classic "action required" PSI.
    assert r["psi"] > 1.0


def test_psi_groups_ranked_by_drift(spark):
    base = _vals(spark, [("x", float(i)) for i in range(200)])
    cur = _vals(
        spark,
        [("same", float(i)) for i in range(200)]
        + [("skew", float(i % 20)) for i in range(200)],
    )
    out = {r["g"]: r["psi"] for r in
           psi_drift(cur, "v", ["g"], baseline=base).collect()}
    assert out["skew"] > out["same"]


def test_psi_rejects_degenerate_bins(spark):
    df = _vals(spark, [("a", 1.0)])
    with pytest.raises(ValueError):
        psi_drift(df, "v", ["g"], n_bins=1)


# ------------------------------------------------------------ moments


def test_moments_hand_case(spark):
    # [1..5]: mean 3, sample std sqrt(2.5), m3=0 -> skew 0;
    # m4 = 6.8, g2 = 6.8/4 - 3 = -1.3 -> G2 = ((6)(-1.3)+6)*4/6 = -1.2
    df = _vals(spark, [("a", float(i)) for i in range(1, 6)])
    r = moments_profile(df, "v", ["g"]).collect()[0]
    assert r["n"] == 5
    assert r["mean"] == 3.0
    assert abs(r["std"] - math.sqrt(2.5)) < 1e-6
    assert r["skewness"] == 0.0
    assert abs(r["kurtosis"] - (-1.2)) < 1e-9


def test_moments_right_skewed_positive(spark):
    df = _vals(spark, [("a", v) for v in [1.0] * 20 + [100.0]])
    r = moments_profile(df, "v", ["g"]).collect()[0]
    assert r["skewness"] > 3.0
    assert r["kurtosis"] > 10.0


def test_moments_degenerate_groups(spark):
    rows = (
        [("n2", 1.0), ("n2", 2.0)]                     # n<3: no skew
        + [("n3", 1.0), ("n3", 2.0), ("n3", 4.0)]      # n<4: no kurt
        + [("const", 7.0)] * 6                         # zero variance
    )
    out = {r["g"]: r for r in moments_profile(_vals(spark, rows), "v", ["g"]).collect()}
    assert out["n2"]["skewness"] is None and out["n2"]["kurtosis"] is None
    assert out["n2"]["std"] is not None
    assert out["n3"]["skewness"] is not None
    assert out["n3"]["kurtosis"] is None
    assert out["const"]["skewness"] is None
    assert out["const"]["kurtosis"] is None
    assert out["const"]["std"] == 0.0


def test_moments_small_constant_group_exact_null(spark):
    # r12 ADVICE class: 6dp power rounding rounds 0.0009^2 = 8.1e-7
    # UP to 1e-6, making the raw-sum m2 a positive artifact — the
    # exact min==max constant guard must still report std 0 and NULL
    # shape, not rounding-noise skew.
    rows = [("tiny", 0.0009)] * 8
    r = moments_profile(_vals(spark, rows), "v", ["g"]).collect()[0]
    assert r["std"] == 0.0
    assert r["skewness"] is None and r["kurtosis"] is None


def test_moments_plan_single_group_exchange(spark):
    # r12 VERDICT plan defect: the countDistinct constant guard
    # planned an Exchange hash-partitioned on (group, value) — a
    # corpus-sized shuffle. Pin the fix: every hashpartitioning
    # exchange keys on the group column ONLY.
    df = _vals(spark, [("a", float(i % 7)) for i in range(50)])
    plan = (
        moments_profile(df, "v", ["g"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # One hash exchange (the group aggregate); the final orderBy adds
    # a rangepartitioning exchange, never a second hash one.
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_moments_null_values_excluded(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 5.0)],
        "g string, v double",
    )
    r = moments_profile(df, "v", ["g"]).collect()[0]
    assert r["n"] == 5 and r["mean"] == 3.0


# ---------------------------------------------------------------- ACF

from strategicai_visibility_loop_etl_spark.operators.timeseries import (  # noqa: E402
    autocorrelation,
    cusum_changepoints,
)


def _series(spark, rows):
    return spark.createDataFrame(rows, "g string, t long, v double")


def test_acf_alternating_series(spark):
    # x = +1,-1,+1,... : mean 0, r_1 = -1, r_2 = +1 (up to the n-k/n
    # taper of the raw-sum estimator with full-series denominator).
    rows = [("a", t, 1.0 if t % 2 == 0 else -1.0) for t in range(40)]
    out = {r["lag"]: r for r in
           autocorrelation(_series(spark, rows), ["g"], "t", "v", max_lag=2).collect()}
    assert out[1]["n_pairs"] == 39 and out[2]["n_pairs"] == 38
    assert out[1]["r"] == pytest.approx(-39 / 40, abs=1e-6)
    assert out[2]["r"] == pytest.approx(38 / 40, abs=1e-6)


def test_acf_period_7_peak(spark):
    # A clean period-7 signal: r_7 must dominate every shorter lag.
    rows = [("a", t, float(t % 7)) for t in range(70)]
    out = {r["lag"]: r["r"] for r in
           autocorrelation(_series(spark, rows), ["g"], "t", "v", max_lag=7).collect()}
    assert out[7] > 0.8
    assert all(out[7] > out[k] for k in range(1, 7))


def test_acf_constant_series_null(spark):
    rows = [("a", t, 5.0) for t in range(10)]
    out = autocorrelation(_series(spark, rows), ["g"], "t", "v", max_lag=3).collect()
    assert all(r["r"] is None for r in out)


def test_acf_small_constant_series_exact_null(spark):
    # r12 ADVICE: constant 0.0009 — round(x*x, 6) rounds 8.1e-7 UP to
    # 1e-6, so den = s2 - n*mean^2 was a positive rounding artifact
    # and r_k a spurious n_pairs/n. The exact min==max guard must
    # report NULL at every lag.
    rows = [("a", t, 0.0009) for t in range(10)]
    out = autocorrelation(_series(spark, rows), ["g"], "t", "v", max_lag=3).collect()
    assert all(r["r"] is None for r in out)
    assert out[0]["n_pairs"] == 9


def test_acf_short_series_lags_null(spark):
    rows = [("a", 0, 1.0), ("a", 1, 2.0), ("a", 2, 1.5)]
    out = {r["lag"]: r for r in
           autocorrelation(_series(spark, rows), ["g"], "t", "v", max_lag=5).collect()}
    assert out[3]["n_pairs"] == 0 and out[3]["r"] is None
    assert out[5]["n_pairs"] == 0 and out[5]["r"] is None
    assert out[1]["n_pairs"] == 2


def test_acf_rejects_bad_lag(spark):
    with pytest.raises(ValueError):
        autocorrelation(_series(spark, [("a", 0, 1.0)]), ["g"], "t", "v", max_lag=0)


# -------------------------------------------------------------- CUSUM


def test_cusum_level_shift_sides_split_at_change(spark):
    # 30 points then a sustained +3 shift. The baseline is the
    # series' OWN mean (self-baselined form), which sits between the
    # halves — so the low half drives the NEGATIVE sum and the high
    # half the POSITIVE sum, and the detector flags both regimes on
    # the correct side of the changepoint.
    base = [0.0, 1.0, -1.0, 0.5, -0.5] * 6
    rows = [("a", t, v) for t, v in enumerate(base)]
    rows += [("a", 30 + t, v + 3.0) for t, v in enumerate(base)]
    out = cusum_changepoints(_series(spark, rows), ["g"], "t", "v").collect()
    pre = [r for r in out if r["t"] < 30]
    post = [r for r in out if r["t"] >= 30]
    # The positive sum never moves in the low half...
    assert all(r["cusum_pos"] == 0.0 for r in pre)
    # ...and integrates to an alarm in the high half.
    assert any(r["alarm"] and r["cusum_pos"] > 0 for r in post)
    # The carried-over negative sum drains once the shift starts and
    # stays at zero for the rest of the high half.
    assert all(r["cusum_neg"] == 0.0 for r in post[15:])
    # Any pre-shift alarm is the negative side seeing the low regime.
    assert all(r["cusum_neg"] > 0 for r in pre if r["alarm"])


def test_cusum_in_control_never_alarms(spark):
    rows = [("a", t, float((t * 7) % 5) - 2.0) for t in range(50)]
    out = cusum_changepoints(_series(spark, rows), ["g"], "t", "v").collect()
    assert not any(r["alarm"] for r in out)


def test_cusum_degenerate_groups_null(spark):
    rows = [("one", 0, 1.0)] + [("const", t, 3.0) for t in range(5)]
    out = cusum_changepoints(_series(spark, rows), ["g"], "t", "v").collect()
    for r in out:
        assert r["cusum_pos"] is None and r["cusum_neg"] is None
        assert r["alarm"] is False


def test_cusum_small_constant_series_exact_null(spark):
    # r12 ADVICE: constant 0.0009 — 6dp square rounding made var_num
    # a positive artifact, so sd was spuriously non-NULL (~0.00046)
    # and the group emitted 0.0 cusums instead of the documented NULL
    # for zero-variance series. The exact min==max guard fixes it.
    rows = [("a", t, 0.0009) for t in range(10)]
    out = cusum_changepoints(_series(spark, rows), ["g"], "t", "v").collect()
    assert len(out) == 10
    for r in out:
        assert r["cusum_pos"] is None and r["cusum_neg"] is None
        assert r["alarm"] is False


def test_cusum_symmetric_downward_shift(spark):
    base = [0.0, 1.0, -1.0, 0.5, -0.5] * 6
    rows = [("a", t, v) for t, v in enumerate(base)]
    rows += [("a", 30 + t, v - 3.0) for t, v in enumerate(base)]
    out = cusum_changepoints(_series(spark, rows), ["g"], "t", "v").collect()
    post = [r for r in out if r["t"] >= 30]
    assert any(r["alarm"] and r["cusum_neg"] > 0 for r in post)


# ---------------------------------------------------------------- BFS

from strategicai_visibility_loop_etl_spark.operators.graph import (  # noqa: E402
    bfs_distances,
)
from strategicai_visibility_loop_etl_spark.operators.sketch import (  # noqa: E402
    kmv_merge_estimate,
    kmv_shard_sketches,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _seeds(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def test_bfs_path_graph_distances(spark):
    # 0-1-2-3-4-5 path, seed {0}: dist == node id, capped by iters.
    e = _edges(spark, [(i, i + 1) for i in range(5)])
    out = {r["id"]: r["dist"] for r in
           bfs_distances(e, _seeds(spark, [0]), iters=3).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: 3}  # 4,5 beyond horizon


def test_bfs_multi_source_takes_min(spark):
    e = _edges(spark, [(i, i + 1) for i in range(10)])
    out = {r["id"]: r["dist"] for r in
           bfs_distances(e, _seeds(spark, [0, 10]), iters=4).collect()}
    # node 5 is 5 hops from BOTH seeds: beyond the 4-hop horizon.
    assert 5 not in out
    # node 7: 3 hops from 10, 7 from 0 -> min is 3
    assert out[7] == 3
    assert out[4] == 4 and out[6] == 4
    assert out[0] == 0 and out[10] == 0


def test_bfs_walks_edges_both_ways(spark):
    # seed 2 has no out-edges; edges are undirected, so it still
    # reaches 1 and 0 against the stored direction
    e = _edges(spark, [(0, 1), (1, 2)])
    out = {r["id"]: r["dist"] for r in
           bfs_distances(e, _seeds(spark, [2]), iters=3).collect()}
    assert out == {2: 0, 1: 1, 0: 2}


def test_bfs_extra_rounds_are_noops(spark):
    e = _edges(spark, [(i, i + 1) for i in range(6)])
    d4 = {(r["id"], r["dist"]) for r in
          bfs_distances(e, _seeds(spark, [0]), iters=6).collect()}
    d8 = {(r["id"], r["dist"]) for r in
          bfs_distances(e, _seeds(spark, [0]), iters=9).collect()}
    assert d4 == d8  # converged: extra rounds change nothing


def test_bfs_rejects_negative_iters(spark):
    with pytest.raises(ValueError):
        bfs_distances(_edges(spark, [(0, 1)]), _seeds(spark, [0]), iters=-1)


# ---------------------------------------------------------------- KMV


def _valdf(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "v string")


def test_kmv_small_set_is_exact(spark):
    df = _valdf(spark, [f"u{i}" for i in range(10)] * 3)
    sk = kmv_shard_sketches(df, "v", k=64)
    r = kmv_merge_estimate(sk, k=64).collect()[0]
    assert r["n_kept"] == 10
    assert r["est"] == 10.0


def test_kmv_merge_equals_sketch_of_union(spark):
    vals = [f"user-{i}" for i in range(500)]
    df = spark.createDataFrame(
        [(v, i % 3) for i, v in enumerate(vals)], "v string, sh int"
    )
    sharded = kmv_shard_sketches(df, "v", k=32, shard_col=F.col("sh"))
    merged = kmv_merge_estimate(sharded, k=32).collect()[0]
    single = kmv_merge_estimate(
        kmv_shard_sketches(df, "v", k=32), k=32
    ).collect()[0]
    assert merged["v_k"] == single["v_k"]
    assert merged["est"] == single["est"]


def test_kmv_estimate_in_sane_band(spark):
    n = 2000
    df = _valdf(spark, [f"value-{i}" for i in range(n)])
    r = kmv_merge_estimate(kmv_shard_sketches(df, "v", k=128), k=128).collect()[0]
    # KMV with k=128: relative sigma ~ 1/sqrt(k-2) ~ 9%; allow 4 sigma.
    assert 0.6 * n < r["est"] < 1.5 * n


def test_kmv_rejects_degenerate_k(spark):
    df = _valdf(spark, ["a"])
    with pytest.raises(ValueError):
        kmv_shard_sketches(df, "v", k=1)
    with pytest.raises(ValueError):
        kmv_merge_estimate(df.selectExpr("1 as h"), k=1)


# --------------------------------------------------------- t-closeness

from strategicai_visibility_loop_etl_spark.operators.governance import (  # noqa: E402
    t_closeness_violations,
)
from strategicai_visibility_loop_etl_spark.operators.retrieval import (  # noqa: E402
    rank_fusion,
    retrieval_eval,
)


def test_t_closeness_skewed_class_flagged(spark):
    # Global: 50/50 A-B. Class "skew" is all-A (tvd 0.5); class
    # "fair" mirrors the global distribution (tvd 0).
    rows = [("fair", "A")] * 25 + [("fair", "B")] * 25
    rows += [("skew", "A")] * 50
    # Rebalance global: add a hidden all-B class so global stays 50/50.
    rows += [("other", "B")] * 50
    df = spark.createDataFrame(rows, "q string, s string")
    out = {r["q"]: r for r in
           t_closeness_violations(df, ["q"], "s", t=0.2).collect()}
    assert "fair" not in out
    assert out["skew"]["tvd"] == 0.5
    assert out["other"]["tvd"] == 0.5


def test_t_closeness_null_sensitive_excluded(spark):
    rows = [("a", "A"), ("a", "B"), ("a", None), ("b", "A"), ("b", "B")]
    df = spark.createDataFrame(rows, "q string, s string")
    out = t_closeness_violations(df, ["q"], "s", t=0.4).collect()
    assert out == []  # both classes match the global 50/50


def test_t_closeness_rejects_bad_t(spark):
    df = spark.createDataFrame([("a", "A")], "q string, s string")
    with pytest.raises(ValueError):
        t_closeness_violations(df, ["q"], "s", t=0.0)


# ---------------------------------------------------------------- RRF


def _rankings(spark, rows):
    return spark.createDataFrame(rows, "query string, doc long, rank int")


def test_rrf_hand_scores_and_tiebreak(spark):
    # doc 1 is ranked 2nd by both rankers; docs 2 and 3 each take one
    # first and one third. RRF: doc1 = 2/62, doc2 = doc3 = 1/61+1/63 —
    # which EXCEEDS 2/62 (reciprocals are convex), so the split-rank
    # docs tie at the top and break on doc id; doc 1 lands third.
    rows = [("q", 2, 1), ("q", 1, 2), ("q", 3, 3),
            ("q", 3, 1), ("q", 1, 2), ("q", 2, 3)]
    out = rank_fusion(_rankings(spark, rows), top_k=3).collect()
    assert [r["doc"] for r in out] == [2, 3, 1]
    assert all(r["n_rankers"] == 2 for r in out)
    assert out[0]["rrf"] == pytest.approx(
        round(1 / 61, 9) + round(1 / 63, 9), abs=1e-12
    )
    assert out[2]["rrf"] == pytest.approx(2 * round(1 / 62, 9), abs=1e-12)


def test_rrf_top_k_cut_and_missing_docs(spark):
    # Ranker B never saw docs 4..10: they fuse on one term only.
    rows = [("q", d, d) for d in range(1, 11)]
    rows += [("q", 1, 1), ("q", 2, 2), ("q", 3, 3)]
    out = rank_fusion(_rankings(spark, rows), top_k=5).collect()
    assert len(out) == 5
    assert [r["fused_rank"] for r in out] == [1, 2, 3, 4, 5]
    assert out[3]["n_rankers"] == 1  # doc 4 onward: single ranker


def test_rrf_rejects_bad_params(spark):
    df = _rankings(spark, [("q", 1, 1)])
    with pytest.raises(ValueError):
        rank_fusion(df, k_const=0)
    with pytest.raises(ValueError):
        rank_fusion(df, top_k=0)


# ----------------------------------------------------- retrieval eval


def test_retrieval_eval_perfect_ranking(spark):
    results = spark.createDataFrame(
        [("q", d, d) for d in range(1, 11)], "query string, doc long, rank int"
    )
    truth = spark.createDataFrame(
        [("q", 1, 3), ("q", 2, 2), ("q", 3, 1)], "query string, doc long, rel int"
    )
    r = retrieval_eval(results, truth, k=10).collect()[0]
    assert r["ndcg_at_10"] == 1.0  # results order == ideal order
    assert r["precision_at_10"] == 0.3
    assert r["recall_at_10"] == 1.0
    assert r["mrr"] == 1.0
    assert r["n_relevant"] == 3


def test_retrieval_eval_relevant_beyond_k(spark):
    results = spark.createDataFrame(
        [("q", 99, 1)], "query string, doc long, rank int"
    )
    truth = spark.createDataFrame(
        [("q", 1, 1), ("q", 2, 1)], "query string, doc long, rel int"
    )
    r = retrieval_eval(results, truth, k=10).collect()[0]
    assert r["precision_at_10"] == 0.0
    assert r["recall_at_10"] == 0.0
    assert r["ndcg_at_10"] == 0.0
    assert r["mrr"] == 0.0


def test_retrieval_eval_no_labels_null_ndcg(spark):
    results = spark.createDataFrame(
        [("q", 1, 1)], "query string, doc long, rank int"
    )
    truth = spark.createDataFrame(
        [("other", 1, 1)], "query string, doc long, rel int"
    )
    out = {r["query"]: r for r in retrieval_eval(results, truth, k=10).collect()}
    assert out["q"]["ndcg_at_10"] is None
    assert out["q"]["recall_at_10"] is None
    assert out["q"]["precision_at_10"] == 0.0
    # Query present only in truth: everything missed.
    assert out["other"]["recall_at_10"] == 0.0
    assert out["other"]["precision_at_10"] == 0.0


def test_retrieval_eval_mid_rank_hit(spark):
    # Single relevant doc found at rank 3: MRR = 1/3, NDCG =
    # log2(2)/log2(4) = 0.5.
    results = spark.createDataFrame(
        [("q", d, d) for d in range(1, 6)], "query string, doc long, rank int"
    )
    truth = spark.createDataFrame(
        [("q", 3, 1)], "query string, doc long, rel int"
    )
    r = retrieval_eval(results, truth, k=5).collect()[0]
    assert r["mrr"] == pytest.approx(1 / 3, abs=1e-9)
    assert r["ndcg_at_5"] == 0.5


# ----------------------------------------------------------- Holt/MK

from strategicai_visibility_loop_etl_spark.operators.aggregate import (  # noqa: E402
    mann_kendall,
)
from strategicai_visibility_loop_etl_spark.operators.expectations import (  # noqa: E402
    benford_audit,
)
from strategicai_visibility_loop_etl_spark.operators.timeseries import (  # noqa: E402
    holt_smooth,
)


def test_holt_tracks_linear_trend(spark):
    # On x_t = 2t the trend estimate must converge to 2 and the
    # one-step forecast error shrink toward 0; a plain EWMA would lag
    # by a constant forever.
    rows = [("a", t, 2.0 * t) for t in range(60)]
    out = sorted(
        holt_smooth(_series(spark, rows), ["g"], "t", "v").collect(),
        key=lambda r: r["t"],
    )
    assert out[0]["level"] == 0.0 and out[0]["trend"] == 0.0
    assert out[0]["forecast"] is None and out[0]["residual"] is None
    tail = out[-1]
    assert abs(tail["trend"] - 2.0) < 0.05
    assert abs(tail["residual"]) < 0.2


def test_holt_recurrence_hand_step(spark):
    # x = [10, 14]: l1=10, b1=0; step 2 with a=.5, b=.3:
    # f2 = 10, l2 = .5*14 + .5*10 = 12, b2 = .3*(12-10) = 0.6, r2 = 4.
    rows = [("a", 0, 10.0), ("a", 1, 14.0)]
    out = sorted(
        holt_smooth(_series(spark, rows), ["g"], "t", "v").collect(),
        key=lambda r: r["t"],
    )
    assert out[1]["forecast"] == 10.0
    assert out[1]["level"] == 12.0
    assert abs(out[1]["trend"] - 0.6) < 1e-12
    assert out[1]["residual"] == 4.0


def test_holt_rejects_bad_params(spark):
    df = _series(spark, [("a", 0, 1.0)])
    with pytest.raises(ValueError):
        holt_smooth(df, ["g"], "t", "v", alpha=0.0)
    with pytest.raises(ValueError):
        holt_smooth(df, ["g"], "t", "v", beta=1.5)


def test_mann_kendall_monotone_series(spark):
    rows = [("up", t, float(t)) for t in range(20)]
    rows += [("down", t, float(-t)) for t in range(20)]
    rows += [("flat", t, 5.0) for t in range(20)]
    out = {r["g"]: r for r in
           mann_kendall(_series(spark, rows), ["g"], "t", "v").collect()}
    assert out["up"]["s_stat"] == 190 and out["up"]["trend"] == "increasing"
    assert out["down"]["s_stat"] == -190 and out["down"]["trend"] == "decreasing"
    # All-tied series: S=0 and the tie correction zeroes the variance.
    assert out["flat"]["s_stat"] == 0 and out["flat"]["trend"] == "no_trend"
    assert out["flat"]["z"] is None


def test_mann_kendall_noise_no_trend(spark):
    rows = [("a", t, float((t * 7) % 11)) for t in range(25)]
    r = mann_kendall(_series(spark, rows), ["g"], "t", "v").collect()[0]
    assert r["trend"] == "no_trend"
    assert abs(r["z"]) < 1.96


# -------------------------------------------------------------- Benford


def test_benford_conforming_vs_uniform(spark):
    # Geometric-ish spread (2^k scaled) conforms far better than a
    # constant-first-digit feed.
    import random
    rnd = random.Random(7)
    rows = [("geo", (1.0001 ** rnd.randint(0, 60000)))
            for _ in range(3000)]
    rows += [("flat", 100.0 + rnd.random()) for _ in range(3000)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in benford_audit(df, "v", ["g"]).collect()}
    assert out["geo"]["mad"] < 0.04
    assert out["flat"]["mad"] > 0.1
    assert out["flat"]["chi2"] > out["geo"]["chi2"] * 10


def test_benford_digit_extraction_edges(spark):
    # 0 excluded; negatives use |x|; sub-unit values still yield
    # their first significant digit through the 6dp integer scale.
    rows = [("a", 0.0), ("a", -912.5), ("a", 0.00042), ("a", 7.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = benford_audit(df, "v", ["g"]).collect()[0]
    assert r["n"] == 3  # the zero dropped


# ------------------------------------------------------- paths / kNN

from strategicai_visibility_loop_etl_spark.operators.relational import (  # noqa: E402
    common_paths,
)
from strategicai_visibility_loop_etl_spark.operators.scorer import (  # noqa: E402
    calibration_report,
)
from strategicai_visibility_loop_etl_spark.operators.similarity import (  # noqa: E402
    knn_label_audit,
)
from strategicai_visibility_loop_etl_spark.operators.timeseries import (  # noqa: E402
    time_weighted_mean,
)


def test_common_paths_counts_and_order(spark):
    # Two users walk a>b>c>d (paths a>b>c and b>c>d once each); a
    # third loops a>b>c>a>b>c: path a>b>c leads with 4 occurrences
    # but only 3 distinct users.
    rows = []
    for u in (1, 2):
        for i, e in enumerate(["a", "b", "c", "d"]):
            rows.append((u, i, i, e))
    for i, e in enumerate(["a", "b", "c", "a", "b", "c"]):
        rows.append((3, i, i, e))
    df = spark.createDataFrame(rows, "u long, t long, eid long, e string")
    out = common_paths(df, "u", "t", "e", n=3, top_k=10, tiebreak_col="eid").collect()
    top = out[0]
    assert top["path"] == "a>b>c"
    assert top["n_occurrences"] == 4 and top["n_users"] == 3
    paths = {r["path"] for r in out}
    assert "b>c>a" in paths  # the loop's crossing window
    assert all(r["path"].count(">") == 2 for r in out)


def test_common_paths_short_streams_drop(spark):
    df = spark.createDataFrame(
        [(1, 0, 0, "a"), (1, 1, 1, "b")], "u long, t long, eid long, e string"
    )
    assert common_paths(df, "u", "t", "e", n=3, top_k=5, tiebreak_col="eid").collect() == []


def test_common_paths_rejects_bad_n(spark):
    df = spark.createDataFrame([(1, 0, 0, "a")], "u long, t long, eid long, e string")
    with pytest.raises(ValueError):
        common_paths(df, "u", "t", "e", n=1)


def _embs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")


def test_knn_audit_flags_planted_mislabel(spark):
    # Two tight clusters; one point in cluster A carries cluster B's
    # label and must be flagged; its same-cluster peers must not be.
    rows = []
    for i in range(6):
        rows.append((i, [1.0, 0.01 * i], 0))
    for i in range(6, 12):
        rows.append((i, [0.01 * (i - 6), 1.0], 1))
    rows.append((99, [1.0, 0.02], 1))  # mislabeled A-cluster point
    out = {r["vec_id"]: r for r in knn_label_audit(_embs(spark, rows), k=5).collect()}
    assert out[99]["flagged"] is True and out[99]["majority_label"] == 0
    assert out[0]["flagged"] is False
    assert all(r["n_neighbors"] == 5 for r in out.values())


def test_knn_audit_excludes_self_despite_duplicates(spark):
    # Exact duplicate vectors: self must still be excluded, k rows kept.
    rows = [(i, [1.0, 0.0], 0) for i in range(4)] + [(10, [0.0, 1.0], 1)]
    out = {r["vec_id"]: r for r in knn_label_audit(_embs(spark, rows), k=3).collect()}
    assert out[0]["n_neighbors"] == 3
    assert out[0]["majority_label"] == 0  # the three other duplicates win
    assert out[10]["flagged"] is True  # its neighbors are all label 0


def test_knn_audit_ivf_full_probe_equals_brute(spark, tmp_path):
    """The IVF leg with n_probe == n_centroids probes every inverted
    list, so its candidate set is the whole labeled corpus and the
    audit output must be IDENTICAL to the brute leg — the equivalence
    pin behind registering qx126 on the IVF path (at scale n_probe <
    n_centroids trades exactness for a ~n_probe/n_centroids scan).
    Also pins the method-name contract."""
    rows = []
    for i in range(6):
        rows.append((i, [1.0, 0.01 * i], 0))
    for i in range(6, 12):
        rows.append((i, [0.01 * (i - 6), 1.0], 1))
    rows.append((99, [1.0, 0.02], 1))
    emb = _embs(spark, rows)
    brute = sorted(map(tuple, knn_label_audit(emb, k=5).collect()))
    ivf = sorted(
        map(
            tuple,
            knn_label_audit(
                emb,
                k=5,
                method="ivf",
                n_centroids=4,
                n_probe=4,
                stage_path=str(tmp_path / "knnaudit"),
            ).collect(),
        )
    )
    assert brute == ivf and len(brute) == 13

    with pytest.raises(ValueError, match="brute"):
        knn_label_audit(emb, method="exact")


# -------------------------------------------------------- calibration


def test_calibration_perfect_and_off(spark):
    # Bin 2 (p=0.25) observed at 25% -> gap 0; bin 7 (p=0.75)
    # observed at 25% -> gap 0.5. ECE = weighted mean of gaps.
    rows = [(0.25, 1 if i % 4 == 0 else 0) for i in range(40)]
    rows += [(0.75, 1 if i % 4 == 0 else 0) for i in range(40)]
    df = spark.createDataFrame(rows, "p double, y int")
    out = {r["bin"]: r for r in calibration_report(df, "p", "y").collect()}
    assert set(out) == {2, 7}
    assert out[2]["gap"] == 0.0
    assert out[7]["gap"] == 0.5
    assert out[2]["ece"] == 0.25  # (40*0 + 40*0.5) / 80
    assert out[2]["n_total"] == 80
    # Brier: bin2 terms mean((0.25-y)^2)=0.1875*... hand: 10*(0.75^2)+30*(0.25^2)
    # per 40 rows = (5.625+1.875)/40; bin7 10*(0.25)^2+30*(0.75)^2 = (0.625+16.875)/40
    expected_brier = round((10 * 0.75**2 + 30 * 0.25**2
                            + 10 * 0.25**2 + 30 * 0.75**2) / 80, 6)
    assert out[2]["brier"] == expected_brier


def test_calibration_edge_probabilities_clamped(spark):
    df = spark.createDataFrame(
        [(0.0, 0), (1.0, 1), (0.999, 1)], "p double, y int"
    )
    out = {r["bin"]: r for r in calibration_report(df, "p", "y").collect()}
    assert 0 in out and 9 in out
    assert out[9]["n"] == 2  # p=1.0 clamps into the top bin


def test_calibration_rejects_bad_bins(spark):
    df = spark.createDataFrame([(0.5, 1)], "p double, y int")
    with pytest.raises(ValueError):
        calibration_report(df, "p", "y", n_bins=1)


# ---------------------------------------------------------------- TWA


def test_twa_burst_vs_uniform(spark):
    # Value 10 holds for 9 time units, then a burst of 1s in one
    # unit: TWA stays near 10 while the row mean collapses.
    rows = [("a", 0, 10.0)]
    rows += [("a", 9 + i, 1.0) for i in range(5)]
    df = spark.createDataFrame(rows, "g string, t long, v double")
    r = time_weighted_mean(df, ["g"], "t", "v").collect()[0]
    # weighted: 10*9 + 1*4 (last point no duration) over span 13
    assert r["twa"] == pytest.approx((10 * 9 + 4) / 13, abs=1e-6)
    assert r["row_mean"] == pytest.approx(2.5, abs=1e-9)
    assert r["span"] == 13 and r["n_points"] == 6


def test_twa_out_of_range_value_null_not_job_kill(spark):
    # r12 ADVICE: |x| >= 1e12 overflows the (18,6) product leg — under
    # ANSI mode an unguarded cast throws NUMERIC_VALUE_OUT_OF_RANGE
    # and kills the whole report. The row-level guard must instead
    # report NULL twa for the affected group, keep row_mean, and
    # leave other groups untouched.
    rows = [
        ("big", 0, 1.0e12), ("big", 10, 2.0),
        ("huge", 0, 1.0e23), ("huge", 10, 2.0),   # beyond the (28,6) leg
        ("nan", 0, float("nan")), ("nan", 10, 2.0),
        ("ok", 0, 10.0), ("ok", 9, 1.0), ("ok", 13, 1.0),
    ]
    df = spark.createDataFrame(rows, "g string, t long, v double")
    out = {r["g"]: r for r in time_weighted_mean(df, ["g"], "t", "v").collect()}
    # 1e12 nulls only the (18,6) twa leg; row_mean still reports.
    assert out["big"]["twa"] is None
    assert out["big"]["row_mean"] == pytest.approx(5.0e11 + 1.0, rel=1e-12)
    # 1e23 / NaN are outside BOTH legs: each nulls, neither job-kills.
    assert out["huge"]["twa"] is None and out["huge"]["row_mean"] is None
    assert out["nan"]["twa"] is None and out["nan"]["row_mean"] is None
    assert out["ok"]["twa"] == pytest.approx((10 * 9 + 1 * 4) / 13, abs=1e-6)


def test_twa_single_point_null(spark):
    df = spark.createDataFrame([("a", 5, 3.0)], "g string, t long, v double")
    r = time_weighted_mean(df, ["g"], "t", "v").collect()[0]
    assert r["twa"] is None and r["row_mean"] == 3.0


# ------------------------------------------- review-pass regressions


def test_t_closeness_null_quasi_class_reported(spark):
    # Review finding: a NULL-keyed quasi class that leaks must be
    # reported — the null-unsafe join-back silently dropped it.
    rows = [(None, "A")] * 50 + [("fair", "A")] * 25 + [("fair", "B")] * 25
    rows += [("other", "B")] * 50
    df = spark.createDataFrame(rows, "q string, s string")
    out = {r["q"]: r for r in
           t_closeness_violations(df, ["q"], "s", t=0.2).collect()}
    assert None in out and out[None]["tvd"] == 0.5
    assert "other" in out and "fair" not in out


def test_mann_kendall_null_group_keeps_real_s(spark):
    rows = [(None, t, float(t)) for t in range(20)]
    r = mann_kendall(
        spark.createDataFrame(rows, "g string, t long, v double"),
        ["g"], "t", "v",
    ).collect()[0]
    assert r["s_stat"] == 190
    assert r["trend"] == "increasing"


def test_psi_null_group_measures_real_drift(spark):
    base = _vals(spark, [("x", float(i)) for i in range(100)])
    cur = spark.createDataFrame(
        [(None, float(i) + 1000.0) for i in range(100)], "g string, v double"
    )
    r = psi_drift(cur, "v", ["g"], baseline=base).collect()[0]
    assert r["g"] is None
    assert r["psi"] > 3.0  # everything in the top bin, NOT the
    # all-bins-empty smoothing artifact (~2.18)


def test_cusum_null_group_rows_survive(spark):
    rows = [(None, t, float(t % 3)) for t in range(10)]
    out = cusum_changepoints(
        spark.createDataFrame(rows, "g string, t long, v double"),
        ["g"], "t", "v",
    ).collect()
    assert len(out) == 10
    assert all(r["cusum_pos"] is not None for r in out)


def test_moments_rounding_edge_constant_group(spark):
    # round(1.0005^2, 6) = 1.001 < 1.0005^2: the raw-sum m2 goes
    # slightly negative — std must be 0.0 (constant group), never NaN,
    # and skew/kurt must stay NULL instead of reporting rounding noise.
    df = _vals(spark, [("a", 1.0005)] * 6)
    r = moments_profile(df, "v", ["g"]).collect()[0]
    assert r["std"] == 0.0
    assert r["skewness"] is None and r["kurtosis"] is None


def test_benford_large_and_tiny_magnitudes(spark):
    # Review finding: |x| >= ~9.2e12 overflowed the BIGINT cast under
    # ANSI mode and killed the job; micro-values rounded to 0 and
    # silently vanished. Both magnitude branches must now count.
    rows = [("a", 1.23e13), ("a", 4.5e20), ("a", 1e-7), ("a", 7.0),
            ("a", 0.0), ("a", 1e35)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = benford_audit(df, "v", ["g"]).collect()[0]
    # zero and the out-of-window 1e35 excluded; the other four count.
    assert r["n"] == 4


# ------------------------------------------------- dictionary / ring

from strategicai_visibility_loop_etl_spark.operators.domains import (  # noqa: E402
    consistent_hash_assign,
    ring_positions,
)
from strategicai_visibility_loop_etl_spark.operators.drift import (  # noqa: E402
    js_divergence_pairs,
)
from strategicai_visibility_loop_etl_spark.operators.snapshot import (  # noqa: E402
    id_dictionary_build,
    id_dictionary_update,
)


def _keys(spark, ks):
    return spark.createDataFrame([(k,) for k in ks], "k string")


def test_dictionary_dense_sorted_and_stable(spark):
    d1 = id_dictionary_build(_keys(spark, ["m", "a", "z", "a"]), "k")
    rows = {r["key"]: r["key_id"] for r in d1.collect()}
    assert rows == {"a": 1, "m": 2, "z": 3}
    # Update with overlapping + new keys: old ids NEVER move, new
    # keys extend densely in sort order after max.
    d2 = id_dictionary_update(d1, _keys(spark, ["z", "b", "q"]), "k")
    rows2 = {r["key"]: r["key_id"] for r in d2.collect()}
    assert rows2 == {"a": 1, "m": 2, "z": 3, "b": 4, "q": 5}
    # Idempotent under redelivery.
    d3 = id_dictionary_update(d2, _keys(spark, ["b", "q"]), "k")
    assert {r["key"]: r["key_id"] for r in d3.collect()} == rows2


def test_dictionary_empty_start(spark):
    empty = id_dictionary_build(
        _keys(spark, []).filter(F.col("k").isNotNull()), "k"
    )
    d = id_dictionary_update(empty, _keys(spark, ["x", "a"]), "k")
    assert {r["key"]: r["key_id"] for r in d.collect()} == {"a": 1, "x": 2}


def test_chash_minimal_disruption(spark):
    keys = _keys(spark, [f"host{i}.example" for i in range(300)])
    four = {r["k"]: r["node"] for r in consistent_hash_assign(
        keys, "k", ["node-a", "node-b", "node-c", "node-d"]).collect()}
    three = {r["k"]: r["node"] for r in consistent_hash_assign(
        keys, "k", ["node-a", "node-b", "node-c"]).collect()}
    moved = {k for k in four if four[k] != three[k]}
    # Removing node-d moves EXACTLY node-d's keys, nothing else.
    assert moved == {k for k, n in four.items() if n == "node-d"}
    assert len(moved) > 0
    # Reasonable balance with 16 vnodes over 300 keys.
    from collections import Counter
    c = Counter(four.values())
    assert len(c) == 4 and max(c.values()) < 0.55 * 300


def test_chash_rejects_bad_args(spark):
    with pytest.raises(ValueError):
        ring_positions([], 16)
    with pytest.raises(ValueError):
        ring_positions(["a"], 0)


def test_ring_positions_deterministic_sorted():
    r1 = ring_positions(["a", "b"], 8)
    r2 = ring_positions(["b", "a"], 8)
    assert r1 == r2 == sorted(r1)
    assert len(r1) == 16


# ----------------------------------------------------------------- JS


def test_js_identical_groups_near_zero_and_symmetric_bound(spark):
    rows = [(i, "p", "alpha beta gamma") for i in range(20)]
    rows += [(100 + i, "q", "alpha beta gamma") for i in range(20)]
    rows += [(200 + i, "r", "omega psi chi phi") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, g string, text string")
    out = {(r["group_a"], r["group_b"]): r for r in
           js_divergence_pairs(df, "g").collect()}
    assert set(out) == {("p", "q"), ("p", "r"), ("q", "r")}
    # identical distributions: near zero
    assert 0.0 <= out[("p", "q")]["js"] < 1e-3
    # disjoint vocabularies: high js_norm (add-one smoothing over the
    # shared 7-term vocab keeps it off the exact ln 2 bound)
    assert out[("p", "r")]["js_norm"] > 0.6
    assert out[("p", "r")]["js_norm"] <= 1.0
    # symmetry is structural (canonical pair order); divergent pair
    # dominates the identical pair
    assert out[("p", "r")]["js"] > out[("p", "q")]["js"] * 100


def test_js_counts_and_union(spark):
    rows = [(1, "a", "x y"), (2, "b", "y z")]
    df = spark.createDataFrame(rows, "doc_id long, g string, text string")
    r = js_divergence_pairs(df, "g").collect()[0]
    assert r["n_a"] == 2 and r["n_b"] == 2
    assert r["n_union_terms"] == 3  # x, y, z


def test_js_null_and_space_groups_both_pair(spark):
    # Review finding: an in-domain ' ' sentinel collided with the
    # NULL group and silently dropped their pair.
    rows = [(1, None, "x y"), (2, " ", "y z"), (3, "a", "x z")]
    df = spark.createDataFrame(rows, "doc_id long, g string, text string")
    out = js_divergence_pairs(df, "g").collect()
    pairs = {(r["group_a"], r["group_b"]) for r in out}
    assert len(pairs) == 3
    assert (" ", None) in pairs and ("a", None) in pairs
    assert (" ", "a") in pairs or ("a", " ") in pairs


# -------------------------------------------- schema drift / coverage

from strategicai_visibility_loop_etl_spark.operators.expectations import (  # noqa: E402
    schema_drift,
)
from strategicai_visibility_loop_etl_spark.operators.textprep import (  # noqa: E402
    greedy_coverage_select,
)


def test_schema_drift_all_statuses(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0, 5), (2, None, 20.0, 6)],
        "id long, name string, price double, qty int",
    )
    new = spark.createDataFrame(
        [(1, "a", 11.0, "5", 0.5), (2, "b", 21.0, "6", None)],
        "id long, name string, price double, qty string, disc double",
    )
    out = {r["column"]: r for r in schema_drift(old, new).collect()}
    assert out["id"]["status"] == "kept"
    assert out["qty"]["status"] == "type_changed"
    assert out["disc"]["status"] == "added"
    assert out["disc"]["old_null_frac"] is None
    assert out["disc"]["new_null_frac"] == 0.5
    assert out["name"]["old_null_frac"] == 0.5
    assert out["name"]["new_null_frac"] == 0.0
    # kept numeric: exact means and shift
    assert out["price"]["old_mean"] == 15.0
    assert out["price"]["new_mean"] == 16.0
    assert out["price"]["mean_shift"] == 1.0
    # qty retyped: not numeric-common, so no mean comparison
    assert out["qty"]["old_mean"] is None


def test_schema_drift_removed_column(spark):
    old = spark.createDataFrame([(1, "x")], "id long, gone string")
    new = spark.createDataFrame([(1,)], "id long")
    out = {r["column"]: r for r in schema_drift(old, new).collect()}
    assert out["gone"]["status"] == "removed"
    assert out["gone"]["new_type"] is None
    assert out["gone"]["new_null_frac"] is None


def _cov_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_coverage_greedy_order_and_gains(spark):
    # doc 1 covers 4 tokens, doc 2 covers 3 (2 overlap with doc 1),
    # doc 3 duplicates doc 1. Greedy: pick 1 (gain 4), then 2
    # (gain 1: only "e" is new), then 3 (no new tokens -> stops).
    rows = [
        (1, "a b c d"),
        (2, "c d e"),
        (3, "a b c d"),
    ]
    out = greedy_coverage_select(_cov_docs(spark, rows), k=3).collect()
    assert [(r["round"], r["id"], r["gain"]) for r in out] == [
        (1, 1, 4), (2, 2, 1),
    ]


def test_coverage_tiebreak_and_k_cut(spark):
    # Two docs with identical coverage: smallest id wins round 1.
    rows = [(5, "x y"), (2, "x y"), (9, "z")]
    out = greedy_coverage_select(_cov_docs(spark, rows), k=1).collect()
    assert len(out) == 1 and out[0]["id"] == 2 and out[0]["gain"] == 2


def test_coverage_submodular_gains_nonincreasing(spark):
    import random
    rnd = random.Random(3)
    vocab = [f"w{i}" for i in range(60)]
    rows = [(i, " ".join(rnd.sample(vocab, 12))) for i in range(30)]
    out = greedy_coverage_select(_cov_docs(spark, rows), k=6).collect()
    gains = [r["gain"] for r in sorted(out, key=lambda r: r["round"])]
    assert all(gains[i] >= gains[i + 1] for i in range(len(gains) - 1))


def test_coverage_rejects_bad_k(spark):
    with pytest.raises(ValueError):
        greedy_coverage_select(_cov_docs(spark, [(1, "a")]), k=0)
