"""Unit tests for corpus drift metrics and domain quota sampling —
hand-computed invariants; the sf-scale DuckDB oracle checks live in
test_oracle (qx51/qx52)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from strategicai_visibility_loop_etl_spark.operators.drift import (
    token_distribution_drift,
)
from strategicai_visibility_loop_etl_spark.operators.textprep import (
    domain_quota_sample,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_drift_identical_groups_near_zero(spark):
    # Two groups with IDENTICAL token distributions: drift comes only
    # from smoothing scale, so KL is tiny and chi2 is ~0.
    rows = [(i, f"s{i % 2}", "alpha beta gamma alpha") for i in range(20)]
    out = {r["source"]: r for r in token_distribution_drift(_docs(spark, rows)).collect()}
    assert set(out) == {"s0", "s1"}
    for r in out.values():
        assert r["n_tokens"] == 40
        assert r["distinct_terms"] == 3
        assert 0.0 <= r["kl"] < 1e-3
        # add-one smoothing shifts expected counts slightly off the
        # observed ones even for identical distributions, so chi2 is
        # small but not zero.
        assert 0.0 <= r["chi2"] < 0.1


def test_drift_divergent_group_ranks_higher(spark):
    # base dominates the corpus (30 docs vs 3), so the corpus
    # distribution ≈ base's and the all-omega minority group must
    # show much larger divergence on both statistics.
    rows = [(i, "base", "alpha beta gamma delta") for i in range(30)]
    rows += [(100 + i, "skew", "omega omega omega omega") for i in range(3)]
    out = {r["source"]: r for r in token_distribution_drift(_docs(spark, rows)).collect()}
    assert out["skew"]["kl"] > out["base"]["kl"] > 0.0
    assert out["skew"]["chi2"] > out["base"]["chi2"]
    # KL is finite despite 'omega' never appearing in base and vice
    # versa — the smoothing + closed-form absent mass handles it.
    assert all(math.isfinite(r["kl"]) for r in out.values())


def test_drift_empty_and_null_text_groups_omitted(spark):
    rows = [(1, "a", "x y z"), (2, "b", ""), (3, "c", None)]
    out = token_distribution_drift(_docs(spark, rows)).collect()
    assert [r["source"] for r in out] == ["a"]


def _qdocs(spark, sizes):
    rows = []
    i = 0
    for src, n in sizes.items():
        for _ in range(n):
            rows.append((i, src, i % 7 + 1))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, source string, n_chars long")


def test_quota_sums_exactly_to_budget(spark):
    df = _qdocs(spark, {"a": 40, "b": 10, "c": 50})
    out = domain_quota_sample(df, budget=30, key_col="doc_id", order_col="n_chars")
    got = out.groupBy("source").count().collect()
    assert sum(r["count"] for r in got) == 30
    # sqrt-proportional: a and c get more than b but b is not starved.
    by = {r["source"]: r["count"] for r in got}
    assert by["c"] >= by["a"] > by["b"] >= 1


def test_quota_caps_at_domain_size_when_budget_exceeds_corpus(spark):
    df = _qdocs(spark, {"a": 3, "b": 2})
    out = domain_quota_sample(df, budget=50, key_col="doc_id", order_col="n_chars")
    assert out.count() == 5  # every doc kept, no domain over-allocated


def test_quota_min_keep_floor_and_determinism(spark):
    df = _qdocs(spark, {"big": 96, "tiny": 2})
    out = domain_quota_sample(
        df, budget=4, key_col="doc_id", order_col="n_chars", min_keep=1
    )
    by = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    assert by.get("tiny", 0) >= 1  # min_keep floor holds
    # Deterministic picks: re-running yields the identical kept set.
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in domain_quota_sample(
            df, budget=4, key_col="doc_id", order_col="n_chars", min_keep=1
        ).collect()
    )
    assert a == b


def test_quota_rejects_bad_args(spark):
    df = _qdocs(spark, {"a": 2})
    with pytest.raises(ValueError):
        domain_quota_sample(df, budget=0, key_col="doc_id")
    with pytest.raises(ValueError):
        domain_quota_sample(df, budget=5, key_col="doc_id", alpha=1.5)


def test_ks_test_known_values_and_identical_distributions(spark):
    from strategicai_visibility_loop_etl_spark.operators.drift import ks_test

    # A=[1,2,3,4], B=[3,4,5,6]: D = |F_A - F_B| peaks at x=2 with
    # 2/4 - 0 = 0.5 (hand-computed; integer form 8/16).
    rows = [(v, "a") for v in (1.0, 2.0, 3.0, 4.0)] + [
        (v, "b") for v in (3.0, 4.0, 5.0, 6.0)
    ]
    df = spark.createDataFrame(rows, "v double, g string")
    r = ks_test(df, "g", "v", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"], r["ks_stat"]) == (4, 4, 0.5)
    assert r["reject"] == bool(0.5 > r["critical"])

    # Identical samples: D == 0, never rejected.
    same = spark.createDataFrame(
        [(float(i % 7), g) for g in ("a", "b") for i in range(50)],
        "v double, g string",
    )
    r2 = ks_test(same, "g", "v", "a", "b").collect()[0]
    assert r2["ks_stat"] == 0.0 and not r2["reject"]

    # A clear planted shift on real-ish sizes rejects at 5%.
    import random
    shifted = spark.createDataFrame(
        [(float(i % 100), "a") for i in range(300)]
        + [(float(i % 100) + 30.0, "b") for i in range(300)],
        "v double, g string",
    )
    r3 = ks_test(shifted, "g", "v", "a", "b").collect()[0]
    assert r3["reject"] and r3["ks_stat"] > r3["critical"]


def test_ks_test_absent_group_reads_as_no_data(spark):
    from strategicai_visibility_loop_etl_spark.operators.drift import ks_test

    df = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a")], "v double, g string"
    )
    r = ks_test(df, "g", "v", "a", "typo").collect()[0]
    assert (r["n_a"], r["n_b"]) == (2, 0)
    assert r["ks_stat"] is None and r["reject"] is None


def test_ks_test_null_metrics_excluded(spark):
    """NULL metric rows carry no distribution information and are
    excluded up front: planted NULLs move neither the counts nor D."""
    from strategicai_visibility_loop_etl_spark.operators.drift import ks_test

    clean = [(float(v), "a") for v in (1, 2, 3, 4)] + [
        (float(v), "b") for v in (3, 4, 5, 6)
    ]
    base = spark.createDataFrame(clean, "v double, g string")
    # NULLs planted asymmetrically (3 on side b, 1 on side a) — if
    # they leaked in, counts and D would both move.
    noisy = spark.createDataFrame(
        clean + [(None, "b")] * 3 + [(None, "a")],
        "v double, g string",
    )
    r0 = ks_test(base, "g", "v", "a", "b").collect()[0]
    r1 = ks_test(noisy, "g", "v", "a", "b").collect()[0]
    assert (r1["n_a"], r1["n_b"]) == (r0["n_a"], r0["n_b"]) == (4, 4)
    assert r1["ks_stat"] == r0["ks_stat"]
    # all-NULL side reads as no data, not as an empty-vs-full verdict
    only_null = spark.createDataFrame(
        [(1.0, "a"), (None, "b")], "v double, g string"
    )
    r = ks_test(only_null, "g", "v", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (1, 0) and r["ks_stat"] is None


def test_two_proportion_ztest(spark):
    """Hand-evaluated pooled z; NULL successes count as failures;
    groups missing a variant drop; degenerate pooled rate gives NULL
    z and significant=False."""
    import math

    from strategicai_visibility_loop_etl_spark.operators.drift import (
        two_proportion_ztest,
    )

    rows = [("A", 1)] * 6 + [("A", 0)] * 4 + [("B", 1)] * 2 + [("B", None)] * 8
    df = spark.createDataFrame(rows, "variant string, ok int")
    out = two_proportion_ztest(df, "variant", "A", "B", "ok").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_a"], r["x_a"], r["n_b"], r["x_b"]) == (10, 6, 10, 2)
    pool = 8 / 20
    se = math.sqrt(pool * (1 - pool) * (0.1 + 0.1))
    assert r["z"] == round((0.6 - 0.2) / se, 6)
    assert r["significant"] == (abs(r["z"]) > 1.959963985)

    # all-failure pooled rate: no variance, NULL z
    flat = spark.createDataFrame(
        [("A", 0)] * 3 + [("B", 0)] * 3, "variant string, ok int"
    )
    f = two_proportion_ztest(flat, "variant", "A", "B", "ok").collect()[0]
    assert f["z"] is None and f["significant"] is False
