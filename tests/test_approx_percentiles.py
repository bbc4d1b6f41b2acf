"""Executed approx-percentile legs with asserted error bounds.

q38 / qx32 / qx38 / q56 docstrings promise "swap in percentile_approx
at 100 TB, same plan shape"; these tests RUN that swap against real
testdata and assert the sketch's rank-error contract, so no docstring
claims an unexercised path (VERDICT r8 next-item 3).

Contract under test (Spark's GK/KLL-style sketch): for
``percentile_approx(col, p, accuracy)`` the returned value is an
ACTUAL element whose rank r satisfies |r - p*n| <= n/accuracy. Every
assertion below derives its envelope from that bound plus one rank of
slack for boundary ties.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F



pytestmark = pytest.mark.sweep  # approx-vs-exact percentile envelope sweeps

def _rank_envelope(sorted_vals, p: float, eps: float, slack: int = 1):
    """[lo, hi] value envelope for an approx percentile with rank
    error <= eps*n, padded by ``slack`` ranks."""
    n = len(sorted_vals)
    lo_i = max(0, math.floor((p - eps) * n) - slack)
    hi_i = min(n - 1, math.ceil((p + eps) * n) + slack)
    return sorted_vals[lo_i], sorted_vals[hi_i]


def test_corpus_datasheet_approx_percentiles_within_envelope(spark, sf_dir):
    from strategicai_visibility_loop_etl_spark.functions.text import (
        token_count,
    )
    from strategicai_visibility_loop_etl_spark.operators.governance import (
        corpus_datasheet,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    acc = 100  # coarse on purpose: the envelope must do real work
    exact = {
        r["metric"]: r["value"]
        for r in corpus_datasheet(docs).collect()
    }
    approx = {
        r["metric"]: r["value"]
        for r in corpus_datasheet(docs, approx=True, accuracy=acc).collect()
    }
    # non-percentile metrics are plain aggregates: identical either way
    for m in ("n_docs", "tokens_total", "chars_total", "empty_frac",
              "dup_frac"):
        assert approx[m] == exact[m], m
    vals = sorted(
        r["n"]
        for r in docs.select(
            token_count(F.coalesce(F.col("text"), F.lit(""))).alias("n")
        ).collect()
    )
    for p, metric in ((0.5, "tokens_p50"), (0.9, "tokens_p90"),
                      (0.99, "tokens_p99")):
        lo, hi = _rank_envelope(vals, p, 1.0 / acc)
        assert lo <= approx[metric] <= hi, (
            metric, approx[metric], lo, hi, exact[metric]
        )


def test_quality_blend_approx_shifts_buckets_at_most_one(spark, sf_dir):
    from strategicai_visibility_loop_etl_spark.functions.text import (
        char_entropy,
        quality_score,
        token_count,
    )
    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        quality_blend,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        quality_score(F.col("text")).alias("quality"),
        char_entropy(F.col("text")).alias("entropy"),
        token_count(F.col("text")).cast("double").alias("n_tokens"),
    )
    sigs = ["quality", "entropy", "n_tokens"]
    n_buckets = 10
    exact = quality_blend(docs, sigs, n_buckets=n_buckets)
    # accuracy >= n_buckets -> a cut's rank error (n/acc) is smaller
    # than a bucket's rank width (n/n_buckets), so any row moves at
    # most one bucket.
    approx = quality_blend(
        docs, sigs, n_buckets=n_buckets, approx=True, accuracy=100
    )
    j = exact.alias("e").join(approx.alias("a"), "doc_id")
    n = j.count()
    assert n == docs.count()
    for c in sigs:
        bad = j.filter(
            F.abs(F.col(f"e.{c}_bucket") - F.col(f"a.{c}_bucket")) > 1
        ).count()
        assert bad == 0, f"{c}: {bad} rows shifted >1 bucket"
        moved = j.filter(
            F.col(f"e.{c}_bucket") != F.col(f"a.{c}_bucket")
        ).count()
        # rank shift <= n/acc per cut, n_buckets-1 cuts, ties add a
        # little; a generous but non-vacuous ceiling:
        assert moved <= n * (n_buckets - 1) / 100 + 0.05 * n, (c, moved, n)
    # blend is a mean of per-signal bucket fractions: +-1 bucket on
    # each signal bounds the blend drift
    drift = j.select(
        F.max(F.abs(F.col("e.blend") - F.col("a.blend"))).alias("d")
    ).first()["d"]
    assert drift <= 1.0 / (n_buckets - 1) + 1e-9, drift


def test_quantile_buckets_approx_histogram_within_rank_tolerance(
    spark, sf_dir
):
    import collections

    from strategicai_visibility_loop_etl_spark.operators.aggregate import (
        quantile_buckets,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    probs = (0.25, 0.5, 0.75)
    acc = 100
    out = quantile_buckets(
        li, "l_extendedprice", ["l_returnflag"], probs,
        approx=True, accuracy=acc,
    ).collect()
    got = {(r["l_returnflag"], r["bucket"]): r["n"] for r in out}
    vals = collections.defaultdict(list)
    for r in li.select("l_returnflag", "l_extendedprice").collect():
        vals[r["l_returnflag"]].append(float(r["l_extendedprice"]))
    for g, v in vals.items():
        v.sort()
        n = len(v)
        # row conservation per group, exact
        assert sum(got.get((g, b), 0) for b in range(1, len(probs) + 2)) == n
        # each bucket boundary is an approx cut with rank error
        # <= n/acc; a bucket's count is bounded by its two boundaries'
        # drift (+1 rank of tie slack each side)
        tol = 2 * (n / acc + 1)
        for b in range(1, len(probs) + 2):
            p_lo = probs[b - 2] if b >= 2 else 0.0
            p_hi = probs[b - 1] if b <= len(probs) else 1.0
            expect = (p_hi - p_lo) * n
            assert abs(got.get((g, b), 0) - expect) <= tol, (
                g, b, got.get((g, b), 0), expect, tol
            )


def test_quantile_buckets_approx_plan_shape_unchanged(spark, sf_dir):
    """The swap must not change the plan shape: same single wide
    aggregate for cuts + broadcast join back; no extra Exchange, no
    global Sort, no Python."""
    from strategicai_visibility_loop_etl_spark.operators.aggregate import (
        quantile_buckets,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plans = {}
    for mode in (False, True):
        df = quantile_buckets(
            li, "l_extendedprice", ["l_returnflag"], approx=mode
        )
        plans[mode] = df._jdf.queryExecution().executedPlan().toString()
    for mode, plan in plans.items():
        assert "BatchEvalPython" not in plan, mode
        assert "CartesianProduct" not in plan, mode
        assert plan.count("Exchange") == plans[False].count("Exchange"), (
            "approx leg added a shuffle"
        )


def test_quantile_normalize_approx_leg_tracks_exact(spark, sf_dir):
    """qx67's docstring promises the percentile_approx cut-point form
    at 100 TB — run it and bound its error against the exact form."""
    from pyspark.sql import functions as F

    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        quantile_normalize,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", F.col("n_chars").cast("double").alias("score")
    )
    exact = {r["doc_id"]: r["normalized_score"]
             for r in quantile_normalize(docs, "source", "score").collect()}
    approx = {r["doc_id"]: r["normalized_score"]
              for r in quantile_normalize(
                  docs, "source", "score", approx=True, n_cuts=101
              ).collect()}
    assert set(exact) == set(approx)
    vals = sorted(exact.values())
    rng = vals[-1] - vals[0]
    diffs = [abs(approx[k] - exact[k]) for k in exact]
    # 101 cuts on this distribution: every row within a few percent
    # of range, mean much tighter (cut interpolation error).
    assert max(diffs) <= rng * 0.10, max(diffs)
    assert sum(diffs) / len(diffs) <= rng * 0.02

    # Alignment property survives: per-source normalized MEANS are
    # pulled together vs the raw per-source means.
    import statistics
    raw, nrm = {}, {}
    for r in docs.collect():
        raw.setdefault(r["source"], []).append(float(r["score"]))
    for r in quantile_normalize(
        docs, "source", "score", approx=True, n_cuts=101
    ).collect():
        nrm.setdefault(r["source"], []).append(r["normalized_score"])
    raw_spread = statistics.pstdev([statistics.mean(v) for v in raw.values()])
    nrm_spread = statistics.pstdev([statistics.mean(v) for v in nrm.values()])
    assert nrm_spread <= raw_spread * 1.05


def test_ks_test_binned_leg_bounds_exact(spark, sf_dir):
    """qx72's docstring promises the binned-CDF form at 100 TB — run
    it and assert the coarsening bound D_binned <= D_exact with a
    bounded gap."""
    from pyspark.sql import functions as F

    from strategicai_visibility_loop_etl_spark.operators.drift import ks_test

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("event_type").isin(["click", "view"])
    ).select(
        "event_type",
        F.when(F.col("event_type") == "view", F.col("value") * 1.15)
        .otherwise(F.col("value"))
        .alias("value"),
    )
    exact = ks_test(ev, "event_type", "value", "click", "view").collect()[0]
    for bins, gap in ((1000, 0.02), (100, 0.06)):
        b = ks_test(ev, "event_type", "value", "click", "view",
                    bins=bins).collect()[0]
        assert b["ks_stat"] <= exact["ks_stat"] + 1e-9, (bins, b["ks_stat"])
        assert exact["ks_stat"] - b["ks_stat"] <= gap, (bins, b["ks_stat"])
        assert (b["n_a"], b["n_b"]) == (exact["n_a"], exact["n_b"])
