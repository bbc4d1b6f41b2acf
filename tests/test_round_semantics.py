"""Cross-engine rounding contract: functions.numeric.round_c must equal
DuckDB's round(DOUBLE, n) bit-for-bit — the property that keeps every
rounded double in the oracle gate hash-stable (see the q10/q14 sf0.1
incident documented in SURVEY round-5 notes)."""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from strategicai_visibility_loop_etl_spark.functions.numeric import round_c


def _adversarial_values(rng: random.Random, n: int) -> list[float]:
    vals: list[float] = []
    # Exact decimal ties at every tested scale: k/100 ± the .5 boundary —
    # the class that diverged between Spark round/bround and DuckDB.
    for _ in range(n // 4):
        k = rng.randrange(-10_000_000, 10_000_000)
        vals.append((k + 0.5) / 100.0)
        vals.append((k + 0.5) / 1_000_000.0)
    # Dyadic ties (exactly representable .5 products): k + 0.5 scaled.
    for _ in range(n // 4):
        vals.append(rng.randrange(-(2**40), 2**40) / 2 ** rng.randrange(1, 20))
    # Plain uniform doubles across magnitudes.
    for _ in range(n // 2):
        vals.append(rng.uniform(-1.0, 1.0) * 10 ** rng.randrange(-6, 9))
    return vals


@pytest.mark.parametrize("ndigits", [0, 2, 4, 6, 9])
def test_round_c_matches_duckdb_round(spark, ndigits):
    rng = random.Random(ndigits * 1000 + 17)
    vals = _adversarial_values(rng, 2000)
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, x double")
    got = {
        r["i"]: r["y"]
        for r in df.select("i", round_c(F.col("x"), ndigits).alias("y")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(vals)))
    want = dict(con.execute(f"SELECT i, round(x, {ndigits}) FROM t").fetchall())
    con.close()
    def canon(v):
        # DuckDB's round keeps the sign of zero (round(-0.2, 0) = -0.0)
        # while Spark's never emits -0.0. No oracle-gated query can
        # produce a signed zero (ratios are >= 0; deltas of identical
        # values are +0.0 exactly), so zero sign is outside the
        # contract this test enforces.
        return "0.0" if v == 0 else repr(v)

    diffs = {
        i: (vals[i], got[i], want[i])
        for i in got
        if canon(got[i]) != canon(want[i])
    }
    assert not diffs, f"{len(diffs)} divergences, first: {sorted(diffs.items())[:3]}"


def test_linear_trend_matches_numpy_closed_form(spark):
    """linear_trend vs numpy.polyfit / manual OLS on a known line and
    a noisy group; degenerate groups return NULLs."""
    import numpy as np
    from strategicai_visibility_loop_etl_spark.operators.aggregate import (
        linear_trend,
    )

    rows = []
    # g=exact: y = 3x + 7 exactly
    for x in range(10):
        rows.append(("exact", x, float(3 * x + 7)))
    # g=noisy: known points
    noisy = [(0, 1.0), (1, 2.5), (2, 2.0), (3, 4.5), (4, 4.0)]
    rows += [("noisy", x, y) for x, y in noisy]
    # g=single: one point -> NULL slope
    rows.append(("single", 5, 9.0))
    # g=flat: constant y -> slope 0, r2 NULL (zero y-variance)
    rows += [("flat", x, 2.0) for x in range(4)]

    df = spark.createDataFrame(rows, "g string, x int, y double").select(
        "g", "x", F.col("y").cast("decimal(28,6)").alias("y")
    )
    got = {r["g"]: r for r in linear_trend(df, ["g"], "x", "y").collect()}

    assert got["exact"]["slope"] == 3.0
    assert got["exact"]["intercept"] == 7.0
    assert got["exact"]["r2"] == 1.0

    xs = np.array([x for x, _ in noisy], dtype=float)
    ys = np.array([y for _, y in noisy], dtype=float)
    slope, intercept = np.polyfit(xs, ys, 1)
    r = np.corrcoef(xs, ys)[0, 1]
    assert abs(got["noisy"]["slope"] - round(slope, 6)) <= 1e-6
    assert abs(got["noisy"]["intercept"] - round(intercept, 6)) <= 1e-6
    assert abs(got["noisy"]["r2"] - round(r * r, 6)) <= 1e-6

    assert got["single"]["slope"] is None and got["single"]["r2"] is None
    assert got["flat"]["slope"] == 0.0 and got["flat"]["r2"] is None


def test_rolling_zscore_matches_python(spark):
    """rolling_zscore_anomalies vs a manual pandas-free reference:
    preceding-window stats, sample variance, min_periods/zero-var
    guards, and the injected spike flagged."""
    import math

    from strategicai_visibility_loop_etl_spark.operators.timeseries import (
        rolling_zscore_anomalies,
    )

    series = [10.0, 11.0, 9.0, 10.5, 10.0, 9.5, 10.2, 50.0, 10.1, 9.9]
    rows = [("a", i, v) for i, v in enumerate(series)]
    rows += [("flat", i, 5.0) for i in range(6)]  # zero variance
    df = spark.createDataFrame(rows, "k string, x int, y double").select(
        "k", "x", F.col("y").cast("decimal(28,6)").alias("y")
    )
    got = {
        (r["k"], r["x"]): r
        for r in rolling_zscore_anomalies(df, ["k"], "x", "y").collect()
    }

    def ref(i):
        hist = series[max(0, i - 7):i]
        if len(hist) < 4:
            return None
        n = len(hist)
        m = sum(hist) / n
        var = sum((v - m) ** 2 for v in hist) / (n - 1)
        if var <= 0:
            return None
        return round((series[i] - m) / math.sqrt(var), 6)

    for i in range(len(series)):
        want = ref(i)
        have = got[("a", i)]["z"]
        if want is None:
            assert have is None, (i, have)
        else:
            assert have is not None and abs(have - want) < 1e-6, (i, have, want)
    # the spike is flagged; its neighbors are not
    assert got[("a", 7)]["is_anomaly"]
    assert not got[("a", 6)]["is_anomaly"]
    # insufficient history or zero variance -> never flagged
    assert not got[("a", 2)]["is_anomaly"]
    assert all(not got[("flat", i)]["is_anomaly"] for i in range(6))


def test_corpus_datasheet_known_values(spark):
    from strategicai_visibility_loop_etl_spark.operators.governance import (
        corpus_datasheet,
    )

    docs = [
        (1, "one two three", "en"),
        (2, "one two three", "en"),      # exact dup of 1
        (3, "four five six seven", "en"),
        (4, "", "de"),                    # empty
        (5, "acht neun", "de"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    m = {r["metric"]: r["value"] for r in corpus_datasheet(df).collect()}
    assert m["n_docs"] == 5.0
    assert m["tokens_total"] == 3 + 3 + 4 + 0 + 2
    assert m["empty_frac"] == 0.2
    assert m["dup_frac"] == round(1 - 4 / 5, 6)
    assert m["n_langs"] == 2.0
    assert m["top_lang_share"] == 0.6
    assert m["tokens_p50"] == 3.0
    assert m["tokens_mean"] == round(12 / 5, 6)
    assert 0.0 < m["quality_mean"] < 1.0
    assert sorted(m) == list(m)  # stable metric ordering


def test_theil_sen_robust_to_outlier(spark):
    """Theil-Sen vs a Python median-of-slopes reference; one wild
    outlier barely moves it while OLS swings."""
    import statistics

    from strategicai_visibility_loop_etl_spark.operators.aggregate import (
        linear_trend,
        theil_sen_trend,
    )

    pts = [(i, 2.0 * i + 5.0) for i in range(10)]
    pts[7] = (7, 500.0)  # outlier
    df = spark.createDataFrame(
        [("a", x, y) for x, y in pts], "g string, x int, y double"
    ).select("g", "x", F.col("y").cast("decimal(28,6)").alias("y"))

    ts = theil_sen_trend(df, ["g"], "x", "y").collect()[0]
    slopes = [
        round((y2 - y1) / (x2 - x1), 9)
        for i, (x1, y1) in enumerate(pts)
        for (x2, y2) in pts[i + 1:]
    ]
    assert ts["n_pairs"] == 45
    assert abs(ts["ts_slope"] - round(statistics.median(slopes), 6)) < 1e-9
    assert abs(ts["ts_slope"] - 2.0) < 0.5  # robust
    ols = linear_trend(df, ["g"], "x", "y").collect()[0]
    assert abs(ols["slope"] - 2.0) > 2.0  # OLS dragged by the outlier

    # degenerate: single point -> NULL slope, zero pairs -> absent
    one = spark.createDataFrame([("b", 1, 1.0)], "g string, x int, y double")
    assert theil_sen_trend(one, ["g"], "x", "y").collect() == []


def test_mad_outliers_hand_example_and_degenerate(spark):
    from strategicai_visibility_loop_etl_spark.operators.aggregate import (
        mad_outliers,
    )

    # Group b: sorted [10,12,14,16,18,1000] -> median 15, deviations
    # [5,3,1,1,3,985] -> MAD 3; only 985 > 3.5*1.4826*3 = 15.57.
    # Group a: MAD = 0 (4 of 5 identical) -> degenerate branch flags
    # the deviating row with robust_z NULL.
    rows = [("a", i, 1.0) for i in range(4)] + [("a", 4, 100.0)]
    rows += [("b", 10, 10.0), ("b", 11, 12.0), ("b", 12, 14.0),
             ("b", 13, 16.0), ("b", 14, 18.0), ("b", 15, 1000.0)]
    df = spark.createDataFrame(rows, "g string, rid long, value double")
    out = {(r["g"], r["rid"]): (r["group_median"], r["mad"], r["robust_z"])
           for r in mad_outliers(df, ["g"], "value").collect()}
    assert set(out) == {("a", 4), ("b", 15)}
    assert out[("a", 4)] == (1.0, 0.0, None)
    med, mad, rz = out[("b", 15)]
    assert (med, mad) == (15.0, 3.0)
    import math
    assert rz == math.floor(985.0 / (1.4826 * 3.0) * 1e6 + 0.5) / 1e6


def test_weighted_percentiles_hand_example(spark):
    from strategicai_visibility_loop_etl_spark.operators.aggregate import (
        weighted_percentiles,
    )

    # values 1(w=1), 2(w=1), 10(w=5): W=7. p=0.5 -> target 3.5 ->
    # first cumw>=3.5 is 10; p=0.25 -> target 1.75 -> value 2;
    # p=2/7 exactly hits cumw=2 at value 2 (boundary inclusive).
    rows = [("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 10.0, 5.0)]
    df = spark.createDataFrame(rows, "k string, v double, w double")
    got = {r["p"]: r["value"]
           for r in weighted_percentiles(df, ["k"], "v", "w",
                                         ps=[0.25, 2.0 / 7.0, 0.5, 1.0]).collect()}
    assert got[0.25] == 2.0
    assert got[2.0 / 7.0] == 2.0
    assert got[0.5] == 10.0
    assert got[1.0] == 10.0

    # Duplicate values collapse: 2 appearing twice w=1 each behaves
    # like one value with w=2.
    rows2 = [("g", 2.0, 1.0), ("g", 2.0, 1.0), ("g", 5.0, 2.0)]
    df2 = spark.createDataFrame(rows2, "k string, v double, w double")
    got2 = {r["p"]: r["value"]
            for r in weighted_percentiles(df2, ["k"], "v", "w", ps=[0.5]).collect()}
    assert got2[0.5] == 2.0

    import pytest as _pytest
    with _pytest.raises(ValueError):
        weighted_percentiles(df, ["k"], "v", "w", ps=[0.0])


def test_winsorize_clips_to_exact_band(spark):
    from strategicai_visibility_loop_etl_spark.operators.aggregate import (
        winsorize,
    )

    # values 0..10: p10 = 1.0, p90 = 9.0 (exact interpolated) ->
    # 0 clips up to 1, 10 clips down to 9, interior unchanged.
    df = spark.createDataFrame(
        [("g", float(i)) for i in range(11)], "k string, v double"
    )
    out = {r["v"]: (r["p_lo"], r["p_hi"], r["v_winsorized"])
           for r in winsorize(df, ["k"], "v", 0.1, 0.9).collect()}
    assert out[0.0] == (1.0, 9.0, 1.0)
    assert out[10.0] == (1.0, 9.0, 9.0)
    assert out[5.0] == (1.0, 9.0, 5.0)

    import pytest as _pytest
    with _pytest.raises(ValueError):
        winsorize(df, ["k"], "v", 0.9, 0.1)


def test_winsorize_preserves_null_values(spark):
    from strategicai_visibility_loop_etl_spark.operators.aggregate import (
        winsorize,
    )

    df = spark.createDataFrame(
        [("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", None)],
        "k string, v double",
    )
    out = {r["v"]: r["v_winsorized"]
           for r in winsorize(df, ["k"], "v", 0.1, 0.9).collect()}
    assert out[None] is None  # missing metric stays missing


def test_weighted_percentiles_exact_decimal_boundary(spark):
    """The p·W threshold compares in exact decimal (cw·den ≥ num·tw),
    not doubles: at total weight past 2^53 a threshold landing exactly
    on a cumulative-weight boundary must still select the boundary
    value. Constructed so cw(v=1)·10 == tw exactly (select v=1.0)
    while the old double compare rounds cw down and p·tw up and picks
    the adjacent order statistic (v=2.0)."""
    from strategicai_visibility_loop_etl_spark.operators.aggregate import (
        weighted_percentiles,
    )

    # per-row weights stay double-exact through round_c (w·10^6 is
    # representable); the decimal SUM then builds the huge totals:
    # v=1 total = 10^16+1, v=2 total = 9·10^16+9, W = 10^17+10.
    rows = [("k", 1.0, 10**15)] * 10 + [("k", 1.0, 1)]
    rows += [("k", 2.0, 9 * 10**15)] * 10 + [("k", 2.0, 9)]
    df = spark.createDataFrame(rows, "k string, v double, w long")
    got = {
        r["p"]: r["value"]
        for r in weighted_percentiles(df, ["k"], "v", "w", ps=[0.1]).collect()
    }
    assert got == {0.1: 1.0}


def test_ewma_smooth_recurrence_and_validation(spark):
    """EWMA (capability row 172): hand-checked recurrence, per-group
    independence, general alpha, and the series head's NULL residual."""
    import pytest as _pytest

    from strategicai_visibility_loop_etl_spark.operators.timeseries import (
        ewma_smooth,
    )

    df = spark.createDataFrame(
        [("k", 1, 10.0), ("k", 2, 20.0), ("k", 3, 10.0), ("j", 5, 4.0)],
        "g string, t int, v double",
    )
    out = {
        (r["g"], r["t"]): r
        for r in ewma_smooth(df, ["g"], "t", "v", alpha=0.5).collect()
    }
    assert out[("k", 1)]["ewma"] == 10.0
    assert out[("k", 2)]["ewma"] == 15.0      # .5*20 + .5*10
    assert out[("k", 3)]["ewma"] == 12.5      # .5*10 + .5*15
    assert out[("k", 1)]["residual"] is None  # no prior level
    assert out[("k", 2)]["residual"] == 10.0
    assert out[("j", 5)]["ewma"] == 4.0       # group independence

    # general alpha: s2 = .25*20 + .75*10
    a25 = {
        r["t"]: r["ewma"]
        for r in ewma_smooth(
            df.filter(F.col("g") == "k"), ["g"], "t", "v", alpha=0.25
        ).collect()
    }
    assert a25[2] == 0.25 * 20.0 + 0.75 * 10.0

    with _pytest.raises(ValueError):
        ewma_smooth(df, ["g"], "t", "v", alpha=0.0)


def test_basket_affinity_math_and_skew_guard(spark):
    """Market-basket mining (capability row 173): hand-checked
    support/confidence/lift, duplicate events collapse to binary
    presence, and an over-wide basket is dropped from the universe."""
    from strategicai_visibility_loop_etl_spark.operators.relational import (
        basket_affinity,
    )

    rows = (
        [(1, "x"), (1, "y"), (1, "x"),      # dup (1,x) collapses
         (2, "x"), (2, "y"),
         (3, "x"),
         (4, "z")]
    )
    df = spark.createDataFrame(rows, "b long, i string")
    out = {
        (r["item_a"], r["item_b"]): r
        for r in basket_affinity(df, "b", "i").collect()
    }
    # n_baskets = 4; x in 3, y in 2, (x,y) in 2
    r = out[("x", "y")]
    assert r["pair_n"] == 2
    assert r["support"] == 0.5
    assert r["conf_a_to_b"] == round(2 / 3, 6)
    assert r["conf_b_to_a"] == 1.0
    assert r["lift"] == round(2 * 4 / (3 * 2), 6)

    # skew guard: a 3-item basket vanishes with max_basket=2, and the
    # denominators shrink consistently with it
    wide = spark.createDataFrame(
        rows + [(9, "x"), (9, "y"), (9, "w")], "b long, i string"
    )
    capped = {
        (r["item_a"], r["item_b"]): r
        for r in basket_affinity(wide, "b", "i", max_basket=2).collect()
    }
    assert ("x", "w") not in capped and ("w", "y") not in capped
    assert capped[("x", "y")]["pair_n"] == 2
    assert capped[("x", "y")]["support"] == 0.5  # still 4 kept baskets


def test_markov_transitions_total_order_and_probs(spark):
    """Markov chain estimation (capability row 175): transitions
    follow the (time, tiebreak) total order; probabilities
    row-normalize; single-event users contribute nothing."""
    from strategicai_visibility_loop_etl_spark.operators.relational import (
        markov_transitions,
    )

    rows = [
        (1, 10, 1, "a"), (1, 20, 2, "b"), (1, 20, 3, "c"),  # tie: id order
        (2, 5, 4, "a"), (2, 6, 5, "c"),
        (3, 1, 6, "z"),
    ]
    df = spark.createDataFrame(rows, "u long, t long, eid long, s string")
    out = {
        (r["from_state"], r["to_state"]): r
        for r in markov_transitions(df, "u", "t", "s", "eid").collect()
    }
    assert out[("a", "b")]["n"] == 1
    assert out[("b", "c")]["n"] == 1   # the tie resolved b (eid 2) -> c (eid 3)
    assert out[("a", "c")]["n"] == 1
    assert ("z", "z") not in out
    assert out[("a", "b")]["prob"] == 0.5 and out[("a", "c")]["prob"] == 0.5


def test_centroid_similarity_hand_example(spark):
    """Centroid cosine matrix (capability row 174): orthogonal and
    identical groups read 0 and 1; a zero-vector group reads 0 (not
    NaN)."""
    from strategicai_visibility_loop_etl_spark.operators.similarity import (
        centroid_similarity,
    )

    df = spark.createDataFrame(
        [
            ("gx", [2.0, 0.0]), ("gx", [4.0, 0.0]),   # centroid (3, 0)
            ("gy", [0.0, 5.0]),                        # centroid (0, 5)
            ("gz", [6.0, 0.0]),                        # centroid (6, 0)
            ("g0", [0.0, 0.0]),                        # zero centroid
        ],
        "g string, embedding array<double>",
    )
    sims = {
        (r["group_a"], r["group_b"]): r["cosine"]
        for r in centroid_similarity(df, "g").collect()
    }
    assert sims[("gx", "gz")] == 1.0
    assert sims[("gx", "gy")] == 0.0
    assert sims[("g0", "gx")] == 0.0  # degenerate norm reads 0, never NaN


def test_code_score_discriminates_and_handles_edge_cases(spark):
    """Code-vs-prose router (capability row 176): real code scores far
    above prose; empty/NULL score 0."""
    from strategicai_visibility_loop_etl_spark.functions.text import code_score

    df = spark.createDataFrame(
        [
            (1, "def main(x):\n  y = [x];\n  return y;\nclass A {\n  int v = 0;\n}"),
            (2, "The quick brown fox jumps over the lazy dog and keeps "
                "running through the quiet field toward the river."),
            (3, ""),
            (4, None),
        ],
        "id long, text string",
    )
    got = {
        r["id"]: r["cs"]
        for r in df.select("id", code_score(F.col("text")).alias("cs")).collect()
    }
    assert got[1] > 0.5 and got[2] < 0.05
    assert got[3] == 0.0 and got[4] == 0.0


def test_basket_affinity_null_keys_excluded(spark):
    """NULL basket keys / items are 'no transaction' — excluded from
    pairs AND denominators (engine-divergence guard: an inner join
    drops NULL keys where a SQL window would keep them)."""
    from strategicai_visibility_loop_etl_spark.operators.relational import (
        basket_affinity,
    )

    rows = [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (None, "x"), (2, None)]
    df = spark.createDataFrame(rows, "b long, i string")
    out = basket_affinity(df, "b", "i").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["item_a"], r["item_b"], r["pair_n"]) == ("x", "y", 2)
    assert r["support"] == 1.0  # 2 kept baskets, NULL basket not counted
    assert r["conf_a_to_b"] == 1.0 and r["lift"] == 1.0


def test_sessionize_metrics_hand_example(spark):
    """Gap sessionization (capability row 182): gap strictly greater
    than the threshold starts a new session; ties resolve by the
    tiebreak; bounce flags single-event sessions; decimal value sums."""
    from strategicai_visibility_loop_etl_spark.operators.relational import (
        sessionize_metrics,
    )

    rows = [
        (1, 0, 1, 1.0), (1, 50, 2, 2.0),     # session 0 (gap 50 <= 100)
        (1, 151, 3, 4.0),                     # gap 101 > 100 -> session 1
        (1, 251, 4, 8.0),                     # gap 100 == gap -> SAME session
        (2, 10, 5, 1.5),                      # lone event -> bounce
    ]
    df = spark.createDataFrame(rows, "u long, t long, eid long, v double")
    out = {
        (r["u"], r["session_no"]): r
        for r in sessionize_metrics(
            df, "u", "t", gap=100, tiebreak_col="eid", value_col="v"
        ).collect()
    }
    assert set(out) == {(1, 0), (1, 1), (2, 0)}
    s0 = out[(1, 0)]
    assert (s0["n_events"], s0["duration"], s0["bounce"]) == (2, 50, False)
    assert float(s0["value_sum"]) == 3.0
    s1 = out[(1, 1)]
    assert (s1["n_events"], s1["session_start"], s1["session_end"]) == (2, 151, 251)
    assert out[(2, 0)]["bounce"] is True


def test_bpe_audit_totals(spark):
    """Tokenizer audit (capability row 183): totals, fertility and
    chars-per-token from encode output; empty docs keep NULL-free
    zero rows via the count guards."""
    from strategicai_visibility_loop_etl_spark.operators.bpe import (
        bpe_audit,
        bpe_encode,
        bpe_train,
    )

    df = spark.createDataFrame(
        [(1, "low low lower"), (2, "lowest low"), (3, "")],
        "doc_id long, text string",
    )
    merges = bpe_train(df, n_merges=3)
    enc = bpe_encode(df, merges)
    row = bpe_audit(enc).collect()[0]
    want_words = sum(len(t.split()) for t in ("low low lower", "lowest low", ""))
    assert row["n_docs"] == 3 and row["words_total"] == want_words
    assert row["chars_total"] == len("lowlowlower") + len("lowestlow")
    assert row["fertility"] == round(row["tokens_total"] / want_words, 6)
    # grouped form
    enc_g = enc.join(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "b")], "doc_id long, src string"
        ),
        "doc_id",
    )
    by = {r["src"]: r for r in bpe_audit(enc_g, "src").collect()}
    assert by["a"]["n_docs"] == 1 and by["b"]["n_docs"] == 2
    assert by["b"]["words_total"] == 2  # empty doc contributes 0 words


def test_ewma_smooth_excludes_null_values(spark):
    """A NULL observation must not poison the series tail (the repo's
    NULL-exclusion convention): the recurrence skips to the next
    non-NULL point, and the NULL row never appears in the output."""
    from strategicai_visibility_loop_etl_spark.operators.timeseries import (
        ewma_smooth,
    )

    df = spark.createDataFrame(
        [("k", 1, 10.0), ("k", 2, None), ("k", 3, 20.0), ("k", 4, 30.0)],
        "g string, t long, v double",
    )
    out = {
        r["t"]: r for r in ewma_smooth(df, ["g"], "t", "v", alpha=0.5).collect()
    }
    assert set(out) == {1, 3, 4}           # NULL row excluded
    assert out[1]["ewma"] == 10.0
    assert out[3]["ewma"] == 15.0          # .5*20 + .5*10 — not NULL
    assert out[4]["ewma"] == 22.5
    assert out[4]["residual"] == 15.0      # 30 - 15


@pytest.mark.sweep
def test_bradley_terry_two_item_exact_and_properties(spark):
    """Two items with a 3:1 record converge to the exact MLE (1.5,
    0.5) in one MM round under the mean-1 gauge; more wins never
    ranks lower; strengths are partitioning-invariant."""
    import pytest as _pytest

    from strategicai_visibility_loop_etl_spark.operators.preference import (
        bradley_terry,
    )

    duels = spark.createDataFrame(
        [("A", "B")] * 3 + [("B", "A")],
        "winner string, loser string",
    )
    out = {r["item"]: r for r in bradley_terry(duels, iters=10).collect()}
    assert out["A"]["strength"] == 1.5
    assert out["B"]["strength"] == 0.5
    assert out["A"]["wins"] == 3 and out["A"]["games"] == 4
    assert out["B"]["wins"] == 1 and out["B"]["games"] == 4

    # three items, transitive record: strength order follows dominance
    tri = spark.createDataFrame(
        [("A", "B")] * 4 + [("B", "C")] * 4 + [("A", "C")] * 4
        + [("C", "A"), ("B", "A"), ("C", "B")],
        "winner string, loser string",
    )
    r = {x["item"]: x["strength"] for x in bradley_terry(tri, iters=10).collect()}
    assert r["A"] > r["B"] > r["C"]
    assert abs(sum(r.values()) - 3.0) < 1e-6  # mean-1 gauge
    # partitioning invariance (decimal sums are order-free)
    r2 = {
        x["item"]: x["strength"]
        for x in bradley_terry(tri.repartition(7), iters=10).collect()
    }
    assert r == r2

    with _pytest.raises(ValueError):
        bradley_terry(duels, iters=0)


def test_removal_effect_hand_example(spark):
    """Four journeys with a hand-solvable chain: full conversion
    probability 0.5; removing A leaves only S->B->CONV (0.125),
    removing B leaves only S->A->CONV (0.25) — effects 0.75/0.5,
    shares 0.6/0.4."""
    import pytest as _pytest

    from strategicai_visibility_loop_etl_spark.operators.relational import (
        removal_effect,
    )

    rows = [
        (1, 1, "A"), (1, 2, "purchase"),
        (2, 1, "A"), (2, 2, "B"),
        (3, 1, "B"), (3, 2, "purchase"),
        (4, 1, "A"),
    ]
    df = spark.createDataFrame(rows, "seq long, t long, ch string")
    out = {
        r["channel"]: r
        for r in removal_effect(
            df, "seq", "t", "ch", "purchase", horizon=8
        ).collect()
    }
    assert set(out) == {"A", "B"}
    assert out["A"]["p_full"] == 0.5 and out["B"]["p_full"] == 0.5
    assert out["A"]["p_removed"] == 0.125
    assert out["B"]["p_removed"] == 0.25
    assert out["A"]["removal_effect"] == 0.75
    assert out["B"]["removal_effect"] == 0.5
    assert out["A"]["attribution_share"] == 0.6
    assert out["B"]["attribution_share"] == 0.4

    # journeys truncate at the FIRST conversion: a post-purchase
    # event must not create transitions
    rows2 = rows + [(1, 3, "B")]
    df2 = spark.createDataFrame(rows2, "seq long, t long, ch string")
    out2 = {
        r["channel"]: r["removal_effect"]
        for r in removal_effect(
            df2, "seq", "t", "ch", "purchase", horizon=8
        ).collect()
    }
    assert out2 == {"A": 0.75, "B": 0.5}

    with _pytest.raises(ValueError):
        removal_effect(df, "seq", "t", "ch", "purchase", horizon=0)


def test_kaplan_meier_hand_example(spark):
    """Classic product-limit example: censored units leave the risk
    set without stepping the curve; survival steps only at observed
    events; NULL flags count as censored."""
    from strategicai_visibility_loop_etl_spark.operators.timeseries import (
        kaplan_meier,
    )

    df = spark.createDataFrame(
        [
            ("g", 1, 1),
            ("g", 2, 0),
            ("g", 3, 1),
            ("g", 3, 1),
            ("g", 4, None),  # NULL = censored
        ],
        "grp string, dur long, ev int",
    )
    out = {
        r["duration"]: r
        for r in kaplan_meier(df, "dur", "ev", ["grp"]).collect()
    }
    assert out[1]["n_risk"] == 5 and out[1]["n_events"] == 1
    assert out[1]["survival"] == 0.8
    assert out[2]["n_risk"] == 4 and out[2]["n_censored"] == 1
    assert out[2]["survival"] == 0.8          # censoring doesn't step
    assert out[3]["n_risk"] == 3 and out[3]["n_events"] == 2
    assert out[3]["survival"] == round(0.8 * (1 - 2 / 3), 12)
    assert out[4]["n_risk"] == 1 and out[4]["survival"] == out[3]["survival"]


def test_removal_effect_reserved_state_collision_raises(spark):
    """A real channel named CONV/DROP/START would merge with the
    synthetic absorbing states and corrupt attribution — raise."""
    import pytest as _pytest

    from strategicai_visibility_loop_etl_spark.operators.relational import (
        removal_effect,
    )

    df = spark.createDataFrame(
        [(1, 1, "A"), (1, 2, "CONV"), (2, 1, "A"), (2, 2, "purchase")],
        "seq long, t long, ch string",
    )
    with _pytest.raises(ValueError, match="reserved"):
        removal_effect(df, "seq", "t", "ch", "purchase", horizon=2)


def test_corr_matrix(spark):
    """Perfect +/- correlations, degenerate-constant NULL, and
    pairwise-complete NULL handling."""
    import pytest as _pytest

    from strategicai_visibility_loop_etl_spark.operators.aggregate import (
        corr_matrix,
    )

    df = spark.createDataFrame(
        [
            (1.0, 2.0, 5.0, 7.0),
            (2.0, 4.0, 5.0, None),
            (3.0, 6.0, 5.0, 3.0),
            (4.0, 8.0, 5.0, 1.0),
        ],
        "x double, y double, c double, w double",
    )
    out = {
        (r["col_a"], r["col_b"]): r
        for r in corr_matrix(df, ["x", "y", "c", "w"]).collect()
    }
    assert out[("x", "y")]["r"] == 1.0       # y = 2x
    assert out[("x", "y")]["n"] == 4
    assert out[("x", "c")]["r"] is None      # constant column
    assert out[("x", "w")]["n"] == 3         # pairwise-complete
    assert out[("x", "w")]["r"] == -1.0      # w = -2x + 9 on those rows
    with _pytest.raises(ValueError):
        corr_matrix(df, ["x"])


def test_cramers_v(spark):
    """Perfect determination gives V=1; exact independence gives 0."""
    from strategicai_visibility_loop_etl_spark.operators.expectations import (
        cramers_v,
    )

    det = spark.createDataFrame(
        [("a", "x")] * 3 + [("b", "y")] * 3, "p string, q string"
    )
    r = cramers_v(det, "p", "q").collect()[0]
    assert r["v"] == 1.0 and r["n"] == 6
    indep = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")],
        "p string, q string",
    )
    r2 = cramers_v(indep, "p", "q").collect()[0]
    assert r2["chi2"] == 0.0 and r2["v"] == 0.0


def test_seasonal_decompose(spark):
    """Alternating series around a constant level: trend = level,
    seasonal = the alternation, residual = 0; edges where the
    centered window is incomplete carry NULL trend/residual."""
    import pytest as _pytest

    from strategicai_visibility_loop_etl_spark.operators.timeseries import (
        seasonal_decompose,
    )

    rows = [("g", t, 10.0 + (t % 2)) for t in range(1, 9)]
    df = spark.createDataFrame(rows, "grp string, t long, v double")
    out = {
        r["t"]: r
        for r in seasonal_decompose(df, ["grp"], "t", "v", period=2).collect()
    }
    # even period: the 2x-weighted centered MA needs BOTH neighbors
    assert out[1]["trend"] is None and out[8]["trend"] is None
    for t in range(2, 8):
        assert out[t]["trend"] == 10.5
        assert out[t]["residual"] == 0.0
    assert out[3]["seasonal"] == 0.5 and out[4]["seasonal"] == -0.5

    # slope-unbiasedness of the even-period form: on a pure linear
    # series the centered weighted MA recovers the level EXACTLY —
    # the asymmetric plain window would sit half a step low
    lin = spark.createDataFrame(
        [("g", t, float(t)) for t in range(1, 9)],
        "grp string, t long, v double",
    )
    lout = {
        r["t"]: r["trend"]
        for r in seasonal_decompose(lin, ["grp"], "t", "v", period=2).collect()
    }
    for t in range(2, 8):
        assert lout[t] == float(t)

    # odd period stays the plain symmetric window
    oout = {
        r["t"]: r["trend"]
        for r in seasonal_decompose(lin, ["grp"], "t", "v", period=3).collect()
    }
    for t in range(2, 8):
        assert oout[t] == float(t)
    with _pytest.raises(ValueError):
        seasonal_decompose(df, ["grp"], "t", "v", period=1)


def test_item_cosine_pairs(spark):
    """Co-occurrence cosine: exact pair count over the sqrt-product
    of item frequencies; min_pair drops coincidences."""
    import math

    from strategicai_visibility_loop_etl_spark.operators.relational import (
        item_cosine_pairs,
    )

    rows = [
        (1, "A"), (1, "B"),
        (2, "A"), (2, "B"),
        (3, "A"), (3, "C"),
    ]
    df = spark.createDataFrame(rows, "b long, i string")
    out = {
        (r["item_a"], r["item_b"]): r
        for r in item_cosine_pairs(df, "b", "i", min_pair=2).collect()
    }
    assert set(out) == {("A", "B")}   # A-C co-occurs once -> dropped
    r = out[("A", "B")]
    assert (r["pair_n"], r["n_a"], r["n_b"]) == (2, 3, 2)
    assert r["cosine"] == round(2 / (math.sqrt(3) * math.sqrt(2)), 6)


def test_gini_concentration(spark):
    """Uniform mass -> 0; one-holder mass -> (n-1)/n; zero-total and
    empty groups NULL/absent; negatives and NULLs excluded."""
    from strategicai_visibility_loop_etl_spark.operators.aggregate import (
        gini_concentration,
    )

    rows = (
        [("u", 5.0)] * 4
        + [("c", 0.0), ("c", 0.0), ("c", 0.0), ("c", 1.0)]
        + [("z", 0.0), ("z", 0.0)]
        + [("n", -3.0), ("n", None), ("n", 2.0)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in gini_concentration(df, ["g"], "v").collect()}
    assert out["u"]["gini"] == 0.0
    assert out["c"]["gini"] == 0.75       # (2*4 - 5*1) / (4*1)
    assert out["z"]["gini"] is None       # zero total mass
    assert out["n"]["n"] == 1             # negative + NULL excluded


def test_corr_matrix_small_magnitude_products(spark):
    """Products of ~1e-4-scale values must stay exact: the Spark
    (28,6)x(28,6) decimal promotion would 6dp-round them to zero and
    report NULL r for a perfectly correlated pair (review-caught;
    operands now ride (18,6) so the product is (37,12) exact)."""
    from strategicai_visibility_loop_etl_spark.operators.aggregate import (
        corr_matrix,
    )

    df = spark.createDataFrame(
        [(1e-4, 2e-4), (2e-4, 4e-4), (3e-4, 6e-4)],
        "x double, y double",
    )
    out = corr_matrix(df, ["x", "y"]).collect()
    assert out[0]["r"] == 1.0


@pytest.mark.sweep
def test_bt_model_sized_rounds_match_distributed_loop(spark):
    """Optimization r14: the model-sized MM path (strengths fed back
    as a map literal, one job per round) must be bit-identical to the
    distributed join loop — same rows, same doubles — because every
    arithmetic step is the same Spark expression over the same values."""
    from strategicai_visibility_loop_etl_spark.operators.preference import (
        bradley_terry,
    )

    duels = spark.createDataFrame(
        [("A", "B")] * 7 + [("B", "C")] * 5 + [("C", "A")] * 3
        + [("A", "C")] * 2 + [("B", "A")] * 4 + [("D", "A")],
        "winner string, loser string",
    )
    fast = [tuple(r) for r in bradley_terry(duels, iters=10).collect()]
    slow = [
        tuple(r)
        for r in bradley_terry(
            duels, iters=10, broadcast_items_max=0
        ).collect()
    ]
    assert fast == slow
