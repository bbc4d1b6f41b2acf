"""Deequ-lite expectation gate (operators/expectations.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from strategicai_visibility_loop_etl_spark.operators.expectations import (
    validate_expectations,
)


def test_every_rule_kind_counts_violations(spark):
    df = spark.createDataFrame(
        [
            (1, "a@x.com", 10.0, "OK", 100),
            (2, None, -5.0, "OK", 100),        # null email, below range
            (2, "b@y.org", 10.0, "BAD", None), # dup id, bad status, null fk
            (4, "not-an-email", 99.0, "OK", 999),  # regex fail, fk missing
            (None, "c@z.io", 1000.0, "OK", 100),   # null id, above range
            (None, "d@w.co", 10.0, "OK", 100),     # second null id
        ],
        "id long, email string, amount double, status string, cust long",
    )
    ref = spark.createDataFrame([(100,), (101,)], "c long")
    rules = [
        {"rule": "not_null", "col": "email"},
        {"rule": "unique", "col": "id"},
        {"rule": "in_range", "col": "amount", "min": 0, "max": 500},
        {"rule": "accepted_values", "col": "status", "values": ["OK"]},
        {"rule": "matches_regex", "col": "email",
         "pattern": r"^[\w.]+@[\w.]+$"},
        {"rule": "foreign_key", "col": "cust", "ref": ref, "ref_col": "c"},
    ]
    got = {r["rule_id"]: r.asDict() for r in
           validate_expectations(df, rules).collect()}
    assert all(got[i]["n_rows"] == 6 for i in got)
    assert got[0]["n_violations"] == 1          # one null email
    # dup id=2 contributes 1 extra; two null ids contribute 1 extra
    assert got[1]["n_violations"] == 2
    assert got[2]["n_violations"] == 2          # -5 and 1000
    assert got[3]["n_violations"] == 1          # BAD
    assert got[4]["n_violations"] == 1          # not-an-email (nulls skip)
    assert got[5]["n_violations"] == 1          # 999 unmatched (null skips)
    assert not any(got[i]["passed"] for i in got)


def test_clean_table_passes_and_report_is_lazy(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, 6.0)], "id long, v double"
    )
    rules = [
        {"rule": "not_null", "col": "v"},
        {"rule": "unique", "col": "id"},
        {"rule": "in_range", "col": "v", "min": 0.0},
    ]
    rep = validate_expectations(df, rules)  # no action yet
    rows = rep.collect()
    assert all(r["passed"] and r["n_violations"] == 0 for r in rows)
    assert [r["rule_id"] for r in rows] == [0, 1, 2]


def test_unknown_rule_raises(spark):
    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="unknown row-level rule"):
        validate_expectations(df, [{"rule": "nope", "col": "id"}]).collect()


def test_profile_columns_known_values(spark):
    from strategicai_visibility_loop_etl_spark.operators.expectations import (
        profile_columns,
    )

    df = spark.createDataFrame(
        [(1, 2.0, "a"), (2, None, "b"), (2, 6.0, None), (3, 4.0, "a")],
        "id long, v double, s string",
    )
    got = {r["col"]: r.asDict() for r in profile_columns(df).collect()}
    assert got["id"] == dict(
        col="id", n_rows=4, n_nulls=0, n_distinct=3,
        min_num=1.0, max_num=3.0, mean=2.0, min_str=None, max_str=None,
    )
    assert got["v"]["n_nulls"] == 1 and got["v"]["mean"] == 4.0
    assert got["s"] == dict(
        col="s", n_rows=4, n_nulls=1, n_distinct=2,
        min_num=None, max_num=None, mean=None, min_str="a", max_str="b",
    )


def test_key_skew_profile_known_counts(spark):
    from strategicai_visibility_loop_etl_spark.operators.expectations import (
        key_skew_profile,
    )

    # 'hot' 70 rows, 'warm' 25, 'cold' 5 -> n_rows=100, n_keys=3.
    rows = [("hot",)] * 70 + [("warm",)] * 25 + [("cold",)] * 5
    df = spark.createDataFrame(rows, "k string")
    out = key_skew_profile(df, "k", target_rows=30, top_k=2).collect()
    assert [(r["key"], r["cnt"]) for r in out] == [("hot", 70), ("warm", 25)]
    hot = out[0]
    assert hot["share_ppm"] == 700000
    assert hot["salt_factor"] == 3  # ceil(70/30)
    assert out[1]["salt_factor"] == 1
    assert hot["n_rows"] == 100 and hot["n_keys"] == 3
    assert abs(hot["skew_ratio"] - 70 / (100 / 3)) < 1e-9


def test_key_skew_profile_rejects_bad_args(spark):
    import pytest as _pytest

    from strategicai_visibility_loop_etl_spark.operators.expectations import (
        key_skew_profile,
    )

    df = spark.createDataFrame([("a",)], "k string")
    with _pytest.raises(ValueError):
        key_skew_profile(df, "k", target_rows=0)


def test_fleiss_kappa_hand_example(spark):
    from strategicai_visibility_loop_etl_spark.operators.governance import (
        rater_agreement,
    )

    # item 1: both raters say A -> P_1 = 1; item 2: split A/B -> P_2
    # = 0. p_bar = 0.5; S_A=3, S_B=1 over Nn=4 -> p_e = 0.75^2 +
    # 0.25^2 = 0.625; kappa = (0.5-0.625)/0.375 = -1/3.
    rows = [(1, "r1", "A"), (1, "r2", "A"), (2, "r1", "A"), (2, "r2", "B")]
    ev = spark.createDataFrame(rows, "item_id long, rater_id string, category string")
    r = rater_agreement(ev).collect()[0]
    assert (r["n_items"], r["n_raters"]) == (2, 2)
    assert (r["p_bar"], r["p_e"], r["kappa"]) == (0.5, 0.625, -0.333333)


def test_fleiss_kappa_perfect_and_partial_panels(spark):
    from strategicai_visibility_loop_etl_spark.operators.governance import (
        rater_agreement,
    )

    # Perfect agreement over 3 raters -> kappa == 1; item 30 has only
    # one rater and is dropped (n_items == 2, not 3); duplicate
    # (item, rater, category) rows collapse.
    rows = [
        (10, "a", "X"), (10, "b", "X"), (10, "c", "X"), (10, "c", "X"),
        (20, "a", "Y"), (20, "b", "Y"), (20, "c", "Y"),
        (30, "a", "X"),
    ]
    ev = spark.createDataFrame(rows, "item_id long, rater_id string, category string")
    r = rater_agreement(ev).collect()[0]
    assert (r["n_items"], r["n_raters"], r["p_bar"], r["kappa"]) == (2, 3, 1.0, 1.0)


def test_fleiss_kappa_conflicting_rater_cannot_poison_panel(spark):
    from strategicai_visibility_loop_etl_spark.operators.governance import (
        rater_agreement,
    )

    # Rater r1 casts TWO categories for item 1 (vote count 3 >
    # distinct raters 2): that item must be dropped as invalid, NOT
    # raise the panel size to 3 and evict every clean 2-rater item.
    rows = [
        (1, "r1", "A"), (1, "r1", "B"), (1, "r2", "A"),
        (2, "r1", "A"), (2, "r2", "A"),
        (3, "r1", "X"), (3, "r2", "Y"),
    ]
    ev = spark.createDataFrame(rows, "item_id long, rater_id string, category string")
    r = rater_agreement(ev).collect()[0]
    assert (r["n_items"], r["n_raters"]) == (2, 2)
    assert r["p_bar"] == 0.5  # item 2 agrees, item 3 splits


def test_fleiss_kappa_degenerate_panels_read_as_null(spark):
    """Degenerate panels must read as NULL (the ks_test no-data
    convention), never Inf/NaN: a single-rater panel (n == 1) zeroes
    p_bar's denominator nn*(n-1); unanimous single-category voting
    drives rounded p_e to 1.0 and zeroes kappa's denominator."""
    import math

    from strategicai_visibility_loop_etl_spark.operators.governance import (
        rater_agreement,
    )

    # n == 1: every item rated by exactly one rater.
    solo = spark.createDataFrame(
        [(1, "r1", "A"), (2, "r1", "B"), (3, "r1", "A")],
        "item_id long, rater_id string, category string",
    )
    r = rater_agreement(solo).collect()[0]
    assert (r["n_items"], r["n_raters"]) == (3, 1)
    assert r["p_bar"] is None and r["kappa"] is None
    assert r["p_e"] is not None and not math.isnan(r["p_e"])

    # p_e == 1: two raters, every vote in the single category.
    unanimous = spark.createDataFrame(
        [(1, "r1", "A"), (1, "r2", "A"), (2, "r1", "A"), (2, "r2", "A")],
        "item_id long, rater_id string, category string",
    )
    r2 = rater_agreement(unanimous).collect()[0]
    assert (r2["n_items"], r2["n_raters"], r2["p_bar"], r2["p_e"]) == (
        2, 2, 1.0, 1.0,
    )
    assert r2["kappa"] is None  # 0/0, visible as no-signal not NaN

    # empty panel: no valid items at all (conflicting sole rater)
    empty = spark.createDataFrame(
        [(1, "r1", "A"), (1, "r1", "B")],
        "item_id long, rater_id string, category string",
    )
    r3 = rater_agreement(empty).collect()[0]
    assert r3["n_items"] == 0
    assert r3["p_bar"] is None and r3["p_e"] is None and r3["kappa"] is None


def test_k_anonymity_violations_and_suppression(spark):
    """k-anonymity gate (capability row 181): rare quasi combinations
    surface rarest-first; suppressing the reported combinations leaves
    a k-anonymous table; NULL quasi values are their own (potentially
    rare) combination, counted null-safely; k < 2 rejected."""
    import pytest as _pytest

    from strategicai_visibility_loop_etl_spark.operators.governance import (
        k_anonymity_violations,
    )

    rows = (
        [("NL", "1011", i) for i in range(5)]
        + [("NL", "1012", 100)]              # size 1 -> violation
        + [("BE", "2000", 200), ("BE", "2000", 201)]  # size 2 -> violation
        + [(None, "9999", 300)]              # NULL group, size 1
    )
    df = spark.createDataFrame(rows, "country string, zip string, uid long")
    v = k_anonymity_violations(df, ["country", "zip"], k=3).collect()
    assert [(r["country"], r["zip"], r["n"]) for r in v] == [
        (None, "9999", 1), ("NL", "1012", 1), ("BE", "2000", 2),
    ]
    # The report is complete: a null-safe anti join on it suppresses
    # every violating row and leaves a k-anonymous table.
    vdf = k_anonymity_violations(df, ["country", "zip"], k=3)
    safe = df.join(
        vdf,
        df["country"].eqNullSafe(vdf["country"]) & df["zip"].eqNullSafe(vdf["zip"]),
        "left_anti",
    )
    assert safe.count() == 5
    assert k_anonymity_violations(safe, ["country", "zip"], k=3).count() == 0
    # A NULL group large enough is no violation: country=NL has 6 rows
    # and country=None has 5 (null-safe grouping); only BE (2) reports.
    nulls = spark.createDataFrame(
        [(None, "x", i) for i in range(4)],
        "country string, zip string, uid long",
    )
    widened = k_anonymity_violations(df.unionByName(nulls), ["country"], k=5)
    assert [(r["country"], r["n"]) for r in widened.collect()] == [("BE", 2)]
    with _pytest.raises(ValueError):
        k_anonymity_violations(df, ["country"], k=1)


def test_fd_violations_structure_audit(spark):
    """X -> Y violations: only forked combinations report, NULL rhs
    is not evidence of a fork, witnesses are min/max."""
    from strategicai_visibility_loop_etl_spark.operators.expectations import (
        fd_violations,
    )

    df = spark.createDataFrame(
        [
            ("a", "x"), ("a", "y"), ("a", "y"),   # fork: 2 distinct
            ("b", "z"), ("b", "z"),               # holds
            ("c", "w"), ("c", None),              # NULL not a fork
            (None, "p"), (None, "q"),             # NULL lhs groups
        ],
        "k string, v string",
    )
    out = {r["k"]: r for r in fd_violations(df, ["k"], "v").collect()}
    assert set(out) == {"a", None}
    assert out["a"]["n_distinct_rhs"] == 2
    assert out["a"]["n_rows"] == 3
    assert (out["a"]["rhs_min"], out["a"]["rhs_max"]) == ("x", "y")
    assert out[None]["n_distinct_rhs"] == 2


def test_log_templates(spark):
    """UUIDs, 0x-hex and digit runs mask to placeholders; identical
    templates aggregate with distinct-line counts and a deterministic
    example; NULL lines drop."""
    from strategicai_visibility_loop_etl_spark.operators.expectations import (
        log_templates,
    )

    df = spark.createDataFrame(
        [
            ("user 123 logged in",),
            ("user 99 logged in",),
            ("user 99 logged in",),
            ("error 0xDEADbeef at 17",),
            ("req 550e8400-e29b-41d4-a716-446655440000 done",),
            (None,),
        ],
        "line string",
    )
    out = {r["template"]: r for r in log_templates(df, "line").collect()}
    assert set(out) == {
        "user <n> logged in",
        "error <hex> at <n>",
        "req <uuid> done",
    }
    u = out["user <n> logged in"]
    assert u["n_lines"] == 3 and u["n_distinct_lines"] == 2
    assert u["example"] == "user 123 logged in"
