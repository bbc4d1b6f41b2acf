"""As-of join edge cases, salted-join equivalence, and gap
sessionization."""

from __future__ import annotations

import pytest

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from strategicai_visibility_loop_etl_spark.operators.asof import asof_join
from strategicai_visibility_loop_etl_spark.operators.relational import (
    funnel_steps,
    salted_join,
)
from strategicai_visibility_loop_etl_spark.streaming.sessions import sessionize_batch


def _ts(s):
    return datetime.fromisoformat(s)


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [
            (1, "k1", _ts("2024-01-01 10:00:00")),   # after both rights -> latest (9:30)
            (2, "k1", _ts("2024-01-01 09:00:00")),   # between -> 8:00 row
            (3, "k1", _ts("2024-01-01 07:59:59")),   # before all -> null
            (4, "k1", _ts("2024-01-01 08:00:00")),   # exact tie -> matched
            (5, "k2", _ts("2024-01-01 12:00:00")),   # key with no rights -> null
        ],
        "id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("k1", _ts("2024-01-01 08:00:00"), "v8", 80),
            ("k1", _ts("2024-01-01 09:30:00"), "v930", None),  # null value col still wins
        ],
        "k string, rts timestamp, label string, amount int",
    )
    out = {r["id"]: r for r in asof_join(left, right, "k", "ts", "rts").collect()}
    assert out[1]["label"] == "v930" and out[1]["amount"] is None  # latest ROW wins
    assert out[2]["label"] == "v8" and out[2]["amount"] == 80
    assert out[3]["label"] is None
    assert out[4]["label"] == "v8"  # ties match (>= semantics)
    assert out[5]["label"] is None
    assert len(out) == 5  # exactly one output row per left row


def test_salted_join_equals_plain_join(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_partkey").alias("p_partkey"), "l_quantity"
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey", "p_brand")
    plain = li.join(part, "p_partkey").groupBy("p_brand").count()
    salted = salted_join(li, part, "p_partkey", salt=4).groupBy("p_brand").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def _session_events(spark):
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    for user in range(3):
        # session 1: 3 events 10 min apart; gap; session 2: 2 events
        for m in (0, 10, 20, 120, 125):
            rows.append((eid, t0 + timedelta(minutes=m + user), user, "view", 1.0))
            eid += 1
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_funnel_steps_ordering_semantics(spark):
    """Clicks before the first view don't count; simultaneous events
    don't advance (strictly-after); stalled users keep NULL tails."""
    rows = [
        # u1 converts fully, with an early click that must be ignored.
        (1, "click", 5), (1, "view", 10), (1, "click", 20), (1, "purchase", 30),
        # u2: click at the same instant as the view — not strictly after.
        (2, "view", 10), (2, "click", 10), (2, "purchase", 40),
        # u3: never clicks; a purchase without a click can't count.
        (3, "view", 10), (3, "purchase", 99),
        # u4: no view at all — not in the funnel.
        (4, "click", 1), (4, "purchase", 2),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts long")
    got = {r["user_id"]: r for r in funnel_steps(ev, ["view", "click", "purchase"]).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[1]["t_1"], got[1]["t_2"], got[1]["t_3"]) == (10, 20, 30)
    assert got[2]["t_2"] is None and got[2]["t_3"] is None
    assert got[3]["t_2"] is None and got[3]["t_3"] is None


def test_sessionize_batch(spark):
    ev = _session_events(spark)
    sess = sessionize_batch(ev, gap_seconds=1800).collect()
    per_user = {}
    for r in sess:
        per_user.setdefault(r["user_id"], []).append(r)
    assert set(per_user) == {0, 1, 2}
    for u, ss in per_user.items():
        ss.sort(key=lambda r: r["session_start"])
        assert [s["n_events"] for s in ss] == [3, 2]
        assert ss[0]["sum_value"] == 3.0 and ss[1]["sum_value"] == 2.0


def test_shapley_attribution_hand_example(spark):
    from strategicai_visibility_loop_etl_spark.operators.relational import (
        shapley_attribution,
    )

    # u1 touches A and buys 10; u2 touches A+B and buys 2+3; u3
    # touches nothing and buys 7 (baseline mass, attributed to
    # nobody); u4 touches B and never buys.  Hand Shapley (n=2):
    # phi_A = ([v(A)-v(0)] + [v(AB)-v(B)])/2 = (1+3)/2 = 2 convs,
    # (10+15)/2 = 12.5 value; phi_B = (0+2)/2 = 1 conv, (0+5)/2 = 2.5.
    rows = [
        (1, "A", 0.0), (1, "buy", 10.0),
        (2, "A", 0.0), (2, "B", 0.0), (2, "buy", 2.0), (2, "buy", 3.0),
        (3, "buy", 7.0),
        (4, "B", 0.0),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, value double")
    got = {
        r["channel"]: (r["shapley_conversions"], r["shapley_value"])
        for r in shapley_attribution(ev, ["A", "B"], "buy").collect()
    }
    assert got == {"A": (2.0, 12.5), "B": (1.0, 2.5)}


@pytest.mark.sweep
def test_shapley_efficiency_axiom_and_partition_independence(spark):
    from pyspark.sql import functions as F

    from strategicai_visibility_loop_etl_spark.operators.relational import (
        shapley_attribution,
    )

    # Pseudo-random touch/conversion data over 3 channels: the
    # Shapley shares must sum exactly to v(N) - v(empty) (efficiency
    # axiom), and the answer must not depend on partitioning.
    ev = (
        spark.range(600)
        .select(
            (F.col("id") % 40).alias("user_id"),
            F.element_at(
                F.array(*[F.lit(c) for c in ["A", "B", "C", "buy"]]),
                ((F.col("id") * 7 + 3) % 4 + 1).cast("int"),
            ).alias("event_type"),
            (F.col("id") % 13).cast("double").alias("value"),
        )
    )
    res = shapley_attribution(ev, ["A", "B", "C"], "buy")
    tot = res.agg(
        F.sum("shapley_conversions").alias("n"), F.sum("shapley_value").alias("v")
    ).collect()[0]
    # v(N): all conversions from users touching >=0 channels minus
    # v(empty): conversions from users touching none.
    conv = ev.filter(F.col("event_type") == "buy")
    touched_users = ev.filter(F.col("event_type") != "buy").select("user_id").distinct()
    v_full = conv.count()
    v_empty = conv.join(touched_users, "user_id", "left_anti").count()
    assert abs(tot["n"] - (v_full - v_empty)) < 1e-6
    a = sorted(map(tuple, res.collect()))
    b = sorted(map(tuple, shapley_attribution(ev.repartition(17), ["A", "B", "C"], "buy").collect()))
    assert a == b
