"""Gap-based sessionization.

``sessionize_batch`` assigns events to per-user sessions that close
after ``gap`` of inactivity, with a window (lag → gap flag → cumulative
session id) — one shuffle on the key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize_batch(
    events: DataFrame,
    gap_seconds: int = 1800,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session assignment via windows (lag → new-session flag → running
    session index), one shuffle on the key."""
    w = Window.partitionBy(key_col).orderBy(ts_col)
    # Interval comparison, not cast-to-epoch: works for TIMESTAMP and
    # TIMESTAMP_NTZ alike (NTZ forbids numeric casts) and never touches
    # the session timezone.
    gap = F.make_dt_interval(secs=F.lit(gap_seconds))
    flagged = events.withColumn(
        "__new",
        F.when(
            F.col(ts_col) - F.lag(F.col(ts_col)).over(w) > gap,
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("__sess", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        flagged.groupBy(key_col, "__sess")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .drop("__sess")
    )
