"""Anomaly slices (reference etl_merge.py:905-1012).

The CTR-underperformance slice filters to scored candidates, keeps
positive missed_clicks, and ranks by opportunity. Ranking uses a
global row_number — on a slice that is by construction a small
fraction of rows, and ``anomaly_ctr_underperf`` caps it
(`orderBy(...).limit(N)` → TakeOrdered, no full sort) before ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def anomaly_ctr_underperf(
    scored: DataFrame,
    cfg: dict,
    limit: int | None = 100_000,
) -> DataFrame:
    """CTR-underperformance slice, ranked by opportunity.

    ``limit`` is capped by default: the rank is a global row_number, and
    an uncapped global window is a single-partition sort at scale. With
    the cap, the sort is TakeOrderedAndProject (top-N per partition then
    merge on the driver-side heap) and the window only ever sees
    ``limit`` rows. Pass ``limit=None`` only for small slices.

    The rank window partitions on a CONSTANT-BY-CONSTRUCTION key
    (``nanvl(missed_clicks * 0, 0.0)`` — 0.0 for every surviving row
    including NaN/Infinity metrics, since NaN > 0 passes the filter;
    a foldable literal would be optimized away by
    EliminateWindowPartitions) rather than nothing: execution is
    identical (one partition either way — safe because the ``.limit``
    bounds it to ``limit`` rows), but the single-partition invariant
    is now explicit in the plan instead of implied, and the per-run
    ``WindowExec: No Partition Defined`` warning — which reads as an
    unbounded-sort hazard even though this one is capped — is gone
    (pinned in ``tests/test_plan_shapes.py``).
    """
    under = ctr_candidates(scored, cfg).filter(F.col("missed_clicks") > 0)
    if limit is not None:
        # TakeOrdered path: no global sort materialization.
        under = under.orderBy(F.col("missed_clicks").desc(), F.col("url")).limit(limit)
    # nanvl: missed_clicks * 0 is NaN for NaN/Infinity inputs (and
    # NaN > 0 passes the filter above), which would split the window
    # into a second partition and duplicate ranks — nanvl folds every
    # row back to the single 0.0 partition while staying non-foldable.
    w = Window.partitionBy(
        F.nanvl(F.col("missed_clicks") * F.lit(0), F.lit(0.0))
    ).orderBy(F.col("missed_clicks").desc(), F.col("url"))
    return under.withColumn("priority_rank", F.row_number().over(w)).withColumn(
        "intent_note", F.lit("")  # analyst triage column (reference :972)
    )


def ctr_candidates(scored: DataFrame, cfg: dict) -> DataFrame:
    """All rows eligible for CTR evaluation — the reference's
    ``ctr_debug`` export (etl_merge.py:919-952): position/ctr/
    impressions present, position within eval range, optional
    min-clicks floor. Includes NON-underperforming rows."""
    scoring = cfg.get("scoring", {}) or {}
    max_pos = float(scoring.get("max_position_for_ctr_eval", 5))
    min_clicks = float(scoring.get("min_clicks_for_ctr_eval", 0))

    cand = scored.filter(
        F.col("position").isNotNull()
        & F.col("ctr").isNotNull()
        & F.col("impressions").isNotNull()
        & (F.col("position") <= max_pos)
    )
    if min_clicks > 0 and "clicks" in scored.columns:
        cand = cand.filter(F.coalesce(F.col("clicks"), F.lit(0.0)) >= min_clicks)
    return cand


def schema_gaps(merged: DataFrame, col: str = "schema_types") -> DataFrame:
    """Rows with missing/blank structured data (reference :1006-1012)."""
    c = F.col(col)
    return merged.filter(c.isNull() | (F.trim(c.cast("string")) == ""))

