"""Config-driven expected-CTR scoring (reference etl_merge.py:333-434, 789-843).

The reference evaluates position buckets row-by-row in Python with a
first-match-wins loop. Spark-first design: the bucket table (a handful
of config rows) compiles into a ``when``-chain in config order — a pure
codegen'd projection with zero joins, preserving first-match semantics
even for overlapping or boundary-touching buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _parse_bucket_key(k: str) -> tuple[float, float] | None:
    k = str(k).strip()
    try:
        if "-" in k:
            lo, hi = k.split("-", 1)
            return float(lo), float(hi)
        v = float(k)
        return v, v
    except ValueError:
        return None


def _normalize_expected(v: float, units: str, uplift: float) -> float:
    out = float(v)
    if units.lower().strip() == "percent":
        out /= 100.0
    return out * (1.0 + uplift)


def expected_ctr_bucket_rows(scoring_cfg: dict) -> list[tuple[str, float, float, float]]:
    """Bucket config → ordered [(bucket, lo, hi, expected_ctr)] rows.

    Config order is preserved — the reference takes the FIRST matching
    bucket and breaks (etl_merge.py:370-380), so order is semantics.
    """
    units = str(scoring_cfg.get("expected_ctr_units", "fraction"))
    uplift = float(scoring_cfg.get("expected_ctr_uplift", 0.0) or 0.0)
    rows = []
    for key, val in (scoring_cfg.get("expected_ctr_by_position", {}) or {}).items():
        rng = _parse_bucket_key(key)
        if rng is None:
            continue
        rows.append((str(key), rng[0], rng[1], _normalize_expected(val, units, uplift)))
    return rows


def intent_multiplier(
    url: Column, schema_types: Column | None, cfg: dict
) -> Column:
    """Substring-hint intent multiplier (reference :411-434) as a when-chain."""
    scoring = cfg.get("scoring", {}) or {}
    multipliers = scoring.get("intent_multipliers", {}) or {}
    hints = (cfg.get("mappings", {}) or {}).get("url_intent_hints", {}) or {}

    expr = None
    for hint, intent in hints.items():
        if not hint:
            continue
        mult = float(multipliers.get(intent, 1.0))
        cond = url.contains(hint)
        expr = F.when(cond, mult) if expr is None else expr.when(cond, mult)
    schema_l = F.lower(F.coalesce(schema_types, F.lit(""))) if schema_types is not None else F.lit("")
    trans = float(multipliers.get("transactional", 1.0))
    info = float(multipliers.get("informational", 1.0))
    tail = (
        F.when(schema_l.contains("product"), trans)
        .when(schema_l.contains("article") | schema_l.contains("blogposting"), info)
        .otherwise(F.lit(1.0))
    )
    if expr is None:
        return tail
    return expr.otherwise(tail)


def score_expected_ctr(
    merged: DataFrame,
    cfg: dict,
) -> DataFrame:
    """Attach expected_ctr / bucket / deficit / multiplier / missed_clicks.

    The bucket lookup is a when-chain in config order — FIRST matching
    bucket wins, exactly like the reference's loop-and-break
    (etl_merge.py:370-380). A range join would match every overlapping
    bucket and silently duplicate rows; the chain is also cheaper: zero
    joins, pure codegen'd projection.

    Fallback expected CTR when no bucket matches = global median ctr
    (reference :793-795) — computed as a scalar aggregate and broadcast
    via 1-row cross join.
    """
    scoring = cfg.get("scoring", {}) or {}
    thresholds = cfg.get("thresholds", {}) or {}
    margin = float(thresholds.get("ctr_underperf_margin", 0.0) or 0.0)
    units = str(scoring.get("expected_ctr_units", "fraction"))
    uplift = float(scoring.get("expected_ctr_uplift", 0.0) or 0.0)
    bucket_rows = expected_ctr_bucket_rows(scoring)

    # Exact interpolated median for reference parity (pandas .median()
    # averages the two middle values). ``median`` is a real aggregate
    # (no global sort).
    median_df = merged.select(F.median("ctr").alias("__ctr_median"))
    with_median = merged.crossJoin(F.broadcast(median_df))

    fallback = (F.col("__ctr_median") / (100.0 if units.lower() == "percent" else 1.0)) * (
        1.0 + uplift
    )
    pos = F.col("position")
    bucket_expr: Column = F.lit(None).cast("string")
    expected_expr: Column = F.lit(None).cast("double")
    if bucket_rows:
        chain_b = None
        chain_e = None
        for name, lo, hi, exp in bucket_rows:
            cond = pos.isNotNull() & (pos >= F.lit(lo)) & (pos <= F.lit(hi))
            chain_b = F.when(cond, name) if chain_b is None else chain_b.when(cond, name)
            chain_e = F.when(cond, exp) if chain_e is None else chain_e.when(cond, exp)
        bucket_expr = chain_b
        expected_expr = chain_e

    out = (
        with_median.withColumn(
            "expected_ctr_bucket",
            F.coalesce(bucket_expr, F.lit("fallback_median")),
        )
        .withColumn("expected_ctr", F.coalesce(expected_expr, fallback))
        .withColumn("expected_ctr_units", F.lit(units))
        .withColumn("expected_ctr_uplift", F.lit(uplift))
        .drop("__ctr_median")
    )

    # NULL-propagating clip: pandas' (expected - ctr - margin).clip(0)
    # keeps NaN for rows with no joined ctr (reference :820-824), but
    # Spark's greatest() IGNORES nulls — greatest(NULL, 0.0) = 0.0 —
    # which silently scored every unjoined row 0 instead of missing
    # (caught by the r14 e2e parity drive on a disjoint-URL sample).
    _deficit_raw = F.col("expected_ctr") - F.col("ctr") - F.lit(margin)
    out = out.withColumn(
        "ctr_deficit",
        F.when(_deficit_raw.isNotNull(), F.greatest(_deficit_raw, F.lit(0.0))),
    )
    schema_col = F.col("schema_types") if "schema_types" in out.columns else None
    out = out.withColumn("intent_multiplier", intent_multiplier(F.col("url"), schema_col, cfg))
    out = out.withColumn(
        "missed_clicks",
        F.col("ctr_deficit")
        * F.coalesce(F.col("impressions").cast("double"), F.lit(0.0))
        * F.coalesce(F.col("intent_multiplier"), F.lit(1.0)),
    ).withColumn("missed_clicks_eff", F.col("missed_clicks"))
    return out
