"""End-to-end config-driven visibility pipeline.

Counterpart of reference etl_merge.py:733-1012 ``main()``: resolve
inputs (env > config > defaults), load + normalize the three sources,
aggregate, merge on the crawl spine, derive + score, emit slices and
run/governance metadata.

The call runs in three phases; the jobs of a phase do not depend on
each other, so it submits them together to a thread pool it owns and
joins before the next phase:

- A, loads: ``load_frog``, ``load_gsc`` and ``load_ga4`` each read
  the head of their file on the driver (separator and header, no
  Spark job) and build their plan concurrently.
- B, two barriers, serial: the merge result is an eager
  ``localCheckpoint`` read by derive/score, then ``merged`` is written
  to ``out_dir`` and re-read. The ``merged`` write also observes its
  row count and the CSV mirror's int-vs-float decision, so neither
  costs a job of its own.
- C, sinks: every slice parquet write and every CSV-mirror write read
  the re-read ``merged`` and run concurrently. The run-log row is
  appended after they have all joined.

Pool threads inherit the caller's job group, description, scheduler
pool and session tags. A failing job is raised only after every
sibling in its phase has ended.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType
from pyspark.util import inheritable_thread_target

from ..operators.aggregate import agg_ga4, agg_gsc
from ..operators.anomaly import anomaly_ctr_underperf, ctr_candidates, schema_gaps
from ..operators.governance import append_run_log
from ..operators.merge import add_run_metadata, derive_metrics, merge_visibility
from ..operators.scoring import score_expected_ctr
from ..sources.loaders import load_frog, load_ga4, load_gsc


def default_config() -> dict:
    """Defaults mirroring the reference's etl_config.yaml shape."""
    return {
        "scoring": {
            "enable": True,
            "expected_ctr_units": "fraction",
            "expected_ctr_uplift": 0.0,
            "min_impressions": 5,
            "max_position_for_ctr_eval": 20.0,
            "min_clicks_for_ctr_eval": 0,
            "expected_ctr_by_position": {
                "1": 0.300, "2": 0.200, "3": 0.150, "4-5": 0.095,
                "6-7": 0.060, "8-9": 0.040, "10-12": 0.030, "13-15": 0.020,
                "16-20": 0.015, "21-30": 0.010, "31-50": 0.006,
            },
        },
        "thresholds": {"ctr_underperf_margin": 0.002},
        "inputs": {},
        "output": {"write_slices": False},
    }


def load_config(path: str | None) -> dict:
    cfg = default_config()
    if path and os.path.exists(path):
        try:
            import yaml  # noqa: PLC0415

            with open(path) as fh:
                user = yaml.safe_load(fh) or {}
            for k, v in user.items():
                if isinstance(v, dict) and isinstance(cfg.get(k), dict):
                    cfg[k].update(v)
                else:
                    cfg[k] = v
        except ImportError:
            pass
    return cfg


def _resolve_input(env_name: str, cfg: dict, cfg_key: str, default: str | None) -> str | None:
    env_val = os.getenv(env_name, "").strip()
    if env_val:
        return os.path.expanduser(os.path.expandvars(env_val))
    inputs = cfg.get("inputs", {}) or {}
    # Accept both our short keys and the reference etl_config.yaml names
    # (inputs.screaming_frog_csv / gsc_csv / ga4_csv).
    return inputs.get(cfg_key) or inputs.get(f"{cfg_key}_csv") or default


# CSV-mirror rendering contract (reference to_csv(float_format="%.6f"),
# etl_merge.py:860-902): ratio/config-derived columns are float by
# construction there -> always "%.6f"; crawl/provenance ints are Int64
# by construction -> always bare ints. Raw metric sums (clicks,
# sessions, ...) take pandas' data-dependent inference on ``merged``:
# int64 (bare) when fully populated and integral, float64 ("%.6f")
# otherwise. The reference's slices are row subsets of that frame and
# keep its dtypes, so one decision, observed on the merged write,
# renders every mirror.
_MIRROR_FLOAT_COLS = {
    "ctr", "ctr_pct", "position", "expected_ctr", "expected_ctr_uplift",
    "ctr_deficit", "intent_multiplier", "missed_clicks", "missed_clicks_eff",
    "engagement_rate", "engagement_rate_pct", "click_share",
}
_MIRROR_INT_COLS = {
    "status_code", "click_depth", "inlinks", "word_count",
    "avg_engagement_time", "run_timestamp", "priority_rank",
}
_ROWS = "__rows"


def _is_float(f) -> bool:
    return isinstance(f.dataType, (DoubleType, FloatType))


def _merged_metrics(df: DataFrame) -> list:
    """What the ``merged`` write observes: its row count (the run log's
    ``rows_merged``) and, per raw metric column, 1 when pandas would
    infer float64 for it (a null or a non-integral value), else 0."""
    fixed = _MIRROR_FLOAT_COLS | _MIRROR_INT_COLS
    return [F.count(F.lit(1)).alias(_ROWS)] + [
        F.max(
            F.when(F.col(f.name).isNull() | (F.col(f.name) != F.floor(f.name)), 1).otherwise(0)
        ).alias(f.name)
        for f in df.schema.fields
        if _is_float(f) and f.name not in fixed
    ]


def format_csv_mirror(df: DataFrame, int_like: set[str]) -> DataFrame:
    """Render float columns the way the reference's CSV writer does:
    bare ints for the crawl ints and the ``int_like`` raw metrics,
    ``%.6f`` for every other float column.

    ``%.6f`` never diverges between engines on bround'ed inputs: an
    exact decimal tie at the 7th digit (…5×10⁻⁷) is not representable
    in binary, so Java's and C's correctly-rounded formatting agree on
    every double.
    """
    out_cols = []
    for f in df.schema.fields:
        c = f.name
        if not _is_float(f):
            out_cols.append(F.col(c))
        elif c in _MIRROR_INT_COLS or c in int_like:
            out_cols.append(F.col(c).cast("long").alias(c))
        else:
            out_cols.append(
                F.when(
                    F.col(c).isNotNull(), F.format_string("%.6f", F.col(c))
                ).alias(c)
            )
    return df.select(*out_cols)


def _write_csv_mirror(df: DataFrame, int_like: set[str], path: str) -> None:
    # escape='"' doubles embedded quotes like pandas' QUOTE_MINIMAL;
    # emptyValue='' renders empty strings bare (Spark's default '""'
    # would diff vs pandas). Distributed CSV (one part per partition),
    # never coalesce(1): a single-file write funnels the whole output
    # through one task.
    format_csv_mirror(df, int_like).write.mode("overwrite").option(
        "header", True
    ).option("escape", '"').option("emptyValue", "").csv(path)


def _run_concurrently(spark: SparkSession, calls: list[tuple]) -> list:
    """Run each ``(fn, *args)`` on its own thread of a pool this call
    owns and return the results in call order.

    The pool is joined before anything is returned or raised, so a
    failure surfaces only after every sibling (and its Spark jobs) has
    ended; the first failure in call order is raised. Each target is
    wrapped separately, so each thread gets its own copy of the
    caller's local properties (job group, description, scheduler pool)
    and a group one thread sets does not leak into its siblings.
    """
    with ThreadPoolExecutor(max_workers=max(len(calls), 1)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn), *args)
                   for fn, *args in calls]
    return [f.result() for f in futures]


def run_visibility_pipeline(
    spark: SparkSession,
    cfg: dict | None = None,
    frog_path: str | None = None,
    gsc_path: str | None = None,
    ga4_path: str | None = None,
    *,
    out_dir: str,
) -> dict[str, DataFrame]:
    """Run the full merge; returns {'merged', 'ctr_underperf', 'schema_gaps'},
    plus 'ctr_debug' when ``output.write_slices`` is set.

    Writes parquet outputs under ``out_dir`` (parquet, not CSV — at
    100 TB the sink must be splittable and column-pruned); every
    returned frame reads the written ``merged``.
    ``output.csv_mirror`` additionally writes each output as a header'd
    CSV directory ``<name>_csv`` for the reference's consumers.
    """
    cfg = cfg or default_config()
    site_base = os.getenv("SITE_BASE", "").strip() or None
    strip_all = str(os.getenv("STRIP_ALL_QUERY_PARAMS", "")).lower().strip() in {"1", "true", "yes"}

    frog_path = frog_path or _resolve_input("FROG_CSV_PATH", cfg, "screaming_frog", None)
    gsc_path = gsc_path or _resolve_input("GSC_CSV_PATH", cfg, "gsc", None)
    ga4_path = ga4_path or _resolve_input("GA4_CSV_PATH", cfg, "ga4", None)
    for tag, p in (("screaming_frog", frog_path), ("gsc", gsc_path), ("ga4", ga4_path)):
        if not p:
            raise FileNotFoundError(f"input not configured: {tag}")

    # Constraint propagation infers isnotnull(url) on the join legs and
    # predicate-pushes it below the URL-normalize projections with the
    # full expression tree substituted PER REFERENCE — the inlined
    # predicate grows to ~2000 subexpressions, blows the JVM's 64 KB
    # method limit, and knocks entire stages out of whole-stage codegen.
    # The inferred filter is semantically redundant here (null keys
    # simply don't match a left join), so turn inference off for the
    # pipeline plan and restore afterwards. Measured: 43s → 20s on the
    # 1M-row merge, and zero codegen-fallback stages.
    cp_key = "spark.sql.constraintPropagation.enabled"
    cp_prev = spark.conf.get(cp_key, "true")
    spark.conf.set(cp_key, "false")
    try:
        return _run_pipeline(spark, cfg, frog_path, gsc_path, ga4_path, out_dir,
                             site_base, strip_all)
    finally:
        spark.conf.set(cp_key, cp_prev)


def _run_pipeline(
    spark: SparkSession,
    cfg: dict,
    frog_path: str,
    gsc_path: str,
    ga4_path: str,
    out_dir: str,
    site_base: str | None,
    strip_all: bool,
) -> dict[str, DataFrame]:
    # Phase A: each loader reads its CSV head and builds its plan.
    frog, gsc, ga4 = _run_concurrently(spark, [
        (load, spark, path, site_base, strip_all)
        for load, path in ((load_frog, frog_path), (load_gsc, gsc_path), (load_ga4, ga4_path))
    ])

    # Phase B. The derive/score stages each broadcast a scalar aggregate
    # (clicks total, CTR median) whose plan branch re-executes
    # everything beneath it — with the checkpoint that's a scan of
    # materialized rows instead of the whole load→normalize→merge
    # subtree. (persist() is NOT equivalent: intra-query cache
    # population is racy across branches and measured slower than the
    # recompute.)
    base = merge_visibility(frog, agg_gsc(gsc), agg_ga4(ga4)).localCheckpoint()
    merged = derive_metrics(base)

    if (cfg.get("scoring", {}) or {}).get("enable", True):
        merged = score_expected_ctr(merged, cfg)

    run_id = os.getenv("RUN_ID") or datetime.now(timezone.utc).strftime("%Y%m%d_%H%M%S")
    run_ts = int(time.time())
    merged = add_run_metadata(
        merged,
        run_id,
        run_ts,
        {"frog": frog_path, "gsc": gsc_path, "ga4": ga4_path},
    )

    # Output rounding discipline (reference :860-886).
    rounding = {
        "ctr": 4, "ctr_pct": 2, "position": 1, "engagement_rate": 4,
        "engagement_rate_pct": 1, "click_share": 6, "expected_ctr": 4,
        "ctr_deficit": 4, "intent_multiplier": 2, "missed_clicks": 3,
        "missed_clicks_eff": 3,
    }
    # bround (HALF_EVEN), not round (HALF_UP): the reference rounds with
    # pandas/numpy, which is banker's rounding — 0.60625 → 0.6062.
    for c, n in rounding.items():
        if c in merged.columns:
            merged = merged.withColumn(c, F.bround(F.col(c), n))
    if "avg_engagement_time" in merged.columns:
        merged = merged.withColumn(
            "avg_engagement_time", F.bround(F.col("avg_engagement_time"), 0).cast("long")
        )

    preferred = [
        "url", "status_code", "title", "meta_description", "word_count", "click_depth",
        "inlinks", "schema_types", "clicks", "impressions", "ctr", "ctr_pct", "position",
        "expected_ctr", "expected_ctr_bucket", "expected_ctr_units", "expected_ctr_uplift",
        "ctr_deficit", "intent_multiplier", "missed_clicks", "missed_clicks_eff",
        "users", "sessions", "engaged_sessions", "engagement_rate", "engagement_rate_pct",
        "avg_engagement_time", "click_share", "run_id", "run_timestamp",
        "run_timestamp_iso", "source_frog", "source_gsc", "source_ga4",
    ]
    cols = [c for c in preferred if c in merged.columns] + [
        c for c in merged.columns if c not in preferred
    ]
    merged = merged.select(*cols)

    # Materialization barrier: write merged ONCE, then derive every
    # slice from the re-read parquet. Without it each slice write
    # re-executes the whole load→merge→score plan (measured 3-4× the
    # pipeline cost), and at 100 TB the re-read is the only shape that
    # doesn't hold the working set in executor memory.
    merged_path = os.path.join(out_dir, "merged")
    observed = Observation()
    merged.observe(observed, *_merged_metrics(merged)).write.mode(
        "overwrite"
    ).parquet(merged_path)
    merged = spark.read.parquet(merged_path)

    outputs = {"merged": merged}
    anomaly_limit = int((cfg.get("scoring", {}) or {}).get("anomaly_limit", 100_000))
    if (cfg.get("scoring", {}) or {}).get("enable", True):
        outputs["ctr_underperf"] = anomaly_ctr_underperf(merged, cfg, limit=anomaly_limit)
        if (cfg.get("output", {}) or {}).get("write_slices", False):
            # Reference's ctr_debug.csv: ALL candidate rows, including
            # non-underperforming (etl_merge.py:946-952).
            outputs["ctr_debug"] = ctr_candidates(merged, cfg)
    if "schema_types" in merged.columns:
        outputs["schema_gaps"] = schema_gaps(merged)

    # Phase C. Parquet is the at-scale sink (splittable, column-pruned);
    # output.csv_mirror additionally writes header'd CSV directories for
    # the reference's downstream consumers.
    metrics = observed.get
    rows_merged = metrics.pop(_ROWS)
    int_like = {c for c, not_int in metrics.items() if not not_int}
    sinks = [(df.write.mode("overwrite").parquet, os.path.join(out_dir, name))
             for name, df in outputs.items() if name != "merged"]
    if (cfg.get("output", {}) or {}).get("csv_mirror", False):
        sinks += [(_write_csv_mirror, df, int_like, os.path.join(out_dir, f"{name}_csv"))
                  for name, df in outputs.items()]
    _run_concurrently(spark, sinks)
    # Governance run log (reference :986-1004): one append-only row per
    # run, env-gated via ETL_RUN_LOG / ETL_RUN_LOG_PATH.
    append_run_log(
        run_id,
        run_ts,
        rows_merged,
        frog_path,
        gsc_path,
        ga4_path,
        merged_path,
    )
    return outputs
