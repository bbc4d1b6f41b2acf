"""The visibility merge: crawl spine ⟕ search facts ⟕ analytics facts.

Counterpart of reference etl_merge.py:758-787 and :845-858. The spine
is deduplicated by key (keep-first, like ``drop_duplicates``), then two
left joins on the same key. Both fact sides arrive pre-aggregated to
one row per key, so the joins are key-unique on both sides — no row
explosion. At scale all three legs hash-partition on the key once and
AQE reuses/coalesces the exchanges; with a small spine Catalyst will
broadcast it instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_spine(df: DataFrame, key: str = "url") -> DataFrame:
    """Keep one row per key, deterministically.

    ``dropDuplicates`` keeps an arbitrary row; for reproducible results
    (and oracle parity) we keep the row with the minimum ``xxhash64``
    over the remaining columns via row_number — one shuffle on the key,
    and the sort key is a single 8-byte long regardless of how wide the
    spine is (a crawl spine carries title/meta_description/…; sorting
    full rows would drag every byte through the comparator). Distinct
    rows colliding on the 64-bit hash is the only nondeterminism left
    (~2^-64 per key); identical rows tie harmlessly.
    """
    order_cols = [c for c in df.columns if c != key]
    w = Window.partitionBy(key).orderBy(
        F.xxhash64(*[F.col(c) for c in order_cols]).asc() if order_cols else F.lit(1)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_visibility(
    frog: DataFrame,
    gsc: DataFrame,
    ga4: DataFrame,
    key: str = "url",
) -> DataFrame:
    """Spine dedup + two left joins (reference etl_merge.py:758-777).

    Like the reference, null/empty keys are KEPT (deduped to one spine
    row; they match nothing in the joins on either engine). To drop
    junk keys, filter the RAW column at load time, where the predicate
    reaches the scan: a filter on the derived key is predicate-pushed
    below the URL-normalize projection with the whole tree substituted
    per reference, which can exceed the JVM's 64 KB method limit and
    knock the stage out of codegen.
    """
    spine = dedup_spine(frog, key)
    return spine.join(gsc, key, "left").join(ga4, key, "left")


def derive_metrics(merged: DataFrame) -> DataFrame:
    """ctr_pct, engagement_rate(+pct), click_share (reference :779-787).

    click_share needs the global clicks total — a scalar aggregate
    broadcast back via 1-row cross join (never a window over an
    unpartitioned frame, which would single-thread at scale).

    Known rendering-only divergence: when the clicks total is 0 the
    reference assigns the PYTHON SCALAR 0 (etl_merge.py:787), making
    click_share an int64 column that pandas renders "0"; we keep the
    double column (Spark schemas cannot be data-dependent) and render
    "0.000000". Same value, dtype artifact — every non-degenerate
    corpus renders identically.
    """
    out = merged
    if "ctr" in out.columns:
        out = out.withColumn("ctr_pct", F.col("ctr") * 100)
    if "sessions" in out.columns and "engaged_sessions" in out.columns:
        out = out.withColumn(
            "engagement_rate",
            F.when(F.col("sessions") != 0, F.col("engaged_sessions") / F.col("sessions")),
        ).withColumn("engagement_rate_pct", F.col("engagement_rate") * 100)
    if "clicks" in out.columns:
        total = out.select(F.sum("clicks").alias("__total_clicks"))
        out = out.crossJoin(F.broadcast(total)).withColumn(
            "click_share",
            F.when(
                F.col("__total_clicks") > 0, F.col("clicks") / F.col("__total_clicks")
            ).otherwise(F.lit(0.0)),
        ).drop("__total_clicks")
    return out


def add_run_metadata(
    df: DataFrame,
    run_id: str,
    run_ts: int,
    sources: dict[str, str] | None = None,
) -> DataFrame:
    """Provenance columns (reference :845-858)."""
    out = (
        df.withColumn("run_id", F.lit(str(run_id)))
        .withColumn("run_timestamp", F.lit(int(run_ts)).cast("long"))
        .withColumn(
            "run_timestamp_iso",
            F.date_format(F.to_utc_timestamp(F.from_unixtime(F.lit(int(run_ts))), "UTC"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        )
    )
    for name, path in (sources or {}).items():
        out = out.withColumn(f"source_{name}", F.lit(path.rsplit("/", 1)[-1]))
    return out
