"""Structured Streaming operators over the events stream.

The reference is batch-only; a visibility engine at scale ingests
analytics events continuously. ``stream_stream_attribution`` is the
watermarked stream-stream interval join. It accepts *streaming* or
batch DataFrames and returns the joined frame; callers attach the sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_stream_attribution(
    views: DataFrame,
    clicks: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "2 hours",
    horizon: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream interval join: attribute each click to
    the views by the same key in the preceding ``horizon``.

    Both sides carry watermarks and the join condition bounds event
    time on both — the two requirements that let Spark expire join
    state instead of buffering both streams forever (the stream-stream
    analog of the dedup state-bound concern).
    """
    v = views.select(
        F.col(key).alias("__vk"),
        F.col("event_id").alias("view_id"),
        F.col(ts_col).alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    c = clicks.select(
        F.col(key).alias("__ck"),
        F.col("event_id").alias("click_id"),
        F.col(ts_col).alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    cond = (
        (F.col("__vk") == F.col("__ck"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    return v.join(c, cond, "inner").select(
        F.col("__vk").alias(key), "view_id", "click_id", "view_ts", "click_ts"
    )
