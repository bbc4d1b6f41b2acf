"""Execute the Structured Streaming operators for real (SURVEY §5 —
streaming code that has never run is presumed broken): file source →
processAllAvailable → memory sink, results checked against the same
computation done in batch."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.sweep  # streaming protocol equivalences (batch twins, ledgered sink)

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _event_rows():
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for i in range(200):
        rows.append(
            (
                i,
                t0 + timedelta(minutes=7 * i),
                i % 10,
                ["view", "click", "purchase"][i % 3],
                float(i % 5),
            )
        )
    # Duplicate a slice of event_ids (same ts): redelivered events.
    for i in range(0, 40, 2):
        rows.append((i, t0 + timedelta(minutes=7 * i), i % 10, ["view", "click", "purchase"][i % 3], float(i % 5)))
    return rows


def _write_stream_source(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    df = spark.createDataFrame(_event_rows(), SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(src)
    return src, df


def _run_to_memory(stream_df, name, mode, ckpt_dir):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(ckpt_dir / f"ckpt-{name}"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return name


def test_stream_stream_attribution_matches_batch(spark, tmp_path):
    from strategicai_visibility_loop_etl_spark.streaming.events import (
        stream_stream_attribution,
    )

    src, batch_df = _write_stream_source(spark, tmp_path)
    views_b = batch_df.filter(F.col("event_type") == "view")
    clicks_b = batch_df.filter(F.col("event_type") == "click")

    views_s = spark.readStream.schema(SCHEMA).parquet(src).filter(
        F.col("event_type") == "view"
    )
    clicks_s = spark.readStream.schema(SCHEMA).parquet(src).filter(
        F.col("event_type") == "click"
    )
    out = stream_stream_attribution(
        views_s, clicks_s, watermark="24 hours", horizon="2 hours"
    )
    name = _run_to_memory(out, "attr_test", "append", tmp_path)
    got = {
        (r["view_id"], r["click_id"])
        for r in spark.sql(f"select * from {name}").collect()
    }

    expected_df = stream_stream_attribution(
        views_b, clicks_b, watermark="24 hours", horizon="2 hours"
    )
    expected = {(r["view_id"], r["click_id"]) for r in expected_df.collect()}
    assert got == expected
    assert len(got) > 10  # the synthetic cadence guarantees matches


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Kill-and-restart correctness: a stream-stream attribution join
    stopped mid-stream and restarted from its checkpoint must neither
    drop nor double-count — the file sink's rows equal the batch join
    over ALL data as a multiset, though the two halves were processed
    by two query incarnations and views from the first half match
    clicks from the second only through the restored join state."""
    from collections import Counter

    from strategicai_visibility_loop_etl_spark.streaming.events import (
        stream_stream_attribution,
    )

    src = str(tmp_path / "restart_src")
    out_dir = str(tmp_path / "restart_out")
    ckpt = str(tmp_path / "restart_ckpt")
    rows = _event_rows()
    half = len(rows) // 2
    spark.createDataFrame(rows[:half], SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)

    def start():
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        out = stream_stream_attribution(
            stream.filter(F.col("event_type") == "view"),
            stream.filter(F.col("event_type") == "click"),
            watermark="24 hours",
            horizon="2 hours",
        )
        return (
            out.writeStream.format("parquet")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start(out_dir)
        )

    q = start()
    q.processAllAvailable()
    q.stop()  # first incarnation dies after processing half the data

    spark.createDataFrame(rows[half:], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = start()  # second incarnation resumes from the checkpoint
    q.processAllAvailable()
    q.stop()

    got = Counter(
        (r["view_id"], r["click_id"]) for r in spark.read.parquet(out_dir).collect()
    )
    full = spark.createDataFrame(rows, SCHEMA)
    expected = Counter(
        (r["view_id"], r["click_id"])
        for r in stream_stream_attribution(
            full.filter(F.col("event_type") == "view"),
            full.filter(F.col("event_type") == "click"),
            watermark="24 hours",
            horizon="2 hours",
        ).collect()
    )
    assert got == expected
    # the restored state carried at least one cross-incarnation match
    first_ids = {r[0] for r in rows[:half]}
    assert any(v in first_ids and c not in first_ids for v, c in got)


def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """The watermark contract, demonstrated on the attribution join: a
    click arriving later than the watermark behind the stream's max
    event time must NOT join its (already expired) view, while an
    in-time click in the same micro-batch does. The batch twin, which
    has no watermark, keeps both pairs."""
    from strategicai_visibility_loop_etl_spark.streaming.events import (
        stream_stream_attribution,
    )

    src = str(tmp_path / "late_src")
    ckpt = tmp_path / "late_ckpt"
    t = datetime(2024, 3, 1, 0, 0, 0)

    def write(rows, mode):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(mode).parquet(src)

    def attribute(df):
        return stream_stream_attribution(
            df.filter(F.col("event_type") == "view"),
            df.filter(F.col("event_type") == "click"),
            watermark="1 hour",
            horizon="1 hour",
        )

    # Batch 1: max event time 06:40, so the 1-hour watermark passes
    # 05:30 and user 1's 00:10 view expires.
    batch1 = [
        (1, t.replace(hour=0, minute=10), 1, "view", 1.0),
        (2, t.replace(hour=6, minute=30), 3, "view", 1.0),
        (3, t.replace(hour=6, minute=40), 3, "click", 1.0),
    ]
    # Batch 2: a click for user 1 at 00:20 — 6+ hours late — and an
    # in-time click for user 3.
    batch2 = [
        (4, t.replace(hour=0, minute=20), 1, "click", 1.0),
        (5, t.replace(hour=6, minute=50), 3, "click", 1.0),
    ]
    write(batch1, "overwrite")
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        attribute(stream).writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    q.processAllAvailable()
    write(batch2, "append")
    q.processAllAvailable()
    q.stop()

    got = {(r["view_id"], r["click_id"]) for r in spark.sql("select * from late_test").collect()}
    assert got == {(2, 3), (2, 5)}, got
    batch = {
        (r["view_id"], r["click_id"])
        for r in attribute(spark.createDataFrame(batch1 + batch2, SCHEMA)).collect()
    }
    assert batch == {(1, 4), (2, 3), (2, 5)}


def test_streaming_structural_clean_matches_batch(spark, tmp_path):
    """c4_clean + dedup_lines_text are stateless projections/filters,
    so the corpus pipeline's structural stage runs unchanged on a
    stream — the micro-batch result must equal the batch result."""
    from strategicai_visibility_loop_etl_spark.operators.c4 import c4_clean
    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        dedup_lines_text,
    )

    rows = [
        (1, "nav bar repeated line here.\n"
            "A genuine first sentence with words.\n"
            "nav bar repeated line here.\n"
            "A genuine second sentence with words."),
        (2, "lorem ipsum dolor sit amet page."),
        (3, "no structure"),
    ]
    src = str(tmp_path / "docs_src")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(src)

    def stage(df):
        out = c4_clean(df, min_sentences=2)
        return out.withColumn("text", dedup_lines_text(F.col("text")))

    batch = {
        r["doc_id"]: r["text"]
        for r in stage(spark.read.parquet(src)).collect()
    }
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    name = _run_to_memory(stage(stream), "structural_stream", "append", tmp_path)
    streamed = {
        r["doc_id"]: r["text"]
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert streamed == batch
    assert set(batch) == {1}
    assert batch[1].count("nav bar repeated line here.") == 1


def test_ann_index_on_arrival_stream(spark, sf_dir, tmp_path):
    """ANN index maintenance on arrival (capability row 142): batches
    assign against frozen centroids and join the committed index;
    search over the accumulated index EQUALS a from-scratch
    assignment of the full corpus under the same centroids;
    redelivery no-ops; a re-delivered vec_id keeps its stored
    assignment."""
    from pyspark.sql import functions as F

    from strategicai_visibility_loop_etl_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids_write,
        ivf_search_index,
    )
    from strategicai_visibility_loop_etl_spark.streaming.sink import (
        ann_index_on_arrival_batch,
        committed_batches,
        read_ann_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cent_path = str(tmp_path / "cents")
    cent_df = ivf_centroids_write(emb, cent_path, n_centroids=8, iters=2)

    idx = str(tmp_path / "annidx")
    batches = [
        emb.filter(F.col("vec_id") % 3 == i) for i in range(3)
    ]
    for bid, b in enumerate(batches):
        ann_index_on_arrival_batch(b, bid, idx, cent_path)
    assert committed_batches(idx) == [0, 1, 2]
    acc = read_ann_index(spark, idx)
    assert acc.count() == emb.count()

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = sorted(
        map(tuple, ivf_search_index(acc, queries, cent_df, k=5, n_probe=3).collect())
    )
    full = sorted(
        map(
            tuple,
            ivf_search_index(
                ivf_assign(emb, cent_df), queries, cent_df, k=5, n_probe=3
            ).collect(),
        )
    )
    assert got == full  # accumulated index == from-scratch assignment

    # Redelivery of a committed batch: no-op (marker short-circuit).
    ann_index_on_arrival_batch(batches[1], 1, idx, cent_path)
    assert read_ann_index(spark, idx).count() == emb.count()

    # A re-delivered id (even with a DIFFERENT vector) never duplicates
    # its index row; the stored assignment stays authoritative.
    mutated = batches[0].withColumn(
        "embedding", F.transform("embedding", lambda x: x + F.lit(1.0))
    )
    ann_index_on_arrival_batch(mutated, 3, idx, cent_path)
    acc2 = read_ann_index(spark, idx)
    assert acc2.count() == emb.count()
    assert acc2.groupBy("vec_id").count().filter("count > 1").count() == 0
