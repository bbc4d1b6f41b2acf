"""Ledgered exactly-once sink for the incremental ANN index.

Structured Streaming's checkpoint gives at-least-once delivery of
micro-batches to ``foreachBatch``; end-to-end exactly-once follows
when the sink is IDEMPOTENT per (batch_id, batch contents). This
module implements the transactional-sink protocol over plain parquet
for ANN index maintenance on arrival:

- every batch writes its own directory ``b{batch_id}`` — never in
  place;
- a batch-id ledger marker commits the batch ATOMICALLY (tmp file +
  ``os.replace``) only after the data write completes;
- a replayed batch (crash after data write, before marker — or any
  at-least-once redelivery) either finds its marker and no-ops, or
  overwrites the same ``b{batch_id}`` directory with identical content
  and commits — both end states are byte-equal, so restarts can
  neither lose nor duplicate rows;
- readers resolve state through the ledger (committed ids), never by
  directory listing alone, so a torn batch without a marker is
  invisible.

The marker ledger uses local-filesystem atomic rename; on an object
store or HDFS the same protocol runs through the FileSystem API or a
table format's commit log (Delta/Iceberg).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _ledger_dir(target_dir: str) -> str:
    return os.path.join(target_dir, "_applied")


def committed_batches(target_dir: str) -> list[int]:
    led = _ledger_dir(target_dir)
    if not os.path.isdir(led):
        return []
    return sorted(int(n) for n in os.listdir(led) if n.isdigit())


def read_ann_index(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """The accumulated (id, vec, cluster) inverted index: union of
    every COMMITTED batch directory (ledger-resolved, orphan batch
    dirs invisible)."""
    ids = committed_batches(index_dir)
    if not ids:
        return None
    paths = [os.path.join(index_dir, f"b{i}") for i in ids]
    return spark.read.parquet(*paths)


def ann_index_on_arrival_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    centroid_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """foreachBatch body: incremental ANN index maintenance under the
    ledgered exactly-once protocol — the FAISS add() loop as a
    streaming sink. Centroids are FROZEN (trained once via
    ``ivf_centroids_write``, a scheduled rebuild at scale); each
    arriving micro-batch assigns map-side against the broadcast
    centroid table (one pass, no corpus shuffle) and lands as its own
    committed directory ``index_dir/b{batch_id}``. A redelivered
    batch overwrites the same path with identical content (assignment
    is a pure function of vec × frozen centroids) or no-ops on its
    marker — byte-equal end states either way. A ``vec_id`` already
    committed (re-delivered upstream, or a re-embedded doc) is
    anti-joined OUT: its stored assignment stays authoritative, so
    the index never holds duplicate rows for one id.

    Search over the accumulated index is ``ivf_search_index`` on
    ``read_ann_index(...)`` — identical results to a from-scratch
    assignment of the full corpus under the same centroids (the
    equivalence pytest pins exactly that)."""
    from ..operators.similarity import ivf_assign

    marker = os.path.join(_ledger_dir(index_dir), str(batch_id))
    if os.path.exists(marker):
        return  # redelivery of a committed batch: no-op
    spark = batch_df.sparkSession
    cent_df = spark.read.parquet(centroid_path)
    assigned = ivf_assign(batch_df, cent_df, id_col, vec_col)
    old = read_ann_index(spark, index_dir)
    if old is not None:
        assigned = assigned.join(
            old.select(F.col(id_col)), id_col, "left_anti"
        )
    assigned.write.mode("overwrite").parquet(
        os.path.join(index_dir, f"b{batch_id}")
    )
    os.makedirs(_ledger_dir(index_dir), exist_ok=True)
    tmp = marker + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(f"b{batch_id}")
    os.replace(tmp, marker)
