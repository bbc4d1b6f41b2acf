"""Output sinks: Hive-style partitioned parquet snapshots.

Partition pruning eliminates files: a reader filtering on the
partition columns lists only the matching directories.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
) -> None:
    """Hive-style partitioned parquet write that replaces the whole
    root: ``df`` is a complete snapshot, so a re-write must not keep
    partitions that the new data left empty (dynamic overwrite would,
    and a pruned re-read would then see stale rows). The STATIC
    overwrite mode is set as a write option, so it holds whatever the
    session's ``spark.sql.sources.partitionOverwriteMode`` says and
    leaves that flag untouched for concurrent writers.

    Rows are hash-distributed by the partition columns first (guide
    §6): otherwise every write task opens a file in every partition
    directory it sees (tasks × partitions small files + as many commit
    paths). One narrow shuffle clusters each partition's rows into one
    task → one right-sized file per partition value at any scale.

    Readers prune on the partition columns: a filter on them reaches
    the file listing (PartitionFilters), not just the row scan.
    """
    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
