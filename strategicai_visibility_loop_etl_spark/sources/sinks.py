"""Output sinks: Hive-style partitioned parquet with dynamic overwrite.

Partition pruning eliminates files: a reader filtering on the
partition columns lists only the matching directories.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    dynamic_overwrite: bool = True,
    distribute: bool = False,
) -> None:
    """Hive-style partitioned parquet write with DYNAMIC partition
    overwrite — the daily-ingest shape at 100 TB: re-running one
    day's (or one source's) load replaces ONLY the partitions present
    in ``df``; every other partition's files are untouched. Spark's
    default (static) overwrite mode would truncate the whole root
    first — re-loading day N would silently delete days 1..N−1.

    The session flag ``spark.sql.sources.partitionOverwriteMode`` is
    set to ``dynamic`` for the duration of the write and restored
    after (other writers in the session keep their configured
    semantics). With ``dynamic_overwrite=False`` the static
    truncate-all behavior is explicit opt-in rather than a silent
    default.

    Readers prune on the partition columns: a filter on them reaches
    the file listing (PartitionFilters), not just the row scan.
    """
    if distribute:
        from pyspark.sql import functions as F  # noqa: PLC0415

        # Guide §6: hash-distribute by the partition columns before a
        # partitioned write — otherwise every write task opens a file
        # in every partition directory it sees (tasks × partitions
        # small files + as many commit paths). One narrow shuffle
        # clusters each partition's rows into one task → one
        # right-sized file per partition value at any scale.
        df = df.repartition(*[F.col(c) for c in partition_cols])
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "dynamic" if dynamic_overwrite else "static")
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)
