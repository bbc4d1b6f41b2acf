"""Model-sized local rows as LITERAL DataFrames (optimization r14).

``spark.createDataFrame(local_rows)`` routes through a Python RDD:
``defaultParallelism`` partitions, one Python-worker round trip per
partition per CONSUMER — an un-cached plan re-executes the parallelize
everywhere the frame is referenced. It shows up as zero-CPU, zero-I/O
stages in every IVF/PQ query (the centroid/codebook tables feed
assignment, probing, staging AND search) and in every query joining a
config dim built from a Python list.

A literal explode is pure JVM, ONE task, costs nothing to re-execute,
and constant-folds into consumers. Measured on 4 cores (sf0.1,
local[4], median of interleaved pairs), literal vs the one-slice
``createDataFrame``: qx14 0.58 vs 0.73 s, qx59 0.55 vs 0.79 s. Use it for model tables — trained
centroids/codebooks, bucket configs, rate tables; real corpus data
keeps real sources. Guarded by ``max_literal_rows``: a huge literal
array would instead bloat analysis/codegen (every row is an
expression), so oversized inputs keep the classic ``createDataFrame``
path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def one_partition_frame(
    spark: SparkSession, rows: list, schema: str | T.StructType
) -> DataFrame:
    """``spark.createDataFrame`` for model-sized local rows, shipped as
    a ONE-slice Python RDD (optimization r15). The classic local path
    parallelizes at ``defaultParallelism``, so every materialization of
    the frame — a staging write, every broadcast build — pays one
    zero-CPU Python-worker round trip PER SLICE. One slice = one round
    trip; rows and schema are identical to the local-list form (pinned
    in tests). Use this, not
    :func:`literal_frame`, for rows carrying wide arrays: array
    literals bloat analysis/codegen per plan copy (measured r14)."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def literal_frame(
    spark: SparkSession,
    rows: list,
    schema: str | T.StructType,
    max_literal_rows: int = 512,
) -> DataFrame:
    """``rows`` (tuples, positionally matching ``schema``) as a
    single-task literal DataFrame; falls back to the one-slice
    ``createDataFrame`` when empty or above ``max_literal_rows``.
    Values are cast to the declared field types, so the result is
    row/type-identical to the ``createDataFrame`` form."""
    st = (
        spark.createDataFrame([], schema).schema
        if isinstance(schema, str)
        else schema
    )
    if not rows or len(rows) > max_literal_rows:
        return one_partition_frame(spark, rows, st)

    def _lit(v, dt):
        if v is None:
            return F.lit(None).cast(dt)
        if isinstance(dt, T.ArrayType):
            return F.array(
                *[_lit(x, dt.elementType) for x in v]
            ).cast(dt)
        if isinstance(dt, T.StructType):
            vals = [v.get(f.name) for f in dt.fields] if isinstance(v, dict) else list(v)
            return F.struct(
                *[
                    _lit(x, f.dataType).alias(f.name)
                    for x, f in zip(vals, dt.fields)
                ]
            )
        if isinstance(dt, T.MapType):
            return F.create_map(
                *[
                    c
                    for k, mv in v.items()
                    for c in (_lit(k, dt.keyType), _lit(mv, dt.valueType))
                ]
            ).cast(dt)
        return F.lit(v).cast(dt)

    structs = [
        F.struct(
            *[
                _lit(row[i], f.dataType).alias(f.name)
                for i, f in enumerate(st.fields)
            ]
        )
        for row in rows
    ]
    out = spark.range(0, 1, 1, 1).select(
        F.explode(F.array(*structs)).alias("__r")
    )
    return out.select(*[F.col(f"__r.{f.name}") for f in st.fields])
