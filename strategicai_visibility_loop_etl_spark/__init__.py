"""strategicai_visibility_loop_etl_spark — PySpark-native visibility ETL engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference ETL (RNaimy/strategicai-visibility-loop-etl): robust multi-source
ingest, URL-keyed normalization + aggregation + merge, config-driven
scoring and anomaly slices — plus the large-scale training-data operators
(dedup, similarity search, text analysis) such an engine needs at 100 TB.

Everything here is DataFrame/SQL-first: logical plans declared via the
PySpark DataFrame API so Catalyst/Tungsten pick the physical strategy;
Python row-at-a-time code never sits in a hot path.
"""

__version__ = "0.1.0"
