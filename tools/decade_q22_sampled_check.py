"""Decade-scale SAMPLED check for q22_ngram_jaccard (VERDICT r14 item 7).

q22 is the exact-verify leg of the near-dup family by declared design:
its cost is data-inherent — on a gen_decade replica corpus every true
pair multiplies by mult², and the sf1 sweep spent 503 s engine +
289 s oracle re-proving a metric already oracle-pinned at three
smaller scales. q23 (MinHash-LSH) is the production path and keeps
running in full.

This tool keeps q22 EXERCISED at the decade without the replica-pair
blowup: both engines run on the SAME deterministic hash sample of the
documents table (doc_id % 4 = 0 — a quarter of the docs, ~1/16 of the
pair volume, still spanning every replica group since gen_decade's
id offsets preserve id % 4 within each replica only when 4 | OFF,
which holds: OFF = 10^7). The engine side mirrors the registered
query's exact arguments; the oracle side is the registered
oracle_sql() string with its single `FROM documents` source swapped
for the sampled subquery — everything else byte-identical, so the
semantics under test are the gate's.

Usage: python tools/decade_q22_sampled_check.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SAMPLE_PRED = "doc_id % 4 = 0"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/decade_sf1"

    import duckdb
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from strategicai_visibility_loop_etl_spark.session import get_spark
    from tests.oracle_harness import compare, spark_result

    spark = get_spark("decade-q22-sampled-check")

    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.expr(SAMPLE_PRED))
    )
    t0 = time.monotonic()
    # the registered q22 arguments verbatim (__spark_entry__.q22)
    df = ngram_jaccard_pairs(docs, k=3, threshold=0.5, max_bucket=10_000_000)
    s_cols, s_rows, s_kinds = spark_result(df)
    spark_s = round(time.monotonic() - t0, 2)

    sql = entrymod.oracle_sql()["q22_ngram_jaccard"]
    assert sql.count("FROM documents") == 1, "oracle shape changed"
    sampled_sql = sql.replace(
        "FROM documents",
        f"FROM (SELECT * FROM documents WHERE {SAMPLE_PRED})",
    )
    t1 = time.monotonic()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    res = con.execute(sampled_sql)
    o_cols = [c[0] for c in res.description]
    o_rows = res.fetchall()
    con.close()
    oracle_s = round(time.monotonic() - t1, 2)

    rep = compare("q22_ngram_jaccard[sampled %4]", s_cols, s_rows, o_cols, o_rows)
    rep["spark_s"] = spark_s
    rep["oracle_s"] = oracle_s
    rep["sample"] = SAMPLE_PRED
    print(json.dumps(rep), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
