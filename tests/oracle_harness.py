"""Local replica of the driver's DuckDB-oracle correctness gate.

For each entry in ``__spark_entry__.queries()`` with a matching
``oracle_sql()`` string: run both on the same parquet tables, then
compare row count, column-name set, and an order-insensitive value
hash (columns sorted by name, rows sorted, values stringified). Used
by tests/test_oracle.py and runnable standalone:

    python tests/oracle_harness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # 17 significant digits round-trips doubles exactly.
        return repr(v)
    return str(v)


def canonical_rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon_value(r[i]) for i in order) for r in rows)


def _arrow_kind(t) -> str:
    import pyarrow as pa

    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_temporal(t):
        return "temporal"
    return "other"


def _spark_kind(dtype: str) -> str:
    d = dtype.lower()
    if d == "boolean":
        return "bool"
    if d in ("tinyint", "smallint", "int", "integer", "bigint", "long"):
        return "int"
    if d in ("float", "double"):
        return "float"
    if d.startswith("decimal"):
        return "decimal"
    if d.startswith("timestamp") or d == "date":
        return "temporal"
    return "other"


def spark_result(df):
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    kinds = {c: _spark_kind(t) for c, t in df.dtypes}
    return cols, rows, kinds


def duckdb_result(sql: str, sf_dir: str):
    """Run the oracle and fetch THROUGH ARROW, like the driver's gate.

    The Python client's fetchall() silently narrows DuckDB HUGEINT
    (e.g. SUM over BIGINT) to Python int, hiding type widenings that
    the driver's Arrow-based canonicalizer renders as decimal128 and
    hash-fails.  Fetching the Arrow table keeps the widened type
    visible so compare() can flag it locally.
    """
    con = duckdb.connect()
    # An in-memory DuckDB has NO temp_directory, so a big oracle can't
    # go out-of-core and the process OOMs instead (two decade-scale
    # kills: qx100's selection at sf1, qx85's postings self-join at
    # sf5 — 109 GB anon RSS). A bounded memory budget plus an explicit
    # spill dir turns those into slow-but-finishing runs; both
    # overridable for smaller hosts.
    con.execute(
        "SET memory_limit = '"
        + os.environ.get("ORACLE_DUCKDB_MEMORY", "48GB")
        + "'"
    )
    spill = os.environ.get("ORACLE_DUCKDB_SPILL", "/tmp/duckdb_spill")
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET temp_directory = '{spill}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    tbl = con.execute(sql).fetch_arrow_table()
    con.close()
    cols = tbl.column_names
    kinds = {f.name: _arrow_kind(f.type) for f in tbl.schema}
    pycols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    rows = list(zip(*pycols)) if tbl.num_columns else []
    return cols, rows, kinds


# Numeric kinds whose cross-engine stringification can diverge in the
# driver's canonicalizer even when Python's str() happens to agree
# (int 123 vs Decimal('123') vs 123.0).
_NUMERIC = {"int", "float", "decimal"}


def compare(name: str, s_cols, s_rows, o_cols, o_rows, max_diffs: int = 5,
            s_kinds=None, o_kinds=None):
    report = {"query": name, "rows": len(s_rows), "oracle_rows": len(o_rows)}
    if sorted(s_cols) != sorted(o_cols):
        report["status"] = "schema_mismatch"
        report["spark_cols"] = sorted(s_cols)
        report["oracle_cols"] = sorted(o_cols)
        return report
    if s_kinds and o_kinds:
        risky = {
            c: (s_kinds[c], o_kinds[c])
            for c in s_cols
            if s_kinds.get(c) != o_kinds.get(c)
            and (s_kinds.get(c) in _NUMERIC or o_kinds.get(c) in _NUMERIC)
        }
        if risky:
            report["status"] = "type_mismatch"
            report["type_diffs"] = risky
            return report
    if len(s_rows) != len(o_rows):
        report["status"] = "rowcount_mismatch"
        return report
    s_canon = canonical_rows(s_cols, s_rows)
    o_canon = canonical_rows(o_cols, o_rows)
    if s_canon == o_canon:
        report["status"] = "ok"
        return report
    report["status"] = "value_mismatch"
    diffs = []
    for a, b in zip(s_canon, o_canon):
        if a != b:
            diffs.append({"spark": a, "oracle": b})
            if len(diffs) >= max_diffs:
                break
    report["diffs"] = diffs
    return report


def run_all(spark, sf_dir: str, only: list[str] | None = None, on_result=None,
            include_extra: bool = True):
    import __spark_entry__ as entrymod

    qs = dict(entrymod.queries())
    oracles = dict(entrymod.oracle_sql())
    if include_extra:
        # The driver's gate caps at 50 queries; the qx* extra registry
        # holds the overflow and gets the identical check here.
        qs.update(getattr(entrymod, "extra_queries", dict)())
        oracles.update(getattr(entrymod, "extra_oracle_sql", dict)())
    import time

    results = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        df = fn(spark, sf_dir)
        s_cols, s_rows, s_kinds = spark_result(df)
        t1 = time.monotonic()
        if name not in oracles:
            rep = {"query": name, "status": "rows_only", "rows": len(s_rows)}
        else:
            o_cols, o_rows, o_kinds = duckdb_result(oracles[name], sf_dir)
            rep = compare(name, s_cols, s_rows, o_cols, o_rows,
                          s_kinds=s_kinds, o_kinds=o_kinds)
        rep["spark_s"] = round(t1 - t0, 2)
        rep["oracle_s"] = round(time.monotonic() - t1, 2)
        results.append(rep)
        if on_result:
            on_result(rep)
    return results


if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2:] or None
    from strategicai_visibility_loop_etl_spark.session import get_spark

    spark = get_spark("oracle-harness")
    # Stream each result as it lands so a long run killed mid-way
    # still leaves the completed comparisons on stdout.
    run_all(spark, sf_dir, only, on_result=lambda rep: print(rep, flush=True))
    spark.stop()
