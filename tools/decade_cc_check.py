"""Decade-scale independent check for q42_dedup_clusters.

The registered DuckDB oracle closes the Jaccard pair graph with a
recursive CTE that materializes the full transitive closure —
quadratic in component size. At sf0.01 (the driver's gate) that is
instant; at the decade replica (25k docs in the dup-union corpus,
~56k near-dup edges whose replica groups chain into large
components) the closure spills >80 GB and dies. The ENGINE result is
what we want to validate at this scale, so this tool swaps only the
closure step of the oracle for an exact union-find:

1. Spark runs the registered q42 query unchanged.
2. DuckDB runs the registered oracle's OWN edge pipeline (tokenize →
   shingle → inverted-index pair join → Jaccard >= 0.5) — everything
   up to `e` — taken verbatim from oracle_sql() by string surgery, so
   the edge semantics stay byte-identical to the gate's.
3. Python union-finds the DuckDB edges (min-id labels, exactly the
   recursive CTE's fixed point) and compares (id, component) sets.

Usage: python tools/decade_cc_check.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def duckdb_edges(sql: str, sf_dir: str):
    import duckdb

    marker = "sym AS ("
    cut = sql.index(marker)
    # keep every CTE before sym; close the WITH list at `e` and emit edges
    edges_sql = sql[:cut].rstrip().rstrip(",") + "\nSELECT ea, eb FROM e"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    rows = con.execute(edges_sql).fetchall()
    con.close()
    return rows


def union_find(edges):
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        for n in (a, b):
            if n not in parent:
                parent[n] = n
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id label: roots are already the component minimum because
    # unions always point the larger root at the smaller one.
    return {n: find(n) for n in parent}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/decade_sf0.5"
    import __spark_entry__ as entrymod
    from strategicai_visibility_loop_etl_spark.session import get_spark

    spark = get_spark("decade-cc-check")

    t0 = time.monotonic()
    qs = entrymod.queries()
    df = qs["q42_dedup_clusters"](spark, sf_dir)
    got = {(r[0], r[1]) for r in df.collect()}
    t1 = time.monotonic()

    sql = entrymod.oracle_sql()["q42_dedup_clusters"]
    edges = duckdb_edges(sql, sf_dir)
    labels = union_find(edges)
    want = set(labels.items())
    t2 = time.monotonic()

    ok = got == want
    report = {
        "query": "q42_dedup_clusters",
        "sf_dir": sf_dir,
        "status": "ok" if ok else "value_mismatch",
        "rows": len(got),
        "oracle_rows": len(want),
        "edges": len(edges),
        "components": len(set(labels.values())),
        "spark_s": round(t1 - t0, 2),
        "oracle_s": round(t2 - t1, 2),
    }
    if not ok:
        report["spark_only"] = sorted(got - want)[:5]
        report["oracle_only"] = sorted(want - got)[:5]
    print(json.dumps(report))
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
