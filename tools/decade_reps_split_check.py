"""Decade-scale independent check for qx12_cluster_reps and
qx36_leakage_split — the two queries whose registered oracles embed
q42's recursive-CTE transitive closure (quadratic in component size,
intractable at decade replicas where replica groups chain into large
components; the r12 sweep had to exclude them).

The q42 treatment, extended: components become a STAGED TABLE, not a
recursion —

1. DuckDB runs the registered q42 oracle's OWN edge pipeline
   (tokenize → shingle → inverted-index pair join → Jaccard >= 0.5),
   reusing ``decade_cc_check.duckdb_edges`` verbatim so edge semantics
   stay byte-identical to the driver's gate.
2. Python union-finds the edges (min-id labels — exactly the
   recursive CTE's fixed point) and stages (id, component) to parquet.
3. The registered qx12/qx36 oracle SQL is string-surgered: the
   embedded q42 closure text (an exact f-string interpolation of
   ``oracle_sql()["q42_dedup_clusters"]``) is replaced by
   ``SELECT id, component FROM read_parquet(<staged>)``. Everything
   AROUND the closure — the dup-union universe, the rep keep-rule,
   the split-unit coalesce, the multiplicative-hash bucket and ppm
   thresholds — replays byte-identical to the gate's oracle.
4. Spark runs the registered queries unchanged; results compare with
   the harness's order-insensitive row canon.

Usage: python tools/decade_reps_split_check.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.decade_cc_check import duckdb_edges, union_find  # noqa: E402


def staged_oracle_sql(entrymod, comp_path: str) -> dict[str, str]:
    """The registered qx12/qx36 oracles with the embedded q42 closure
    swapped for the staged component table. Asserts the splice really
    happened — if the f-string interpolation ever changes shape, this
    fails loudly instead of silently re-running the recursion."""
    q42 = entrymod.oracle_sql()["q42_dedup_clusters"]
    staged = f"SELECT id, component FROM read_parquet('{comp_path}')"
    out = {}
    extra = entrymod.extra_oracle_sql()
    for name in ("qx12_cluster_reps", "qx36_leakage_split"):
        sql = extra[name]
        assert q42 in sql, f"{name}: embedded q42 closure not found"
        out[name] = sql.replace(q42, staged)
        assert "RECURSIVE" not in out[name].upper(), name
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/decade_sf0.5"
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod
    from strategicai_visibility_loop_etl_spark.session import get_spark
    from tests.oracle_harness import compare, duckdb_result, spark_result

    spark = get_spark("decade-reps-split-check")

    # Stage the exact component fixed point once, shared by both.
    t0 = time.monotonic()
    edges = duckdb_edges(entrymod.oracle_sql()["q42_dedup_clusters"], sf_dir)
    labels = union_find(edges)
    # Stage OUTSIDE sf_dir — /root/testdata is read-only.
    import tempfile

    comp_path = os.path.join(
        tempfile.mkdtemp(prefix="staged_components_"),
        "components.parquet",
    )
    ids = sorted(labels)
    pq.write_table(
        pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "component": pa.array([labels[i] for i in ids], pa.int64()),
            }
        ),
        comp_path,
    )
    stage_s = round(time.monotonic() - t0, 2)

    oracles = staged_oracle_sql(entrymod, comp_path)
    qs = entrymod.extra_queries()
    reports = []
    exit_code = 0
    for name in ("qx12_cluster_reps", "qx36_leakage_split"):
        t1 = time.monotonic()
        s_cols, s_rows, s_kinds = spark_result(qs[name](spark, sf_dir))
        t2 = time.monotonic()
        o_cols, o_rows, o_kinds = duckdb_result(oracles[name], sf_dir)
        rep = compare(name, s_cols, s_rows, o_cols, o_rows,
                      s_kinds=s_kinds, o_kinds=o_kinds)
        rep.update(
            sf_dir=sf_dir,
            edges=len(edges),
            components=len(set(labels.values())),
            stage_s=stage_s,
            spark_s=round(t2 - t1, 2),
            oracle_s=round(time.monotonic() - t2, 2),
        )
        reports.append(rep)
        print(json.dumps(rep), flush=True)
        if rep["status"] != "ok":
            exit_code = 1
    try:
        os.remove(comp_path)
    except OSError:
        pass
    spark.stop()
    sys.exit(exit_code)


if __name__ == "__main__":
    main()
