"""Write .explain('formatted') snapshots for registered queries to files.

Usage:
    python tools/plan_snapshot.py <out_dir> <suffix> [query ...]

Writes ``<out_dir>/<query>_<suffix>.txt`` per query (default: the full
registry). Environment knobs (SPARK_GRAFT_*) are read as usual, so the
same tool captures before/after pairs by flipping env vars between runs.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from strategicai_visibility_loop_etl_spark.session import get_spark

    spark = get_spark("plan-snapshot")
    import __spark_entry__ as entrymod

    qs = {**entrymod.queries(), **entrymod.extra_queries()}
    for name in names or qs:
        buf = io.StringIO()
        try:
            with redirect_stdout(buf):
                qs[name](spark, sf_dir).explain("formatted")
        except Exception as exc:  # noqa: BLE001 - snapshot what we can
            buf.write(f"\nEXPLAIN FAILED: {type(exc).__name__}: {exc}\n")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(buf.getvalue())
        print(name, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
