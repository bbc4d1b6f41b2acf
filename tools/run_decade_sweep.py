"""Full-registry decade sweep runner (VERDICT r12 item 3).

Runs every registered query+oracle pair through the harness's
rows+schema+hash compare at a decade replica dir, streaming one JSON
line per query so a killed run keeps its completed comparisons.
Four queries are routed to their dedicated decade tools instead of
the registered oracle:

- q42_dedup_clusters  → tools/decade_cc_check.py (union-find oracle —
                        the recursive-CTE closure is quadratic in
                        component size and intractable at this scale)
- qx12_cluster_reps   → tools/decade_reps_split_check.py (staged
- qx36_leakage_split     component table spliced into the oracle)
- q22_ngram_jaccard   → tools/decade_q22_sampled_check.py (both
                        engines on the same doc_id % 4 hash sample —
                        exact-verify pair volume is data-inherent and
                        replica-quadratic; q23 is the production path
                        and runs in full)

Usage: python tools/run_decade_sweep.py [sf_dir] [--skip N] [--only a,b]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SPECIAL = {
    "q42_dedup_clusters",
    "qx12_cluster_reps",
    "qx36_leakage_split",
    "q22_ngram_jaccard",
}


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("sf_dir", nargs="?", default="/tmp/decade_sf1")
    ap.add_argument("--skip", type=int, default=0,
                    help="skip the first N registry queries (resume)")
    ap.add_argument("--only", default=None,
                    help="comma-separated query names to run")
    ns = ap.parse_args()
    sf_dir = ns.sf_dir
    skip = ns.skip
    only = ns.only.split(",") if ns.only else None

    import __spark_entry__ as entrymod
    from strategicai_visibility_loop_etl_spark.session import get_spark
    from tests.oracle_harness import run_all

    spark = get_spark("decade-sweep")

    qs = dict(entrymod.queries())
    qs.update(entrymod.extra_queries())
    names = only or [n for n in qs if n not in SPECIAL]
    names = names[skip:]
    run_all(
        spark,
        sf_dir,
        names,
        on_result=lambda rep: print(json.dumps(rep), flush=True),
    )
    spark.stop()


if __name__ == "__main__":
    main()
