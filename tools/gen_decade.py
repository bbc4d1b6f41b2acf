"""Scale-decade testdata replicator for the big-scale oracle sweep.

The registered correctness queries are oracle-gated at sf0.001-0.1;
every past jump to a new scale decade surfaced real engine/oracle
divergences the smaller scale hid (r5: HUGEINT casts, tie-break
ranks, .5-rounding; r9: window-tie island splits). This tool builds
an sf0.1 x MULT dataset (default MULT=5, i.e. ~sf0.5: 3M lineitem
rows) that the standard harness can sweep directly:

    python tools/gen_decade.py --mult 5 --out /tmp/decade_sf0.5
    python tests/oracle_harness.py /tmp/decade_sf0.5 q10 q14 ...

Replication contract (keeps every FK valid and every query's
semantics meaningful at the new scale):

- region/nation: copied as-is (fixed dims; TPC-H doesn't scale them).
- Key columns get +rep*10_000_000 (all source keys are < 10M), with
  FK columns offset by the SAME rep so each replica is a closed
  sub-universe joining exactly like the original.
- Non-key columns are copied byte-identical. Deliberate: replicas
  create exact k-way ties in every measure, the adversarial case for
  rank/tie-break determinism, and sums grow MULT-fold, probing
  accumulator widths.
- documents.text gets a per-replica tail token (rep>0), so replica
  groups form near-dup (not byte-dup) clusters, and n_chars is
  recomputed to stay consistent with the mutated text.
- embeddings get a tiny per-replica additive shift (rep * 1e-3) so
  ANN/near-dup queries see MULT-sized near-clusters instead of
  degenerate exact-duplicate vectors.

Types are preserved exactly (BIGINT keys stay BIGINT, INTEGER dims
stay INTEGER, FLOAT[] stays FLOAT[]) so both engines read the same
schema they see in the driver-generated data.
"""

from __future__ import annotations

import argparse
import os

OFF = 10_000_000

# table -> select-list template ({src} is the parquet path; `rep` is
# the replica index column from the cross join).
TEMPLATES = {
    "region": None,   # copied as-is
    "nation": None,   # copied as-is
    "customer": """
        (c_custkey + rep * {off})::BIGINT AS c_custkey,
        c_name, c_nationkey, c_acctbal, c_mktsegment
    """,
    "supplier": """
        (s_suppkey + rep * {off})::BIGINT AS s_suppkey,
        s_name, s_nationkey, s_acctbal
    """,
    "part": """
        (p_partkey + rep * {off})::BIGINT AS p_partkey,
        p_name, p_brand, p_type, p_size, p_retailprice
    """,
    "orders": """
        (o_orderkey + rep * {off})::BIGINT AS o_orderkey,
        (o_custkey + rep * {off})::BIGINT AS o_custkey,
        o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
    """,
    "lineitem": """
        (l_orderkey + rep * {off})::BIGINT AS l_orderkey,
        (l_partkey + rep * {off})::BIGINT AS l_partkey,
        (l_suppkey + rep * {off})::BIGINT AS l_suppkey,
        l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
        l_returnflag, l_linestatus, l_shipdate
    """,
    "events": """
        (event_id + rep * {off})::BIGINT AS event_id,
        ts,
        (user_id + rep * {off})::BIGINT AS user_id,
        event_type, value, props
    """,
    "documents": """
        (doc_id + rep * {off})::BIGINT AS doc_id,
        CASE WHEN rep = 0 THEN text
             ELSE text || ' rep' || rep END AS text,
        lang, source,
        length(CASE WHEN rep = 0 THEN text
                    ELSE text || ' rep' || rep END)::BIGINT AS n_chars
    """,
    "embeddings": """
        (vec_id + rep * {off})::BIGINT AS vec_id,
        list_transform(embedding,
                       x -> (x + rep * 0.001)::FLOAT) AS embedding,
        label
    """,
}


# key columns whose replica blocks must not overlap: every source key
# must be < OFF or the offset scheme silently collides (e.g. running
# the replicator on its own output, or on data with keys >= 10M).
_OFFSET_KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def generate(src_dir: str, out_dir: str, mult: int) -> dict:
    import duckdb

    # qx100's DuckDB oracle breaks argmin ties with the composite key
    # h * 2^32 + cand, which is order-equivalent to ORDER BY (h, cand)
    # ONLY while every id stays below 2^32. The offset scheme caps ids
    # at mult * OFF, so fail loudly here rather than let a larger
    # replica count silently change oracle tie-breaking.
    if mult * OFF > 2**32:
        raise ValueError(
            f"mult={mult} puts replica ids above 2^32 "
            "(qx100's composite arg_min key stops being "
            "order-equivalent to (h, cand))"
        )
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for table, keys in _OFFSET_KEYS.items():
        sel = ", ".join(f"min({k}), max({k})" for k in keys)
        bounds = con.execute(
            f"SELECT {sel} FROM read_parquet('{src_dir}/{table}.parquet')"
        ).fetchone()
        for i, k in enumerate(keys):
            mn, mx = bounds[2 * i], bounds[2 * i + 1]
            # negative keys shift into the PREVIOUS replica's block, so
            # the whole [min, max] range must fit inside [0, OFF)
            if mn is not None and (mn < 0 or mx >= OFF):
                raise ValueError(
                    f"{table}.{k} range [{mn}, {mx}] outside [0, {OFF}): "
                    "replica key blocks would collide"
                )
    counts = {}
    for table, tmpl in TEMPLATES.items():
        src = f"{src_dir}/{table}.parquet"
        dst = f"{out_dir}/{table}.parquet"
        if tmpl is None:
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}')) "
                f"TO '{dst}' (FORMAT PARQUET)"
            )
        else:
            sel = tmpl.format(off=OFF)
            con.execute(
                f"COPY (SELECT {sel} FROM read_parquet('{src}') "
                f"CROSS JOIN (SELECT unnest(range({mult})) AS rep) reps) "
                f"TO '{dst}' (FORMAT PARQUET)"
            )
        counts[table] = con.execute(
            f"SELECT count(*) FROM read_parquet('{dst}')"
        ).fetchone()[0]
    con.close()
    return counts


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/decade_sf0.5")
    ap.add_argument("--mult", type=int, default=5)
    args = ap.parse_args()
    counts = generate(args.src, args.out, args.mult)
    import json

    print(json.dumps({"out": args.out, "mult": args.mult, "rows": counts}))


if __name__ == "__main__":
    main()
