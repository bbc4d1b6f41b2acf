"""Snapshot diffing and change-history dimensions.

The reference's visibility loop is inherently run-over-run (this
crawl's merged table vs the last one — cf. /root/reference
etl_merge.py run-provenance fields); these operators make the
comparison itself a first-class distributed op:

- ``snapshot_diff`` — classify every key as added / removed /
  changed / unchanged between two snapshots by content fingerprint.
  One full-outer shuffled join on the key — only (key, fingerprint)
  ride the shuffle, never document bodies; with both snapshots
  written bucketed on the key, the Exchange disappears entirely.
  Status is a pure codegen'd CASE.
- ``scd2_intervals`` — compress a change log into type-2
  slowly-changing-dimension rows (value, effective_from,
  effective_to, is_current). Two window passes over ONE shuffle on
  the key: lag() drops no-op changes, lead() over the survivors
  closes each interval — the survivors are already partitioned by the
  key, so the second window reuses the first exchange.
- ``upsert`` — MERGE INTO emulation (update / insert / delete in one
  full-outer join pass), change-side-wins projection, additive schema
  evolution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "url",
    fingerprint_col: str = "digest",
) -> DataFrame:
    """(key, status) for every key in either snapshot; status ∈
    {added, removed, changed, unchanged} by fingerprint comparison.

    Fingerprints must be non-null on present rows (use a content digest
    such as ``sha2(normalized_text(text), 256)``); null fingerprints
    would be indistinguishable from absence.
    """
    o = old.select(F.col(key_col), F.col(fingerprint_col).alias("__fp_old"))
    n = new.select(F.col(key_col), F.col(fingerprint_col).alias("__fp_new"))
    status = (
        F.when(F.col("__fp_old").isNull(), F.lit("added"))
        .when(F.col("__fp_new").isNull(), F.lit("removed"))
        .when(F.col("__fp_old") == F.col("__fp_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return o.join(n, key_col, "full_outer").select(key_col, status.alias("status"))


def upsert(
    snapshot: DataFrame,
    changes: DataFrame,
    key_col: str,
    delete_col: str | None = None,
) -> DataFrame:
    """MERGE-INTO emulation (SCD type 1): apply a change batch to a
    snapshot — matched keys take the change row's values, unmatched
    change rows insert, unmatched snapshot rows carry over, and (when
    ``delete_col`` names a boolean column) change rows flagged true
    delete instead of update.

    One full-outer shuffled join on the key; every column resolves via
    a codegen'd "change side wins" projection. Columns = union of both
    schemas (a column missing from one side reads as NULL there —
    additive schema evolution for free). With both inputs bucketed on
    the key (sources/sinks.py) the Exchange disappears, which is how
    the nightly 100 TB snapshot+delta compaction should run.

    ``changes`` must hold at most one row per key (pre-collapse a
    multi-change log with ``dedup_spine`` or ``scd2_intervals``'
    latest run) — enforced nowhere at this layer, documented loudly.
    """
    s_cols = set(snapshot.columns)
    c_cols = set(changes.columns)
    out_cols = [c for c in snapshot.columns if c != key_col] + [
        c for c in changes.columns if c not in s_cols and c != delete_col
    ]
    s = snapshot.select(
        F.col(key_col),
        F.lit(True).alias("__in_s"),
        *[F.col(c).alias(f"__s_{c}") for c in snapshot.columns if c != key_col],
    )
    c = changes.select(
        F.col(key_col),
        F.lit(True).alias("__in_c"),
        *[F.col(cc).alias(f"__c_{cc}") for cc in changes.columns if cc != key_col],
    )
    j = s.join(c, key_col, "full_outer")
    if delete_col is not None:
        j = j.filter(~F.coalesce(F.col(f"__c_{delete_col}"), F.lit(False)))
    picked = []
    for col in out_cols:
        if col == delete_col:
            continue
        c_side = F.col(f"__c_{col}") if col in c_cols else None
        s_side = F.col(f"__s_{col}") if col in s_cols else None
        if c_side is not None and s_side is not None:
            # Change side wins where the row came from the change batch
            # (even if its value is NULL — an explicit NULL overwrite).
            expr = F.when(F.col("__in_c"), c_side).otherwise(s_side)
        else:
            expr = c_side if c_side is not None else s_side
        picked.append(expr.alias(col))
    return j.select(key_col, *picked)


def scd2_intervals(
    log: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Type-2 SCD rows from a change log: one row per (key, value run)
    with ``effective_from`` (first ts of the run), ``effective_to``
    (next run's start, NULL for the open run) and ``is_current``.

    Consecutive rows with the same value collapse into one interval
    (no-op changes in the log don't produce zero-width rows). The sort
    must be a TOTAL order for the result to be engine-independent —
    pass ``tiebreak_col`` when ``ts_col`` can tie within a key.
    """
    order = [F.col(ts_col).asc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(key_col).orderBy(*order)
    changes = (
        log.select(key_col, value_col, ts_col, *( [tiebreak_col] if tiebreak_col else [] ))
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__prev", F.lag(value_col).over(w))
        # IS DISTINCT FROM semantics so null-valued runs collapse like
        # any other run; rn=1 keeps a key whose FIRST value is null
        # (lag can't distinguish that from "no previous row").
        .filter(
            (F.col("__rn") == 1) | ~F.col(value_col).eqNullSafe(F.col("__prev"))
        )
    )
    w2 = Window.partitionBy(key_col).orderBy(*order)
    return changes.select(
        F.col(key_col),
        F.col(value_col),
        F.col(ts_col).alias("effective_from"),
        F.lead(ts_col).over(w2).alias("effective_to"),
        F.lead(ts_col).over(w2).isNull().alias("is_current"),
    )


def incremental_ingest(
    existing: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Classify a new crawl batch against an existing corpus without
    re-deduplicating the corpus: (id, status) with status one of

    - ``new``           — first occurrence of this content anywhere
    - ``dup_of_corpus`` — content already in the existing corpus
    - ``dup_in_batch``  — novel content duplicated inside the batch;
                          the smallest id in the batch is the ``new``
                          one, the rest land here

    ``accepted = result.filter(status == 'new')`` is the set to append;
    its digests are the index delta. This is the per-increment path a
    continuously-crawling pipeline runs daily: work scales with the
    BATCH, the corpus contributes only its digest index.

    Plan: both sides reduce to 32-byte sha256 digests of normalized
    text. The corpus index joins on the digest — deliberately NOT
    broadcast (at 100 TB the index is itself huge; keep it as a
    bucketed digest table and the join co-locates shuffle-free). The
    within-batch first-occurrence is one row_number window over the
    digest, groups bounded by the batch's dup multiplicity.
    """
    from ..functions.text import normalized_text  # noqa: PLC0415

    ex = existing.select(
        F.sha2(normalized_text(F.col(text_col)), 256).alias("digest")
    ).distinct().withColumn("__in_corpus", F.lit(True))
    b = batch.select(
        F.col(id_col).alias("id"),
        F.sha2(normalized_text(F.col(text_col)), 256).alias("digest"),
    )
    w = Window.partitionBy("digest").orderBy("id")
    return (
        b.withColumn("__rn", F.row_number().over(w))
        .join(ex, "digest", "left")
        .select(
            "id",
            F.when(F.col("__in_corpus"), F.lit("dup_of_corpus"))
            .when(F.col("__rn") > 1, F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def merge_intervals(
    df: DataFrame,
    key_cols: list[str],
    start_col: str = "start",
    end_col: str = "end",
    min_gap: int = 0,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Merge overlapping / near-adjacent intervals per key (the
    gaps-and-islands consolidation): intervals whose gap to the
    running coverage is ≤ ``min_gap`` fuse into one island (non-zero gaps require
    numeric bounds; timestamp intervals merge with the default 0) —
    (keys, start, end, n_merged).  The span-consolidation primitive
    under session stitching, redaction-span flattening, crawl-window
    coalescing and SCD2 cleanup (complements `scd2_intervals`, which
    BUILDS intervals; this normalizes them).

    Correctness detail: the island test compares each start against
    the RUNNING MAX of prior ends (one window, rows unbounded
    preceding to 1 preceding), not the previous row's end — a long
    interval swallowing short later ones breaks the lag-based
    shortcut.  Island ids are a running SUM of new-island flags over
    the same ordering, so the whole operator is two window passes +
    one hash aggregate on (key, island) — a single shuffle on the
    key (window and aggregate share it).  Everything stays in the
    input's numeric/timestamp type — engine-exact.  When duplicate
    (start, end) spans can occur within a key, pass ``tiebreak_cols``
    (a unique key) to make the window ordering TOTAL: the merged
    RESULT is tie-order independent in one engine, but a replaying
    oracle evaluates the flag and island windows in separate passes
    and ambiguous ties can split one island's duplicates across two.
    """
    order_cols = [start_col, end_col, *(tiebreak_cols or [])]
    w_order = Window.partitionBy(*key_cols).orderBy(*order_cols)
    prior_end = F.max(end_col).over(
        w_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    # min_gap == 0 must not synthesize an arithmetic add: TIMESTAMP +
    # INT is a type error, and timestamp intervals are a named use
    # case (non-zero gaps need numeric bounds — documented).
    gap_end = prior_end if min_gap == 0 else prior_end + F.lit(min_gap)
    flagged = df.withColumn(
        "__new",
        F.when(
            prior_end.isNull() | (F.col(start_col) > gap_end),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "__island",
        F.sum("__new").over(
            w_order.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        flagged.groupBy(*key_cols, "__island")
        .agg(
            F.min(start_col).alias(start_col),
            F.max(end_col).alias(end_col),
            F.count("*").alias("n_merged"),
        )
        .drop("__island")
    )


def cdc_apply(
    log: DataFrame,
    key_cols: list[str],
    version_col: str = "version",
    op_col: str = "op",
    upsert_op: str = "upsert",
    delete_op: str = "delete",
) -> DataFrame:
    """Replay a CDC change log to final table state in ONE pass: for
    each key the highest-``version_col`` entry wins; if that entry is
    a delete the key is absent from the output, otherwise its payload
    columns survive. Generalizes :func:`upsert` (base + one delta)
    to a full multi-version log WITH tombstones — the Debezium/binlog
    compaction shape: out-of-order delivery and redelivered duplicates
    are both absorbed because max-by-version is order- and
    duplicate-insensitive (an exact redelivery changes nothing).

    Caller contract: ``(key, version)`` identifies one operation —
    two DIFFERENT ops sharing a key+version have no defined winner
    (same as any log-compaction semantics). One hash aggregate on the
    key, no window, no sort; payload travels as a struct through a
    single ``max_by``. DuckDB replays with ``arg_max``.
    """
    payload = [
        c for c in log.columns
        if c not in (*key_cols, version_col, op_col)
    ]
    winner = log.groupBy(*key_cols).agg(
        F.max_by(
            F.struct(F.col(op_col).alias("__op"), *payload),
            F.col(version_col),
        ).alias("__w"),
        F.max(version_col).alias(version_col),
    )
    return (
        winner.filter(F.col("__w.__op") == upsert_op)
        .select(
            *key_cols,
            *[F.col(f"__w.{c}").alias(c) for c in payload],
            version_col,
        )
    )


def agg_state(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Mergeable aggregate STATE for incremental materialized-view
    maintenance: (group..., cnt, sum DECIMAL(28,6), min, max). The
    decimal sum is order-free exact, so merging partial states is
    bit-identical to aggregating the union — the property
    :func:`merge_agg_states` and the pytest equivalence gate rely on.
    At 100 TB this is the daily-rollup shape: yesterday's state is
    never recomputed, today's delta folds in with one model-free
    aggregate over state rows (state cardinality = group count, not
    row count)."""
    from ..functions.numeric import round_c  # noqa: PLC0415

    v = F.col(value_col)
    return df.groupBy(*group_cols).agg(
        F.count(v).alias("cnt"),
        F.sum(round_c(v, 6).cast("decimal(28,6)")).alias("sum"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
    )


def merge_agg_states(*states: DataFrame) -> DataFrame:
    """Fold any number of :func:`agg_state` tables into one: counts
    and sums add, min/max combine — associative, commutative, exact
    (decimal sums), so ANY merge tree of shards/days equals the
    from-scratch aggregate of the union."""
    from functools import reduce  # noqa: PLC0415

    union = reduce(lambda a, b: a.unionByName(b), states)
    keys = [c for c in union.columns if c not in ("cnt", "sum", "min", "max")]
    return union.groupBy(*keys).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum").alias("sum"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
    )


def finalize_agg(state: DataFrame) -> DataFrame:
    """Render an :func:`agg_state` table for consumption: adds ``avg``
    (sum/cnt in IEEE double through one division, NULL on empty
    groups) next to the mergeable fields."""
    from ..functions.numeric import round_c  # noqa: PLC0415

    return state.withColumn(
        "avg",
        F.when(
            F.col("cnt") > 0,
            round_c(
                F.col("sum").cast("double") / F.col("cnt").cast("double"), 6
            ),
        ),
    )


def id_dictionary_build(
    df: DataFrame, key_col: str, start_id: int = 1
) -> DataFrame:
    """Build a stable (key, key_id) dictionary: every distinct
    non-NULL key gets a DENSE BIGINT id assigned in key sort order —
    dictionary encoding for the wide string keys (urls, hosts, user
    ids) that otherwise ride every shuffle of a 100 TB pipeline as
    full strings. Pair with :func:`id_dictionary_update` (append-only
    growth: existing ids NEVER change — the property that makes the
    encoding safe to persist and join against historical outputs).

    Scale shape: numbering uses the SHARED distributed two-pass
    prefix sum (`global_prefix_sum` — range-partition, local
    row-number, partition-offset add), never a single-partition
    global window; the only single-partition step is the
    partition-count-sized offsets frame. Sort-order assignment is
    what makes the build REPLAYABLE — any engine numbering the same
    sorted key set produces the same dictionary.
    """
    from .textprep import global_prefix_sum  # noqa: PLC0415

    keys = (
        df.filter(F.col(key_col).isNotNull())
        .select(F.col(key_col).alias("key"))
        .distinct()
        .withColumn("__one", F.lit(1).cast("bigint"))
    )
    ranked = global_prefix_sum(keys, "__one", "key")
    return ranked.select(
        "key",
        (F.col("__before") + F.lit(int(start_id))).cast("long").alias(
            "key_id"
        ),
    )


def id_dictionary_update(
    dictionary: DataFrame, df: DataFrame, key_col: str
) -> DataFrame:
    """Grow a dictionary with a new batch's unseen keys: existing
    rows pass through UNTOUCHED (ids are forever — the contract every
    downstream join and persisted encoding depends on), new keys get
    ids max_id+1.. in key sort order. Idempotent under redelivery (a
    replayed batch adds nothing) and superset-stable (updating with A
    then B assigns A's keys the same ids as updating with A∪B would
    only when B's keys all sort after... it does NOT — new-key ids
    depend on arrival batching, as in every real dictionary encoder;
    what IS stable is that once assigned, an id never moves —
    pytest-pinned).

    One anti-join (new keys), one new-batch-sized prefix sum, one
    1-row max broadcast. Persist the result with the
    caller's table mechanics (e.g. the MERGE sink) — this is the pure
    function.
    """
    from .textprep import global_prefix_sum  # noqa: PLC0415

    new = (
        df.filter(F.col(key_col).isNotNull())
        .select(F.col(key_col).alias("key"))
        .distinct()
        .join(dictionary.select("key"), "key", "left_anti")
        .withColumn("__one", F.lit(1).cast("bigint"))
    )
    mx = dictionary.agg(
        F.coalesce(F.max("key_id"), F.lit(0)).cast("long").alias("__mx")
    )
    assigned = (
        global_prefix_sum(new, "__one", "key")
        .crossJoin(F.broadcast(mx))
        .select(
            "key",
            (F.col("__before") + F.col("__mx") + F.lit(1))
            .cast("long")
            .alias("key_id"),
        )
    )
    return dictionary.select("key", "key_id").unionByName(assigned)
