"""Sketch-accelerated operators: Bloom-prefiltered decontamination,
mergeable HLL distinct-count sketches, and heavy-hitter extraction.

These are the probabilistic-data-structure layer a 100-TB pipeline
leans on: a Bloom filter turns the decontamination join into a
map-side membership probe over a few-MB broadcast set; HLL sketches
make per-shard distinct counts re-aggregatable without rescanning the
corpus; heavy hitters are the vocabulary/boilerplate census. The
reference pipeline (etl_merge.py) has no analog — these extend the
engine for training-data preparation, the same family as
operators/dedup.py.

Spark 4.1 does not register ``bloom_filter_agg``/``might_contain`` in
the SQL function registry (they are Catalyst-internal, used only by
runtime join filters), so the Bloom filter here is built from first
principles as a *distinct bit-position set*: each benchmark gram sets
``k_hashes`` positions in an ``m_bits`` space via seeded xxhash64, and
membership is "all of my positions are set". The position set is a
table of ints bounded by k·|benchmark grams| — megabytes where the
gram strings would be tens of megabytes — and every probe is a
broadcast (map-side) semi-join: the corpus side never shuffles until
the final per-document count. False positives are killed by one exact
verify join over the (tiny) surviving gram set, so the result is
bit-identical to the exact-join path and the DuckDB oracle needs no
Bloom replay.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import round_c
from ..functions.text import normalized_text
from .dedup import exploded_shingles


def bloom_positions(col: Column, m_bits: int, k_hashes: int) -> list[Column]:
    """The ``k_hashes`` Bloom bit positions of a value: seeded xxhash64
    folded into ``[0, m_bits)``. Seeding is by prepending a literal —
    xxhash64 is a multi-argument hash, so each seed is an independent
    member of the family."""
    return [
        F.pmod(F.xxhash64(F.lit(i), col), F.lit(m_bits)).alias(f"p{i}")
        for i in range(k_hashes)
    ]


def bloom_position_set(
    df: DataFrame, col: str, m_bits: int, k_hashes: int
) -> DataFrame:
    """The distinct set-bit table (single column ``pos``) of a Bloom
    filter over ``df[col]``. Bounded by ``min(m_bits, k·n)`` rows of one
    int each — the broadcastable form of the filter."""
    pos = F.explode(F.array(*bloom_positions(F.col(col), m_bits, k_hashes)))
    return df.select(pos.alias("pos")).distinct()


def bloom_prefilter_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 23,
    k_hashes: int = 5,
) -> DataFrame:
    """Bloom-accelerated benchmark decontamination — same output
    contract as ``dedup.benchmark_overlap`` (id, n_grams, n_overlap,
    overlap_frac), same results bit-for-bit.

    Scale design: the benchmark gram set is distilled to its Bloom
    bit-position set (ints, ~``k_hashes``·|grams| rows before dedup —
    megabytes at benchmark sizes where the gram strings are tens of
    MB). Corpus grams then pass ``k_hashes`` broadcast LEFT SEMI
    probes — each a map-side hash-join bit test, no corpus-side
    shuffle — and only the survivors (true overlaps + Bloom false
    positives) reach the exact verify join against the real gram set.
    With the default 8M-bit space a 100k-gram benchmark runs at ~1%%
    load factor, so the FP stream into the verify join is negligible
    and the verify join's build side is the same small benchmark set.
    The corpus side's only shuffle is the final per-document count —
    identical to the exact path, minus the wide gram-string join.
    """
    ex_c = exploded_shingles(corpus, text_col, id_col, k)
    bench_grams = (
        exploded_shingles(benchmark, text_col, id_col, k).select("g").distinct()
    )
    bits = bloom_position_set(bench_grams, "g", m_bits, k_hashes)

    # k_hashes map-side membership probes: a gram survives iff every
    # one of its positions is set. Each probe is a broadcast semi-join
    # on one int column; Catalyst keeps the corpus side pipelined.
    survivors = ex_c
    for i in range(k_hashes):
        p = F.pmod(F.xxhash64(F.lit(i), F.col("g")), F.lit(m_bits))
        survivors = (
            survivors.withColumn("__p", p)
            .join(F.broadcast(bits.withColumnRenamed("pos", "__p")), "__p", "left_semi")
        )

    # Exact verify: Bloom has no false negatives, so joining the
    # survivors against the true gram set yields exactly the exact
    # path's hit set — the oracle needs no Bloom replay.
    hits = (
        survivors.join(F.broadcast(bench_grams), "g")
        .groupBy("id")
        .agg(F.count("*").alias("n_overlap"))
    )
    per_doc = ex_c.groupBy("id").agg(F.count("*").alias("n_grams"))
    spine = corpus.select(F.col(id_col).alias("id"))
    return (
        spine.join(per_doc, "id", "left")
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            round_c(
                F.when(
                    F.coalesce("n_grams", F.lit(0)) > 0,
                    F.coalesce("n_overlap", F.lit(0))
                    / F.coalesce("n_grams", F.lit(0)).cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("overlap_frac"),
        )
    )


def hll_shard_sketches(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    shard_col: str,
    lg_config_k: int = 12,
) -> DataFrame:
    """Per-(group, shard) HLL sketches: (group…, shard, sketch binary).

    The mergeable-sketch pattern for 100-TB distinct counting: each
    shard/day/partition aggregates once into a KB-sized Datasketches
    HLL binary; later queries merge sketches with ``hll_union_agg``
    instead of rescanning raw data. ``lg_config_k=12`` is the Spark
    default (~1.6%% relative error)."""
    return df.groupBy(*group_cols, shard_col).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_config_k)).alias("sketch")
    )


def hll_merge_estimate(
    sketches: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Merge per-shard sketches up to ``group_cols`` and estimate:
    (group…, approx_distinct). The merge is a partial-aggregable union
    of KB binaries — never touches raw values."""
    return sketches.groupBy(*group_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch"))).alias("approx_distinct")
    )


def heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 50,
    min_len: int = 1,
) -> DataFrame:
    """Exact corpus-level token heavy hitters: the ``top_k`` most
    frequent tokens with counts and corpus frequency share —
    (rank, token, n_occurrences, freq_share).

    The vocabulary census behind stopword lists, boilerplate
    detection, and tokenizer audits. Plan: tokenize (codegen split) →
    explode → one partial-aggregable hash count per token → global
    top-k via ``orderBy().limit()`` (TakeOrdered — only each
    partition's top-k rows reach the driver-side heap, never the
    vocabulary). Ties on count are broken by token text so ranks are
    deterministic across engines. The total-token denominator is a
    scalar aggregate joined back by broadcast — never a global
    window."""
    toks = df.select(
        F.explode(
            F.split(normalized_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
        ).alias("token")
    ).filter(F.length("token") >= min_len)
    counts = toks.groupBy("token").agg(F.count("*").alias("n_occurrences"))
    total = counts.agg(F.sum("n_occurrences").alias("__total"))
    top = counts.orderBy(F.col("n_occurrences").desc(), F.col("token").asc()).limit(top_k)
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number()
            .over(
                # top_k rows only — this window orders a limit-bounded
                # set, not the corpus.
                Window.orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
            )
            .alias("rank"),
            "token",
            "n_occurrences",
            round_c(F.col("n_occurrences") / F.col("__total").cast("double"), 6).alias(
                "freq_share"
            ),
        )
    )


def cms_shard_sketches(
    df: DataFrame,
    value_col: str,
    shard_col: str,
    width: int = 1024,
    depth: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-shard count-min sketches as LONG tables:
    (shard, row, slot, cnt) with ``slot = xxhash64(value, row-seed)
    mod width`` — the mergeable FREQUENCY companion of the HLL
    distinct sketches (Cormode & Muthukrishnan 2005): each shard/day
    folds its raw values into depth×width counters ONE aggregate
    deep, later frequency questions merge counter tables by summing
    (never rescanning raw data), and a point estimate is the MIN over
    the ``depth`` rows — an overestimate by at most εN with
    ε = e/width at the standard δ = e^−depth confidence.

    Relational by construction: the sketch is rows, not an opaque
    binary — merging is a groupBy SUM (partial-aggregable, any
    subset of shards), estimation a small join, and both replay in
    any SQL engine. ``weight_col`` folds weighted counts (e.g. token
    tf) at no extra pass."""
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    rows = F.explode(
        F.array(*[F.lit(i) for i in range(depth)])
    ).alias("row")
    return (
        df.select(F.col(shard_col).alias("shard"), F.col(value_col).alias("__v"),
                  w.alias("__w"), rows)
        .select(
            "shard",
            "row",
            F.pmod(F.xxhash64(F.col("__v"), F.col("row")), F.lit(width)).alias("slot"),
            F.col("__w"),
        )
        .groupBy("shard", "row", "slot")
        .agg(F.sum("__w").alias("cnt"))
    )


def cms_merge(sketches: DataFrame) -> DataFrame:
    """Merge per-shard sketches into one (row, slot, cnt) table — a
    plain SUM over counters, exact w.r.t. the sketch semantics (the
    merged sketch equals the sketch of the concatenated data, a
    property the pytest pins cell-for-cell)."""
    return sketches.groupBy("row", "slot").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    merged: DataFrame,
    queries: DataFrame,
    value_col: str,
    width: int = 1024,
    depth: int = 4,
    stage_path: str | None = None,
) -> DataFrame:
    """Point-frequency estimates for a (small, broadcast) query set
    against a merged sketch: (value, est) with
    est = min over rows of the value's counter. Never under-estimates
    the true count; over-estimates by at most εN with probability
    1−δ (tolerance-tested). Probe cells LEFT-join the counter table —
    an untouched (row, slot) cell counts as 0, so a never-inserted
    value whose probe hits an empty cell correctly estimates 0 and
    every queried value yields exactly one output row. ``stage_path``
    stages the probe cells so an oracle can replay merge + min from
    staged tables (the hashes themselves stay Spark-side, the
    LSH-family convention)."""
    from .dedup import _stage_roundtrip  # noqa: PLC0415 (sibling module)

    probes = queries.select(F.col(value_col).alias("value")).distinct()
    probe_cells = probes.select(
        "value",
        F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row"),
    ).select(
        "value",
        "row",
        F.pmod(F.xxhash64(F.col("value"), F.col("row")), F.lit(width)).alias("slot"),
    )
    probe_cells = _stage_roundtrip(probe_cells, stage_path)
    return (
        probe_cells.join(merged, ["row", "slot"], "left")
        .groupBy("value")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias("est"))
    )


def corpus_minhash_sketch(
    df: DataFrame,
    label: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """Corpus-LEVEL MinHash signature in long form: (corpus, i, minv)
    — ``num_hashes`` rows, hash ``i`` = min over the corpus's shingle
    multiset of ``xxhash64(shingle, seed=i)`` (min over the multiset
    equals min over the set, so no distinct pass is spent).

    The corpus-comparison member of the mergeable-sketch family
    (HLL qx05, CMS qx50): two sketches of the SAME corpus split
    merge by per-``i`` MIN, and two corpora's sketches estimate
    their shingle-set Jaccard — the release-vs-release overlap /
    contamination dashboard number a 100 TB pipeline cannot afford
    to compute exactly.  One explode + one 64-way map-side MIN
    aggregate per corpus; the signature is 64 rows regardless of
    corpus size.
    """
    ex = exploded_shingles(df, text_col, id_col, k)
    agg = ex.groupBy().agg(
        *[
            F.min(F.xxhash64(F.col("g"), F.lit(i))).alias(f"__h{i}")
            for i in range(num_hashes)
        ]
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"), F.col(f"__h{i}").alias("minv")
            )
            for i in range(num_hashes)
        ]
    )
    return agg.select(F.explode(pairs).alias("p")).select(
        F.lit(label).alias("corpus"),
        F.col("p.i").alias("i"),
        F.col("p.minv").alias("minv"),
    )


def corpus_minhash_estimate(
    sketches: DataFrame,
    label_a: str,
    label_b: str,
    num_hashes: int,
) -> DataFrame:
    """1-row (n_hashes, n_agree, est_jaccard) from two staged
    corpus sketches: the classic single-permutation estimator —
    agreement fraction of the per-hash minima.  Model-sized join
    (num_hashes rows per side)."""
    a = sketches.filter(F.col("corpus") == label_a).select(
        "i", F.col("minv").alias("ma")
    )
    b = sketches.filter(F.col("corpus") == label_b).select(
        "i", F.col("minv").alias("mb")
    )
    return (
        a.join(b, "i")
        .agg(
            F.count("*").alias("n_hashes"),
            F.sum(
                F.when(F.col("ma") == F.col("mb"), 1).otherwise(0)
            ).cast("bigint").alias("n_agree"),
        )
        .select(
            "n_hashes",
            "n_agree",
            round_c(
                F.col("n_agree").cast("double")
                / F.col("n_hashes").cast("double"),
                6,
            ).alias("est_jaccard"),
        )
    )


def corpus_exact_jaccard(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """1-row (n_a, n_b, n_inter, n_union, exact_jaccard) over the two
    corpora's DISTINCT shingle sets — the verification twin of the
    sketch estimate (run it at audit scale; the sketch is the 100 TB
    path).  Distinct + one set-intersection join."""
    a = exploded_shingles(df_a, text_col, id_col, k).select("g").distinct()
    b = exploded_shingles(df_b, text_col, id_col, k).select("g").distinct()
    na = a.agg(F.count("*").alias("n_a"))
    nb = b.agg(F.count("*").alias("n_b"))
    ni = a.join(b, "g").agg(F.count("*").alias("n_inter"))
    return (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(ni))
        .select(
            "n_a",
            "n_b",
            "n_inter",
            (F.col("n_a") + F.col("n_b") - F.col("n_inter")).alias("n_union"),
            round_c(
                F.col("n_inter").cast("double")
                / (
                    F.col("n_a") + F.col("n_b") - F.col("n_inter")
                ).cast("double"),
                6,
            ).alias("exact_jaccard"),
        )
    )


def kmv_shard_sketches(
    df: DataFrame,
    col: str,
    k: int = 64,
    shard_col: Column | None = None,
) -> DataFrame:
    """Per-shard KMV (k-minimum-values) distinct-count sketches
    (Bar-Yossef et al. 2002): each shard keeps the ``k`` smallest
    portable hashes of its distinct values. The ORDER-STATISTICS
    sketch in the family — where :func:`hll_shard_sketches` trades
    exactness of replay for 1.5 kB of registers, a KMV sketch is k
    plain integers whose merge and estimate are ordinary relational
    algebra: ``merge = union -> distinct -> k smallest`` (exactly the
    sketch of the union — pytest pins it), and the estimator
    ``(k-1) * M / v_k`` is one arithmetic expression over the k-th
    value. That replayability is the point: an external SQL engine
    can recompute the whole pipeline bit-for-bit, which no HLL
    register layout allows.

    Hashing is the repo's shared polynomial fold (``char_fold_hash``)
    FINALIZED through the qx69 shift-xor avalanche into a uniform
    32-bit value: the raw fold is portable but NOT uniform — values
    sharing a prefix differ only in a few low-order polynomial terms,
    so their hashes CLUSTER, and an order-statistics estimator reads
    cluster edges instead of density (measured: a flat ~394 estimate
    for any n over "value-{i}" keys). The avalanche spreads clusters
    while staying in replayable 64-bit integer arithmetic; the 2^32
    range caps resolvable cardinality at ~4e9 distinct values (swap a
    portable 64-bit mix in for more headroom, same plan). Hash ties
    across distinct values merge (the standard KMV duplicate-collapse,
    a ~n²/2M effect).

    Scale shape: one distinct-collapse aggregate, then a per-shard
    rank window whose ``WindowGroupLimit`` pre-prunes map-side to k
    rows per partition — the shuffle carries O(partitions * k), never
    the value set. Output: (shard, pos, h) — k rows per shard.
    """
    from ..functions.text import char_fold_hash  # noqa: PLC0415

    if k < 2:
        raise ValueError("k must be >= 2")
    from ..functions.text import avalanche32  # noqa: PLC0415

    shard = (shard_col if shard_col is not None else F.lit(0)).alias(
        "shard"
    )
    h = avalanche32(char_fold_hash(F.col(col).cast("string")))
    hashes = (
        df.filter(F.col(col).isNotNull())
        .select(shard, h.alias("h"))
        .distinct()
    )
    w = Window.partitionBy("shard").orderBy("h")
    return (
        hashes.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= k)
        .select("shard", "pos", "h")
    )


def kmv_merge_estimate(sketches: DataFrame, k: int = 64) -> DataFrame:
    """Merge any set of KMV shard sketches and estimate the distinct
    count of the UNION: distinct hashes across shards, keep the k
    smallest, then ``est = (k-1) * 2^32 / v_k`` (with v_k the k-th
    smallest avalanched hash; if fewer than k distinct hashes
    survive, the sketch SAW every value and the count is exact — the
    standard small-set escape). One rank window over at most
    shards*k rows — model-sized by construction.

    Output: one row — n_kept, v_k, est (6-dp double). The estimator
    is unbiased for uniform hashes; the polynomial fold is uniform
    enough for monitoring-grade estimates (the accuracy-vs-exact
    audit belongs next to the estimate, as qx55 does for MinHash
    Jaccard).
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    merged = sketches.select("h").distinct()
    w = Window.partitionBy(F.lit(1)).orderBy("h")
    topk = (
        merged.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= k)
    )
    agg = topk.agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.max("h").alias("v_k"),
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(
        round_c(
            F.lit(float(k - 1))
            * F.lit(4294967296.0)
            / F.col("v_k").cast("double"),
            6,
        )
    )
    return agg.select("n_kept", "v_k", est.alias("est"))
