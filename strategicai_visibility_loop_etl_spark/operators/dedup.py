"""Deduplication operators for training-data pipelines.

Four families, all shuffle-aware:

- **Exact** — hash-groupBy on a content digest. One shuffle on the
  digest; at 100 TB the digest (32 B) shuffles, never the document.
- **Fingerprint** — same shape with a rolling-hash fingerprint.
- **N-gram Jaccard** — inverted-index candidate generation + exact
  relational Jaccard verification (intersection *counts* via hash
  joins, never array_intersect on pair rows). Never an O(n²) cross
  join over documents.
- **MinHash + LSH** — k minhashes as 64 map-side MIN aggregates over
  the exploded shingle table, banded; candidates share a (band,
  band-hash) bucket. Probability a pair with Jaccard s becomes a
  candidate: 1-(1-s^r)^b.
- **SimHash** — 64-bit bitwise-majority of token hashes via 64 SUM
  aggregates over the exploded token table; near-dups are small
  Hamming distance; bucketing on 16-bit chunks finds all pairs within
  distance 3 (pigeonhole).

Engineering note (why explode + flat aggregates, not array lambdas):
higher-order functions (``transform``/``aggregate``/``filter``) are
not whole-stage-codegen compatible — a projection containing one runs
interpreted, which benchmarked ~20× slower than the codegen'd explode
+ hash-aggregate shape on the same data. Shingle generation itself
uses MLlib's ``NGram`` (JVM-side; 3× faster than both the lambda
expression and an Arrow pandas UDF in our bake-off).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.localframe import literal_frame

from ..functions.numeric import round_c
from ..functions.text import normalized_text, tokens

_NUM_BITS = 64


def exploded_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, g) — one row per distinct word-k-gram per document.

    Tokenization is a codegen'd split; k-gram assembly is MLlib
    ``NGram`` (JVM); dedup within the doc is ``array_distinct`` before
    the explode so no extra shuffle is spent on it.
    """
    from pyspark.ml.feature import NGram  # noqa: PLC0415 (cheap, pure-plan transform)

    toks = df.select(
        F.col(id_col).alias("id"),
        F.split(normalized_text(F.coalesce(F.col(text_col), F.lit(""))), " ").alias("__toks"),
    )
    grams = NGram(n=k, inputCol="__toks", outputCol="__sh").transform(toks)
    return grams.select("id", F.explode(F.array_distinct("__sh")).alias("g"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_bucket: int | str = 1000,
) -> DataFrame:
    """Near-dup pairs with word-k-gram Jaccard ≥ threshold.

    Fully relational: explode distinct shingles, drop HOT shingles
    (shared by > max_bucket docs — the skew guard; only the small hot
    set is broadcast), self-join the inverted index and COUNT shared
    shingles per pair (that count IS |A∩B| over non-hot shingles),
    add back hot-shingle intersections for candidate pairs via a
    broadcast join, and compute Jaccard from the counts. No
    array_intersect on pair rows — the verification is two hash
    aggregates, fully codegen'd.

    The exploded-shingle table feeds SIX downstream consumers (posting
    sizes, both self-join sides, both hot-side joins, doc sizes), and
    because the hot set travels by broadcast there is no exchange for
    Spark to reuse — without a barrier the scan+NGram+explode subtree
    re-executes per consumer. An eager ``localCheckpoint`` materializes
    it once.
    """
    ex = exploded_shingles(df, text_col, id_col, k).localCheckpoint()
    sizes = ex.groupBy("id").agg(F.count("*").alias("n_sh"))

    posting_sizes = ex.groupBy("g").agg(F.count("*").alias("n"))
    cap = resolve_max_bucket(posting_sizes, max_bucket)
    hot = posting_sizes.filter(F.col("n") > cap)
    pruned = ex.join(F.broadcast(hot.select("g")), "g", "left_anti")

    a = pruned.select(F.col("g"), F.col("id").alias("id_a"))
    b = pruned.select(F.col("g"), F.col("id").alias("id_b"))
    shared = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter_cold"))
    )

    # Hot-shingle contributions to |A∩B|, computed per CANDIDATE pair —
    # never by self-joining the hot postings (that n² blowup is what
    # the guard exists to prevent). Cost: |candidates| × hot-per-doc.
    ex_hot = ex.join(F.broadcast(hot.select("g")), "g")
    hot_a = ex_hot.select(F.col("id").alias("id_a"), F.col("g"))
    hot_b = ex_hot.select(F.col("id").alias("id_b"), F.col("g"))
    hot_shared = (
        shared.select("id_a", "id_b")
        .join(hot_a, "id_a")
        .join(hot_b, ["id_b", "g"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter_hot"))
    )

    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    inter = F.col("inter_cold") + F.coalesce(F.col("inter_hot"), F.lit(0))
    return (
        shared.join(hot_shared, ["id_a", "id_b"], "left")
        .join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn("__inter", inter.cast("double"))
        .withColumn("__union", (F.col("n_a") + F.col("n_b")).cast("double") - F.col("__inter"))
        .withColumn(
            "jaccard",
            F.when(F.col("__union") > 0, F.col("__inter") / F.col("__union")).otherwise(
                F.lit(0.0)
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", round_c(F.col("jaccard"), 6).alias("jaccard"))
    )


def benchmark_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Decontamination check: per corpus document, how many of its
    distinct word-``k``-grams also appear anywhere in ``benchmark``
    (the eval/test set) — (id, n_grams, n_overlap, overlap_frac).

    The standard training-data hygiene pass (n-gram collision against
    held-out benchmarks). Plan: both sides explode to distinct
    k-grams; the benchmark side reduces to a DISTINCT gram set (tiny
    relative to the corpus — benchmarks are small) and the overlap is
    a per-gram join + per-doc count. The join keys on the gram string;
    Spark/AQE broadcasts the benchmark gram set when it fits, and the
    shuffle otherwise carries only (gram, id) — never document text.
    Docs with fewer than ``k`` tokens have no grams and report 0/0/0.0
    via the left join back to the corpus spine.
    """
    ex_c = exploded_shingles(corpus, text_col, id_col, k)
    bench_grams = exploded_shingles(benchmark, text_col, id_col, k).select("g").distinct()
    per_doc = ex_c.groupBy("id").agg(F.count("*").alias("n_grams"))
    hits = (
        ex_c.join(bench_grams, "g")
        .groupBy("id")
        .agg(F.count("*").alias("n_overlap"))
    )
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


def duplicate_span_fraction(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-span pressure: the fraction of a doc's
    k-gram POSITIONS whose gram also appears in at least one OTHER
    document — (id, n_positions, n_dup_positions, dup_frac).

    The position-weighted cousin of exact/near dedup (cf. "Deduplicating
    Training Data Makes Language Models Better": repeated SPANS hurt
    even when whole docs differ). Positions, not distinct grams, so a
    boilerplate sentence pasted five times counts five times.

    Plan (optimization r15): positional grams explode ONCE into a
    per-(doc, gram) occurrence-count table — a map-side-partial hash
    aggregate, so only (id, gram, count) rides the shuffle instead of
    every position (guide §2.3 "aggregate before you shuffle") — and
    that table, lineage-cut so its explode cannot re-execute per
    consumer (the previous shape computed the normalize+explode twice:
    once under the document-frequency aggregate, once under the join),
    feeds both the cross-doc document frequency and the per-doc
    position sums. Identical outputs: n_positions = Σ count,
    n_dup_positions = Σ count over grams seen in >1 doc.
    """
    from pyspark.ml.feature import NGram  # noqa: PLC0415 (cheap, pure-plan transform)

    toks = df.select(
        F.col(id_col).alias("id"),
        F.split(normalized_text(F.coalesce(F.col(text_col), F.lit(""))), " ").alias("__toks"),
    )
    grams = NGram(n=k, inputCol="__toks", outputCol="__g").transform(toks)
    pos = grams.select("id", F.posexplode("__g").alias("pos", "g"))
    pg = (
        pos.groupBy("id", "g")
        .agg(F.count("*").alias("__c"))
        .localCheckpoint()
    )
    dup = (
        pg.groupBy("g")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > 1)
        .select("g", F.lit(True).alias("__dup"))
    )
    flagged = pg.join(dup, "g", "left")
    spine = df.select(F.col(id_col).alias("id"))
    per = flagged.groupBy("id").agg(
        F.sum("__c").alias("n_positions"),
        F.sum(F.when(F.col("__dup"), F.col("__c"))).alias("n_dup_positions"),
    )
    return spine.join(per, "id", "left").select(
        "id",
        F.coalesce("n_positions", F.lit(0)).alias("n_positions"),
        F.coalesce("n_dup_positions", F.lit(0)).alias("n_dup_positions"),
        round_c(
            F.when(
                F.coalesce("n_positions", F.lit(0)) > 0,
                F.coalesce("n_dup_positions", F.lit(0))
                / F.coalesce("n_positions", F.lit(0)).cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_frac"),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """(id, array<long> minhash signature). Hash i = min over shingles of
    xxhash64(shingle, seed=i) — 64 map-side MIN aggregates over the
    exploded shingle table (one shuffle, partial agg), assembled into
    an array in the same aggregate.

    The aggregate is built as ONE SQL string (optimization r15):
    constructing 64 min/xxhash64 Columns through the Python API costs
    hundreds of py4j round trips PER QUERY BUILD (~0.6 s of driver
    wall, re-paid on every execution); one parsed expression is
    equivalent (same functions, same int seeds) and near-free.
    """
    ex = exploded_shingles(df, text_col, id_col, k)
    sig = F.expr(
        "array("
        + ", ".join(f"min(xxhash64(g, {i}))" for i in range(num_hashes))
        + ")"
    ).alias("sig")
    return ex.groupBy("id").agg(sig)


def resolve_max_bucket(
    bucket_sizes: DataFrame,
    max_bucket: int | str,
    size_col: str = "n",
    floor: int = 16,
    headroom: int = 8,
) -> int:
    """Static int passthrough, or ``"auto"``: derive the hot-bucket
    cutoff from the bucket-size distribution itself.

    ``auto`` = max(floor, headroom × p99 of bucket sizes) — web-scale
    boilerplate (a shingle like "all rights reserved", a SimHash chunk
    shared by templated pages) sits orders of magnitude above the p99
    of organic bucket sizes, so it gets dropped without hand-tuning a
    constant per corpus. p99 (not p99.9) so the heuristic still sees
    past the hot mass when the bucket-key space is narrow — an 8-bit
    LSH band has ≤256 distinct values, so even a handful of hot
    buckets exceeds 0.1% of all buckets and would drag a p99.9 up to
    the hot size itself. Hot buckets above ~1% of distinct buckets
    need an explicit cap. Costs one tiny aggregate over the (bucket,
    count) table — a scalar to the driver, independent of corpus size.
    The oracle-gated queries pin explicit thresholds sized above the
    test corpus (pruning there would diverge from the brute-force
    oracles, which model no pruning).
    """
    if max_bucket != "auto":
        return int(max_bucket)
    row = bucket_sizes.agg(
        F.percentile_approx(size_col, 0.99, 10_000).alias("q")
    ).first()
    q = row["q"] if row and row["q"] is not None else 1
    return max(floor, int(q) * headroom)


def _stage_roundtrip(df: DataFrame, stage_path: str | None) -> DataFrame:
    """Materialize ``df`` once: an eager ``localCheckpoint``, or a
    parquet write and read-back when ``stage_path`` is given.

    The barrier computes the signature table ONCE instead of
    re-executing the explode+agg subtree for every plan branch that
    consumes it (bucket sizing AND both sides of the self-join). The
    path's only purpose is the oracle audit table: the staged parquet
    is exactly what the DuckDB oracle replays the LSH logic over, so
    the banding/Hamming verification gets checked outside Spark (the
    hashes themselves stay Spark-side by design).
    """
    if stage_path is None:
        return df.localCheckpoint()
    df.write.mode("overwrite").parquet(stage_path)
    return df.sparkSession.read.parquet(stage_path)


def _band_rows(sig_df: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bh) LSH bucket keys from a (id, sig) signature
    table — band hashing is map-side arithmetic over the signature
    columns, no text access; shared by the batch and incremental
    paths. Built as ONE parsed SQL generator (optimization r15): the
    per-band Column construction cost ~bands × r py4j round trips of
    driver wall per query build; ``inline`` over the same
    named-struct array is expression-equivalent."""
    r = num_hashes // bands
    structs = ", ".join(
        "named_struct('band', {b}, 'bh', xxhash64(concat_ws(',', {terms})))".format(
            b=b,
            terms=", ".join(
                f"cast(element_at(sig, {b * r + j + 1}) as string)" for j in range(r)
            ),
        )
        for b in range(bands)
    )
    return sig_df.selectExpr("id", f"inline(array({structs}))")


def minhash_lsh_pairs(
    sig_df: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    max_bucket: int | str = 2000,
) -> DataFrame:
    """Candidate pairs from a ``(id, sig)`` signature table.

    rows-per-band r = num_hashes // bands. A pair lands in a candidate
    bucket iff some band of r minhashes matches exactly. Verification
    estimates Jaccard as the fraction of agreeing minhashes — computed
    as a flat sum of 64 column comparisons (codegen), not an array
    lambda. Buckets larger than ``max_bucket`` are dropped (skew guard;
    a bucket that hot is near-identical boilerplate better handled by
    exact dedup).

    Only (id, band, band-hash) rides the candidate shuffle — the
    64-value signature would otherwise replicate ``bands``× through
    the explode and again through the pair dedup; it joins back from
    ``sig_df`` (cheap when staged) for the final verify, the same
    payload discipline as the embedding near-dup path.
    """
    band_rows = _band_rows(sig_df, num_hashes, bands)

    bucket_sizes = band_rows.groupBy("band", "bh").agg(F.count("*").alias("n"))
    cap = resolve_max_bucket(bucket_sizes, max_bucket)
    ok = bucket_sizes.filter((F.col("n") > 1) & (F.col("n") <= cap)).select("band", "bh")
    pruned = band_rows.join(ok, ["band", "bh"])

    a = pruned.select("band", "bh", F.col("id").alias("id_a"))
    b = pruned.select("band", "bh", F.col("id").alias("id_b"))
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sig_df.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig_df.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    cand = cand.join(sa, "id_a").join(sb, "id_b")

    # one parsed expression, not num_hashes python-built Columns
    # (py4j construction cost — optimization r15); same left-chained
    # integer adds over the same element_at comparisons
    agree = F.expr(
        " + ".join(
            f"cast((element_at(sig_a, {i + 1}) = element_at(sig_b, {i + 1})) as int)"
            for i in range(num_hashes)
        )
    )
    est = agree.cast("double") / F.lit(float(num_hashes))
    return (
        cand.withColumn("jaccard_est", round_c(est, 6))
        .filter(F.col("jaccard_est") >= threshold)
        .select("id_a", "id_b", "jaccard_est")
    )


def dedup_minhash_lsh(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    max_bucket: int | str = 2000,
    stage_path: str | None = None,
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH, verified on signatures.

    ``stage_path`` materializes the signature table to parquet and
    derives the pairs from the read-back — see ``_stage_roundtrip``.
    """
    sig = minhash_signatures(df, text_col, id_col, k, num_hashes)
    sig = _stage_roundtrip(sig, stage_path)
    return minhash_lsh_pairs(sig, num_hashes, bands, threshold, max_bucket)


def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, h) — 64-bit SimHash per document via explode + 64 SUM aggs.

    Each token is hashed ONCE (xxhash64 on the exploded token table);
    bit i's majority count is ``sum(±1)`` over tokens — 64 flat
    aggregates in a single map-side-partial hash aggregation. Documents
    with no tokens produce no row (an empty doc has no content to
    near-dup against; exact dedup still groups them).
    """
    tok_rows = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("__tok"),
    ).withColumn("__th", F.xxhash64("__tok"))

    # ONE parsed aggregate expression (optimization r15): building 64
    # per-bit SUM Columns plus the 64-term assembly through the Python
    # API cost hundreds of py4j round trips of driver wall per query
    # build; the SQL string is the same arithmetic — per-bit ±1 long
    # sums, bit set iff positive, left-chained long adds.
    h = F.expr(
        " + ".join(
            "(case when sum(cast(((shiftright(__th, {i}) & 1) * 2 - 1) as bigint)) > 0"
            " then shiftleft(cast(1 as bigint), {i}) else cast(0 as bigint) end)".format(i=i)
            for i in range(_NUM_BITS)
        )
    ).alias("h")
    return tok_rows.groupBy("id").agg(h)


def simhash_pairs(
    hashed: DataFrame,
    max_hamming: int = 3,
    max_bucket: int | str = 2000,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs from a ``(id, h)`` 64-bit fingerprint table —
    the banded-Hamming protocol behind text SimHash.

    Pigeonhole bucketing: split the 64-bit hash into ``bands`` equal
    chunks; any pair within Hamming distance ``bands − 1`` agrees
    exactly on ≥ 1 chunk, so candidates = pairs sharing
    (chunk_idx, chunk_value). ``max_hamming`` must stay below
    ``bands`` for that completeness guarantee. NULL fingerprints are
    excluded.
    """
    if not 1 <= bands <= 64 or 64 % bands != 0:
        raise ValueError("bands must divide 64")
    if max_hamming >= bands:
        raise ValueError(
            "pigeonhole completeness needs max_hamming < bands "
            f"(got hamming {max_hamming}, bands {bands})"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    chunks = hashed.filter(F.col("h").isNotNull()).select(
        "id",
        "h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftright(F.col("h"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("cv"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("c"),
    ).select("id", "h", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))

    sizes = chunks.groupBy("ci", "cv").agg(F.count("*").alias("n"))
    cap = resolve_max_bucket(sizes, max_bucket)
    ok = sizes.filter((F.col("n") > 1) & (F.col("n") <= cap)).select("ci", "cv")
    pruned = chunks.join(ok, ["ci", "cv"])

    a = pruned.select("ci", "cv", F.col("id").alias("id_a"), F.col("h").alias("h_a"))
    b = pruned.select("ci", "cv", F.col("id").alias("id_b"), F.col("h").alias("h_b"))
    return (
        a.join(b, ["ci", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def dedup_simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int | str = 2000,
    stage_path: str | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    ``stage_path`` materializes the ``(id, h)`` table to parquet and
    derives the pairs from the read-back — see ``_stage_roundtrip``.
    """
    hashed = _stage_roundtrip(simhash_table(df, text_col, id_col), stage_path)
    return simhash_pairs(hashed, max_hamming, max_bucket)


def exactsubstr_dedup(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_match_tokens: int | None = None,
) -> DataFrame:
    """Cross-document exact-substring removal (the ExactSubstr pass of
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022): any run of ≥ ``k`` tokens that appears at least twice in
    the corpus (in another document OR repeated within the same one) is
    EXCISED from every document containing it, keeping the surrounding
    unique text. The reference implementation builds a corpus-wide
    suffix array; the relational re-expression is positional k-gram
    fingerprints — a position is a "hit" when its k-gram occurs ≥ 2
    times corpus-wide, hit intervals ``[p, p+k)`` merge into maximal
    spans, and tokens inside any span are dropped.

    Returns (id_col, n_tokens, n_spans, n_removed, clean_text) for
    every input document — clean_text is the surviving normalized
    tokens re-joined with single spaces (docs shorter than ``k`` tokens
    pass through un-excised).

    Scale shape: positional grams explode once and are hashed map-side,
    so the only data-sized shuffles carry (gram-hash, id, pos) — never
    gram strings or document text; the duplicated-gram set comes from
    one hash aggregate over the hashes, and hit positions fold back to
    one bounded-by-document-length sorted array per doc. An eager
    ``localCheckpoint`` materializes the positional-hash table once
    where the lazy plan re-executes the tokenize+NGram+explode subtree
    for both of its consumers (the dup aggregate and the hit join).
    Span merging and excision are pure array expressions on that array
    — no second pass over the corpus, no per-token shuffle, no collect.
    Per-doc expression cost is O(tokens × spans); spans ≤ tokens/(k+1),
    so the worst case is O(tokens²/k) for pathological alternating-dup
    docs — fine at real document lengths.

    Exact semantics note: duplication counts gram OCCURRENCES, not
    distinct documents — a sentence pasted twice inside one document is
    excised too, matching the suffix-array behavior.

    ``min_match_tokens`` is Lee et al.'s minimum-match length (they use
    50): after hit intervals merge into maximal spans, only spans of at
    least that many TOKENS are excised — short repeated idioms,
    citations and named entities survive while true boilerplate (whose
    merged spans run long) still dies. ``None`` (default) excises every
    merged span, i.e. the threshold is ``k`` itself. The filter is a
    pure span-array expression per doc — the gram/hit plan is
    unchanged, so the 100 TB shape is identical.

    Fidelity vs the canonical suffix array (decision recorded in
    SURVEY row 104; boundary behavior pinned in
    ``tests/test_dedup_similarity.py::test_exactsubstr_kgram_vs_suffix_array_boundaries``):
    for CONTIGUOUS duplicated token runs the k-gram form is exact —
    every run of length ≥ max(k, min_match_tokens) has all its k-grams
    duplicated, so it merges to a full-length span and is excised,
    and runs shorter than k produce no hit at all (set k ≤ the
    shortest duplication you care about; with ``min_match_tokens``
    doing the length gating, small k costs only gram volume, not
    correctness). The ONE divergence is chimeric over-excision when
    ``min_match_tokens > k``: two DIFFERENT sub-threshold duplicated
    pieces that overlap or abut within one document merge into a
    single span that can clear the threshold, so the k-gram form
    excises where a suffix array (no single duplicated substring ≥
    the minimum) keeps — the conservative direction for training-data
    hygiene (never under-excises a true duplicate; may drop a rare
    pathological splice). xxhash64 gram collisions add a ~2⁻⁶⁴
    per-pair false-hit floor, the standard fingerprint trade. A
    distributed suffix-array build (prefix-doubling over the whole
    corpus: O(log n) sort rounds on (rank, rank) pairs) would close
    the chimera gap at ~10× the shuffle volume of one gram pass —
    rejected while the only divergence is over-excision of spliced
    near-threshold repeats.
    """
    base, pos = _gram_tables(df, k, text_col, id_col)
    # Both the dup-set aggregate and the hit join consume `pos`; without
    # the checkpoint Catalyst expands it into TWO scan+NGram+explode
    # subtrees (the corpus tokenizes and explodes twice). The checkpoint materializes
    # the positional hashes once — at 100 TB that halves the dominant
    # map-side cost.
    pos = pos.localCheckpoint()
    dup = (
        pos.groupBy("gh")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") > 1)
        .select("gh")
    )
    return _excise_hit_spans(base, pos, dup, k, id_col, min_match_tokens)


def _gram_tables(df: DataFrame, k: int, text_col: str, id_col: str):
    """(base, pos) for ExactSubstr-family ops: ``base`` keeps each
    doc's token array + count, ``pos`` is the shuffled positional
    (id, pos, gram-hash) table — gram STRINGS never shuffle."""
    from pyspark.ml.feature import NGram  # noqa: PLC0415 (JVM-side, pure-plan)

    toks = df.select(
        F.col(id_col).alias("id"),
        # coalesce so null-text docs pass through un-excised like empty
        # docs (tokens() yields null for null input, which NPEs NGram)
        tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("__toks"),
    )
    base = toks.withColumn("__n", F.size("__toks"))
    grams = NGram(n=k, inputCol="__toks", outputCol="__g").transform(
        base.select("id", "__toks")
    )
    pos = grams.select("id", F.posexplode("__g").alias("pos", "g")).select(
        "id", "pos", F.xxhash64("g").alias("gh")
    )
    return base, pos


def _excise_hit_spans(
    base: DataFrame,
    pos: DataFrame,
    dup: DataFrame,
    k: int,
    id_col: str,
    min_match_tokens: int | None = None,
) -> DataFrame:
    """Fold duplicated-gram hits back per doc, merge [p, p+k) islands
    into maximal spans and excise — the shared tail of the batch,
    incremental and streaming ExactSubstr paths. When
    ``min_match_tokens`` exceeds ``k``, merged spans shorter than it
    are dropped BEFORE excision (and before the n_spans count) — the
    Lee et al. 2022 minimum-match length."""
    hits = (
        pos.join(dup, "gh")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list("pos")).alias("__hits"))
    )
    joined = base.join(hits, "id", "left").withColumn(
        "__hits", F.coalesce("__hits", F.array().cast("array<int>"))
    )

    hits_col = F.col("__hits")
    last_idx = F.size("__hits") - 1
    # Island boundaries on the sorted hit array: intervals [p, p+k) and
    # [q, q+k) (p < q) merge iff q - p <= k. element_at is 1-based, so
    # for 0-based lambda index i, element_at(hits, i) IS the previous
    # element; the CASE guard keeps it from evaluating at i == 0.
    starts = F.filter(
        hits_col,
        lambda p, i: F.when(i == 0, F.lit(True)).otherwise(
            p - F.element_at(hits_col, i) > k
        ),
    )
    ends = F.transform(
        F.filter(
            hits_col,
            lambda p, i: F.when(i == last_idx, F.lit(True)).otherwise(
                F.element_at(hits_col, i + 2) - p > k
            ),
        ),
        lambda p: p + k,
    )
    spans_expr = F.zip_with(
        starts, ends, lambda s, e: F.struct(s.alias("s"), e.alias("e"))
    )
    if min_match_tokens is not None and min_match_tokens > k:
        spans_expr = F.filter(
            spans_expr,
            lambda sp: sp["e"] - sp["s"] >= F.lit(int(min_match_tokens)),
        )
    # flet-bound twice: the exists() probe must see the span array as
    # a lambda variable (else the whole starts/ends construction
    # re-evaluates PER TOKEN), and the kept array feeds two output
    # columns (else the O(tokens×spans) filter runs twice).
    from ..functions.exprs import flet  # noqa: PLC0415

    out = flet(
        spans_expr,
        lambda spans: flet(
            F.filter(
                "__toks",
                lambda _t, i: ~F.exists(
                    spans, lambda sp: (i >= sp["s"]) & (i < sp["e"])
                ),
            ),
            lambda kept: F.named_struct(
                F.lit("n_spans"), F.size(spans),
                F.lit("n_kept"), F.size(kept),
                F.lit("clean"), F.array_join(kept, " "),
            ),
        ),
    )
    staged = joined.select("id", "__n", out.alias("__x"))
    x = F.col("__x")
    return staged.select(
        F.col("id").alias(id_col),
        F.col("__n").cast("long").alias("n_tokens"),
        x["n_spans"].cast("long").alias("n_spans"),
        (F.col("__n") - x["n_kept"]).cast("long").alias("n_removed"),
        x["clean"].alias("clean_text"),
    )


def substr_gram_index_write(
    df: DataFrame,
    index_path: str,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Build (or bulk-extend) the persistent k-gram OCCURRENCE index
    that :func:`exactsubstr_incremental` excises against. Same layout
    discipline as :func:`line_df_index_write`: append-only
    ``grams/`` (gh, cnt) partials — cnt counts occurrences, not
    documents, matching ExactSubstr's duplication semantics — plus the
    append-only ``ids/`` re-crawl guard. Readers fold partials with
    one sum per gram hash; compact on schedule."""
    _base, pos = _gram_tables(df, k, text_col, id_col)
    partial = pos.groupBy("gh").agg(F.count("*").alias("cnt"))
    partial.write.mode("append").parquet(os.path.join(index_path, "grams"))
    df.select(F.col(id_col).alias("id")).distinct().write.mode(
        "append"
    ).parquet(os.path.join(index_path, "ids"))


def exactsubstr_incremental(
    new_docs: DataFrame,
    index_path: str,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_match_tokens: int | None = None,
) -> DataFrame:
    """ExactSubstr excision for an INCOMING BATCH against the
    accumulated corpus without re-tokenizing archived text — the
    incremental companion of substring excision (row 104). A batch
    position is a hit when its k-gram's archive occurrences + batch
    occurrences ≥ 2, i.e. the gram also appears ANYWHERE in the
    accumulated corpus or at least twice within the batch — exactly
    the full recompute's duplication test restricted to batch rows.

    Only the batch explodes to positional grams; the archive
    contributes one stored occurrence count per gram hash,
    semi-join-pruned to hashes the batch actually contains. Re-crawled
    ids (already in ``ids/``) are anti-joined out: their output was
    produced when first seen (immutable-content contract). The index
    is read, never written; extend it with
    :func:`substr_gram_index_write`.

    Equivalence contract (pytest-asserted, and the qx42/qx111 oracles
    replay it): identical to :func:`exactsubstr_dedup` over archive ∪
    batch restricted to the batch's documents.
    """
    spark = new_docs.sparkSession
    ids_idx = spark.read.parquet(os.path.join(index_path, "ids"))
    gram_partials = spark.read.parquet(os.path.join(index_path, "grams"))
    fresh = new_docs.join(
        ids_idx.select(F.col("id").alias(id_col)), id_col, "left_anti"
    )
    base, pos = _gram_tables(fresh, k, text_col, id_col)
    pos = pos.localCheckpoint()
    batch_cnt = pos.groupBy("gh").agg(F.count("*").alias("__cnt_new"))
    archive_cnt = (
        gram_partials.join(batch_cnt.select("gh"), "gh", "left_semi")
        .groupBy("gh")
        .agg(F.sum("cnt").alias("__cnt_old"))
    )
    dup = (
        batch_cnt.join(archive_cnt, "gh", "left")
        .filter(
            F.col("__cnt_new") + F.coalesce("__cnt_old", F.lit(0)) > 1
        )
        .select("gh")
    )
    return _excise_hit_spans(base, pos, dup, k, id_col, min_match_tokens)


def boilerplate_line_excision(
    df: DataFrame,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document boilerplate line removal: any trimmed non-empty
    line whose corpus-wide DOCUMENT frequency is ≥ ``min_df`` is
    excised from every page that contains it (nav bars, footers,
    cookie banners — the lines that repeat across a crawl long before
    whole pages do). The RefinedWeb-style completion of the dedup
    family: q52 keeps one copy of each duplicated line corpus-wide,
    qx24 removes repeats within one page; this removes corpus-wide
    boilerplate from every page.

    Returns (id_col, n_lines, n_removed, clean_text) for every input
    document, order preserved.

    Scale shape (the ExactSubstr pattern one level up): pages split to
    lines map-side and only (line-hash, id, pos) rows ever shuffle —
    never line text. Document frequency is one hash aggregate with a
    distinct-by-doc pre-collapse; hit positions fold back to one
    bounded-by-page-length array per doc; excision is a higher-order
    filter over the page's own line array. An eager ``localCheckpoint``
    materializes the positional line-hash table once for its two
    consumers (the df aggregate and the hit join) — one corpus pass
    total. Line identity is the 64-bit xxhash of the trimmed line
    (collision odds the same as ExactSubstr's gram hashing; the oracle
    replays from strings).
    """
    base, pos = _line_tables(df, text_col, id_col)
    pos = pos.localCheckpoint()
    boiler = (
        pos.select("id", "lh")
        .distinct()
        .groupBy("lh")
        .agg(F.count("*").alias("__dfc"))
        .filter(F.col("__dfc") >= min_df)
        .select("lh")
    )
    return _excise_hit_lines(base, pos, boiler, id_col)


def _line_tables(df: DataFrame, text_col: str, id_col: str):
    """(base, pos) for line-level ops: ``base`` keeps each doc's
    trimmed non-empty line array + count, ``pos`` is the shuffled
    (id, pos, line-hash) table — line TEXT never shuffles."""
    lines_tbl = df.select(
        F.col(id_col).alias("id"),
        F.filter(
            F.transform(
                F.split(F.coalesce(F.col(text_col), F.lit("")), "\n"),
                lambda l: F.trim(l),
            ),
            lambda l: F.length(l) > 0,
        ).alias("__lines"),
    )
    base = lines_tbl.withColumn("__nl", F.size("__lines"))
    pos = base.select(
        "id", F.posexplode("__lines").alias("pos", "l")
    ).select("id", "pos", F.xxhash64("l").alias("lh"))
    return base, pos


def _excise_hit_lines(
    base: DataFrame, pos: DataFrame, boiler: DataFrame, id_col: str
) -> DataFrame:
    """Fold boilerplate line-hash hits back per doc and excise by
    position — the shared tail of the batch and incremental paths."""
    hits = (
        pos.join(boiler, "lh")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list("pos")).alias("__hits"))
    )
    joined = base.join(hits, "id", "left").withColumn(
        "__hits", F.coalesce("__hits", F.array().cast("array<int>"))
    )
    kept = F.filter(
        "__lines", lambda _l, i: ~F.array_contains("__hits", i)
    )
    return joined.select(
        F.col("id").alias(id_col),
        F.col("__nl").cast("long").alias("n_lines"),
        F.size("__hits").cast("long").alias("n_removed"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


def line_df_index_write(
    df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Build (or bulk-extend) the persistent line-frequency index that
    :func:`boilerplate_excision_incremental` excises against. Layout
    under ``index_path``:

    - ``lines/`` — APPEND-ONLY partial (lh, cnt) document-frequency
      rows; readers resolve the true df with one sum per line hash.
      Append-only is what makes updates safe on an object store (no
      read-modify-write of a live table); compact on schedule by
      rewriting the folded aggregate, like any merge-on-read table.
    - ``ids/`` — append-only (id) rows: the re-crawl guard.
    """
    _base, pos = _line_tables(df, text_col, id_col)
    partial = (
        pos.select("id", "lh").distinct().groupBy("lh")
        .agg(F.count("*").alias("cnt"))
    )
    partial.write.mode("append").parquet(os.path.join(index_path, "lines"))
    # every id is recorded, even line-less docs, so the re-crawl guard
    # stays complete
    df.select(F.col(id_col).alias("id")).distinct().write.mode(
        "append"
    ).parquet(os.path.join(index_path, "ids"))


def boilerplate_excision_incremental(
    new_docs: DataFrame,
    index_path: str,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document boilerplate excision for an INCOMING BATCH
    against the accumulated corpus, without re-reading archived text:
    a daily crawl increment at 100 TB cannot recompute corpus-wide
    line document-frequency from scratch.

    Only the batch is split to lines; the archive contributes ONE
    number per line hash (its stored df), semi-join-pruned to hashes
    that actually occur in the batch, so per-batch work scales with
    the batch plus the touched slice of the index. A line in a new
    document is excised when archive df + batch df ≥ ``min_df``.

    Re-crawled ids (already in ``ids/``) are dropped up front: their
    cleaned output was produced when first seen, and counting their
    lines again would inflate df by one per re-crawl (immutable-content
    contract). The index is read, never written; extend it with
    :func:`line_df_index_write`.

    Equivalence contract (pytest-asserted, and the qx41 oracle replays
    it): identical to running :func:`boilerplate_line_excision` over
    archive ∪ batch and keeping the batch's rows.
    """
    spark = new_docs.sparkSession
    ids_idx = spark.read.parquet(os.path.join(index_path, "ids"))
    lines_partials = spark.read.parquet(os.path.join(index_path, "lines"))
    fresh = new_docs.join(
        ids_idx.select(F.col("id").alias(id_col)), id_col, "left_anti"
    )
    base, pos = _line_tables(fresh, text_col, id_col)
    pos = pos.localCheckpoint()
    batch_cnt = (
        pos.select("id", "lh").distinct().groupBy("lh")
        .agg(F.count("*").alias("__cnt_new"))
    )
    archive_df = (
        lines_partials.join(batch_cnt.select("lh"), "lh", "left_semi")
        .groupBy("lh")
        .agg(F.sum("cnt").alias("__dfc_old"))
    )
    boiler = (
        batch_cnt.join(archive_df, "lh", "left")
        .filter(
            F.col("__cnt_new") + F.coalesce("__dfc_old", F.lit(0))
            >= min_df
        )
        .select("lh")
    )
    return _excise_hit_lines(base, pos, boiler, id_col)


def lsh_band_plan(
    spark,
    n_hashes: int = 64,
    threshold: float = 0.5,
    grid: int = 100,
) -> DataFrame:
    """LSH band/row planner: score every factorization ``b·r =
    n_hashes`` of a MinHash signature by its S-curve error mass and
    flag the best — the planning step production LSH (datasketch's
    ``_optimal_param``, Leskovec/Rajaraman/Ullman ch.3) runs before
    paying for ``minhash_lsh_pairs`` at corpus scale.

    Collision probability for a pair at Jaccard ``s`` under (b, r)
    banding is ``p(s) = 1 − (1 − s^r)^b``.  ``fp_area`` integrates
    ``p`` below ``threshold`` (pairs LSH surfaces that it shouldn't),
    ``fn_area`` integrates ``1 − p`` above it (pairs it misses), as
    an endpoint-sample sum over the grid − 1 interior points
    s = i/grid, i ∈ 1..grid−1; ``recommended`` marks the minimal
    ``fp_area + fn_area``.

    Engine-exactness: powers are evaluated as LEFT-FOLD REPEATED IEEE
    MULTIPLIES (Spark ``aggregate``, DuckDB ``list_reduce``) — never
    ``pow()``, whose libm implementations differ by ulps across
    engines; each ``p`` rounds to DECIMAL(18,9) before the exact
    integral sums.  Model-sized throughout (divisor count × grid
    rows) — the broadcast nested-loop cross of two literal frames is
    the legitimate scalar-frame exception to the no-cartesian rule.
    """
    if n_hashes < 1 or not 0.0 < threshold < 1.0:
        raise ValueError("need n_hashes >= 1 and 0 < threshold < 1")
    pairs = [
        (b, n_hashes // b) for b in range(1, n_hashes + 1) if n_hashes % b == 0
    ]
    base = literal_frame(spark, pairs, "b int, r int")
    g = spark.range(1, grid).select(
        F.col("id").cast("int").alias("i"),
        (F.col("id").cast("double") / grid).alias("s"),
    )
    t_i = round(threshold * grid)
    sr = F.aggregate(
        F.sequence(F.lit(1), F.col("r")),
        F.lit(1.0),
        lambda acc, _: acc * F.col("s"),
    )
    curve = base.crossJoin(F.broadcast(g)).withColumn("sr", sr)
    p = F.lit(1.0) - F.aggregate(
        F.sequence(F.lit(1), F.col("b")),
        F.lit(1.0),
        lambda acc, _: acc * (F.lit(1.0) - F.col("sr")),
    )
    scored = curve.select(
        "b",
        "r",
        "i",
        round_c(p, 9).cast("decimal(18,9)").alias("pd"),
    )
    one = F.lit(1).cast("decimal(18,9)")
    areas = scored.groupBy("b", "r").agg(
        round_c(
            F.sum(F.when(F.col("i") < t_i, F.col("pd")).otherwise(F.lit(0)))
            .cast("double")
            / grid,
            6,
        ).alias("fp_area"),
        round_c(
            F.sum(
                F.when(F.col("i") >= t_i, one - F.col("pd")).otherwise(F.lit(0))
            )
            .cast("double")
            / grid,
            6,
        ).alias("fn_area"),
    )
    total = F.col("fp_area") + F.col("fn_area")
    return areas.select(
        "b",
        "r",
        "fp_area",
        "fn_area",
        round_c(total, 6).alias("total_error"),
    ).withColumn(
        "recommended",
        F.col("total_error")
        == F.min("total_error").over(Window.partitionBy()),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken
    2003 — the MOSS algorithm): per document, the distinct minima of
    a ``window``-wide sliding window over char ``k``-gram hashes.
    The guarantee (pytest-pinned): any substring match of length
    ≥ window + k − 1 between two documents shares at least one
    fingerprint — a LOCAL near-dup signal MinHash (global, per-doc)
    cannot give.

    Output per doc: ``n_grams``, ``n_fingerprints``, ``fp_checksum``
    (order-free exact sum of the distinct fingerprints — the value
    the oracle verifies), ``fp_density`` (≈ 2/(window+1) on random
    text, the paper's bound).

    Shape: a PURE PROJECTION — zero Exchange (the q43 contract; the
    plan-shape test pins it).  Gram hashes are the repo's polynomial
    rolling hash (mod 1e9+7, int64-safe, DuckDB-replayable — the
    xxhash64 family would force signature staging); the gram array
    binds once per row via ``flet`` so the per-window lambda reads a
    lambda variable, not a re-evaluated O(L·k) build.
    """
    from ..functions.exprs import flet
    from ..functions.text import char_codes, code_fold_hash, normalized_text

    if k < 1 or window < 1:
        raise ValueError("need k >= 1 and window >= 1")

    norm = normalized_text(F.col(text_col))

    def body(codes: Column) -> Column:
        npos = F.size(codes) - F.lit(k - 1)
        idx = F.when(npos >= 1, F.sequence(F.lit(1), npos)).otherwise(
            F.array().cast("array<int>")
        )
        # hash SLICES of the once-per-row code array — substr+split
        # per position re-ran a regex split per gram and benched 2x
        # slower at sf0.1 (8.6s -> 4.3s min-of-3).
        harr = F.transform(
            idx, lambda i: code_fold_hash(F.slice(codes, i, k))
        )

        def wins(h: Column) -> Column:
            nh = F.size(h)
            ws = F.when(
                nh >= window, F.sequence(F.lit(window), nh)
            ).otherwise(F.array().cast("array<int>"))
            fps = F.array_distinct(
                F.transform(
                    ws,
                    lambda p: F.array_min(
                        F.slice(h, p - F.lit(window - 1), window)
                    ),
                )
            )
            return F.struct(F.size(h).alias("n_grams"), fps.alias("fps"))

        return flet(harr, wins)

    base = df.select(F.col(id_col), flet(char_codes(norm), body).alias("__p"))
    prof = base.select(
        id_col,
        F.col("__p.n_grams").alias("n_grams"),
        F.size(F.col("__p.fps")).alias("n_fingerprints"),
        F.aggregate(
            F.col("__p.fps"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("fp_checksum"),
    )
    return prof.withColumn(
        "fp_density",
        F.when(
            F.col("n_grams") > 0,
            round_c(
                F.col("n_fingerprints").cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)),
    )


def token_posting_lists(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 1,
) -> DataFrame:
    """(id, tok, tf) — one row per distinct term per document with its
    in-document term frequency. The inverted-index building block
    under :func:`token_cosine_pairs`; tokenization is the shared
    whitespace-normalized split (``functions.text.normalized_text``)
    so every token-level operator and its oracle agree. ``k > 1``
    uses word k-grams as the terms (MLlib ``NGram``, the
    :func:`exploded_shingles` kernel WITH multiplicity kept — cosine
    needs tf, Jaccard does not): on small-vocabulary corpora
    unigram df saturates (every term in most documents) and the
    k-gram profile is what actually discriminates."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.split(
            normalized_text(F.coalesce(F.col(text_col), F.lit(""))), " "
        ).alias("__toks"),
    )
    if k == 1:
        terms = toks.select("id", F.explode("__toks").alias("tok"))
    else:
        from pyspark.ml.feature import NGram  # noqa: PLC0415 (pure-plan)

        grams = NGram(n=k, inputCol="__toks", outputCol="__sh").transform(toks)
        terms = grams.select("id", F.explode("__sh").alias("tok"))
    return (
        terms.filter(F.length("tok") >= 1)
        .groupBy("id", "tok")
        .agg(F.count("*").alias("tf"))
    )


def token_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    max_df: int | str = 1000,
    k: int = 1,
) -> DataFrame:
    """Near-dup pairs by TOKEN-VECTOR cosine ≥ threshold — the
    bag-of-words member of the dedup family (AllPairs-style inverted
    index similarity join, Bayardo et al. 2007 shape): where the
    k-gram Jaccard (row 30) keys on word ORDER and MinHash/SimHash
    approximate, this scores exact cosine over term-frequency
    vectors, catching paraphrase-ish near-dups whose token multiset
    survives reordering.

    Similarity space: tokens whose DOCUMENT FREQUENCY exceeds
    ``max_df`` (the hot/stop terms — "the", boilerplate tokens) are
    excluded from the metric itself (df-based pruning, the standard
    AllPairs discipline: stop terms carry no discriminative signal
    and their posting lists are exactly the quadratic-blowup skew the
    max_bucket guards exist for). ``max_df="auto"`` resolves the cap
    from the posting-size distribution like the LSH family.

    Exactness: tf are integers; the pair dot product is an exact
    BIGINT sum; each norm is ``sqrt`` of an exact integer (IEEE sqrt
    is correctly rounded); cosine = one multiply + one divide from
    those — every step replays bit-for-bit in DuckDB.

    Scale shape: one tokenize+count aggregate, one posting-size
    aggregate (hot set travels by broadcast), the inverted-index
    self-join grouped to (id_a, id_b) — per-term fan-out bounded by
    cap², the LSH economics — then two broadcast-able norm
    join-backs. An eager ``localCheckpoint`` materializes the postings
    once (they feed the hot-set census, the self-join twice and the
    norm aggregate).

    ``k > 1`` scores cosine over the word-k-gram profile instead of
    unigrams (see :func:`token_posting_lists`) — the plagiarism-
    detection form, and the only discriminative one on corpora whose
    unigram vocabulary is tiny relative to the document count.
    """
    # the posting table feeds FOUR consumers (size census, the
    # self-join twice, the norm aggregate) and the hot set travels by
    # broadcast, so there is no exchange for Spark to reuse — without
    # a barrier the tokenize+NGram+explode+count subtree re-executes
    # per consumer (the ngram_jaccard lesson; warm sf0.1 runs measured
    # ~3x faster with the cut).
    postings = token_posting_lists(df, text_col, id_col, k).localCheckpoint()
    posting_sizes = postings.groupBy("tok").agg(F.count("*").alias("n"))
    cap = resolve_max_bucket(posting_sizes, max_df)
    hot = posting_sizes.filter(F.col("n") > cap)
    pruned = postings.join(F.broadcast(hot.select("tok")), "tok", "left_anti")

    norms = pruned.groupBy("id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf")).cast("double")).alias("norm")
    )
    a = pruned.select("tok", F.col("id").alias("id_a"), F.col("tf").alias("tf_a"))
    b = pruned.select("tok", F.col("id").alias("id_b"), F.col("tf").alias("tf_b"))
    dots = (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    cos = F.col("dot").cast("double") / (F.col("norm_a") * F.col("norm_b"))
    return (
        dots.join(norms.select(F.col("id").alias("id_a"), F.col("norm").alias("norm_a")), "id_a")
        .join(norms.select(F.col("id").alias("id_b"), F.col("norm").alias("norm_b")), "id_b")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .select("id_a", "id_b", round_c(F.col("cosine"), 6).alias("cosine"))
    )
