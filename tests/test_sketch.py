"""Sketch-layer operators: Bloom-prefiltered decontamination, HLL
mergeable sketches, heavy hitters, k-means assignment, weighted
sampling. The qx* oracle twins live in tests/test_oracle.py; these
tests pin the operator-level invariants the oracles can't (equality
with the exact path, estimate tolerance, partitioning independence).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from strategicai_visibility_loop_etl_spark.operators.dedup import benchmark_overlap
from strategicai_visibility_loop_etl_spark.operators.sketch import (
    bloom_position_set,
    bloom_prefilter_overlap,
    heavy_hitters,
    hll_merge_estimate,
    hll_shard_sketches,
)
from strategicai_visibility_loop_etl_spark.operators.similarity import kmeans_assign
from strategicai_visibility_loop_etl_spark.operators.textprep import weighted_sample_k


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_bloom_prefilter_matches_exact_path(spark, sf_dir):
    """The Bloom pre-filter must be invisible in the result: identical
    rows to the exact-join benchmark_overlap (no false negatives by
    construction, false positives killed by the verify join)."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    exact = {tuple(r) for r in benchmark_overlap(corpus, bench, k=8).collect()}
    bloom = {tuple(r) for r in bloom_prefilter_overlap(corpus, bench, k=8).collect()}
    assert bloom == exact and len(exact) > 0


def test_approx_heavy_hitters_contains_exact_top(spark, sf_dir):
    """A count-min sketch far wider than the vocabulary, built per
    shard and merged, estimates the exact top-5 tokens of
    ``heavy_hitters`` at their exact counts."""
    from strategicai_visibility_loop_etl_spark.functions.text import normalized_text
    from strategicai_visibility_loop_etl_spark.operators.sketch import (
        cms_estimate,
        cms_merge,
        cms_shard_sketches,
    )

    docs = _docs(spark, sf_dir)
    exact = heavy_hitters(docs, top_k=5).collect()
    toks = docs.select(
        (F.col("doc_id") % 4).alias("shard"),
        F.explode(
            F.split(normalized_text(F.coalesce(F.col("text"), F.lit(""))), " ")
        ).alias("token"),
    ).filter(F.length("token") >= 1)
    width = 1 << 16
    merged = cms_merge(cms_shard_sketches(toks, "token", "shard", width=width))
    queries = spark.createDataFrame([(r["token"],) for r in exact], "token string")
    est = {r["value"]: r["est"] for r in
           cms_estimate(merged, queries, "token", width=width).collect()}
    for r in exact:
        assert est[r["token"]] == r["n_occurrences"], r["token"]


def test_bloom_prefilter_tiny_filter_still_exact(spark, sf_dir):
    """Even a saturated Bloom space (high FP rate) must not change the
    result — only the amount of work the verify join sees."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    exact = {tuple(r) for r in benchmark_overlap(corpus, bench, k=8).collect()}
    tiny = {
        tuple(r)
        for r in bloom_prefilter_overlap(
            corpus, bench, k=8, m_bits=256, k_hashes=2
        ).collect()
    }
    assert tiny == exact


def test_bloom_position_set_bounded(spark, sf_dir):
    """The shipped filter is at most min(m_bits, k·n) ints."""
    docs = _docs(spark, sf_dir).select(F.col("text").alias("g")).limit(100)
    n = docs.count()
    pos = bloom_position_set(docs, "g", m_bits=1 << 20, k_hashes=5)
    c = pos.count()
    assert 0 < c <= 5 * n
    lo, hi = pos.agg(F.min("pos"), F.max("pos")).first()
    assert lo >= 0 and hi < (1 << 20)


def test_hll_merge_within_tolerance_of_exact(spark, sf_dir):
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type", "user_id", (F.col("event_id") % 8).alias("shard"))
    )
    sk = hll_shard_sketches(ev, ["event_type"], "user_id", "shard")
    est = {r["event_type"]: r["approx_distinct"] for r in
           hll_merge_estimate(sk, ["event_type"]).collect()}
    exact = {r["event_type"]: r["n"] for r in
             ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()}
    assert set(est) == set(exact)
    for k, e in exact.items():
        # lg_config_k=12 → ~1.6% relative standard error; 5% is >3σ.
        assert abs(est[k] - e) <= max(2, 0.05 * e), (k, est[k], e)


def test_hll_sketches_merge_across_shards_not_rows(spark, sf_dir):
    """Sketch table is bounded by groups × shards, not by row count."""
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type", "user_id", (F.col("event_id") % 8).alias("shard"))
    )
    sk = hll_shard_sketches(ev, ["event_type"], "user_id", "shard")
    n_groups = ev.select("event_type").distinct().count()
    assert sk.count() <= n_groups * 8


def test_heavy_hitters_ranked_and_shares_sum_below_one(spark, sf_dir):
    hh = heavy_hitters(_docs(spark, sf_dir), top_k=10).collect()
    assert [r["rank"] for r in hh] == list(range(1, len(hh) + 1))
    counts = [r["n_occurrences"] for r in hh]
    assert counts == sorted(counts, reverse=True)
    assert 0 < sum(r["freq_share"] for r in hh) <= 1.0 + 1e-9


@pytest.mark.sweep
def test_kmeans_assign_covers_corpus_once(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = kmeans_assign(emb, n_clusters=8, iters=1)
    n = emb.count()
    assert a.count() == n
    assert a.select("id").distinct().count() == n
    sizes = a.groupBy("cluster").count()
    assert sizes.agg(F.sum("count")).first()[0] == n
    bad = a.filter((F.col("cluster") < 0) | (F.col("cluster") >= 8)).count()
    assert bad == 0
    assert a.filter(F.col("sq_dist") < -1e-6).count() == 0


def test_kmeans_assign_deterministic_across_partitionings(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = {tuple(r) for r in kmeans_assign(emb, n_clusters=4, iters=1).collect()}
    b = {tuple(r) for r in
         kmeans_assign(emb.repartition(13), n_clusters=4, iters=1).collect()}
    assert a == b


def test_weighted_sample_deterministic_and_weight_gated(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    s1 = {tuple(r) for r in
          weighted_sample_k(docs, 25, "doc_id", "n_chars").collect()}
    s2 = {tuple(r) for r in
          weighted_sample_k(docs.repartition(11), 25, "doc_id", "n_chars").collect()}
    assert s1 == s2 and len(s1) == 25


def test_weighted_sample_excludes_nonpositive_weights(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, 0.0), (3, None), (4, -5.0), (5, 3.0)],
        "k long, w double",
    )
    kept = weighted_sample_k(df, 10, "k", "w").select("k").collect()
    assert {r["k"] for r in kept} == {1, 5}


def test_weighted_sample_prefers_heavy_rows(spark):
    """One row carrying ~all the weight must essentially always be
    sampled: P(miss) = product over others of tiny odds — with weight
    1e6 vs 1 and k=1, exclusion probability is ~1e-6 per competitor."""
    rows = [(i, 1.0) for i in range(100)] + [(999, 1_000_000.0)]
    df = spark.createDataFrame(rows, "k long, w double")
    top = weighted_sample_k(df, 1, "k", "w").select("k").first()[0]
    assert top == 999


def test_weighted_sample_per_stratum_quota(spark, sf_dir):
    """stratum_col draws exactly k rows from EVERY stratum, and the
    global-sample keys are a pure function of (key, weight) — the
    per-stratum draw of a stratum equals the global ranking restricted
    to that stratum's rows re-ranked."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    per = weighted_sample_k(docs, 5, "doc_id", "n_chars", stratum_col="lang")
    counts = {r["lang"]: r["n"] for r in
              per.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert set(counts) == langs and all(n == 5 for n in counts.values())
    # Determinism across partitionings holds per-stratum too.
    again = {tuple(r) for r in
             weighted_sample_k(docs.repartition(7), 5, "doc_id", "n_chars",
                               stratum_col="lang").collect()}
    assert {tuple(r) for r in per.collect()} == again


def test_resample_daily_ffill_fills_gaps_with_last_value(spark):
    from datetime import datetime

    from strategicai_visibility_loop_etl_spark.operators.timeseries import (
        resample_daily_ffill,
    )

    rows = [
        (1, datetime(2024, 1, 1, 5), 2.0),
        (1, datetime(2024, 1, 1, 9), 3.0),   # same day: sums to 5
        (1, datetime(2024, 1, 4, 1), 7.0),   # 2-day gap before this
        (2, datetime(2024, 2, 10, 0), 1.0),  # single-day key
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    out = {(r["k"], str(r["day"])): (float(r["value"]), r["is_gap"])
           for r in resample_daily_ffill(df, "k", "ts", "v").collect()}
    assert out[(1, "2024-01-01")] == (5.0, False)
    assert out[(1, "2024-01-02")] == (5.0, True)   # carried forward
    assert out[(1, "2024-01-03")] == (5.0, True)
    assert out[(1, "2024-01-04")] == (7.0, False)
    assert out[(2, "2024-02-10")] == (1.0, False)
    assert len(out) == 5  # dense span per key, nothing beyond it


def test_semantic_dedup_keep_flags_consistent(spark, sf_dir):
    """SemDeDup keep/drop from the semantic pairs: one representative
    (the component minimum over ``connected_components``) survives per
    near-dup component, and no pair keeps both endpoints."""
    from strategicai_visibility_loop_etl_spark.operators.clusters import (
        connected_components,
    )
    from strategicai_visibility_loop_etl_spark.operators.similarity import (
        semantic_neardup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs_df = semantic_neardup_pairs(emb, n_clusters=8, iters=1, threshold=0.3,
                                      max_cluster=10**6)
    pairs = pairs_df.collect()
    assert len(pairs) > 0
    assert all(p["id_a"] < p["id_b"] and p["cosine"] >= 0.3 for p in pairs)

    comp = {r["id"]: r["component"] for r in
            connected_components(pairs_df.select("id_a", "id_b")).collect()}
    ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    rep = {i: comp.get(i, i) for i in ids}
    kept = {i for i in ids if rep[i] == i}
    for i in ids:
        assert rep[i] in kept
        assert rep[i] <= i
    for p in pairs:
        assert not (p["id_a"] in kept and p["id_b"] in kept)


def test_semantic_pairs_cluster_cap_guards_degenerate_fit(spark, sf_dir):
    """A cap below the largest cluster must drop that cluster's pairs
    rather than emit a quadratic bucket."""
    from strategicai_visibility_loop_etl_spark.operators.similarity import (
        semantic_neardup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # n_clusters=1 makes one corpus-sized cluster; cap 10 must kill it.
    p = semantic_neardup_pairs(emb, n_clusters=1, iters=1, threshold=-1.0,
                               max_cluster=10)
    assert p.count() == 0


def test_incremental_ingest_statuses(spark):
    from strategicai_visibility_loop_etl_spark.operators.snapshot import (
        incremental_ingest,
    )

    existing = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "ALPHA  beta gamma"),   # corpus dup under normalization
            (11, "zeta eta theta"),      # new
            (12, "zeta eta theta"),      # batch dup of 11
            (13, "iota kappa"),          # new
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r["status"] for r in incremental_ingest(existing, batch).collect()}
    assert out == {
        10: "dup_of_corpus",
        11: "new",
        12: "dup_in_batch",
        13: "new",
    }


def test_vocab_and_encoding_roundtrip(spark):
    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        build_vocab,
        encode_tokens,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat"), (3, "rare words here")],
        "doc_id long, text string",
    )
    vocab = build_vocab(docs, vocab_size=4)
    v = {r["token"]: r["token_id"] for r in vocab.collect()}
    # "the" (3) and "sat" (2) dominate; ids dense from 0, ties by text.
    assert v["the"] == 0 and v["sat"] == 1 and len(v) == 4
    enc = encode_tokens(docs, vocab)
    rows = {(r["id"], r["pos"]): r["token_id"] for r in enc.collect()}
    assert rows[(1, 0)] == v["the"] and rows[(1, 4)] == v["the"]
    assert rows[(2, 2)] == v["sat"]
    # OOV tokens encode to -1, positions stay dense per doc.
    assert rows[(3, 0)] == -1 or rows[(3, 0)] in v.values()
    n_doc1 = len([k for k in rows if k[0] == 1])
    assert n_doc1 == 6 and set(k[1] for k in rows if k[0] == 1) == set(range(6))


def test_cms_never_underestimates_and_merge_exact(spark):
    """Count-min sketch (capability row 144): estimates are lower-
    bounded by true counts and within eN above; merging per-shard
    sketches equals sketching the concatenated data CELL-FOR-CELL;
    weighted counts fold in one pass."""
    from pyspark.sql import functions as F

    from strategicai_visibility_loop_etl_spark.operators.sketch import (
        cms_estimate,
        cms_merge,
        cms_shard_sketches,
    )

    # Skewed stream: value v appears (v % 37 + 1) * 3 times across 2 shards.
    rows = []
    true = {}
    for v in range(200):
        n = (v % 37 + 1) * 3
        true[f"k{v}"] = n
        for i in range(n):
            rows.append((f"k{v}", "s0" if i % 2 == 0 else "s1"))
    df = spark.createDataFrame(rows, "value string, shard string")
    WIDTH, DEPTH = 512, 4
    sk = cms_shard_sketches(df, "value", "shard", width=WIDTH, depth=DEPTH)
    merged = cms_merge(sk)

    queries = df.select("value").distinct()
    est = {r["value"]: r["est"] for r in
           cms_estimate(merged, queries, "value", width=WIDTH, depth=DEPTH).collect()}
    n_total = len(rows)
    eps = 2.718281828 / WIDTH
    assert set(est) == set(true)
    for k, t in true.items():
        assert est[k] >= t, f"{k}: underestimate {est[k]} < {t}"
        assert est[k] <= t + eps * n_total * 3, f"{k}: wildly over"

    # Merge == sketch-of-union, cell for cell.
    direct = cms_shard_sketches(
        df.withColumn("shard", F.lit("all")), "value", "shard",
        width=WIDTH, depth=DEPTH,
    ).select("row", "slot", "cnt")
    assert sorted(map(tuple, cms_merge(sk).collect())) == sorted(
        map(tuple, direct.collect())
    )

    # Weighted fold: doubling every row's weight doubles every cell.
    wdf = df.withColumn("w", F.lit(2))
    wsk = cms_merge(cms_shard_sketches(wdf, "value", "shard", width=WIDTH,
                                       depth=DEPTH, weight_col="w"))
    doubled = {(r["row"], r["slot"]): r["cnt"] for r in wsk.collect()}
    base = {(r["row"], r["slot"]): r["cnt"] for r in merged.collect()}
    assert doubled == {k: 2 * v for k, v in base.items()}


def test_cms_absent_value_estimates_zero(spark):
    """Regression (round-9 review): a never-inserted value whose probe
    hits an untouched cell must estimate 0 and still yield a row —
    the inner-join form dropped it or inflated it."""
    from strategicai_visibility_loop_etl_spark.operators.sketch import (
        cms_estimate,
        cms_merge,
        cms_shard_sketches,
    )

    df = spark.createDataFrame(
        [("a", "s0")] * 5 + [("b", "s0")] * 2, "value string, shard string"
    )
    merged = cms_merge(cms_shard_sketches(df, "value", "shard", width=64, depth=4))
    probes = spark.createDataFrame(
        [("a",), ("never_seen_1",), ("never_seen_2",)], "value string"
    )
    est = {r["value"]: r["est"] for r in
           cms_estimate(merged, probes, "value", width=64, depth=4).collect()}
    assert set(est) == {"a", "never_seen_1", "never_seen_2"}  # no dropped probes
    assert est["a"] >= 5
    # With 64*4 cells and 2 distinct inserted values, at least one of a
    # fresh value's 4 probe rows hits an empty cell -> exact 0.
    assert est["never_seen_1"] == 0 and est["never_seen_2"] == 0


def test_corpus_minhash_sketch_is_mergeable(spark):
    from pyspark.sql import functions as F

    from strategicai_visibility_loop_etl_spark.operators.sketch import (
        corpus_minhash_sketch,
    )

    rows = [(i, f"tok{i % 9} tok{(i + 1) % 9} tok{(i + 2) % 9} tok{i % 4}")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    whole = {
        (r["i"],): r["minv"]
        for r in corpus_minhash_sketch(df, "w", num_hashes=16).collect()
    }
    s1 = corpus_minhash_sketch(df.filter(F.col("doc_id") < 20), "w", num_hashes=16)
    s2 = corpus_minhash_sketch(df.filter(F.col("doc_id") >= 20), "w", num_hashes=16)
    merged = {
        (r["i"],): r["mn"]
        for r in s1.unionAll(s2).groupBy("i").agg(F.min("minv").alias("mn")).collect()
    }
    assert whole == merged


def test_corpus_minhash_estimate_identical_and_disjoint(spark):
    from strategicai_visibility_loop_etl_spark.operators.sketch import (
        corpus_exact_jaccard,
        corpus_minhash_estimate,
        corpus_minhash_sketch,
    )

    same = [(i, "alpha beta gamma delta epsilon") for i in range(5)]
    disj = [(i, f"zeta{i} eta{i} theta{i} iota{i} kappa{i}") for i in range(5)]
    d_same = spark.createDataFrame(same, "doc_id long, text string")
    d_disj = spark.createDataFrame(disj, "doc_id long, text string")

    sk = corpus_minhash_sketch(d_same, "a", num_hashes=32).unionAll(
        corpus_minhash_sketch(d_same, "b", num_hashes=32)
    )
    r = corpus_minhash_estimate(sk, "a", "b", num_hashes=32).collect()[0]
    assert r["n_agree"] == 32 and r["est_jaccard"] == 1.0

    sk2 = corpus_minhash_sketch(d_same, "a", num_hashes=32).unionAll(
        corpus_minhash_sketch(d_disj, "b", num_hashes=32)
    )
    r2 = corpus_minhash_estimate(sk2, "a", "b", num_hashes=32).collect()[0]
    ex2 = corpus_exact_jaccard(d_same, d_disj).collect()[0]
    assert ex2["n_inter"] == 0 and ex2["exact_jaccard"] == 0.0
    assert r2["est_jaccard"] == 0.0  # disjoint shingle sets never agree


@pytest.mark.sweep
def test_decayed_counts_exact_dyadic_ages(spark):
    from strategicai_visibility_loop_etl_spark.operators.timeseries import (
        decayed_counts,
        decay_weights_ppq,
    )

    # Ages 0 / 7 / 14 with half-life 7 weigh exactly 1 / 0.5 / 0.25
    # (dyadic -> the integer table is exact): a = 1.75, b = 1.0.
    rows = [
        ("a", "2024-03-01 12:00:00"),
        ("a", "2024-02-23 01:00:00"),
        ("a", "2024-02-16 23:00:00"),
        ("b", "2024-03-01 00:00:00"),
    ]
    ev = spark.createDataFrame(rows, "k string, ts string").selectExpr(
        "k", "CAST(ts AS TIMESTAMP) AS ts"
    )
    got = {r["k"]: (r["n_events"], r["decayed_count"])
           for r in decayed_counts(ev, ["k"], half_life_days=7).collect()}
    assert got == {"a": (3, 1.75), "b": (1, 1.0)}

    # Beyond max_age_days the weight is exactly zero.
    old = spark.createDataFrame(
        [("a", "2024-03-01 00:00:00"), ("a", "2020-01-01 00:00:00")],
        "k string, ts string",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts")
    r = decayed_counts(old, ["k"], half_life_days=7, max_age_days=400).collect()[0]
    assert (r["n_events"], r["decayed_count"]) == (2, 1.0)

    # Weight table sanity: monotone nonincreasing, exact at dyadic
    # points, zero only from numerics.
    w = decay_weights_ppq(7, 28)
    assert w[0] == 10**18 and w[7] * 2 == 10**18 and w[14] * 4 == 10**18
    assert all(x >= y for x, y in zip(w, w[1:]))
