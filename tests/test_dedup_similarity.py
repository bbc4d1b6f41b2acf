"""Dedup + similarity operators on crafted near-duplicate corpora
(SURVEY §5: known-answer tests, plus ANN-recall-vs-exact)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from strategicai_visibility_loop_etl_spark.operators.dedup import (
    dedup_minhash_lsh,
    dedup_simhash,
    ngram_jaccard_pairs,
)
from strategicai_visibility_loop_etl_spark.operators.similarity import ann_lsh_topk, knn_cosine_topk

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)


def _corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, "The  Quick Brown FOX jumps over the lazy dog while the cat watches "
            "from the warm windowsill and the birds sing in the garden outside"),  # case/ws dup
        (4, BASE.replace("garden", "meadow")),  # near dup (1 word)
        (5, "completely different text about spark dataframes and shuffle "
            "partitions and the catalyst optimizer planning joins"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_jaccard_finds_near_dups(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(_corpus(spark), threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] == 1.0
    assert 0.5 <= pairs[(1, 4)] < 1.0
    assert not any(5 in p or 6 in p for p in pairs)


def test_minhash_lsh_finds_near_dups(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard_est"]
        for r in dedup_minhash_lsh(_corpus(spark), threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] == 1.0
    assert (1, 4) in pairs
    assert not any(5 in p for p in pairs)


def test_dedup_exact_groups_case_and_whitespace(spark):
    """The exact-duplicate collapse keys on normalized text: case and
    whitespace variants join the group of their minimum id; a one-word
    edit or an empty text does not."""
    from strategicai_visibility_loop_etl_spark.operators.clusters import collapse_exact

    reps, stars = collapse_exact(_corpus(spark))
    # 1,2,3 collapse; 4 and 5 stand alone; 6 (no tokens) is dropped.
    assert sorted(r["doc_id"] for r in reps.collect()) == [1, 4, 5]
    assert sorted((r["id_a"], r["id_b"]) for r in stars.collect()) == [(1, 2), (1, 3)]


def test_dedup_fingerprint_matches_exact_grouping(spark):
    """Grouping by ``fingerprint64`` (the document fingerprint tier)
    gives the same groups as the exact sha2 collapse."""
    from strategicai_visibility_loop_etl_spark.functions.text import fingerprint64
    from strategicai_visibility_loop_etl_spark.operators.clusters import collapse_exact

    corpus = _corpus(spark).filter(F.col("text") != "")
    by_fp = {
        r["rep"]: r["n"]
        for r in corpus.groupBy(fingerprint64(F.col("text")).alias("fp"))
        .agg(F.min("doc_id").alias("rep"), F.count("*").alias("n"))
        .collect()
    }
    assert by_fp == {1: 3, 4: 1, 5: 1}
    reps, stars = collapse_exact(corpus)
    exact = {r["doc_id"]: 1 for r in reps.collect()}
    for r in stars.collect():
        exact[r["id_a"]] += 1
    assert by_fp == exact


def test_simhash_finds_near_dups(spark):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in dedup_simhash(_corpus(spark)).collect()}
    assert pairs[(1, 2)] == 0
    assert pairs[(1, 3)] == 0
    assert (1, 4) in pairs  # single-word swap => small hamming distance
    assert not any(5 in p for p in pairs)


def test_simhash_hot_bucket_guard(spark):
    # 3000 identical docs -> every chunk bucket has 3000 members, above
    # max_bucket -> pruned, no pairs (exact dedup's job instead).
    df = spark.range(3000).select(F.col("id").alias("doc_id"), F.lit(BASE).alias("text"))
    assert dedup_simhash(df, max_bucket=2000).count() == 0


# Column-built reference forms of the minhash and simhash signatures and
# the LSH band keys. The
# package builds each as ONE parsed SQL string (cheaper to construct);
# these are the per-Column forms it replaced, kept as the equivalence
# oracle.
def _minhash_ref(df, num_hashes):
    from strategicai_visibility_loop_etl_spark.operators.dedup import exploded_shingles

    cols = [F.min(F.xxhash64(F.col("g"), F.lit(i))) for i in range(num_hashes)]
    return exploded_shingles(df).groupBy("id").agg(F.array(*cols).alias("sig"))


def _simhash64_ref(text):
    from strategicai_visibility_loop_etl_spark.functions.text import tokens

    counts = F.aggregate(
        tokens(text),
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, t: F.zip_with(
            acc,
            F.array(
                *[
                    (F.shiftright(F.xxhash64(t), i).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
                    for i in range(64)
                ]
            ),
            lambda a, d: a + d,
        ),
    )
    bit_vals = F.zip_with(
        counts,
        F.array(*[F.shiftleft(F.lit(1).cast("long"), i) for i in range(64)]),
        lambda c, bit: F.when(c > 0, bit).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bit_vals, F.lit(0).cast("long"), lambda acc, v: acc + v)


def _band_rows_ref(sig_df, num_hashes, bands):
    r = num_hashes // bands
    structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[F.element_at("sig", b * r + j + 1).cast("string") for j in range(r)],
                )
            ).alias("bh"),
        )
        for b in range(bands)
    ]
    return sig_df.select("id", F.inline(F.array(*structs)))


def test_minhash_signatures_match_column_reference(spark):
    from strategicai_visibility_loop_etl_spark.operators.dedup import minhash_signatures

    df = _corpus(spark)
    got = {r["id"]: list(r["sig"]) for r in minhash_signatures(df, num_hashes=64).collect()}
    want = {r["id"]: list(r["sig"]) for r in _minhash_ref(df, 64).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    assert got == want


def test_band_rows_match_column_reference(spark):
    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        _band_rows,
        minhash_signatures,
    )

    sig = minhash_signatures(_corpus(spark), num_hashes=64)
    got = sorted(tuple(r) for r in _band_rows(sig, 64, 16).collect())
    want = sorted(tuple(r) for r in _band_rows_ref(sig, 64, 16).collect())
    assert len(got) == 5 * 16
    assert got == want


def test_simhash_table_matches_column_reference(spark):
    from strategicai_visibility_loop_etl_spark.operators.dedup import simhash_table

    df = _corpus(spark)
    got = {r["id"]: r["h"] for r in simhash_table(df).collect()}
    want = {
        r["doc_id"]: r["h"]
        for r in df.select("doc_id", _simhash64_ref(F.col("text")).alias("h")).collect()
    }
    # simhash_table emits no row for a token-less doc; the expression
    # form returns 0 for it.
    assert set(got) == {1, 2, 3, 4, 5} and want[6] == 0
    assert got == {i: want[i] for i in got}


def _pathological_corpus(spark, n_identical=1000, n_bases=5000):
    """1k identical boilerplate docs + 10k near-dups (5k pairs of
    2 variants each) — the skew shape that melts naive LSH. Base docs
    use per-doc token vocabularies so cross-base Jaccard is ~0 (a
    shared sentence frame would make unrelated docs genuinely similar
    and the estimator would rightly pair them)."""
    rows = [(i, BASE) for i in range(n_identical)]
    nid = n_identical
    for b in range(n_bases):
        text = " ".join(f"tok{b}w{j}" for j in range(20))
        rows.append((nid, text))
        rows.append((nid + 1, text + " extra"))
        nid += 2
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.sweep
def test_auto_max_bucket_bounds_candidates_on_skew(spark):
    """max_bucket="auto" derives the hot-bucket cutoff from the bucket
    size distribution: the 1k-identical block (bucket size 1000, far
    above p99.9 of organic sizes) is dropped instead of producing
    C(1000,2) ≈ 500k candidate pairs, while organic near-dup pairs are
    still found. Output stays O(n · cap), not O(hot²)."""
    df = _pathological_corpus(spark)
    n_docs = df.count()
    pairs = dedup_minhash_lsh(df, threshold=0.5, max_bucket="auto").collect()
    # Bounded: nowhere near the 499,500 pairs of the identical block.
    assert len(pairs) <= n_docs * 2, len(pairs)
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    # Identical-block pairs are pruned (exact dedup's job) ...
    assert not any(a < 1000 and b < 1000 for a, b in ids)
    # ... while organic near-dup pairs survive in volume.
    organic = {(a, b) for a, b in ids if a >= 1000 and b == a + 1}
    assert len(organic) >= 4000, len(organic)


def test_auto_max_bucket_simhash_bounds_candidates(spark):
    df = _pathological_corpus(spark, n_identical=1000, n_bases=1000)
    pairs = dedup_simhash(df, max_hamming=3, max_bucket="auto").collect()
    assert len(pairs) <= df.count() * 2, len(pairs)
    assert not any(r["id_a"] < 1000 and r["id_b"] < 1000 for r in pairs)


def test_resolve_max_bucket_static_and_auto(spark):
    from strategicai_visibility_loop_etl_spark.operators.dedup import resolve_max_bucket

    sizes = spark.createDataFrame([(i, 2) for i in range(999)] + [(999, 1000)], "b long, n long")
    assert resolve_max_bucket(sizes, 123) == 123
    auto = resolve_max_bucket(sizes, "auto")
    # p99 of {2×999, 1000} is small; headroom 8 with floor 16.
    assert 16 <= auto < 1000, auto


def _embeddings(spark):
    import math

    rows = []
    for i in range(50):
        angle = (i % 10) * 0.1
        rows.append((i, [math.cos(angle), math.sin(angle), float(i % 3), 1.0]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_knn_self_is_top1(spark):
    emb = _embeddings(spark)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = knn_cosine_topk(emb, queries, k=3)
    first = {r["query_id"]: r["vec_id"] for r in top.filter(F.col("rank") == 1).collect()}
    # Rank-1 must have cosine 1.0 (self or an identical vector).
    ones = {r["query_id"]: r["cosine"] for r in top.filter(F.col("rank") == 1).collect()}
    assert set(first) == {0, 1, 2}
    assert all(c == 1.0 for c in ones.values())


def test_ann_recall_vs_exact(spark):
    emb = _embeddings(spark)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        (r["query_id"], r["vec_id"]) for r in knn_cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in ann_lsh_topk(emb, queries, k=5, nbits=8, bands=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"ANN recall too low: {recall}"


def test_embedding_neardup_finds_planted_pairs(spark):
    """Jittered copies (component +0.02, cosine ≈ 0.99 at this dim)
    pair with their originals; well-separated directions don't pair."""
    from strategicai_visibility_loop_etl_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    emb = _embeddings(spark)
    planted = emb.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.02)).alias("embedding"),
    )
    pairs = embedding_neardup_pairs(
        emb.unionByName(planted), threshold=0.98, max_bucket=10_000_000
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # Every planted copy pairs with its original (recall on the known
    # answers), and verification is exact: no pair below threshold.
    assert all((i, i + 1000) in got for i in range(50)), sorted(got)[:5]
    assert all(r["cosine"] >= 0.98 for r in pairs)


def test_embedding_neardup_hot_bucket_guard(spark):
    """3000 identical vectors land in one bucket per band; the auto
    guard drops them instead of emitting C(3000,2) ≈ 4.5M pairs."""
    from strategicai_visibility_loop_etl_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    import random

    # Realistic dimensionality matters: 8 hyperplanes split R^4 into
    # ≤128 regions, so a 4-dim corpus has so few distinct buckets that
    # the hot bucket IS the p99.9 and ``auto`` can't see past it. At
    # dim 32 the 2000 organic directions spread into thousands of
    # near-singleton buckets and the 8 hot buckets (one per band) sit
    # far above the organic p99.9.
    rng = random.Random(7)
    hot = [rng.gauss(0, 1) for _ in range(32)]
    rows = [(i, list(hot)) for i in range(3000)]
    rows += [
        (3000 + i, [rng.gauss(0, 1) for _ in range(32)]) for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_neardup_pairs(df, threshold=0.98, max_bucket="auto").collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    # The identical block's C(3000,2) pairs are pruned by the guard.
    assert not any(a < 3000 and b < 3000 for a, b in ids)
    assert len(pairs) <= df.count() * 2, len(pairs)


def test_ivf_recall_vs_exact_and_determinism(spark):
    from strategicai_visibility_loop_etl_spark.operators.similarity import ivf_topk

    emb = _embeddings(spark)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        (r["query_id"], r["vec_id"]) for r in knn_cosine_topk(emb, queries, k=5).collect()
    }
    run = lambda: sorted(
        map(tuple, ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=3, iters=2).collect())
    )
    first = run()
    approx = {(q, v) for q, v, _, _ in first}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall too low: {recall}"
    assert first == run()  # hash-sampled init + staged argmin = reproducible


def test_benchmark_overlap_planted_contamination(spark):
    from strategicai_visibility_loop_etl_spark.operators.dedup import benchmark_overlap

    bench_text = "q one two three four five six seven eight nine ten"
    corpus = spark.createDataFrame(
        [
            (1, bench_text),                     # fully contaminated
            (2, "totally different words here all over the whole doc"),
            (3, "x " + bench_text),              # shifted: shares inner grams
            (4, "tiny doc"),                     # < k tokens -> 0/0/0
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    got = {r["id"]: r for r in benchmark_overlap(corpus, bench, k=8).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1]["n_overlap"] == got[1]["n_grams"] > 0
    assert got[1]["overlap_frac"] == 1.0
    assert got[2]["n_overlap"] == 0 and got[2]["n_grams"] > 0
    # 12 tokens -> 5 grams; 4 of them are pure bench_text grams.
    assert got[3]["n_grams"] == 5 and got[3]["n_overlap"] == 4
    assert got[4]["n_grams"] == 0 and got[4]["overlap_frac"] == 0.0


def _duplicate_span_ref(rows, k):
    """Per-position reference: {doc_id: (n_positions, n_dup_positions)},
    a position being duplicated when its k-gram occurs in another doc."""
    from collections import Counter

    grams = {}
    for doc_id, text in rows:
        toks = " ".join((text or "").lower().split()).split(" ")
        grams[doc_id] = [tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)]
    n_docs = Counter(g for gs in grams.values() for g in set(gs))
    return {d: (len(gs), sum(n_docs[g] > 1 for g in gs)) for d, gs in grams.items()}


def test_duplicate_span_fraction_position_weighted(spark):
    """Exact (n_positions, n_dup_positions) against the per-position
    reference, on a hand fixture (k=8) and a seeded small-vocabulary
    corpus (k=3) whose answers are mostly strictly between 0 and 1."""
    import random

    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        duplicate_span_fraction,
    )

    boiler = "all rights reserved contact us for more information today"  # 9 toks, 2 grams
    hand = [
        (1, boiler + " unique tail one two three four five six seven"),
        (2, boiler),                 # shares the boiler grams with 1 and 3
        (3, boiler + " " + boiler),  # pastes it twice: dup positions count twice
        (4, "nothing shared here at all in this very different document"),
        (5, "short"),                # < k tokens
    ]
    rng = random.Random(7)
    vocab = ["a", "b", "c", "d", "E", "f"]
    seps = [" ", "  ", "\t", "\n"]
    seeded = [
        (i, "".join(rng.choice(vocab) + rng.choice(seps) for _ in range(rng.randint(0, 14))))
        for i in range(30)
    ] + [(30, None)]
    for rows, k in ((hand, 8), (seeded, 3)):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["id"]: (r["n_positions"], r["n_dup_positions"], r["dup_frac"])
            for r in duplicate_span_fraction(df, k=k).collect()
        }
        ref = _duplicate_span_ref(rows, k)
        assert {d: g[:2] for d, g in got.items()} == ref
        for d, (n, dup, frac) in got.items():
            assert frac == pytest.approx(dup / n if n else 0.0, abs=1e-6), d
    assert sum(0 < dup < n for n, dup in ref.values()) >= 10  # seeded: fractional
    assert _duplicate_span_ref(hand, 8)[1] == (11, 2)  # 2/11 on the hand fixture


def test_exactsubstr_edge_cases(spark):
    """ExactSubstr edge semantics: short/null docs pass through,
    within-doc repeats excise, spans at gap == k merge into one."""
    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        exactsubstr_dedup,
    )

    dup = "one two three four"  # a 4-token run shared across docs (k=4)
    rows = [
        (1, f"alpha beta {dup} gamma delta"),
        (2, f"start {dup} end"),
        (3, "tiny doc"),          # < k tokens: un-excised
        (4, None),                # null text: un-excised, 0 tokens
        (5, f"{dup} {dup}"),      # within-doc paste: everything excised
        (6, "p q r s t u v w"),   # unique: untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in exactsubstr_dedup(df, k=4).collect()}

    assert got[1]["clean_text"] == "alpha beta gamma delta"
    assert got[2]["clean_text"] == "start end"
    assert got[1]["n_spans"] == 1 and got[1]["n_removed"] == 4
    assert got[3]["clean_text"] == "tiny doc" and got[3]["n_spans"] == 0
    assert got[4]["n_tokens"] == 0 and got[4]["clean_text"] == ""
    assert got[4]["n_spans"] == 0 and got[4]["n_removed"] == 0
    # doc 5: 8 tokens, hits at 0..4 (the dup 4-grams and the repeat run)
    # -> one merged span covering the whole doc
    assert got[5]["clean_text"] == "" and got[5]["n_removed"] == 8
    assert got[6]["clean_text"] == "p q r s t u v w"


def test_exactsubstr_adjacent_span_merge_at_gap_k(spark):
    """Two hit positions p and q with q - p == k produce touching
    intervals [p, p+k) and [q, q+k) that must merge into ONE maximal
    span (the merge rule is q - p <= k), while q - p == k + 1 leaves a
    1-token survivor between two spans."""
    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        exactsubstr_dedup,
    )

    k = 3
    a, b = "a1 a2 a3", "b1 b2 b3"
    rows = [
        # touching: hits at pos 0 and 3 -> one span [0, 6)
        (1, f"{a} {b} tail1 tail2"),
        (2, f"{a} {b} other stuff"),
        # gap k+1: hits at 0 and 4 -> spans [0,3) and [4,7), 'mid' kept
        (3, f"c1 c2 c3 mid d1 d2 d3"),
        (4, f"c1 c2 c3 x y d1 d2 d3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in exactsubstr_dedup(df, k=k).collect()}

    assert got[1]["n_spans"] == 1 and got[1]["clean_text"] == "tail1 tail2"
    assert got[2]["n_spans"] == 1 and got[2]["clean_text"] == "other stuff"
    assert got[3]["n_spans"] == 2 and got[3]["clean_text"] == "mid"
    assert got[4]["clean_text"] == "x y"


def test_exactsubstr_min_match_tokens(spark, tmp_path):
    """Lee et al. 2022's minimum-match length (they use 50): merged
    duplicate spans SHORTER than min_match_tokens survive — short
    idioms and citations — while spans >= L still excise (true
    boilerplate). Verified identically on the batch and incremental
    paths; n_spans counts kept spans only."""
    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        exactsubstr_dedup,
        exactsubstr_incremental,
        substr_gram_index_write,
    )

    k, L = 8, 50
    boiler = " ".join(f"cookie{i}" for i in range(60))  # 60-token block
    idiom = " ".join(f"idiom{i}" for i in range(k))     # exactly k tokens
    rows = [
        (1, f"u1 u2 u3 {boiler} mid1 mid2 {idiom} tail1 tail2"),
        (2, f"v1 v2 {boiler} v3 v4"),
        (3, f"w1 {idiom} w2 w3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # Batch path, L=50: the 60-token boilerplate dies in every doc,
    # the 8-token idiom survives everywhere.
    got = {
        r["doc_id"]: r
        for r in exactsubstr_dedup(df, k=k, min_match_tokens=L).collect()
    }
    assert got[1]["clean_text"] == f"u1 u2 u3 mid1 mid2 {idiom} tail1 tail2"
    assert got[1]["n_spans"] == 1 and got[1]["n_removed"] == 60
    assert got[2]["clean_text"] == "v1 v2 v3 v4"
    assert got[3]["clean_text"] == f"w1 {idiom} w2 w3"
    assert got[3]["n_spans"] == 0 and got[3]["n_removed"] == 0

    # Default (None): both spans excise — unchanged legacy semantics.
    legacy = {
        r["doc_id"]: r for r in exactsubstr_dedup(df, k=k).collect()
    }
    assert legacy[1]["clean_text"] == "u1 u2 u3 mid1 mid2 tail1 tail2"
    assert legacy[1]["n_spans"] == 2
    assert legacy[3]["clean_text"] == "w1 w2 w3"

    # Incremental path: archive docs 2-3 in the index, doc 1 arrives.
    idx = str(tmp_path / "gramidx")
    archive = df.filter("doc_id != 1")
    batch = df.filter("doc_id == 1")
    substr_gram_index_write(archive, idx, k=k)
    inc = exactsubstr_incremental(
        batch, idx, k=k, min_match_tokens=L
    ).collect()
    assert len(inc) == 1
    assert inc[0]["clean_text"] == got[1]["clean_text"]
    assert inc[0]["n_spans"] == got[1]["n_spans"]


def _suffix_array_excision_oracle(docs: list[tuple[int, str]], L: int):
    """Brute-force replay of Lee et al. 2022's SUFFIX-ARRAY semantics:
    a token position is removed iff SOME single duplicated substring
    of >= L tokens (>= 2 occurrences corpus-wide, counting same-doc
    repeats) covers it. O(corpus²·len) — test corpora only."""
    toks = {d: t.split() for d, t in docs}
    occs = [(d, i) for d, ts in toks.items() for i in range(len(ts))]

    def dup_len(d, i):
        # longest l such that toks[d][i:i+l] occurs elsewhere too
        best = 0
        for d2, j in occs:
            if (d2, j) == (d, i):
                continue
            l = 0
            while (
                i + l < len(toks[d])
                and j + l < len(toks[d2])
                and toks[d][i + l] == toks[d2][j + l]
            ):
                l += 1
            best = max(best, l)
        return best

    out = {}
    for d, ts in toks.items():
        removed = [False] * len(ts)
        for s in range(len(ts)):
            m = dup_len(d, s)
            if m >= L:
                for p in range(s, s + m):
                    removed[p] = True
        out[d] = " ".join(t for t, r in zip(ts, removed) if not r)
    return out


def test_exactsubstr_kgram_vs_suffix_array_boundaries(spark):
    """SURVEY row 104 decision pin: where the k-gram form EQUALS
    suffix-array semantics and where it diverges.

    Exact on contiguous runs — a duplicated run of exactly L tokens
    excises, L-1 survives, and a run shorter than k is invisible; all
    three agree with the brute-force suffix-array oracle. The one
    divergence: two different sub-threshold duplicated pieces that
    ABUT inside one doc merge into a chimeric span that clears L, so
    the k-gram form excises (conservative over-excision) where the
    oracle keeps — never the reverse."""
    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        exactsubstr_dedup,
    )

    k, L = 8, 50
    run50 = " ".join(f"r{i}" for i in range(50))
    run49 = " ".join(f"s{i}" for i in range(49))
    run7 = " ".join(f"t{i}" for i in range(7))
    p1 = " ".join(f"p{i}" for i in range(30))
    p2 = " ".join(f"q{i}" for i in range(30))
    rows = [
        (1, f"a1 a2 {run50} z1 z2"),
        (2, f"b1 {run50} b2"),
        (3, f"c1 {run49} c2"),
        (4, f"d1 {run49} d2"),
        # chimera: doc 5 splices P1 (shared with 6) against P2
        # (shared with 7); no single duplicated substring >= 50.
        (5, f"e1 e2 {p1} {p2} y1 y2"),
        (6, f"f1 {p1} f2"),
        (7, f"g1 {p2} g2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in exactsubstr_dedup(df, k=k, min_match_tokens=L).collect()
    }
    oracle = _suffix_array_excision_oracle(rows, L)

    # Contiguous-run boundaries: identical to suffix-array semantics.
    assert got[1]["clean_text"] == oracle[1] == "a1 a2 z1 z2"
    assert got[2]["clean_text"] == oracle[2] == "b1 b2"
    assert got[3]["clean_text"] == oracle[3] == rows[2][1]  # 49 < L
    assert got[4]["clean_text"] == oracle[4] == rows[3][1]

    # Sub-k runs are invisible even with NO length threshold.
    sub = spark.createDataFrame(
        [(12, f"m1 {run7} m2"), (13, f"n1 {run7} n2")],
        "doc_id long, text string",
    )
    for r in exactsubstr_dedup(sub, k=k).collect():
        assert r["n_spans"] == 0 and r["n_removed"] == 0

    # The documented divergence, in the documented DIRECTION only:
    # the chimera doc over-excises vs the oracle; the piece donors
    # agree with the oracle (30 < L survives).
    assert oracle[5] == rows[4][1]            # suffix array keeps
    assert got[5]["clean_text"] == "e1 e2 y1 y2"  # k-gram excises
    assert got[5]["n_spans"] == 1 and got[5]["n_removed"] == 60
    assert got[6]["clean_text"] == oracle[6] == rows[5][1]
    assert got[7]["clean_text"] == oracle[7] == rows[6][1]
    # Never under-excises: everything the oracle removed, we removed.
    for d in (1, 2, 3, 4, 6, 7):
        kept_by_engine = set(got[d]["clean_text"].split())
        kept_by_oracle = set(oracle[d].split())
        assert kept_by_engine <= kept_by_oracle


def test_quantized_ann_recall_vs_float(spark, sf_dir):
    """Int8-quantized cosine ranking approximates the float path:
    high top-5 overlap, and the quantization error is bounded."""
    from strategicai_visibility_loop_etl_spark.operators.similarity import (
        knn_cosine_topk,
        quantize_embeddings,
        quantized_cosine_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_f = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = knn_cosine_topk(emb, queries_f, k=5).collect()

    qz = quantize_embeddings(emb)
    queries_q = qz.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "qvec"
    )
    approx = quantized_cosine_topk(qz, queries_q, k=5).collect()

    def by_q(rows, idc):
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], set()).add(r[idc])
        return out

    e, a = by_q(exact, "vec_id"), by_q(approx, "vec_id")
    assert set(e) == set(a)
    total = hits = 0
    for q in e:
        total += len(e[q])
        hits += len(e[q] & a[q])
    assert hits / total >= 0.8, (hits, total)
    # int8 cosine error bound: |cos_q - cos| small for the self-match
    self_rows = {r["query_id"]: r for r in approx if r["rank"] == 1}
    for q, r in self_rows.items():
        assert r["vec_id"] == q and abs(r["qcosine"] - 1.0) < 1e-4


def test_quantize_embeddings_codes_and_zero_vector(spark):
    from strategicai_visibility_loop_etl_spark.operators.similarity import (
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert got[1]["qvec"] == [64, -127, 32]  # round(.5/(1/127))=63.5->64
    assert abs(got[1]["scale"] - 1.0 / 127) < 1e-9
    assert got[2]["qvec"] == [0, 0, 0] and got[2]["scale"] == 0.0


def test_boilerplate_incremental_equivalence_to_full(spark, tmp_path):
    """The persistent line-df index path equals the full batch
    recompute restricted to the new docs (the row-119 equivalence
    contract, applied to cross-doc line excision)."""
    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        boilerplate_excision_incremental,
        boilerplate_line_excision,
        line_df_index_write,
    )

    nav = "home | products | contact"
    cookie = "we use cookies to improve your experience"
    archive = [
        (1, f"{nav}\nunique page one body\nfooter (c) corp"),
        (2, f"{nav}\nanother body entirely\nfooter (c) corp"),
        (3, "standalone page with no shared lines at all"),
    ]
    batch = [
        # nav + footer hit via ARCHIVE df alone; cookie becomes
        # boilerplate only because BOTH new docs carry it (batch df)
        (10, f"{nav}\n{cookie}\nnew page alpha\nfooter (c) corp"),
        (11, f"{cookie}\nnew page beta"),
        (12, None),  # null text: survives as empty
    ]
    schema = "doc_id long, text string"
    arch_df = spark.createDataFrame(archive, schema)
    batch_df = spark.createDataFrame(batch, schema)

    idx = str(tmp_path / "lineidx")
    line_df_index_write(arch_df, idx)

    inc = {
        r["doc_id"]: r
        for r in boilerplate_excision_incremental(
            batch_df, idx, min_df=2
        ).collect()
    }
    full = {
        r["doc_id"]: r
        for r in boilerplate_line_excision(
            arch_df.unionByName(batch_df), min_df=2
        ).collect()
        if r["doc_id"] >= 10
    }
    assert set(inc) == set(full) == {10, 11, 12}
    for i in inc:
        for c in ("n_lines", "n_removed", "clean_text"):
            assert inc[i][c] == full[i][c], (i, c, inc[i][c], full[i][c])
    # the cookie line was excised though the ARCHIVE never saw it
    assert cookie not in inc[10]["clean_text"]
    assert inc[10]["n_removed"] == 3  # nav, cookie, footer


@pytest.mark.sweep
def test_boilerplate_incremental_index_update_and_recrawl(spark, tmp_path):
    """Extending the index with each processed batch accumulates its
    partials; a re-crawled id is dropped from output and cannot
    inflate any line's df; two sequential batches equal one combined
    batch."""
    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        boilerplate_excision_incremental,
        boilerplate_line_excision,
        line_df_index_write,
    )

    promo = "subscribe to our newsletter"
    schema = "doc_id long, text string"
    arch = spark.createDataFrame([(1, f"{promo}\nseed body")], schema)
    idx = str(tmp_path / "lineidx2")
    line_df_index_write(arch, idx)

    b1 = spark.createDataFrame([(2, f"{promo}\nbatch one body")], schema)
    out1 = boilerplate_excision_incremental(b1, idx, min_df=2).collect()
    assert {r["doc_id"] for r in out1} == {2}
    assert promo not in out1[0]["clean_text"]  # archive df 1 + batch 1
    line_df_index_write(b1, idx)

    # batch 2 re-crawls id 2 (dropped) and adds id 3
    b2 = spark.createDataFrame(
        [(2, f"{promo}\nbatch one body"), (3, f"{promo}\nbatch two body")],
        schema,
    )
    out2 = {r["doc_id"]: r for r in boilerplate_excision_incremental(
        b2, idx, min_df=2
    ).collect()}
    assert set(out2) == {3}, "re-crawled id must not re-emit"
    assert promo not in out2[3]["clean_text"]
    line_df_index_write(b2.filter("doc_id = 3"), idx)

    # index df for the promo line == 3 distinct docs, not 4
    lines = spark.read.parquet(f"{idx}/lines")
    got_df = {
        r["lh"]: r["s"]
        for r in lines.groupBy("lh").agg(F.sum("cnt").alias("s")).collect()
    }
    import pyspark.sql.functions as _F
    promo_lh = spark.createDataFrame([(promo,)], "l string").select(
        _F.xxhash64("l").alias("lh")
    ).first()["lh"]
    assert got_df[promo_lh] == 3, got_df[promo_lh]
    assert spark.read.parquet(f"{idx}/ids").columns == ["id"]

    # accumulated results == full recompute over everything (fresh ids)
    all_docs = arch.unionByName(b1).unionByName(
        spark.createDataFrame([(3, f"{promo}\nbatch two body")], schema)
    )
    full = {
        r["doc_id"]: r
        for r in boilerplate_line_excision(all_docs, min_df=2).collect()
    }
    for r in out1:
        assert r["clean_text"] == full[r["doc_id"]]["clean_text"]
    assert out2[3]["clean_text"] == full[3]["clean_text"]


def test_exactsubstr_incremental_equivalence_to_full(spark, tmp_path):
    """The persistent k-gram occurrence index path equals the full
    ExactSubstr recompute restricted to the new docs — archive-dup
    spans, batch-internal dup spans and within-doc repeats all excise
    identically."""
    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        exactsubstr_dedup,
        exactsubstr_incremental,
        substr_gram_index_write,
    )

    boiler = "accept all cookies or manage preferences in settings now ok"
    archive = [
        (1, f"alpha unique opening words here {boiler} tail one two"),
        (2, "totally unrelated archive document with its own words"),
    ]
    batch = [
        # hits via ARCHIVE occurrences alone
        (10, f"fresh intro before the banner {boiler} and a fresh close"),
        # dup only WITHIN the batch (10 & 11 share a long span)
        (11, "common batch sentence repeated across two new documents "
             "plus unique suffix eleven"),
        (12, "common batch sentence repeated across two new documents "
             "plus unique suffix twelve"),
        (13, "wholly unique new document nothing shared with anything"),
        (14, None),
    ]
    schema = "doc_id long, text string"
    arch_df = spark.createDataFrame(archive, schema)
    batch_df = spark.createDataFrame(batch, schema)

    idx = str(tmp_path / "gramidx")
    substr_gram_index_write(arch_df, idx, k=5)

    inc = {
        r["doc_id"]: r
        for r in exactsubstr_incremental(batch_df, idx, k=5).collect()
    }
    full = {
        r["doc_id"]: r
        for r in exactsubstr_dedup(
            arch_df.unionByName(batch_df), k=5
        ).collect()
        if r["doc_id"] >= 10
    }
    assert set(inc) == set(full) == {10, 11, 12, 13, 14}
    for i in inc:
        for c in ("n_tokens", "n_spans", "n_removed", "clean_text"):
            assert inc[i][c] == full[i][c], (i, c, inc[i][c], full[i][c])
    assert boiler not in inc[10]["clean_text"]       # archive-driven
    assert inc[11]["n_removed"] > 0                  # batch-internal dup
    assert inc[13]["n_removed"] == 0                 # untouched


def test_exactsubstr_incremental_index_update_and_recrawl(spark, tmp_path):
    """Extending the index with each processed batch accumulates its
    occurrence partials; a re-crawled id is dropped and cannot double
    its grams' counts; a later batch sees earlier batches' grams as
    archive."""
    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        exactsubstr_incremental,
        substr_gram_index_write,
    )

    span = "the same eight token span repeated across crawl increments"
    schema = "doc_id long, text string"
    arch = spark.createDataFrame([(1, f"seed {span} seed tail")], schema)
    idx = str(tmp_path / "gramidx2")
    substr_gram_index_write(arch, idx, k=5)

    b1 = spark.createDataFrame([(2, f"first batch {span} first end")], schema)
    out1 = exactsubstr_incremental(b1, idx, k=5).collect()
    assert out1[0]["n_removed"] > 0  # span present in archive
    substr_gram_index_write(b1, idx, k=5)

    # batch 2 re-crawls id 2 and adds id 3; id 2 must not re-emit and
    # id 3 must still hit the span via index accumulated through b1
    b2 = spark.createDataFrame(
        [(2, f"first batch {span} first end"),
         (3, f"second batch {span} second end")],
        schema,
    )
    out2 = {r["doc_id"]: r for r in exactsubstr_incremental(
        b2, idx, k=5
    ).collect()}
    assert set(out2) == {3}
    assert out2[3]["n_removed"] > 0
    substr_gram_index_write(b2.filter("doc_id = 3"), idx, k=5)

    # occurrence count for a span gram: one per distinct doc (1, 2, 3)
    import pyspark.sql.functions as _F
    grams = spark.read.parquet(f"{idx}/grams")
    top = grams.groupBy("gh").agg(_F.sum("cnt").alias("s")) \
        .agg(_F.max("s").alias("m")).first()["m"]
    assert top == 3, top


def test_compact_count_index_preserves_results(spark, tmp_path):
    """Batch appends to the line-df index leave one partial count file
    per append; the incremental reader folds them, so a line counted
    once per append reaches min_df and excises. Compacting the index
    (rewriting ``lines/`` as the folded aggregate) leaves the excision
    unchanged."""
    import shutil

    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        boilerplate_excision_incremental,
        line_df_index_write,
    )

    promo = "subscribe to our newsletter"
    schema = "doc_id long, text string"
    idx = str(tmp_path / "cidx")
    # three appends, each re-counting the promo line once
    for i in range(3):
        line_df_index_write(
            spark.createDataFrame([(i, f"{promo}\nbody {i}")], schema), idx
        )
    lines = spark.read.parquet(f"{idx}/lines")
    sums = lines.groupBy("lh").agg(F.sum("cnt").alias("s"))
    assert lines.count() > sums.count()  # promo's 3 partials unfolded
    assert sums.agg(F.max("s")).first()[0] == 3

    probe = spark.createDataFrame([(99, f"{promo}\nprobe body")], schema)
    out = boilerplate_excision_incremental(probe, idx, min_df=2).first()
    assert promo not in out["clean_text"]

    folded = str(tmp_path / "cidx_folded")
    shutil.copytree(idx, folded)
    shutil.rmtree(f"{folded}/lines")
    sums.withColumnRenamed("s", "cnt").write.parquet(f"{folded}/lines")
    assert spark.read.parquet(f"{folded}/lines").count() == sums.count()
    out_folded = boilerplate_excision_incremental(probe, folded, min_df=2).first()
    assert out_folded["clean_text"] == out["clean_text"]


@pytest.mark.sweep
def test_pq_topk_recall_self_match_and_determinism(spark):
    """PQ/ADC ranking (capability row 136): on structured vectors a
    2×8 codebook ranks each query's own vector first, recalls most of
    the exact top-5, reproduces exactly across runs (hash-sampled
    init + staged argmin), and rejects a dim not divisible by m."""
    import pytest as _pytest

    from strategicai_visibility_loop_etl_spark.operators.similarity import pq_topk

    emb = _embeddings(spark)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in knn_cosine_topk(emb, queries, k=5).collect()
    }
    run = lambda: sorted(
        map(tuple, pq_topk(emb, queries, k=5, m=2, ksub=8, iters=2).collect())
    )
    first = run()
    # Self-match: every query's own vector must appear in its top-5
    # (PQ reconstructs it through its own codes — the distortion is
    # identical on both sides of the dot product).
    got_pairs = {(q, v) for q, _, v, _ in first}
    assert all((qid, qid) in got_pairs for qid in range(5))
    recall = len(exact & got_pairs) / len(exact)
    assert recall >= 0.5, f"PQ recall too low: {recall}"
    assert first == run()
    with _pytest.raises(ValueError, match="not divisible"):
        pq_topk(emb, queries, k=5, m=3, ksub=8, iters=1).collect()
    # A corpus smaller than ksub degrades to fewer codes (no IndexError)
    # and still self-matches.
    tiny = emb.filter(F.col("vec_id") < 6)
    tq = queries.filter(F.col("query_id") < 2)
    tiny_got = pq_topk(tiny, tq, k=3, m=2, ksub=64, iters=1).collect()
    assert {(r["query_id"], r["vec_id"]) for r in tiny_got if r["rank"] == 1} == {
        (0, 0), (1, 1)
    }


@pytest.mark.sweep
def test_ivfpq_recall_beats_flat_pq_and_determinism(spark):
    """IVF-PQ (capability row 143): the residual-encode + exact-
    re-rank composition recalls at least as well as flat PQ at equal
    code budget, finds each query's own vector at rank 1, reproduces
    exactly across runs, and validates dim % m."""
    import pytest as _pytest

    from strategicai_visibility_loop_etl_spark.operators.similarity import (
        ivfpq_topk,
        pq_topk,
    )

    emb = _embeddings(spark)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in knn_cosine_topk(emb, queries, k=5).collect()
    }
    run = lambda: sorted(
        map(
            tuple,
            ivfpq_topk(
                emb, queries, k=5, n_centroids=8, n_probe=4, m=2, ksub=8,
                rerank=20,
            ).collect(),
        )
    )
    first = run()
    got = {(q, v) for q, v, _, _ in first}
    assert all((qid, qid) in got for qid in range(5))  # self-match present
    recall = len(exact & got) / len(exact)
    pq_only = {
        (r["query_id"], r["vec_id"])
        for r in pq_topk(emb, queries, k=5, m=2, ksub=8).collect()
    }
    pq_recall = len(exact & pq_only) / len(exact)
    assert recall >= pq_recall, (recall, pq_recall)
    assert recall >= 0.6, f"IVF-PQ recall too low: {recall}"
    assert first == run()
    with _pytest.raises(ValueError, match="not divisible"):
        ivfpq_topk(emb, queries, m=3).collect()


def test_lsh_band_plan_exact_and_recommendation(spark):
    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        lsh_band_plan,
    )

    # n_hashes=1 has the single factorization (1,1) where p(s) = s:
    # fp = sum(0.01..0.49)/100 = 0.1225, fn = sum(0.50..0.01)/100
    # over s >= 0.5 = 0.1275 — exact decimal arithmetic.
    one = lsh_band_plan(spark, n_hashes=1, threshold=0.5).collect()
    assert len(one) == 1
    r = one[0]
    assert (r["b"], r["r"], r["recommended"]) == (1, 1, True)
    assert r["fp_area"] == 0.1225 and r["fn_area"] == 0.1275

    # 64 hashes at t=0.5: every row factors 64, the recommended row
    # carries the minimal total error, and extreme bandings are worse
    # than the middle (b=1 all-AND misses near-dups; b=64 all-OR
    # floods false positives).
    plan = lsh_band_plan(spark, n_hashes=64, threshold=0.5).collect()
    by_b = {r["b"]: r for r in plan}
    assert set(by_b) == {1, 2, 4, 8, 16, 32, 64}
    assert all(r["b"] * r["r"] == 64 for r in plan)
    best = min(plan, key=lambda r: r["total_error"])
    assert by_b[best["b"]]["recommended"]
    assert all(
        r["total_error"] >= best["total_error"] for r in plan
    )
    assert best["total_error"] < by_b[1]["total_error"]
    assert best["total_error"] < by_b[64]["total_error"]
    assert best["b"] in {8, 16}  # the textbook sweet spot for t=0.5


def test_winnowing_guarantee_and_reference_values(spark):
    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        winnow_fingerprints,
    )

    # k=5, window=4: any shared substring of length >= 8 guarantees a
    # shared fingerprint.  Docs 1 and 2 share a 20-char run inside
    # different prefixes/suffixes; doc 3 is unrelated.
    shared = "the quick brown fox jumps"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + shared + " gamma delta"),
            (2, "omega " + shared + " zeta"),
            (3, "completely different content with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    # Python reference implementation on the normalized string (the
    # inputs are already lowercase single-spaced -> normalize is
    # identity here): exact n_grams / n_fingerprints / checksum.
    def ref_fps(s, k=5, w=4):
        hs = []
        for i in range(len(s) - k + 1):
            a = 0
            for ch in s[i:i + k]:
                a = (a * 31 + ord(ch)) % 1_000_000_007
            hs.append(a)
        return len(hs), {min(hs[p - w + 1:p + 1]) for p in range(w - 1, len(hs))}

    def ref(s):
        n, fps = ref_fps(s)
        return n, len(fps), sum(fps)

    prof = {r["doc_id"]: (r["n_grams"], r["n_fingerprints"], r["fp_checksum"])
            for r in winnow_fingerprints(docs, k=5, window=4).collect()}
    texts = {
        1: "alpha beta " + shared + " gamma delta",
        2: "omega " + shared + " zeta",
        3: "completely different content with no overlap at all",
    }
    for d, t in texts.items():
        assert prof[d] == ref(t), f"doc {d}"
    assert ref_fps(texts[1])[1] & ref_fps(texts[2])[1], (
        "guaranteed shared fingerprint missing"
    )

    # Degenerate: text shorter than k -> zero grams, zero density.
    tiny = spark.createDataFrame([(9, "ab")], "doc_id long, text string")
    r = winnow_fingerprints(tiny, k=5, window=4).collect()[0]
    assert (r["n_grams"], r["n_fingerprints"], r["fp_density"]) == (0, 0, 0.0)


def test_random_projection_jl_distance_preservation(spark):
    import math

    from pyspark.sql import functions as F

    from strategicai_visibility_loop_etl_spark.operators.similarity import (
        random_project,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sub = emb.filter(F.col("vec_id") < 12)
    proj = random_project(sub, out_dim=32).collect()
    orig = {r["vec_id"]: list(r["embedding"]) for r in sub.collect()}
    pv = {}
    for r in proj:
        pv.setdefault(r["vec_id"], {})[r["j"]] = r["value"]
    assert all(len(v) == 32 for v in pv.values())

    def dist(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    ids = sorted(orig)
    ratios = []
    for a in ids:
        for b in ids:
            if a < b:
                d0 = dist(orig[a], orig[b])
                d1 = dist([pv[a][j] for j in range(32)],
                          [pv[b][j] for j in range(32)])
                if d0 > 0:
                    ratios.append(d1 / d0)
    # JL with a +-1 matrix at out_dim=32: distances preserved in
    # expectation; a loose band catches sign-matrix or scaling bugs
    # (a missing 1/sqrt(k) shows up as ratio ~5.7).
    mean_ratio = sum(ratios) / len(ratios)
    assert 0.7 < mean_ratio < 1.3, mean_ratio
    assert all(0.6 < r < 1.4 for r in ratios), (min(ratios), max(ratios))

    # Determinism across partitionings.
    a = sorted(map(tuple, random_project(sub, 8).collect()))
    b = sorted(map(tuple, random_project(sub.repartition(7), 8).collect()))
    assert a == b


def test_ivfpq_codes_stage_partitioned_and_pruned(spark, sf_dir, tmp_path):
    """Staged IVF-PQ codes lay out Hive-partitioned by cluster and the
    query re-reads ONLY the probed inverted lists: the probe IN-filter
    must reach PartitionFilters (planning-time file pruning, the
    row-141 pin applied to row 143), and the pruned path must return
    bit-identical top-k to the unstaged in-memory plan."""
    import os

    from strategicai_visibility_loop_etl_spark.operators.similarity import (
        ivfpq_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    kw = dict(k=5, n_centroids=8, n_probe=2, m=8, ksub=8, iters=1, rerank=16)
    plain = ivfpq_topk(emb, qs, **kw).collect()
    staged_df = ivfpq_topk(emb, qs, **kw, stage_path=str(tmp_path / "st"))
    staged = staged_df.collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(map(tuple, plain), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, staged), key=lambda t: (t[0], t[3])
    )

    # layout: one directory per non-empty cluster
    parts = {
        d
        for d in os.listdir(tmp_path / "st" / "codes")
        if d.startswith("cluster=")
    }
    assert parts, "codes not Hive-partitioned by cluster"

    # pruning: the codes scan carries the probe set in
    # PartitionFilters — unprobed lists are dropped at file listing.
    plan = staged_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan[:2000]
    seg = plan.split("PartitionFilters")[1][:300]
    assert "cluster" in seg and "IN" in seg.upper(), seg
    # the probe set is bounded by n_queries * n_probe distinct lists
    import re

    m_in = re.search(r"cluster[^ ]* IN \(([^)]*)\)", plan)
    assert m_in, seg
    probed = {int(x) for x in m_in.group(1).split(",")}
    assert len(probed) <= 3 * 2


def test_ivfpq_stage_write_error_releases_pool(spark, sf_dir, tmp_path):
    """A failing IVF-PQ staging write propagates out of the call, and the
    staging pool's worker threads are joined before it does."""
    import threading

    from strategicai_visibility_loop_etl_spark.operators.similarity import (
        ivfpq_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    # A regular file where the stage directory's parent should be makes
    # every staging write fail.
    blocker = tmp_path / "not_a_dir"
    blocker.write_text("")
    before = set(threading.enumerate())
    with pytest.raises(Exception, match="not_a_dir"):
        ivfpq_topk(emb, qs, k=5, n_centroids=8, n_probe=2, m=8, ksub=8, iters=1,
                   rerank=16, stage_path=str(blocker / "st"))
    leaked = [t.name for t in threading.enumerate()
              if t not in before and t.name.startswith("ThreadPoolExecutor")]
    assert leaked == []


@pytest.mark.parametrize("op", ["ivf_topk", "ivfpq_topk"])
def test_staging_pool_jobs_carry_caller_job_group(spark, sf_dir, tmp_path, op):
    """The staging writes these operators run on their own pool threads
    carry the caller's job group, like the caller-thread jobs."""
    from strategicai_visibility_loop_etl_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    kw = dict(k=5, n_centroids=8, n_probe=2, iters=1)
    if op == "ivfpq_topk":
        kw.update(m=8, ksub=8, rerank=16)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    drain = sc._jsc.sc().listenerBus().waitUntilEmpty
    drain()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("g", op)
    try:
        getattr(similarity, op)(emb, qs, **kw, stage_path=str(tmp_path / "st")).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    drain()
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert tracker.getJobIdsForGroup("g")


def test_ivf_lists_stage_partitioned_and_pruned(spark, sf_dir, tmp_path):
    """Staged IVF inverted lists lay out Hive-partitioned by cluster
    and the search re-reads only probed lists (the row-143 layout
    contract applied to row 61): PartitionFilters carries the probe
    set, results identical to the unstaged plan."""
    import os
    import re

    from strategicai_visibility_loop_etl_spark.operators.similarity import (
        ivf_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    kw = dict(k=5, n_centroids=8, n_probe=2, iters=1)
    plain = ivf_topk(emb, qs, **kw).collect()
    staged_df = ivf_topk(emb, qs, **kw, stage_path=str(tmp_path / "st"))
    assert sorted(map(tuple, plain)) == sorted(map(tuple, staged_df.collect()))
    assert any(
        d.startswith("cluster=")
        for d in os.listdir(tmp_path / "st" / "lists")
    )
    plan = staged_df._jdf.queryExecution().executedPlan().toString()
    m_in = re.search(r"PartitionFilters: \[[^\]]*cluster[^\]]*IN \(([^)]*)\)", plan)
    assert m_in, plan[:2000]
    assert len({int(x) for x in m_in.group(1).split(",")}) <= 3 * 2


def test_simhash_pairs_null_fingerprints_quarantined(spark):
    """NULL fingerprints (undecodable media quarantined upstream) are
    excluded from banding — they can neither pair nor poison a
    bucket; bands parameter validates."""
    import pytest as _pytest

    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        simhash_pairs,
    )

    hashed = spark.createDataFrame(
        [(1, 42), (2, 42), (3, None), (4, None)], "id long, h long"
    )
    pairs = simhash_pairs(hashed, max_hamming=0, max_bucket=100).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs] == [(1, 2, 0)]
    with _pytest.raises(ValueError, match="divide"):
        simhash_pairs(hashed, bands=7)
    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(hashed, max_hamming=4, bands=4)


def test_ivf_stage_path_reuse_truncates_stale_lists(spark, sf_dir, tmp_path):
    """Re-staging at the same stage_path with a different corpus must
    fully replace the inverted lists: dynamic partition overwrite
    would keep partitions for clusters the new assignment left empty,
    and the pruned re-read would feed stale ids into top-k."""
    import pyspark.sql.functions as SF

    from strategicai_visibility_loop_etl_spark.operators.similarity import (
        ivf_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", SF.col("embedding").cast("array<double>").alias("embedding")
    )
    qs = emb.filter(SF.col("vec_id") < 3).select(
        SF.col("vec_id").alias("query_id"),
        SF.col("embedding").alias("query_vec"),
    )
    st = str(tmp_path / "st")
    # first stage: full corpus across 8 clusters
    ivf_topk(emb, qs, k=5, n_centroids=8, n_probe=2, iters=1,
             stage_path=st).collect()
    # second stage at the SAME path: a small disjoint corpus in fewer
    # clusters — every old list partition must be gone
    sub = emb.filter(SF.col("vec_id") >= 3).limit(12)
    sub_ids = {r["vec_id"] for r in sub.select("vec_id").collect()}
    got = ivf_topk(sub, qs, k=5, n_centroids=2, n_probe=2, iters=1,
                   stage_path=st)
    assert all(r["vec_id"] in sub_ids for r in got.collect())
    staged_ids = {
        r["vec_id"]
        for r in spark.read.parquet(f"{st}/lists").select("vec_id").collect()
    }
    assert staged_ids == sub_ids  # no stale rows from the first corpus


def test_token_cosine_pairs_hand_example(spark):
    """Exact cosine over tf vectors: dot products are exact BIGINT
    sums, norms sqrt-of-integer; hot terms (df > max_df) leave the
    similarity space entirely."""
    import math

    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        token_cosine_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "apple banana banana"),
            (3, "cherry durian elderberry"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in token_cosine_pairs(docs, threshold=0.1, max_df=100).collect()
    }
    # docs 1,2: tf vectors (2,1) and (1,2): cos = 4/5
    assert set(out) == {(1, 2)}
    assert out[(1, 2)] == round(4 / (math.sqrt(5) * math.sqrt(5)), 6)

    # make 'apple'/'banana' hot (df > 2): nothing shares a rare term
    hot = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "apple banana banana"),
            (3, "apple banana cherry"),
        ],
        "doc_id long, text string",
    )
    assert token_cosine_pairs(hot, threshold=0.1, max_df=2).count() == 0

    # k=3 gram mode: identical docs pair at cosine 1.0
    tri = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "z y x w v")],
        "doc_id long, text string",
    )
    got = token_cosine_pairs(tri, threshold=0.9, max_df=100, k=3).collect()
    assert [(r["id_a"], r["id_b"], r["cosine"]) for r in got] == [(1, 2, 1.0)]


def test_negative_pairs_deterministic_and_excluding(spark):
    """Hash-deterministic negatives: reproducible across
    partitionings, never the anchor itself, and excluded pairs are
    never served in either orientation."""
    from strategicai_visibility_loop_etl_spark.operators.similarity import (
        negative_pairs,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(40)], "doc_id long"
    )
    a = sorted(map(tuple, negative_pairs(docs, k=2).collect()))
    b = sorted(
        map(tuple, negative_pairs(docs.repartition(7), k=2).collect())
    )
    assert a == b and len(a) > 0
    assert all(anchor != neg for anchor, _, neg in a)
    assert all(1 <= d <= 2 for _, d, _ in a)

    # exclusion: whatever pairs were served, excluding them removes
    # or replaces them — they never reappear
    served = {(x, z) for x, _, z in a}
    ex = spark.createDataFrame(
        [(x, z) for x, z in list(served)[:5]], "id_a long, id_b long"
    )
    banned = {(x, z) for x, z in ex.collect()} | {
        (z, x) for x, z in ex.collect()
    }
    c = negative_pairs(docs, k=2, exclude_pairs=ex).collect()
    assert all((r["anchor_id"], r["negative_id"]) not in banned for r in c)


def test_negative_pairs_auto_buckets(spark):
    """The bucket count is B = max(16, floor(N/1000)) from a broadcast
    scalar subquery (here the N<16000 floor, B=16): output equals a
    pure-Python replay of the hashes at that B. The linearity
    contract: at fixed B total work is O(N^2/B) (the r13 decade
    measured 133x time for 10x data); deriving B pins bucket SIZE
    ~1000 instead, making work O(N*k*1000)."""
    from strategicai_visibility_loop_etl_spark.operators.similarity import (
        negative_pairs,
    )

    ids = range(40)
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = sorted(map(tuple, negative_pairs(docs, k=2).collect()))

    m31, m32, nb = 1 << 31, 1 << 32, 16
    cand_bucket = {c: (c % m31) * 2654435761 % m32 % nb for c in ids}
    want = []
    for a in ids:
        for d in (1, 2):
            b = ((a % m31) * 2654435761 + d * 40503) % m32 % nb
            cands = [
                ((((a % m31) * 31 + c % m31) % m31 * 2654435761 + d) % m32, c)
                for c in ids
                if cand_bucket[c] == b and c != a
            ]
            if cands:
                want.append((a, d, min(cands)[1]))
    assert got == sorted(want) and len(got) > 0


def test_negative_pairs_id_domain_contract(spark):
    """String ids raise (they would hash NULL and silently empty the
    output); huge int64 ids run without overflow and stay
    deterministic across partitionings (the mod-2^31 normalization)."""
    import pytest as _pytest

    from strategicai_visibility_loop_etl_spark.operators.similarity import (
        negative_pairs,
    )

    strs = spark.createDataFrame([("a",), ("b",)], "doc_id string")
    with _pytest.raises(ValueError, match="integral"):
        negative_pairs(strs)

    big = spark.createDataFrame(
        [((1 << 61) + i,) for i in range(30)], "doc_id long"
    )
    a = sorted(map(tuple, negative_pairs(big, k=2).collect()))
    b = sorted(
        map(tuple, negative_pairs(big.repartition(5), k=2).collect())
    )
    assert a == b and len(a) > 0
    assert all(x != z for x, _, z in a)
