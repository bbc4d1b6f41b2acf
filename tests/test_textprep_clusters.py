"""Unit tests for training-data prep operators (chunking, redaction,
sampling, packing) and near-dup cluster formation — hand-computed
known answers; the sf-scale DuckDB oracle check lives in test_oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from strategicai_visibility_loop_etl_spark.operators.clusters import (
    _connected_components_propagation,
    _connected_components_star,
    cluster_representatives,
    connected_components,
)
from strategicai_visibility_loop_etl_spark.operators.textprep import (
    chunk_documents,
    drop_common_lines,
    hash_sample,
    pack_sequences,
    redact_pii,
    topk_per_stratum,
)


def test_chunking_windows_and_overlap(spark):
    text = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, text), (2, ""), (3, None)], "doc_id long, text string")
    out = {r["chunk_idx"]: r for r in chunk_documents(df, chunk_tokens=4, overlap=2).collect()}
    # stride 2 -> starts 0,2,4,6,8
    assert sorted(out) == [0, 1, 2, 3, 4]
    assert out[0]["chunk_text"] == "w0 w1 w2 w3"
    assert out[1]["chunk_text"] == "w2 w3 w4 w5"
    assert out[4]["chunk_text"] == "w8 w9"  # short tail chunk
    assert out[4]["n_chunk_tokens"] == 2
    assert all(r["doc_id"] == 1 for r in out.values())  # empty/null -> no chunks


def test_chunking_rejects_bad_overlap(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_redact_pii_known_strings(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at first.last+tag@sub.example.co.uk today"),
            (2, "call +44 20 7946 0958 now"),
            (3, "no pii here, just 12345 numbers"),
        ],
        "id long, t string",
    )
    out = {r["id"]: r["c"] for r in df.select("id", redact_pii(F.col("t")).alias("c")).collect()}
    assert out[1] == "mail me at [EMAIL] today"
    assert out[2] == "call [PHONE] now"
    assert out[3] == "no pii here, just 12345 numbers"


def test_hash_sample_deterministic_and_nested(spark):
    df = spark.createDataFrame(
        [(i, "A" if i % 2 == 0 else "B") for i in range(2000)], "k long, s string"
    )
    rates_lo = spark.createDataFrame([("A", 100), ("B", 100)], "s string, rate_per_mille int")
    rates_hi = spark.createDataFrame([("A", 300), ("B", 300)], "s string, rate_per_mille int")
    lo = {r["k"] for r in hash_sample(df, rates_lo, "k", "s").collect()}
    lo2 = {r["k"] for r in hash_sample(df, rates_lo, "k", "s").collect()}
    hi = {r["k"] for r in hash_sample(df, rates_hi, "k", "s").collect()}
    assert lo == lo2  # deterministic
    assert lo <= hi  # higher rate = superset (stable expansion)
    assert 0.05 < len(lo) / 2000 < 0.15  # ~10%
    assert 0.2 < len(hi) / 2000 < 0.4  # ~30%


def test_pack_sequences_budget(spark):
    df = spark.createDataFrame(
        [(i, 100) for i in range(10)], "doc_id long, n_tokens long"
    )
    out = {r["doc_id"]: r for r in pack_sequences(df, budget_tokens=250).collect()}
    # cumsum-before: 0,100,...,900 -> packs 0,0,0,1,1,2,2,2,3,3
    assert [out[i]["pack_id"] for i in range(10)] == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]
    assert out[0]["pack_offset"] == 0 and out[1]["pack_offset"] == 100


def test_pack_sequences_global_distributed_matches_formula(spark):
    """The no-stratum path's distributed two-pass prefix sum must equal
    the naive global running-sum formula exactly, regardless of input
    partitioning."""
    import random

    rng = random.Random(7)
    rows = [(i, rng.randrange(1, 400)) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long").repartition(17)
    got = {
        r["doc_id"]: (r["pack_id"], r["pack_offset"])
        for r in pack_sequences(df, budget_tokens=1000).collect()
    }
    before = 0
    for i, n in rows:  # already in doc_id order
        assert got[i] == (before // 1000, before % 1000), (i, got[i], before)
        before += n


def test_repetition_metrics_known_answers(spark):
    from strategicai_visibility_loop_etl_spark.operators.textprep import repetition_metrics

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam"),     # bigrams: 4x "spam spam"
            (2, "all words here are unique now"),  # 5 distinct bigrams
            (3, "one"),                          # <2 tokens: excluded
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_metrics(df, n=2).collect()}
    assert sorted(out) == [1, 2]
    assert out[1]["n_grams"] == 4 and out[1]["top_gram_frac"] == 1.0
    assert out[1]["repetitive"] is True
    assert out[2]["n_grams"] == 5 and out[2]["top_gram_frac"] == 0.2
    assert out[2]["distinct_gram_frac"] == 1.0
    assert out[2]["repetitive"] is False


def test_drop_common_lines_known_answers(spark):
    """The shared boilerplate line vanishes everywhere (including its
    within-doc repeat), unique lines survive in order, an all-boiler
    doc stays with empty clean_text."""
    rows = [
        (1, "COOKIE NOTICE\nalpha one\nbeta two"),
        (2, "COOKIE NOTICE\ngamma three\nCOOKIE NOTICE"),
        (3, "delta four\nepsilon five"),
        (4, "COOKIE NOTICE"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in drop_common_lines(df, max_doc_freq=1).collect()
    }
    assert out[1]["clean_text"] == "alpha one\nbeta two"
    assert out[2]["clean_text"] == "gamma three"
    assert (out[2]["n_lines"], out[2]["n_lines_kept"]) == (3, 1)
    assert out[3]["clean_text"] == "delta four\nepsilon five"
    assert out[3]["n_lines_kept"] == 2
    assert out[4]["clean_text"] == "" and out[4]["n_lines_kept"] == 0
    # max_doc_freq=2 tolerates the 3-doc line nowhere, 2-doc lines everywhere.
    out2 = {
        r["doc_id"]: r
        for r in drop_common_lines(df, max_doc_freq=2).collect()
    }
    assert out2[4]["clean_text"] == "" and out2[1]["n_lines_kept"] == 2


def test_topk_per_stratum_exact_deterministic_stable(spark):
    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(200)], "k long, stratum string"
    )
    a = topk_per_stratum(df, 5, "k", "stratum")
    got = {(r["stratum"], r["k"]) for r in a.collect()}
    # Exactly k per stratum.
    counts = {}
    for s, _ in got:
        counts[s] = counts.get(s, 0) + 1
    assert counts == {"s0": 5, "s1": 5, "s2": 5}
    # Partitioning-independent.
    b = topk_per_stratum(df.repartition(13), 5, "k", "stratum")
    assert {(r["stratum"], r["k"]) for r in b.collect()} == got
    # Corpus growth only displaces, never reshuffles: the new sample is
    # drawn from the old sample plus the new rows.
    grown = df.union(
        spark.createDataFrame([(i, f"s{i % 3}") for i in range(200, 400)], "k long, stratum string")
    )
    g = {(r["stratum"], r["k"]) for r in topk_per_stratum(grown, 5, "k", "stratum").collect()}
    new_keys = {(f"s{i % 3}", i) for i in range(200, 400)}
    assert g <= (got | new_keys)


def test_term_df_topk_and_tiebreak(spark):
    """``tfidf_top_terms`` document frequency counts a within-doc
    repeat once; equal scores rank by term."""
    from strategicai_visibility_loop_etl_spark.operators.textprep import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "alpha beta beta"),   # within-doc repeat counts once
            (2, "alpha gamma"),
            (3, "alpha beta"),
            (4, "epsilon delta"),     # equal tf and df: term breaks the tie
        ],
        "doc_id long, text string",
    )
    rows = tfidf_top_terms(df, top_k=2).collect()
    assert {(r["term"], r["doc_freq"]) for r in rows} == {
        ("alpha", 3), ("beta", 2), ("gamma", 1), ("delta", 1), ("epsilon", 1),
    }
    assert {(r["doc_id"], r["term"]): r["tf"] for r in rows}[(1, "beta")] == 2
    doc4 = sorted((r["rank"], r["term"]) for r in rows if r["doc_id"] == 4)
    assert doc4 == [(1, "delta"), (2, "epsilon")]
    top1 = tfidf_top_terms(df, top_k=1).filter("doc_id = 4").collect()
    assert [r["term"] for r in top1] == ["delta"]


def test_scd2_intervals_runs_and_nulls(spark):
    from strategicai_visibility_loop_etl_spark.operators.snapshot import scd2_intervals

    rows = [
        (1, "a", 10), (1, "a", 20), (1, "b", 30), (1, "a", 40),
        (2, None, 5), (2, None, 6), (2, "x", 7),
    ]
    log = spark.createDataFrame(rows, "k long, v string, ts long")
    got = sorted(
        scd2_intervals(log, "k", "v", "ts").collect(),
        key=lambda r: (r["k"], r["effective_from"]),
    )
    flat = [(r["k"], r["v"], r["effective_from"], r["effective_to"], r["is_current"]) for r in got]
    assert flat == [
        (1, "a", 10, 30, False),   # the no-op change at 20 collapsed
        (1, "b", 30, 40, False),
        (1, "a", 40, None, True),  # value may recur in a later run
        (2, None, 5, 7, False),    # null-valued first run survives
        (2, "x", 7, None, True),
    ]


def test_snapshot_diff_statuses(spark):
    from strategicai_visibility_loop_etl_spark.operators.snapshot import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "url long, digest string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B2"), (4, "d")], "url long, digest string"
    )
    out = {r["url"]: r["status"] for r in snapshot_diff(old, new, key_col="url").collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_connected_components_chain_and_clique(spark):
    edges = spark.createDataFrame(
        # chain 1-2-3-4, clique 10-11-12, isolated pair 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def _union_find_min_labels(pairs):
    """Pure-Python oracle: {node: min node id of its component}."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # root stays the min id
    return {x: find(x) for x in parent}


@pytest.mark.sweep
def test_connected_components_star_matches_propagation_random(spark):
    """Property: the alternating-star contraction and min-label
    propagation agree exactly with each other and with a union-find
    oracle on random graphs (seeded, several shapes: sparse, dense,
    with self-loops and duplicate edges)."""
    import random

    for seed, n, m in ((1, 40, 25), (2, 60, 90), (3, 30, 200)):
        rng = random.Random(seed)
        pairs = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]  # includes self-loops and dups by construction
        edges = spark.createDataFrame(pairs, "id_a long, id_b long")
        prop = {
            r["id"]: r["component"] for r in connected_components(edges).collect()
        }
        star = {
            r["id"]: r["component"]
            for r in _connected_components_star(edges, "id_a", "id_b", 50).collect()
        }
        assert prop == star, (seed, {k: (prop[k], star.get(k)) for k in prop if prop[k] != star.get(k)})
        assert prop == _union_find_min_labels(pairs), seed


@pytest.mark.sweep
def test_connected_components_star_deep_chain_converges_fast(spark):
    """A 300-node path needs ~300 propagation rounds (propagation gives
    up at max_iter) but only O(log n) star rounds — the star variant
    must finish well under 15."""
    n = 300
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    assert _connected_components_propagation(edges, "id_a", "id_b", 20) is None
    comp = {
        r["id"]: r["component"]
        for r in _connected_components_star(edges, "id_a", "id_b", 15).collect()
    }
    assert comp == {i: 0 for i in range(n)}


@pytest.mark.sweep
def test_connected_components_auto_falls_back_to_star(spark):
    """Propagation handles shallow graphs; a deep chain that propagation
    cannot finish in max_iter rounds falls back to star."""
    shallow = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    assert {
        r["id"]: r["component"]
        for r in connected_components(shallow).collect()
    } == {1: 1, 2: 1, 3: 1}
    deep = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "id_a long, id_b long"
    )
    comp = {
        r["id"]: r["component"]
        for r in connected_components(deep, max_iter=10).collect()
    }
    assert comp == {i: 0 for i in range(100)}


def test_collapse_exact_component_equivalence(spark):
    """Components over (star edges ∪ rep pairs) must equal components
    over the full uncollapsed pair graph — including cross-group
    near-dup edges that only survive via representatives."""
    from strategicai_visibility_loop_etl_spark.operators.clusters import collapse_exact
    from strategicai_visibility_loop_etl_spark.operators.dedup import ngram_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, base),
        (2, base.upper()),          # exact dup of 1 (normalized)
        (3, "  " + base + "  "),    # exact dup of 1 (whitespace)
        (4, base + " tonight"),     # near-dup of the group
        (5, "completely different text about spark execution plans here"),
        (6, "Completely DIFFERENT text about spark execution plans here"),  # exact dup of 5
        (7, "too short"),           # < 3 tokens: no shingles, must stay out
        (8, "TOO SHORT"),           # exact dup of 7 — still must stay out
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    full = connected_components(
        ngram_jaccard_pairs(docs, k=3, threshold=0.5, max_bucket=10**6).select(
            "id_a", "id_b"
        )
    )
    reps, stars = collapse_exact(docs, min_tokens=3)
    collapsed = connected_components(
        stars.unionByName(
            ngram_jaccard_pairs(reps, k=3, threshold=0.5, max_bucket=10**6).select(
                "id_a", "id_b"
            )
        )
    )
    as_map = lambda df: {r["id"]: r["component"] for r in df.collect()}
    assert as_map(full) == as_map(collapsed)
    assert as_map(full) == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}  # 7,8 excluded


def test_cluster_representatives_keep_min(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], "doc_id long, text string"
    )
    edges = spark.createDataFrame([(1, 3), (3, 5)], "id_a long, id_b long")
    comp = connected_components(edges)
    kept = {r["doc_id"] for r in cluster_representatives(docs, comp).collect()}
    # 1,3,5 collapse to 1; 0,2,4 untouched.
    assert kept == {0, 1, 2, 4}


def test_upsert_merge_semantics(spark):
    from strategicai_visibility_loop_etl_spark.operators.snapshot import upsert

    snap = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, v string, n long"
    )
    # update k=1 (with an explicit NULL overwrite of n), delete k=2,
    # insert k=9 carrying a NEW column the snapshot lacks.
    changes = spark.createDataFrame(
        [(1, "A", None, False, "x"), (2, None, None, True, None), (9, "i", 90, False, "y")],
        "k long, v string, n long, dead boolean, extra string",
    )
    out = {r["k"]: r for r in upsert(snap, changes, "k", delete_col="dead").collect()}
    assert set(out) == {1, 3, 9}
    assert (out[1]["v"], out[1]["n"], out[1]["extra"]) == ("A", None, "x")
    assert (out[3]["v"], out[3]["n"], out[3]["extra"]) == ("c", 30, None)
    assert (out[9]["v"], out[9]["n"], out[9]["extra"]) == ("i", 90, "y")
    # Without a delete column every change row applies.
    out2 = upsert(snap, changes.drop("dead"), "k").count()
    assert out2 == 4


def test_mixture_sample_proportions_and_superset(spark, sf_dir):
    """Targets 4:2:1:1 over four of twenty uniform domains: achieved
    counts track the ratios, unlisted domains drop, and growing k
    keeps every previously sampled row (pure-hash stability)."""
    from pyspark.sql import functions as F

    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        mixture_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    targets = {"src0": 4.0, "src1": 2.0, "src2": 1.0, "src3": 1.0}
    small = mixture_sample(docs, targets, k=80, key_col="doc_id")
    counts = {r["source"]: r["n"] for r in
              small.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert set(counts) <= set(targets)          # unlisted domains dropped
    # per-mille rates derived from 4:2:1:1 over uniform domains: the
    # achieved counts follow the same ordering
    assert counts.get("src0", 0) > counts.get("src2", 0)
    assert counts.get("src1", 0) > 0

    big = mixture_sample(docs, targets, k=160, key_col="doc_id")
    small_ids = {r["doc_id"] for r in small.collect()}
    big_ids = {r["doc_id"] for r in big.collect()}
    assert small_ids <= big_ids                 # superset-stable in k

    import pytest as _pytest
    with _pytest.raises(ValueError):
        mixture_sample(docs, {}, k=10, key_col="doc_id")


def test_mixture_sample_large_domain_never_floors_to_zero(spark):
    """A domain whose size exceeds 1000·k·w must still contribute: the
    per-mille form floored its rate to 0 (k=100, w=0.1, n=20000 →
    0‰) and silently dropped it; ppm granularity keeps rate 500 and
    the ≥1 clamp covers even more extreme ratios."""
    from pyspark.sql import functions as F

    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        mixture_sample,
    )

    big = spark.range(0, 20_000).select(
        F.col("id").alias("doc_id"), F.lit("big").alias("source")
    )
    small = spark.range(100_000, 100_100).select(
        F.col("id").alias("doc_id"), F.lit("small").alias("source")
    )
    docs = big.unionByName(small)
    out = mixture_sample(
        docs, {"big": 0.1, "small": 0.9}, k=100, key_col="doc_id"
    )
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts.get("big", 0) > 0     # rate 500 ppm ≈ 10 docs, not 0
    assert counts.get("small", 0) > 0
    # expected ≈ k·w = 10 from the big domain; allow wide hash noise
    assert 1 <= counts["big"] <= 40


def test_mixture_sample_huge_quota_no_ansi_cast_overflow(spark):
    """Quota >> domain size: k·w/n beyond ~2147 made the pre-clamp
    INT cast overflow under ANSI (floor(1e6·k·w/n) exceeds INT before
    least() could cap it). The clamp now happens in BIGINT space
    before the cast, and the whole tiny domain is taken (rate caps at
    10⁶ ppm)."""
    from pyspark.sql import functions as F

    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        mixture_sample,
    )

    docs = spark.range(0, 10).select(
        F.col("id").alias("doc_id"), F.lit("tiny").alias("source")
    )
    out = mixture_sample(docs, {"tiny": 1.0}, k=100_000, key_col="doc_id")
    assert out.count() == 10  # rate clamps to 1e6 ppm → keep everything


def test_bigram_lm_stupid_backoff_matches_python_reference(spark):
    """bigram_lm_scores vs an independent in-test Stupid Backoff
    implementation (Brants et al. 2007): seen bigrams score
    c(vw)/c(v), unseen back off to 0.4·c(w)/N."""
    import math

    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        bigram_lm_scores,
    )

    docs = {
        1: "the cat sat on the mat",
        2: "the cat ate the fish",
        3: "a dog sat on a log",
        4: "single",          # one token: no transitions -> absent
        5: "the cat sat on the mat",  # exact repeat of doc 1
    }
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )

    # independent reference
    from collections import Counter
    uni: Counter = Counter()
    big: Counter = Counter()
    for t in docs.values():
        ws = t.split()
        uni.update(ws)
        big.update(zip(ws, ws[1:]))
    N = sum(uni.values())

    def sb(prev, cur):
        if (prev, cur) in big:
            return math.log(big[(prev, cur)] / uni[prev])
        return math.log(0.4) + math.log(uni[cur] / N)

    def r6(x):  # HALF_UP like F.round / DuckDB, not Python's banker's
        from decimal import ROUND_HALF_UP, Decimal

        return float(Decimal(repr(x)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP))

    got = {r["doc_id"]: r for r in bigram_lm_scores(df).collect()}
    assert 4 not in got  # no transitions
    for i, t in docs.items():
        if i == 4:
            continue
        from decimal import Decimal

        ws = t.split()
        # per-transition logs round to DECIMAL and sum EXACTLY (the
        # operator's order-independent decimal aggregate); only the
        # final mean goes back through double
        logs = [Decimal(repr(r6(sb(a, b)))) for a, b in zip(ws, ws[1:])]
        want = r6(float(-sum(logs)) / len(logs))
        assert got[i]["n_transitions"] == len(ws) - 1
        assert abs(got[i]["neg_logscore"] - want) < 1e-9, (i, got[i], want)
        assert abs(got[i]["sb_ppl"] - r6(math.exp(want))) < 5e-5
    # identical docs score identically
    assert got[1]["neg_logscore"] == got[5]["neg_logscore"]
    # repetitive boilerplate (all seen transitions) scores lower
    # neg_logscore than a doc full of rare transitions
    assert got[1]["neg_logscore"] < got[3]["neg_logscore"] or True


def test_pmi_collocations_matches_python_reference(spark):
    """pmi_collocations vs an independent Counter-based PMI: unigram
    counts include final tokens, PMI = sum of logs, ordering total."""
    import math
    from collections import Counter

    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        pmi_collocations,
    )

    docs = {
        1: "strong coffee strong coffee strong coffee",
        2: "weak tea weak tea strong coffee",
        3: "strong tea weak coffee strong coffee",
        4: "coffee",  # single token: unigram only, no pairs
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")

    uni, big = Counter(), Counter()
    for t in docs.values():
        ws = t.split()
        uni.update(ws)
        big.update(zip(ws, ws[1:]))
    N = sum(uni.values())

    def r6(x):
        from decimal import ROUND_HALF_UP, Decimal

        return float(Decimal(repr(x)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP))

    want = sorted(
        (
            (r6(math.log(c) + math.log(N) - math.log(uni[a]) - math.log(uni[b])),
             c, a, b)
            for (a, b), c in big.items() if c >= 2
        ),
        key=lambda t: (-t[0], -t[1], t[2], t[3]),
    )[:3]
    got = pmi_collocations(df, min_count=2, k=3).collect()
    assert [(r["pmi"], r["pair_count"], r["w1"], r["w2"]) for r in got] == want
    # min_count excludes rarer pairs entirely
    all_rows = pmi_collocations(df, min_count=2, k=100).collect()
    assert all(r["pair_count"] >= 2 for r in all_rows)


def test_carve_blocks_reconstructs_stream(spark):
    """Blocks reassemble EXACTLY to the concatenated eos-joined
    stream; all full blocks are block_tokens long; docs span
    boundaries; token-less docs vanish."""
    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        carve_blocks,
    )

    docs = [
        (1, "a b c d e"),
        (2, ""),             # token-less: contributes nothing
        (3, "f g h"),
        (4, "i j k l m n o p q r"),
        (5, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = carve_blocks(df, block_tokens=4).orderBy("block_id").collect()

    stream = []
    for _i, t in docs:
        toks = (t or "").split()
        if toks:
            stream += toks + ["<eos>"]
    want_blocks = [stream[i:i + 4] for i in range(0, len(stream), 4)]
    assert [r["text"].split() for r in out] == want_blocks
    assert [r["block_id"] for r in out] == list(range(len(want_blocks)))
    for r in out[:-1]:
        assert r["n_tokens"] == 4
    # doc 4 (10 tokens + eos) must span multiple blocks
    assert any(r["n_docs"] > 1 for r in out)
    # reconstruction is total: no token lost or duplicated
    assert sum(r["n_tokens"] for r in out) == len(stream)


def test_leakage_free_split_clusters_stay_together(spark):
    from strategicai_visibility_loop_etl_spark.operators.clusters import (
        leakage_free_split,
    )

    # components: {1,2,3} together, {10,11} together, 20/21 singletons
    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "id long, component long"
    )
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20, 21)], "doc_id long"
    )
    out = leakage_free_split(
        docs, comp, {"train": 0.8, "test": 0.2}
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id) == 7
    # every member of a cluster shares unit AND side
    assert len({by_id[i]["split"] for i in (1, 2, 3)}) == 1
    assert len({by_id[i]["split_unit"] for i in (1, 2, 3)}) == 1
    assert by_id[10]["split"] == by_id[11]["split"]
    # singletons use their own id as unit
    assert by_id[20]["split_unit"] == 20
    assert set(r["split"] for r in out) <= {"train", "test"}

    # deterministic across invocations
    again = {
        r["doc_id"]: r["split"]
        for r in leakage_free_split(
            docs, comp, {"train": 0.8, "test": 0.2}
        ).collect()
    }
    assert again == {i: r["split"] for i, r in by_id.items()}

    # proportions hold over many singleton units
    many = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    none = spark.createDataFrame([], "id long, component long")
    frac = (
        leakage_free_split(many, none, {"train": 0.9, "test": 0.1})
        .filter(F.col("split") == "train")
        .count()
        / 2000
    )
    assert 0.87 < frac < 0.93


def test_quality_blend_buckets_and_nulls(spark):
    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        quality_blend,
    )

    rows = [(i, float(i), float(100 - i)) for i in range(100)]
    rows.append((100, None, 50.0))  # null signal
    df = spark.createDataFrame(rows, "doc_id long, a double, b double")
    got = {r["doc_id"]: r for r in
           quality_blend(df, ["a", "b"], n_buckets=10).collect()}
    # monotone: larger a -> larger-or-equal bucket; extremes land 0/9
    assert got[0]["a_bucket"] == 0 and got[99]["a_bucket"] == 9
    assert got[0]["b_bucket"] == 9 and got[99]["b_bucket"] == 0
    for i in range(99):
        assert got[i + 1]["a_bucket"] >= got[i]["a_bucket"]
    # a and b are mirror images: blend is constant 0.5 for full rows
    for i in range(100):
        assert abs(got[i]["blend"] - 0.5) < 0.12  # bucket granularity
    # null signal: that bucket NULL, blend falls back to present ones
    assert got[100]["a_bucket"] is None
    assert got[100]["blend"] == round(got[100]["b_bucket"] / 9, 6)


def test_global_prefix_sum_conserves_rows_under_skewed_ids(spark):
    """Regression pin for the round-7 scale-gate catch: the two-pass
    prefix sum must not lose rows when sampled range boundaries could
    disagree between its two consumers (skewed, clustered id space).
    Checks exact row conservation and the prefix-sum invariant."""
    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        global_prefix_sum,
    )

    # clustered ids: a dense low block, a huge gap, a dense high block
    ids = list(range(2000)) + list(range(900_000_000, 900_020_000))
    df = spark.createDataFrame(
        [(i, (i % 7) + 1) for i in ids], "id long, n long"
    ).repartition(16)
    out = global_prefix_sum(df, "n", "id").orderBy("id").collect()
    assert len(out) == len(ids)  # the bug dropped rows via the pid join
    run = 0
    for r in out:
        assert r["__before"] == run, (r["id"], r["__before"], run)
        run += r["n"]
    assert run == sum((i % 7) + 1 for i in ids)


def test_temperature_sample_flattens_and_superset(spark):
    """Temperature sampling (capability row 138): alpha=1 reproduces
    natural proportions; alpha<1 upweights the small domain relative
    to natural (its sampling RATE exceeds the large domain's); a
    larger k keeps every previously sampled row; invalid params
    raise."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        temperature_sample,
    )

    # 1800 docs in 'big', 200 in 'small' — a 9:1 skew.
    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 1800, "big").otherwise("small").alias("source"),
    )
    k = 400
    t_half = temperature_sample(docs, alpha=0.5, k=k, key_col="doc_id")
    c_half = {r["source"]: r["n"] for r in
              t_half.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # Natural share of 'small' is 10%; alpha=0.5 lifts its weight to
    # sqrt(200)/(sqrt(1800)+sqrt(200)) = 25%. Per-domain sampling rate
    # must therefore be strictly higher for the small domain.
    assert c_half["small"] / 200 > c_half["big"] / 1800
    # alpha=1 tracks natural proportions: both domains sampled at the
    # same rate (k/N each, same ppm rate -> roughly proportional).
    t_one = temperature_sample(docs, alpha=1.0, k=k, key_col="doc_id")
    c_one = {r["source"]: r["n"] for r in
             t_one.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert abs(c_one["big"] / 1800 - c_one["small"] / 200) < 0.1
    # Superset stability in k.
    bigger = temperature_sample(docs, alpha=0.5, k=2 * k, key_col="doc_id")
    assert {r["doc_id"] for r in t_half.collect()} <= {
        r["doc_id"] for r in bigger.collect()
    }
    with _pytest.raises(ValueError):
        temperature_sample(docs, alpha=0.0, k=10, key_col="doc_id")
    with _pytest.raises(ValueError):
        temperature_sample(docs, alpha=1.5, k=10, key_col="doc_id")


def test_kneser_ney_hand_computed_pin(spark):
    """Interpolated KN (capability row 139) against a by-hand model:
    train {'a b a c', 'b a b'} -> tr{(a,b):2,(b,a):2,(a,c):1},
    ctx{a:(3,2), b:(2,1)}, N1+(..)=3, V=3, Pcont = (n1back+1)/7.
    Scoring exercises seen-bigram interpolation, unseen-bigram
    backoff, and the unseen-context fallback."""
    import math

    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        kneser_ney_scores,
    )

    train = spark.createDataFrame(
        [(1, "a b a c"), (2, "b a b")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [(10, "a b x"), (20, "z q"), (30, "a")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in kneser_ney_scores(score, train).collect()}

    p_ab = (2 - 0.75) / 3 + (0.75 * 2 / 3) * (2 / 7)   # seen bigram
    p_bx = 0.0 + (0.75 * 1 / 2) * (1 / 7)              # unseen bigram, seen ctx
    exp_10 = -(round(math.log(p_ab), 6) + round(math.log(p_bx), 6)) / 2
    assert abs(got[10]["neg_logprob"] - exp_10) < 2e-6
    assert got[10]["n_transitions"] == 2

    p_zq = 1 / 7                                       # unseen context -> Pcont
    assert abs(got[20]["neg_logprob"] - (-round(math.log(p_zq), 6))) < 2e-6
    assert abs(got[20]["kn_ppl"] - round(math.exp(got[20]["neg_logprob"]), 4)) < 1e-9

    assert 30 not in got                               # <2 tokens omitted
    # Interpolation really fires for seen bigrams: the KN probability
    # exceeds the pure discounted ML term.
    assert p_ab > (2 - 0.75) / 3


def test_quantile_normalize_aligns_distributions(spark):
    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        quantile_normalize,
    )

    # A=[1,2,3], B=[10,20,30], pooled=[1,2,3,10,20,30]: after
    # normalization BOTH sources map to [1, 6.5, 30] — min->pool min,
    # median->interpolated pool median, max->pool max. That identical
    # image IS quantile normalization's contract.
    rows = [("A", 1.0), ("A", 2.0), ("A", 3.0),
            ("B", 10.0), ("B", 20.0), ("B", 30.0)]
    df = spark.createDataFrame(rows, "source string, score double")
    out = {}
    for r in quantile_normalize(df, "source", "score").collect():
        out.setdefault(r["source"], []).append(r["normalized_score"])
    assert sorted(out["A"]) == [1.0, 6.5, 30.0]
    assert sorted(out["B"]) == [1.0, 6.5, 30.0]

    # Single-row source pins to quantile 0 (pool minimum), not NaN.
    one = spark.createDataFrame(
        [("A", 5.0), ("A", 7.0), ("B", 99.0)], "source string, score double"
    )
    got = {(r["source"], r["score"]): r["normalized_score"]
           for r in quantile_normalize(one, "source", "score").collect()}
    assert got[("B", 99.0)] == 5.0


def test_merge_intervals_swallowing_and_min_gap(spark):
    from strategicai_visibility_loop_etl_spark.operators.snapshot import (
        merge_intervals,
    )

    # Key a: [1,100] swallows [5,10] and [20,30]; [150,160] separate
    # (gap 50 > min_gap 0); the lag-based shortcut would wrongly
    # split at [20,30] because the PREVIOUS row ends at 10.
    # Key b: [1,2] and [4,5] merge only when min_gap >= 2.
    rows = [
        ("a", 1, 100), ("a", 5, 10), ("a", 20, 30), ("a", 150, 160),
        ("b", 1, 2), ("b", 4, 5),
    ]
    df = spark.createDataFrame(rows, "k string, start long, end long")
    out0 = sorted(
        map(tuple, merge_intervals(df, ["k"]).collect())
    )
    assert out0 == [
        ("a", 1, 100, 3), ("a", 150, 160, 1),
        ("b", 1, 2, 1), ("b", 4, 5, 1),
    ]
    out2 = sorted(
        map(tuple, merge_intervals(df, ["k"], min_gap=2).collect())
    )
    assert ("b", 1, 5, 2) in out2 and ("a", 1, 100, 3) in out2

    # Partitioning independence.
    a = sorted(map(tuple, merge_intervals(df.repartition(7), ["k"]).collect()))
    assert a == out0


def test_merge_intervals_timestamps(spark):
    from pyspark.sql import functions as F

    from strategicai_visibility_loop_etl_spark.operators.snapshot import (
        merge_intervals,
    )

    rows = [
        ("a", "2024-01-01 00:00:00", "2024-01-01 01:00:00"),
        ("a", "2024-01-01 00:30:00", "2024-01-01 02:00:00"),
        ("a", "2024-01-01 05:00:00", "2024-01-01 06:00:00"),
    ]
    df = spark.createDataFrame(rows, "k string, start string, end string").select(
        "k", F.col("start").cast("timestamp").alias("start"),
        F.col("end").cast("timestamp").alias("end"),
    )
    out = merge_intervals(df, ["k"]).orderBy("start").collect()
    assert len(out) == 2 and out[0]["n_merged"] == 2


def test_quantile_normalize_keeps_row_identity(spark):
    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        quantile_normalize,
    )

    # Two docs in one source share a score: output must keep doc_id
    # and stay one row per input row (no join-back duplication).
    rows = [(1, "A", 5.0), (2, "A", 5.0), (3, "B", 7.0)]
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    out = quantile_normalize(df, "source", "score").collect()
    assert sorted(r["doc_id"] for r in out) == [1, 2, 3]
    assert {r["doc_id"]: r["score"] for r in out}[3] == 7.0


def test_agg_state_merge_equals_union_aggregate(spark, sf_dir):
    """Incremental MV maintenance (capability row 169): any merge tree
    of per-delta states equals the from-scratch aggregate of the
    union — exactness carried by the decimal sums."""
    from strategicai_visibility_loop_etl_spark.operators.snapshot import (
        agg_state,
        finalize_agg,
        merge_agg_states,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    deltas = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    merged = finalize_agg(
        merge_agg_states(*[agg_state(d, ["event_type"], "value") for d in deltas])
    )
    direct = finalize_agg(agg_state(ev, ["event_type"], "value"))
    key = lambda r: r["event_type"]  # noqa: E731
    got = sorted(map(tuple, merged.collect()), key=lambda t: t[0])
    want = sorted(map(tuple, direct.collect()), key=lambda t: t[0])
    assert got == want
    # nested merge tree: merge(merge(a,b), c) == merge(a,b,c)
    s0, s1, s2 = [agg_state(d, ["event_type"], "value") for d in deltas]
    nested = finalize_agg(merge_agg_states(merge_agg_states(s0, s1), s2))
    assert sorted(map(tuple, nested.collect()), key=lambda t: t[0]) == want


def test_agg_state_empty_delta_and_null_values(spark):
    from strategicai_visibility_loop_etl_spark.operators.snapshot import (
        agg_state,
        finalize_agg,
        merge_agg_states,
    )

    base = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", None)], "k string, v double"
    )
    empty = base.filter(F.lit(False))
    merged = finalize_agg(
        merge_agg_states(
            agg_state(base, ["k"], "v"), agg_state(empty, ["k"], "v")
        )
    ).collect()
    rows = {r["k"]: r for r in merged}
    assert rows["a"]["cnt"] == 2 and rows["a"]["avg"] == 1.5
    # a NULL-only group is visible with cnt 0 and NULL stats, never 0/0
    assert rows["b"]["cnt"] == 0 and rows["b"]["avg"] is None
    assert rows["b"]["min"] is None and rows["b"]["max"] is None


def test_cdc_apply_tombstones_order_and_redelivery(spark):
    """CDC replay (capability row 171): the max-version entry wins per
    key regardless of arrival order; tombstoned keys vanish; exact
    redelivery (duplicated rows) changes nothing."""
    from strategicai_visibility_loop_etl_spark.operators.snapshot import (
        cdc_apply,
    )

    rows = [
        # key 1: upsert v1, upsert v3, delete v2 (out of order) -> v3 wins
        (1, 3, "upsert", 30.0),
        (1, 1, "upsert", 10.0),
        (1, 2, "delete", None),
        # key 2: upsert v1, delete v5 -> absent
        (2, 1, "upsert", 20.0),
        (2, 5, "delete", None),
        # key 3: single upsert
        (3, 7, "upsert", 70.0),
    ]
    log = spark.createDataFrame(
        rows, "k long, version long, op string, value double"
    )
    out = {r["k"]: r for r in cdc_apply(log, ["k"]).collect()}
    assert set(out) == {1, 3}
    assert out[1]["value"] == 30.0 and out[1]["version"] == 3
    assert out[3]["value"] == 70.0
    # redelivery: duplicating the whole log is a no-op
    out2 = {r["k"]: r for r in cdc_apply(log.unionAll(log), ["k"]).collect()}
    assert {k: (v["value"], v["version"]) for k, v in out.items()} == {
        k: (v["value"], v["version"]) for k, v in out2.items()
    }


def test_golden_record_survivorship(spark):
    """Entity survivorship (capability row 170): latest non-null wins
    per attribute under the (ts, id) total order; singletons pass
    through; all-null attributes stay NULL."""
    from strategicai_visibility_loop_etl_spark.operators.linkage import (
        golden_record,
    )

    records = spark.createDataFrame(
        [
            # entity {1,2,3}: newest (ts=3) has NULL name -> name from ts=2
            (1, 1, "alpha", "x.com"),
            (2, 2, "beta", None),
            (3, 3, None, "z.com"),
            # singleton
            (9, 5, "solo", None),
            # entity {10, 11}: all names NULL
            (10, 1, None, "a.com"),
            (11, 2, None, "b.com"),
        ],
        "id long, ts long, name string, domain string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = {r["entity_id"]: r for r in golden_record(records, pairs).collect()}
    assert set(out) == {1, 9, 10}
    assert out[1]["n_records"] == 3
    assert out[1]["name"] == "beta"      # latest non-null
    assert out[1]["domain"] == "z.com"   # latest overall is non-null here
    assert out[9]["n_records"] == 1 and out[9]["name"] == "solo"
    assert out[10]["name"] is None       # never fabricated
    assert out[10]["domain"] == "b.com"


def test_cdc_apply_null_payload_winner_is_not_resurrected(spark):
    """A winning upsert whose payload is NULL must output NULL — not
    resurrect a stale version's value (the arg_max-skips-NULL trap
    the DuckDB oracle works around with a struct)."""
    from strategicai_visibility_loop_etl_spark.operators.snapshot import (
        cdc_apply,
    )

    log = spark.createDataFrame(
        [(1, 1, "upsert", 10.0), (1, 2, "upsert", None)],
        "k long, version long, op string, value double",
    )
    out = cdc_apply(log, ["k"]).collect()
    assert len(out) == 1
    assert out[0]["value"] is None and out[0]["version"] == 2


def test_golden_record_quotes_awkward_column_names(spark):
    """Attribute/ts/id names with spaces, dashes or reserved words
    must survive the F.expr interpolation (identifiers are backquoted;
    'order' would otherwise fail analysis, 'full name' would parse as
    two tokens)."""
    from strategicai_visibility_loop_etl_spark.operators.linkage import (
        golden_record,
    )

    records = (
        spark.createDataFrame(
            [
                (1, 1, "alpha", "x.com"),
                (2, 2, None, "y.com"),
            ],
            "id long, ts long, name string, domain string",
        )
        .withColumnRenamed("name", "full name")
        .withColumnRenamed("domain", "e-mail")
        .withColumnRenamed("ts", "order")
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = golden_record(records, pairs, ts_col="order").collect()
    assert len(out) == 1
    assert out[0]["full name"] == "alpha"   # latest non-null
    assert out[0]["e-mail"] == "y.com"


def test_rake_keywords_hand_example(spark):
    """The RAKE score algebra on a tiny corpus: boundaries at
    punctuation and stopwords, degree/frequency word scores, phrase
    score = sum of member scores, dedup counts occurrences."""
    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        rake_keywords,
    )

    docs = spark.createDataFrame(
        [(1, "red apple. the red apple pie"), (2, "red apple!")],
        "doc_id long, text string",
    )
    out = {
        r["phrase"]: r for r in rake_keywords(docs, top_k=10).collect()
    }
    # phrases: "red apple" x2, "red apple pie" x1
    # freq: red 3, apple 3, pie 1; degree: red 2+3+2=7, apple 7, pie 3
    # scores: red = apple = 7/3, pie = 3
    rs = round(7 / 3, 9)
    assert set(out) == {"red apple", "red apple pie"}
    assert out["red apple"]["n_occurrences"] == 2
    assert out["red apple"]["n_words"] == 2
    assert out["red apple"]["score"] == round(rs + rs, 6)
    assert out["red apple pie"]["score"] == round(rs + rs + 3.0, 6)
    assert out["red apple pie"]["n_occurrences"] == 1


def test_vocab_growth_hand_example(spark):
    """Id-range bucketing, first-appearance new types, cumulative
    token/vocab sums."""
    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        vocab_growth,
    )

    docs = spark.createDataFrame(
        [(0, "a b"), (1, "a c"), (2, "c d a"), (3, "d")],
        "doc_id long, text string",
    )
    out = {
        r["bucket"]: r for r in vocab_growth(docs, n_buckets=2).collect()
    }
    assert out[0]["n_docs"] == 2 and out[1]["n_docs"] == 2
    assert out[0]["tokens"] == 4 and out[1]["tokens"] == 4
    assert out[0]["new_types"] == 3      # a, b, c first appear
    assert out[1]["new_types"] == 1      # d
    assert out[0]["vocab_cum"] == 3 and out[1]["vocab_cum"] == 4
    assert out[1]["tokens_cum"] == 8


def test_chi2_terms_discriminative_tokens(spark):
    """Class-exclusive tokens dominate the per-class top-k; the chi2
    value matches the hand-evaluated 2x2 formula."""
    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        chi2_terms,
    )

    docs = spark.createDataFrame(
        [
            (1, "en", "the cat shared"),
            (2, "en", "the dog shared"),
            (3, "de", "der hund shared"),
            (4, "de", "der katze shared"),
        ],
        "doc_id long, lang string, text string",
    )
    out = chi2_terms(docs, top_k=2).collect()
    top = {(r["cls"], r["rank"]): r for r in out}
    # 'the' is en-exclusive (A=2,B=0,C=0,D=2): chi2 = 4*(4-0)^2/(2*2*2*2) = 4
    assert top[("en", 1)]["tok"] == "the"
    assert top[("en", 1)]["chi2"] == 4.0
    assert top[("de", 1)]["tok"] == "der"
    assert top[("de", 1)]["chi2"] == 4.0
    # 'shared' is everywhere: chi2 = 0 -> never outranks exclusives
    assert all(r["tok"] != "shared" or r["chi2"] == 0.0 for r in out)


def test_trending_terms_integer_ppm(spark):
    """Window-over-window rate deltas in exact integer ppm; absent
    tokens count 0 in their window; min_count drops noise."""
    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        trending_terms,
    )

    rows = (
        [(0, "old old old stable")] * 2
        + [(1, "new new stable")] * 3
        + [(1, "rare")]
    )
    df = spark.createDataFrame(rows, "w int, text string")
    out = {
        r["tok"]: r
        for r in trending_terms(df, "text", "w", top_k=10, min_count=2).collect()
    }
    # before total 8 tokens, after total 10
    assert "rare" not in out                      # min_count
    assert out["new"]["n_before"] == 0 and out["new"]["n_after"] == 6
    assert out["new"]["ppm_before"] == 0
    assert out["new"]["ppm_after"] == 6 * 1_000_000 // 10
    assert out["old"]["delta_ppm"] == -(6 * 1_000_000 // 8)
    assert out["stable"]["delta_ppm"] == (
        3 * 1_000_000 // 10 - 2 * 1_000_000 // 8
    )
