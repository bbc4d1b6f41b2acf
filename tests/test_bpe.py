"""BPE trainer/encoder vs an independent in-test reference.

The reference implementation below is the textbook word-frequency BPE
loop (Sennrich et al. 2016) written directly in Python — no shared
code with the operator — so agreement checks the relational
re-expression, not the implementation against itself.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F


def _ref_bpe(word_counts: dict[str, int], n_merges: int):
    """Plain-Python BPE: returns (merge list, final segmentation)."""
    state = {w: list(w) for w in word_counts}
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, syms in state.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += word_counts[w]
        if not pairs:
            break
        # (count DESC, left ASC, right ASC)
        (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, a + b, c))
        for w, syms in state.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = out
    return merges, state


def test_bpe_train_matches_reference_loop(spark):
    from strategicai_visibility_loop_etl_spark.operators.bpe import bpe_train

    # the classic subword-nmt example corpus
    counts = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    rows = [(i, " ".join([w] * c)) for i, (w, c) in enumerate(counts.items())]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = bpe_train(df, n_merges=8, checkpoint_every=3)
    want, _ = _ref_bpe(counts, 8)
    assert [(m["lhs"], m["rhs"], m["merged"], m["pair_count"]) for m in got] == want


def test_bpe_overlapping_runs_merge_greedy_left_to_right(spark):
    from strategicai_visibility_loop_etl_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
    )

    # 'aaaa' + merge (a,a): greedy non-overlapping -> ['aa', 'aa'];
    # 'aaa' -> ['aa', 'a'] (the merged symbol never re-merges with the
    # next 'a' in the SAME round).
    df = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa"), (2, "aaa")], "doc_id long, text string"
    )
    merges = bpe_train(df, n_merges=1)
    assert (merges[0]["lhs"], merges[0]["rhs"]) == ("a", "a")
    enc = {r["doc_id"]: r for r in bpe_encode(df, merges).collect()}
    assert enc[1]["encoded"] == "aa aa aa aa aa aa"
    assert enc[2]["encoded"] == "aa a"
    assert enc[2]["n_bpe"] == 2 and enc[2]["n_words"] == 1


def test_bpe_encode_reproduces_trainer_segmentation(spark):
    from strategicai_visibility_loop_etl_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
    )

    counts = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    rows = [(i, " ".join([w] * c)) for i, (w, c) in enumerate(counts.items())]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe_train(df, n_merges=6)
    _, ref_state = _ref_bpe(counts, 6)

    one = spark.createDataFrame(
        [(i, w) for i, w in enumerate(counts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["encoded"] for r in bpe_encode(one, merges).collect()}
    for i, w in enumerate(counts):
        assert got[i] == " ".join(ref_state[w]), (w, got[i], ref_state[w])
    # unseen word still encodes deterministically with learned merges
    unseen = spark.createDataFrame([(0, "lowest")], "doc_id long, text string")
    out = bpe_encode(unseen, merges).first()["encoded"]
    assert out.replace(" ", "") == "lowest"


def test_bpe_null_and_empty_docs(spark):
    from strategicai_visibility_loop_etl_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
    )

    df = spark.createDataFrame(
        [(1, "ab ab ab"), (2, None), (3, "   ")], "doc_id long, text string"
    )
    merges = bpe_train(df, n_merges=1)
    assert merges[0]["merged"] == "ab" and merges[0]["pair_count"] == 3
    enc = {r["doc_id"]: r for r in bpe_encode(df, merges).collect()}
    assert enc[2]["n_bpe"] == 0 and enc[2]["encoded"] == ""
    assert enc[3]["n_bpe"] == 0 and enc[3]["encoded"] == ""
    assert enc[1]["encoded"] == "ab ab ab"


def test_bpe_encode_plan_is_shuffle_free(spark):
    """The encode is one codegen projection: chained literal replaces
    inside a higher-order transform — no Exchange, no Python."""
    from strategicai_visibility_loop_etl_spark.operators.bpe import bpe_encode

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    merges = [
        {"merge_rank": 0, "lhs": "a", "rhs": "b", "merged": "ab", "pair_count": 1}
    ]
    plan = bpe_encode(df, merges)._sc._jvm.PythonSQLUtils.explainString(
        bpe_encode(df, merges)._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan and "EvalPython" not in plan


def _ref_bpe_batched(word_counts: dict[str, int], n_merges: int,
                     batch_size: int, pool: int):
    """Independent Python reference of the BATCHED trainer: per round,
    rank pairs by (count DESC, left, right), greedily keep up to
    batch_size mutually symbol-disjoint pairs from the top `pool`
    candidates, apply them sequentially, recount."""
    state = {w: list(w) for w in word_counts}
    merges = []
    while len(merges) < n_merges:
        pairs: Counter = Counter()
        for w, syms in state.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += word_counts[w]
        if not pairs:
            break
        ranked = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:pool]
        used, batch = set(), []
        for (a, b), c in ranked:
            syms = {a, b, a + b}
            if used & syms:
                continue
            used |= syms
            batch.append((a, b, a + b, c))
            if len(batch) >= min(batch_size, n_merges - len(merges)):
                break
        if not batch:
            break
        for a, b, ab, c in batch:
            merges.append((a, b, ab, c))
            for w, syms in state.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(ab)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                state[w] = out
    return merges, state


def test_bpe_batched_matches_python_reference(spark):
    """batch_size>1 merge list equals the independent batched loop, and
    the batch is EXACT: the same merges fall out whether the batch is
    applied simultaneously (Spark) or one at a time (reference)."""
    from strategicai_visibility_loop_etl_spark.operators.bpe import bpe_train

    counts = {"low": 5, "lower": 2, "newest": 6, "widest": 3,
              "wide": 4, "news": 2, "lowest": 3}
    rows = [(i, " ".join([w] * c)) for i, (w, c) in enumerate(counts.items())]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for bs in (2, 4, 8):
        pool = max(4 * bs, 16)
        got = bpe_train(df, n_merges=12, batch_size=bs, checkpoint_every=2)
        want, _ = _ref_bpe_batched(counts, 12, bs, pool)
        assert [
            (m["lhs"], m["rhs"], m["merged"], m["pair_count"]) for m in got
        ] == want, f"batch_size={bs}"


def test_bpe_batched_encode_reproduces_trainer_segmentation(spark):
    """bpe_encode (sequential rank-order replay) over a BATCHED merge
    list reproduces the batched trainer's final word segmentation —
    the disjointness guarantee that makes batching semantics-free."""
    from strategicai_visibility_loop_etl_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
    )

    counts = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "lowest": 3}
    rows = [(i, " ".join([w] * c)) for i, (w, c) in enumerate(counts.items())]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe_train(df, n_merges=10, batch_size=4)
    _, ref_state = _ref_bpe_batched(counts, 10, 4, 16)
    one = spark.createDataFrame(
        [(i, w) for i, w in enumerate(counts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["encoded"] for r in bpe_encode(one, merges).collect()}
    for i, w in enumerate(counts):
        assert got[i] == " ".join(ref_state[w]), (w, got[i], ref_state[w])


def test_bpe_batched_kept_pairs_are_symbol_disjoint(spark):
    """Within any single batched round, kept merges share no symbol
    (lhs, rhs, or merged) — the invariant the exactness argument rests
    on. Reconstructed from the merge list: counts are non-increasing
    across rounds, so round boundaries are recoverable."""
    from strategicai_visibility_loop_etl_spark.operators.bpe import (
        _greedy_disjoint,
    )

    rows = [
        {"a": "e", "b": "s", "c": 100},
        {"a": "s", "b": "t", "c": 90},   # conflicts via s
        {"a": "a", "b": "b", "c": 80},
        {"a": "c", "b": "d", "c": 80},   # cd vs ab: disjoint
        {"a": "ab", "b": "x", "c": 70},  # conflicts via merged ab
        {"a": "q", "b": "r", "c": 60},
    ]
    got = _greedy_disjoint(rows, 10)
    assert got == [("e", "s", 100), ("a", "b", 80), ("c", "d", 80),
                   ("q", "r", 60)]
    assert _greedy_disjoint(rows, 2) == [("e", "s", 100), ("a", "b", 80)]
