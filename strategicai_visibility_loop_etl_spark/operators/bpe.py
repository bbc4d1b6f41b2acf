"""Distributed BPE tokenizer training and encoding.

Byte-Pair Encoding (Sennrich, Haddow & Birch 2016, "Neural Machine
Translation of Rare Words with Subword Units"): start from characters,
repeatedly merge the most frequent adjacent symbol pair. The classic
trainer iterates over a word-frequency dictionary, NOT the raw corpus
— that is exactly the scalable relational shape:

- ONE corpus pass builds the (word, count) table (explode + hash agg —
  the only corpus-sized shuffle in the whole trainer; ``min_count``
  bounds the table at web scale).
- Each merge round is one explode + hash aggregate over the word
  table's adjacent symbol pairs plus a 1-row collect (the argmax pair)
  — model-sized driver traffic, ``n_merges`` rounds total.
- Applying a merge is a single literal ``replace`` on a
  separator-wrapped symbol string: every symbol is wrapped as
  ``\\x1f sym \\x1f`` and the pair pattern ``\\x1f a \\x1f \\x1f b
  \\x1f`` rewrites to ``\\x1f ab \\x1f``. Literal replace is
  left-to-right and non-overlapping in both Spark and DuckDB, which IS
  greedy BPE merge order (``a a a a`` + merge(a,a) → ``aa aa``), and
  the double-separator wrapping keeps adjacent matches from consuming
  each other's boundary. No UDF, no Python in the loop.

Encoding is one codegen projection: one literal replace per merge,
applied in rank order (greedy left-to-right per merge) and chained
inside a higher-order ``transform`` over the document's word array —
zero shuffles, no Python. The expression tree is |merges| deep, which
suits the registry's small trained tables; at production vocabularies
(32k merges) Catalyst/codegen would hit JVM method-size limits.

Determinism contract (what the DuckDB oracle replays): ties on pair
count break by (count DESC, left ASC, right ASC) in binary UTF-8
order; the U+001F separator is stripped from input text up front so
symbols can never contain it.

Reference behavioral anchor: the reference repo has no tokenizer
(etl_merge.py is a merge/score pipeline); this operator is part of the
large-scale training-data surface (SURVEY §2 rows 98/105).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

SEP = "\x1f"

MERGES_SCHEMA = (
    "merge_rank int, lhs string, rhs string, merged string, pair_count long"
)


def _clean_words(text_col: str) -> Column:
    """Whitespace tokens with the separator char removed up front."""
    return tokens(
        F.replace(F.coalesce(F.col(text_col), F.lit("")), F.lit(SEP), F.lit(""))
    )


def _wrap(syms: Column) -> Column:
    return F.concat(F.lit(SEP), F.array_join(syms, SEP + SEP), F.lit(SEP))


def _unwrap(wrapped: Column) -> Column:
    # Spark regexp_replace is global by default; the anchors strip the
    # single boundary separator at each end.
    return F.split(
        F.regexp_replace(wrapped, f"^{SEP}|{SEP}$", ""), SEP + SEP
    )


def _greedy_disjoint(rows, limit: int) -> list[tuple[str, str, int]]:
    """Greedy maximal SYMBOL-DISJOINT pair set from a rank-ordered
    candidate list: walk down by (count DESC, left, right), keep a pair
    iff none of {lhs, rhs, lhs+rhs} was used by an already-KEPT pair,
    stop at ``limit``. Disjointness (including the merged symbol) is
    what makes the kept pairs IN-BATCH order-independent — applying
    them in any order within one round yields the same symbol table
    (see ``bpe_train`` for what that does and does not guarantee
    versus the one-merge-per-round trainer)."""
    used: set[str] = set()
    out: list[tuple[str, str, int]] = []
    for row in rows:
        a, b = row["a"], row["b"]
        syms = {a, b, a + b}
        if used & syms:
            continue
        used |= syms
        out.append((a, b, int(row["c"])))
        if len(out) >= limit:
            break
    return out


def bpe_train(
    df: DataFrame,
    n_merges: int = 20,
    text_col: str = "text",
    min_count: int = 1,
    checkpoint_every: int = 6,
    batch_size: int = 1,
    candidate_pool: int | None = None,
    stats_out: dict | None = None,
) -> list[dict]:
    """Learn ``n_merges`` BPE merges from a corpus; returns the ordered
    merge table as a model-sized list of dicts
    (merge_rank/lhs/rhs/merged/pair_count).

    Scale shape: the corpus shuffles ONCE (word counts, checkpointed so
    rounds never re-scan the corpus); every round shuffles only
    (symbol-pair, partial count) rows from the word table and collects
    a model-sized candidate slice. Lineage over
    the evolving symbol column is cut every ``checkpoint_every``
    rounds.

    ``batch_size`` batches merge rounds for production vocabularies:
    with the classic one-merge-per-round loop a 32k-merge vocabulary is
    32k Spark jobs, the trainer's real scale ceiling. Each batched
    round collects the top ``candidate_pool`` pairs (default
    ``max(4*batch_size, 16)``) by (count DESC, lhs, rhs), greedily
    keeps up to ``batch_size`` MUTUALLY SYMBOL-DISJOINT pairs
    (:func:`_greedy_disjoint` — no kept pair shares lhs/rhs/merged
    with another kept pair), and applies them all in ONE projection.
    Disjointness buys IN-BATCH order-independence:

    - selection-time counts stay correct for every kept pair (a merge
      only perturbs counts of pairs sharing one of its symbols);
    - the chained literal replaces can neither create nor destroy one
      another's matches (a new adjacency always involves a freshly
      merged symbol, which no other kept pair references), so in-batch
      application order is irrelevant — any order of the KEPT merges
      yields the same post-round symbol table.

    With ``batch_size > 1`` this is a DISTINCT deterministic
    algorithm, not the textbook sequential trainer: after a round's
    top merge, the sequential argmax may be a pair involving the
    freshly merged symbol, which batching defers to a later round —
    so the learned merge SEQUENCE (and for some corpora the final
    merge set) can differ from ``batch_size=1`` on the same input.
    Tests pin the batched path against a batched Python reference of
    the same algorithm, not against the sequential trainer. The
    resulting merge list still feeds :func:`bpe_encode` unchanged
    (encode only needs a rank-ordered merge table).
    ``batch_size=1`` is exactly the textbook sequential trainer (the
    round's single survivor is the global argmax). The batched
    selection is a deterministic function of the pair counts, so a
    SQL oracle replays it with a ranked candidate CTE + recursive
    greedy walk (see ``__spark_entry__.qx40``).
    """
    if n_merges <= 0:
        raise ValueError("bpe_train needs n_merges > 0")
    if batch_size <= 0:
        raise ValueError("bpe_train needs batch_size > 0")
    pool = candidate_pool if candidate_pool is not None else max(4 * batch_size, 16)
    words = (
        df.select(F.explode(_clean_words(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    if min_count > 1:
        words = words.filter(F.col("cnt") >= min_count)
    state = words.select("cnt", F.split("w", "").alias("syms")).localCheckpoint()

    merges: list[dict] = []
    rounds = 0
    while len(merges) < n_merges:
        n = F.size("syms")
        pair = F.explode(
            F.arrays_zip(
                F.slice("syms", 1, n - 1).alias("a"),
                F.slice("syms", 2, n - 1).alias("b"),
            )
        )
        cand = (
            state.select("cnt", pair.alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), "a", "b")
            .limit(pool)
            .collect()
        )
        batch = _greedy_disjoint(cand, min(batch_size, n_merges - len(merges)))
        if not batch:
            break  # every word is a single symbol already
        replaced = _wrap(F.col("syms"))
        for a, b, c in batch:
            merges.append(
                {
                    "merge_rank": len(merges),
                    "lhs": a,
                    "rhs": b,
                    "merged": a + b,
                    "pair_count": c,
                }
            )
            replaced = F.replace(
                replaced,
                F.lit(SEP + a + SEP + SEP + b + SEP),
                F.lit(SEP + a + b + SEP),
            )
        state = state.select("cnt", _unwrap(replaced).alias("syms"))
        rounds += 1
        if rounds % checkpoint_every == 0:
            state = state.localCheckpoint()
    if stats_out is not None:
        stats_out["rounds"] = rounds  # == Spark job rounds, not merges
    return merges


def bpe_merges_df(spark, merges: list[dict]) -> DataFrame:
    """The merge table as a DataFrame (merge_rank-ordered)."""
    rows = [
        (m["merge_rank"], m["lhs"], m["rhs"], m["merged"], m["pair_count"])
        for m in merges
    ]
    from ..functions.localframe import one_partition_frame  # noqa: PLC0415

    return one_partition_frame(spark, rows, MERGES_SCHEMA)


def bpe_encode(
    df: DataFrame,
    merges: list[dict],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode documents with a learned merge sequence: merges apply in
    rank order, greedy left-to-right per merge — identical to the
    trainer's own segmentation for in-vocabulary words. Returns
    (id_col, n_words, n_bpe, encoded) where ``encoded`` is the
    space-joined BPE token stream of the whole document.

    One literal replace per merge inside a single codegen projection
    (module docstring): no shuffle, no explode, no Python.
    """

    def enc(w: Column) -> Column:
        x = _wrap(F.split(w, ""))
        for m in merges:
            x = F.replace(
                x,
                F.lit(SEP + m["lhs"] + SEP + SEP + m["rhs"] + SEP),
                F.lit(SEP + m["merged"] + SEP),
            )
        return _unwrap(x)

    from ..functions.exprs import flet  # noqa: PLC0415

    # flet-bound: n_words/n_bpe/encoded all reference the word and
    # token arrays — unbound, the |merges|-deep replace chain would
    # evaluate once PER OUTPUT COLUMN.
    out = flet(
        _clean_words(text_col),
        lambda words: flet(
            F.flatten(F.transform(words, enc)),
            lambda toks: F.named_struct(
                F.lit("n_words"), F.size(words),
                F.lit("n_bpe"), F.size(toks),
                F.lit("encoded"), F.array_join(toks, " "),
            ),
        ),
    )
    staged = df.select(F.col(id_col), out.alias("__e"))
    e = F.col("__e")
    return staged.select(
        F.col(id_col),
        e["n_words"].cast("long").alias("n_words"),
        e["n_bpe"].cast("long").alias("n_bpe"),
        e["encoded"].alias("encoded"),
    )


def bpe_audit(
    encoded: DataFrame,
    group_col: str | None = None,
) -> DataFrame:
    """Tokenizer coverage audit over :func:`bpe_encode` output — the
    acceptance report a tokenizer ships with: per group (or one
    global row) document/word/token/char totals, FERTILITY (BPE
    tokens per word — the subword-splitting rate; 1.0 = every word in
    vocabulary) and CHARS PER TOKEN (compression — bytes a token is
    worth, the cost driver of a context window).

    Pure aggregation over encode output columns (chars recovered by
    stripping the token stream's separators — conservation is the
    encode contract, smoke-gated), one hash aggregate; exact long
    sums, two final IEEE divisions through ``round_c``.
    """
    from ..functions.numeric import round_c  # noqa: PLC0415

    chars = F.length(F.replace(F.col("encoded"), F.lit(" "), F.lit("")))
    keys = [F.col(group_col)] if group_col else []
    base = encoded.select(
        *keys,
        F.col("n_words"),
        F.col("n_bpe"),
        chars.cast("long").alias("__chars"),
    )
    g = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("words_total"),
        F.sum("n_bpe").alias("tokens_total"),
        F.sum("__chars").alias("chars_total"),
    )
    wt = F.col("words_total").cast("double")
    tt = F.col("tokens_total").cast("double")
    ct = F.col("chars_total").cast("double")
    return g.select(
        *([group_col] if group_col else []),
        "n_docs",
        "words_total",
        "tokens_total",
        "chars_total",
        F.when(wt > 0, round_c(tt / wt, 6)).alias("fertility"),
        F.when(tt > 0, round_c(ct / tt, 6)).alias("chars_per_token"),
    )
