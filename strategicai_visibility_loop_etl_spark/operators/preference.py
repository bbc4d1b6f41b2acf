"""Preference-ranking estimation for pairwise-comparison data.

The preference-data member of the analytics family: RLHF-style
pipelines accumulate DUELS (A beat B on this prompt) and need item
strengths back out of them. The Bradley–Terry model is the standard
answer — P(i beats j) = pi_i / (pi_i + pi_j) — estimated here by the
classic MM algorithm (Hunter 2004, "MM algorithms for generalized
Bradley-Terry models"), a fixed number of rounds so a SQL twin can
replay the identical arithmetic (the PageRank/HITS discipline).

Shape at 100 TB: duel volume is the big-data side — one hash
aggregate collapses duels to the per-pair count table (pairs <<
duels); each MM round is two strength join-backs + one denominator
hash aggregate over the PAIR table + a 1-row broadcast normalizer.
Strengths stay distributed (item count can be large); a per-round
eager ``localCheckpoint`` cuts the iteration lineage, so the rounds
run as jobs inside the call.

No analog in the reference (a pandas visibility ETL has no ranking
estimation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.numeric import round_c


def bradley_terry(
    duels: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    iters: int = 10,
    broadcast_items_max: int = 32,
) -> DataFrame:
    """Bradley–Terry strengths from raw duel rows (one row = one
    comparison, ``winner_col`` beat ``loser_col``).

    MM update, ``iters`` fixed rounds from the uniform start:

        pi_i  <-  W_i / sum_j n_ij / (pi_i + pi_j)

    then normalized to mean 1 (sum = item count) — BT strengths are
    scale-free, and the mean-1 gauge keeps every round's numbers
    O(1) without the geometric mean's ln/exp (which would not
    hash-replay).

    Exactness contract: each opponent term ``n_ij / (pi_i + pi_j)``
    is one IEEE division rounded to 12dp; the per-item denominator
    sums those as DECIMAL (exact, order-free); the normalizer sums
    12dp-rounded raw strengths the same way. Every step replays
    bit-for-bit in an unrolled SQL twin.

    Standard BT caveat (caller contract): strengths are identified
    only on a CONNECTED comparison graph where every item has at
    least one win and one loss; an all-winning item's strength grows
    without bound under more rounds (finite here — the fixed rounds
    bound it), an all-losing item's goes to 0.

    Output: (item, wins, games, strength), strength descending with
    item tiebreak, rounded to 6dp.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    d = duels.select(
        F.col(winner_col).alias("w"), F.col(loser_col).alias("l")
    ).filter(F.col("w").isNotNull() & F.col("l").isNotNull())
    # directed duel counts, then symmetric per-pair game counts
    dir_counts = d.groupBy("w", "l").agg(F.count(F.lit(1)).alias("n"))
    edges = (
        dir_counts.select(F.col("w").alias("i"), F.col("l").alias("j"), "n")
        .unionAll(
            dir_counts.select(
                F.col("l").alias("i"), F.col("w").alias("j"), "n"
            )
        )
        .groupBy("i", "j")
        .agg(F.sum("n").alias("n"))
        .localCheckpoint()
    )
    wins = (
        dir_counts.groupBy("w")
        .agg(F.sum("n").alias("wins"))
        .select(F.col("w").alias("item"), "wins")
    )
    # the item count (the normalization gauge) rides the checkpoint job
    n_obs = Observation()
    items = (
        edges.select(F.col("i").alias("item"))
        .distinct()
        .join(wins, "item", "left")
        .select(
            "item", F.coalesce("wins", F.lit(0).cast("long")).alias("wins")
        )
        .observe(n_obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    games = edges.groupBy("i").agg(F.sum("n").alias("games")).select(
        F.col("i").alias("item"), "games"
    )

    n_items = n_obs.get["n"]
    if 0 < n_items <= broadcast_items_max:
        return _bt_rounds_model_sized(edges, items, games, n_items, iters)
    p = items.select("item", F.lit(1.0).alias("p"))
    for _ in range(iters):
        pi = p.select(F.col("item").alias("i"), F.col("p").alias("p_i"))
        pj = p.select(F.col("item").alias("j"), F.col("p").alias("p_j"))
        den = (
            edges.join(pi, "i")
            .join(pj, "j")
            .select(
                "i",
                round_c(
                    F.col("n").cast("double")
                    / (F.col("p_i") + F.col("p_j")),
                    12,
                ).alias("__t"),
            )
            .groupBy("i")
            .agg(
                F.sum(F.col("__t").cast("decimal(38,12)")).alias("__den")
            )
        )
        raw = (
            items.join(den, items["item"] == den["i"])
            .select(
                "item",
                (
                    F.col("wins").cast("double")
                    / F.col("__den").cast("double")
                ).alias("__raw"),
            )
        )
        total = raw.agg(
            F.sum(round_c(F.col("__raw"), 12).cast("decimal(38,12)"))
            .cast("double")
            .alias("__s")
        )
        p = (
            raw.crossJoin(F.broadcast(total))
            .select(
                "item",
                round_c(
                    F.col("__raw")
                    * (F.lit(float(n_items)) / F.col("__s")),
                    12,
                ).alias("p"),
            )
            .localCheckpoint()
        )
    return (
        items.join(games, "item")
        .join(p, "item")
        .select(
            "item", "wins", "games", round_c(F.col("p"), 6).alias("strength")
        )
        .orderBy(F.desc("strength"), "item")
    )


def _bt_rounds_model_sized(
    edges: DataFrame,
    items: DataFrame,
    games: DataFrame,
    n_items: int,
    iters: int,
) -> DataFrame:
    """MM rounds for a model-sized item universe (optimization r14).

    The distributed loop spends its wall time on per-round STRUCTURE,
    not arithmetic: two strength join-backs, a broadcast normalizer
    and a lineage checkpoint cost ~23 AQE query stages per round on a
    ~items-sized table (profiled: 237 stages at sf0.1). Measured on 4
    cores (qx94 at sf0.1, local[4], median of interleaved pairs): this
    path 3.71 s vs 6.65 s for the distributed loop. Here the strength
    table round-trips the driver instead — the k-means/BPE
    model-sized-collect discipline: each round is ONE job (denominator hash aggregate
    over the pair table with p_i/p_j looked up from a map LITERAL,
    normalizer as a whole-frame window sum of the same order-free
    DECIMAL terms, one model-sized collect).

    Bit-parity by construction: collected doubles re-enter as
    literals, so every arithmetic step is the IDENTICAL Spark
    expression over identical values — n/(p_i+p_j), the 12dp
    round_c, the decimal(38,12) sums, the n_items/total gauge —
    and the unrolled SQL twin replays unchanged (pinned by
    test_eval_stats equivalence against the distributed loop).
    Guarded by ``broadcast_items_max``: the per-round map literal is
    rebuilt (new strengths → new plan → new analysis + codegen) every
    round, so its cost grows with the item count while the join path's
    per-round cost is structure-bound: an earlier sweep put the
    crossover between 32 and 48 items, with the literal path
    collapsing by thousands of items. The cap sits at that crossover,
    far above real model sizes (qx94 has 5 items).
    """
    from pyspark.sql import Window  # noqa: PLC0415

    spark = edges.sparkSession
    key_type = items.schema["item"].dataType
    base = sorted(
        ((r["item"], r["wins"]) for r in items.collect()),
        key=lambda t: str(t[0]),
    )
    wins_map = F.create_map(
        *[
            c
            for k, wn in base
            for c in (F.lit(k).cast(key_type), F.lit(wn).cast("long"))
        ]
    )
    strengths = {k: 1.0 for k, _ in base}
    w_all = Window.partitionBy(F.lit(0))
    for _ in range(iters):
        # None-guard each strength like p_final below: a bare
        # F.lit(None) would type the literal NullType and leave
        # create_map to coerce it against the double values
        pmap = F.create_map(
            *[
                c
                for k, _ in base
                for c in (
                    F.lit(k).cast(key_type),
                    (
                        F.lit(strengths[k])
                        if strengths[k] is not None
                        else F.lit(None).cast("double")
                    ),
                )
            ]
        )
        raw = (
            edges.select(
                F.col("i").alias("item"),
                round_c(
                    F.col("n").cast("double")
                    / (
                        F.element_at(pmap, F.col("i"))
                        + F.element_at(pmap, F.col("j"))
                    ),
                    12,
                ).alias("__t"),
            )
            .groupBy("item")
            .agg(F.sum(F.col("__t").cast("decimal(38,12)")).alias("__den"))
            .select(
                "item",
                (
                    F.element_at(wins_map, F.col("item")).cast("double")
                    / F.col("__den").cast("double")
                ).alias("__raw"),
            )
        )
        p_rows = raw.select(
            "item",
            round_c(
                F.col("__raw")
                * (
                    F.lit(float(n_items))
                    / F.sum(
                        round_c(F.col("__raw"), 12).cast("decimal(38,12)")
                    )
                    .over(w_all)
                    .cast("double")
                ),
                12,
            ).alias("p"),
        ).collect()
        strengths = {r["item"]: r["p"] for r in p_rows}
    # LITERAL explode, not createDataFrame: parallelizing local Python
    # rows costs one Python-worker round trip per partition per
    # consumer; the literal array is pure JVM and one task.
    p_final = (
        spark.range(0, 1, 1, 1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast(key_type).alias("item"),
                            (
                                F.lit(strengths.get(k))
                                if strengths.get(k) is not None
                                else F.lit(None).cast("double")
                            ).alias("p"),
                        )
                        for k, _ in base
                    ]
                )
            ).alias("__x")
        )
        .select("__x.item", "__x.p")
    )
    return (
        items.join(games, "item")
        .join(F.broadcast(p_final), "item")
        .select(
            "item", "wins", "games", round_c(F.col("p"), 6).alias("strength")
        )
        .orderBy(F.desc("strength"), "item")
    )
