"""Generic relational operators the reference exercises implicitly.

- ``top_n_per_group`` — window rank ≤ N per group key (SURVEY §2 row 12).
- ``union_sources`` — union of heterogeneous exports by column name
  (SURVEY row 14; the reference's multi-export merge use case,
  reference etl_merge.py:88-108 reads several export shapes of the
  same logical source).
- ``pivot_counts`` — pivot event breakdowns (SURVEY row 15).
- ``funnel_steps`` — ordered conversion funnel (earliest step-i event
  strictly after step i−1), one shuffle key for all stages.

Scale notes: top-N-per-group is ONE shuffle on the group key with the
rank evaluated streaming per partition — never a global sort. With a
known small N, Spark's WindowGroupLimit pushes the limit beneath the
shuffle (partial top-N map-side). ``pivot_counts`` requires an explicit
value list — letting Spark infer values adds a whole extra job and an
unbounded-width schema; at 100 TB the caller must name the columns.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.localframe import literal_frame


def funnel_steps(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered conversion funnel: (user, t_1 … t_k) where ``t_i`` is
    the user's earliest ``steps[i]`` event strictly AFTER ``t_{i-1}``
    (NULL once a step is never reached — later steps stay NULL too).

    Each step is one hash aggregate + one co-partitioned join, all
    keyed on ``user_col``: after the first exchange every later stage
    reuses the same partitioning (AQE exchange reuse — the q40
    decorrelation pattern), so a k-step funnel costs one wide shuffle
    of the filtered events, not k. The strictly-after semantics makes
    the result independent of any secondary sort: ties on the same
    timestamp do not advance the funnel, so no engine-dependent
    within-timestamp order can change the answer.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    ev = events.select(user_col, type_col, ts_col)
    reached = (
        ev.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t_1"))
    )
    out = reached
    for i, step in enumerate(steps[1:], start=2):
        prev = f"t_{i - 1}"
        reached = (
            ev.filter(F.col(type_col) == step)
            .join(reached.select(user_col, prev), user_col)
            .filter(F.col(ts_col) > F.col(prev))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias(f"t_{i}"))
        )
        out = out.join(reached.select(user_col, f"t_{i}"), user_col, "left")
    return out


def top_n_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    n: int,
    rank_col: str = "rank",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Top-``n`` rows per group by ``order_col``, largest first.

    ``row_number`` (not rank/dense_rank) so output size is bounded at
    exactly n per group; ``tiebreak_cols`` make the cut deterministic —
    pass the group's natural key for reproducible (and oracle-matching)
    results.
    """
    ordering = [F.col(order_col).desc()] + [F.col(c).asc() for c in tiebreak_cols]
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(*ordering)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= n)
    )


def union_sources(frames: Sequence[DataFrame], source_names: Sequence[str] | None = None) -> DataFrame:
    """Union heterogeneous frames by column name, null-filling gaps.

    ``unionByName(allowMissingColumns=True)`` — the Spark analog of the
    reference's "merge several exports of the same logical source"
    flow: differing column sets align by name, missing columns become
    NULL. Optionally tags provenance with a ``source`` column.
    """
    if not frames:
        raise ValueError("union_sources needs at least one frame")
    tagged = []
    for i, f in enumerate(frames):
        if source_names is not None:
            f = f.withColumn("source", F.lit(str(source_names[i])))
        tagged.append(f)
    out = tagged[0]
    for f in tagged[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def pivot_counts(
    df: DataFrame,
    group_col: str,
    pivot_col: str,
    values: Sequence[str],
    agg: Column | None = None,
) -> DataFrame:
    """Pivot ``pivot_col`` into one column per value of ``values``.

    The explicit ``values`` list matters at scale: without it Spark runs
    an extra distinct-collect job and the schema width is data-driven.
    Default aggregate is count(*).
    """
    agg = agg if agg is not None else F.count(F.lit(1))
    return df.groupBy(group_col).pivot(pivot_col, list(values)).agg(agg)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 16,
) -> DataFrame:
    """Equi-join with salt-split hot keys (the skew-join pattern).

    The left side's rows scatter across ``salt`` sub-keys (deterministic
    pmod of a hash over the whole row, so the distribution is stable and
    even); the right side replicates each row into all ``salt`` sub-keys
    via a small explode. A key holding 30% of the data then occupies
    ``salt`` reducers instead of one. Result set is identical to a plain
    equi-join on ``key`` — use when AQE's skew-join split isn't enough
    (e.g. skewed *aggregation* feeding the join, or joins under
    ``spark.sql.adaptive.enabled=false``). Right side grows ×salt, so
    keep it the smaller input. The join is inner.
    """
    salt_col = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt))
    l_s = left.withColumn("__salt", salt_col.cast("int"))
    r_s = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return l_s.join(r_s, [key, "__salt"]).drop("__salt")


def shapley_attribution(
    events: DataFrame,
    channels: Sequence[str],
    conversion_type: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Exact Shapley-value channel attribution (the set-coalition
    marketing formulation, Shapley 1953 / Zhao et al. 2018): one row
    per channel with ``shapley_conversions`` and ``shapley_value`` —
    each channel's fair share of conversion count and value.

    Worth function: ``v(S)`` = conversions from users whose touched
    channel set ``T ⊆ S`` (cumulative coalition worth; users touching
    no channel form the baseline ``v(∅)``, attributed to nobody), and
    ``φ_i = Σ_{S∌i} |S|!(n−|S|−1)!/n! · [v(S∪i) − v(S)]``, so
    ``Σ_i φ_i = v(N) − v(∅)`` exactly (efficiency axiom — pinned in
    pytest).  Timestamp-free by design: touch sets, not paths, so no
    engine-dependent within-timestamp ordering can change the answer.

    Shape at 100 TB: ONE wide shuffle (the per-user hash aggregates,
    both keyed on ``user_col`` — AQE reuses the exchange); everything
    after is model-sized: ≤2^n observed-set rows exploded to the
    2^n-subset lattice (explode + hash agg, NO join, no
    CartesianProduct), then a posexplode over the n channels.
    Numerators stay EXACT: integer weights ``s!(n−1−s)!`` times
    per-set counts/DECIMAL sums, one double division by ``n!`` at the
    very end through ``round_c`` — partitioning- and engine-exact.
    ``n`` is capped at 16 (the lattice is 2^n; marketing channel sets
    are single digits).
    """
    import math

    from ..functions.numeric import round_c

    n = len(channels)
    if not 1 <= n <= 16:
        raise ValueError(f"need 1..16 channels, got {n}")
    if len(set(channels)) != n or conversion_type in set(channels):
        raise ValueError("channels must be unique and exclude the conversion type")

    full = (1 << n) - 1
    bit_of = F.lit(None)
    for i, c in enumerate(channels):
        bit_of = F.when(F.col("ch") == c, F.lit(1 << i)).otherwise(bit_of)

    touched = (
        events.filter(F.col(type_col).isin(list(channels)))
        .select(F.col(user_col).alias("u"), F.col(type_col).alias("ch"))
        .distinct()
        .groupBy("u")
        .agg(F.sum(bit_of).alias("mask"))
    )
    conv = (
        events.filter(F.col(type_col) == conversion_type)
        .select(F.col(user_col).alias("u"), F.col(value_col).alias("v"))
        .groupBy("u")
        .agg(
            F.count("*").alias("conv_n"),
            F.sum(round_c(F.col("v"), 6).cast("decimal(28,6)")).alias("conv_v"),
        )
    )
    per_set = (
        conv.join(touched, "u", "left")
        .select(
            F.coalesce(F.col("mask"), F.lit(0)).alias("mask"), "conv_n", "conv_v"
        )
        .groupBy("mask")
        .agg(F.sum("conv_n").alias("t_n"), F.sum("conv_v").alias("t_v"))
    )
    # Cumulative worth v(S) = Σ_{T ⊆ S} t(T): explode each observed
    # set to its supersets (T | b for every b in the complement).
    v_table = (
        per_set.select(
            "mask",
            "t_n",
            "t_v",
            F.explode(
                F.filter(
                    F.sequence(F.lit(0), F.lit(full)),
                    lambda b: b.bitwiseAND(F.col("mask")) == 0,
                )
            ).alias("b"),
        )
        .groupBy(F.col("mask").bitwiseOR(F.col("b")).alias("s"))
        .agg(F.sum("t_n").alias("v_n"), F.sum("t_v").alias("v_v"))
    )
    # Signed weight per (S, channel): +w(|S|−1) if i∈S else −w(|S|),
    # with w(s) = s!(n−1−s)! so φ_i·n! = Σ_S signed(S,i)·v(S) exactly.
    w_arr = F.array(
        *[
            F.lit(math.factorial(s) * math.factorial(n - 1 - s))
            for s in range(n)
        ]
    )
    pc = F.bit_count(F.col("s"))
    # shiftleft needs a literal shift — index a literal bit array by
    # the channel position instead (element_at is 1-based).
    bit_arr = F.array(*[F.lit(1 << i) for i in range(n)])
    member = F.col("s").bitwiseAND(F.element_at(bit_arr, F.col("i") + F.lit(1))) != 0
    signed = F.when(member, F.element_at(w_arr, pc)).otherwise(
        -F.element_at(w_arr, pc + F.lit(1))
    )
    nfact = float(math.factorial(n))
    return (
        v_table.select(
            "s",
            "v_n",
            "v_v",
            F.posexplode(F.array(*[F.lit(c) for c in channels])).alias(
                "i", "channel"
            ),
        )
        .select(
            "channel",
            # cast BEFORE the multiply: |signed| reaches (n-1)! and a
            # BIGINT product overflows at corpus scale (ANSI throws).
            (signed.cast("decimal(38,0)") * F.col("v_n")).alias("num_n"),
            (signed * F.col("v_v")).cast("decimal(38,6)").alias("num_v"),
        )
        .groupBy("channel")
        .agg(
            round_c(F.sum("num_n").cast("double") / nfact, 6).alias(
                "shapley_conversions"
            ),
            round_c(F.sum("num_v").cast("double") / nfact, 6).alias(
                "shapley_value"
            ),
        )
    )


def _kept_basket_items(
    df: DataFrame, basket_col: str, item_col: str, max_basket: int
) -> DataFrame:
    """The shared basket discipline under basket_affinity and
    item_cosine_pairs: NULL baskets/items excluded, distinct
    (basket, item) collapse, baskets larger than ``max_basket``
    dropped (one bot basket otherwise contributes O(items²) pairs).
    Returns (b, i)."""
    if max_basket < 2:
        raise ValueError("max_basket must be >= 2")
    bi = (
        df.filter(
            F.col(basket_col).isNotNull() & F.col(item_col).isNotNull()
        )
        .select(F.col(basket_col).alias("b"), F.col(item_col).alias("i"))
        .distinct()
    )
    sizes = bi.groupBy("b").agg(F.count(F.lit(1)).alias("__n"))
    return bi.join(
        sizes.filter(F.col("__n") <= max_basket).select("b"), "b"
    )


def basket_affinity(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_n: int = 1,
    max_basket: int = 100,
) -> DataFrame:
    """Market-basket co-occurrence mining: canonical item pairs with
    support, both directional confidences and lift — the
    transaction-level association view that PMI collocations (row
    112) give for adjacent tokens. Baskets are whatever groups
    ``basket_col`` (users, sessions, orders); presence is binary
    (distinct item per basket).

    NULL basket keys and NULL items are excluded up front: a NULL
    basket is "no transaction", not a transaction of its own (the
    ks_test NULL convention — and without the explicit filter the
    Spark inner join would drop them while a SQL window oracle would
    keep them, a silent engine divergence).

    Skew guard (the LSH ``max_bucket`` discipline): a basket with
    more than ``max_basket`` distinct items is DROPPED before pairing
    — one bot session touching every item otherwise contributes
    O(items²) pairs. Denominators count the KEPT baskets, so every
    reported ratio is consistent within the mined universe.

    Scale shape: one distinct collapse, one per-basket size aggregate
    + filter, one self-join on the basket key (bounded fan-out ≤
    max_basket per basket), two hash aggregates, one broadcast of the
    1-row basket total. All ratios round through the C-semantics
    ``round_c`` so DuckDB replays bit-for-bit.
    """
    from ..functions.numeric import round_c  # noqa: PLC0415

    kept = _kept_basket_items(df, basket_col, item_col, max_basket)
    total = kept.select("b").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    item_n = kept.groupBy("i").agg(F.count(F.lit(1)).alias("item_n"))
    pairs = (
        kept.alias("l")
        .join(kept.alias("r"), "b")
        .filter(F.col("l.i") < F.col("r.i"))
        .groupBy(
            F.col("l.i").alias("item_a"), F.col("r.i").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= min_pair_n)
    )
    na = F.col("na").cast("double")
    nb = F.col("nb").cast("double")
    pn = F.col("pair_n").cast("double")
    tot = F.col("n_baskets").cast("double")
    return (
        pairs.join(
            item_n.select(F.col("i").alias("item_a"), F.col("item_n").alias("na")),
            "item_a",
        )
        .join(
            item_n.select(F.col("i").alias("item_b"), F.col("item_n").alias("nb")),
            "item_b",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "item_a",
            "item_b",
            "pair_n",
            round_c(pn / tot, 6).alias("support"),
            round_c(pn / na, 6).alias("conf_a_to_b"),
            round_c(pn / nb, 6).alias("conf_b_to_a"),
            round_c(pn * tot / (na * nb), 6).alias("lift"),
        )
    )


def markov_transitions(
    df: DataFrame,
    seq_col: str,
    time_col: str,
    state_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """First-order Markov transition estimation over event sequences:
    per-``seq_col`` journeys ordered by ``time_col`` yield
    (from_state, to_state) steps; output each pair's count and the
    row-normalized transition probability P(to|from). The
    journey-structure companion of :func:`funnel_steps` (that checks
    ONE prescribed order; this estimates the full empirical chain —
    the input a removal-effect attribution or next-step model
    consumes).

    ``tiebreak_col`` completes the total order for same-timestamp
    events (the qx70 lesson: windowed oracles need a total order or
    tie rows split differently per engine).

    Scale shape: one per-sequence window (partitioned by the sequence
    key — millions of short journeys parallelize; no global sort),
    two hash aggregates, one broadcast-able from-state total join.
    """
    from ..functions.numeric import round_c  # noqa: PLC0415

    order = [F.col(time_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = Window.partitionBy(seq_col).orderBy(*order)
    steps = (
        df.select(
            F.col(seq_col), *order, F.col(state_col).alias("from_state")
        )
        .withColumn("to_state", F.lead("from_state").over(w))
        .filter(F.col("to_state").isNotNull())
    )
    trans = steps.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = trans.groupBy("from_state").agg(F.sum("n").alias("__tot"))
    return trans.join(totals, "from_state").select(
        "from_state",
        "to_state",
        "n",
        round_c(
            F.col("n").cast("double") / F.col("__tot").cast("double"), 6
        ).alias("prob"),
    )


def sessionize_metrics(
    df: DataFrame,
    seq_col: str,
    time_col: str,
    gap: int,
    tiebreak_col: str | None = None,
    value_col: str | None = None,
) -> DataFrame:
    """Batch gap-sessionization with per-session metrics: events more
    than ``gap`` time units apart start a new session; each session
    emits (session key, start, end, duration, n_events, bounce) plus
    the value sum when ``value_col`` is given — the batch companion of
    the streaming gap sessionizer (row 43) and the native
    session_window aggregate (row 78), for when sessions feed further
    BATCH relational work (funnels, Markov chains, retention).

    Session ids are a running sum of new-session flags under a TOTAL
    (time, tiebreak) per-sequence order (the qx70 lesson); ``gap``
    compares in the raw units of ``time_col`` (pass epoch micros for
    wall-clock gaps). Shape: two per-sequence windows (lag + running
    sum — one partitioning, reused) and one (sequence, session) hash
    aggregate; millions of short journeys parallelize on the sequence
    key, no global sort anywhere.
    """
    from ..functions.numeric import round_c  # noqa: PLC0415

    order = [F.col(time_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = Window.partitionBy(seq_col).orderBy(*order)
    flagged = df.withColumn(
        "__new",
        F.when(
            F.col(time_col) - F.lag(time_col).over(w) > gap, 1
        ).otherwise(0),
    ).withColumn(
        "__sess",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    aggs = [
        F.min(time_col).alias("session_start"),
        F.max(time_col).alias("session_end"),
        (F.max(time_col) - F.min(time_col)).alias("duration"),
        F.count(F.lit(1)).alias("n_events"),
        (F.count(F.lit(1)) == 1).alias("bounce"),
    ]
    if value_col is not None:
        aggs.append(
            F.sum(
                round_c(F.col(value_col), 6).cast("decimal(28,6)")
            ).alias("value_sum")
        )
    return flagged.groupBy(
        F.col(seq_col), F.col("__sess").alias("session_no")
    ).agg(*aggs)


def removal_effect(
    df: DataFrame,
    seq_col: str,
    time_col: str,
    state_col: str,
    conversion_state: str,
    tiebreak_col: str | None = None,
    horizon: int = 8,
) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2016 shape) —
    the model-based alternative to Shapley attribution (row 152) that
    consumes the empirical chain :func:`markov_transitions` estimates:
    build the first-order journey chain with START / CONV / DROP
    states, compute the probability a journey converts within
    ``horizon`` steps, then for each channel recompute it with that
    channel REMOVED (its incoming probability mass redirected to
    DROP); the channel's removal effect is the relative conversion
    loss, and attribution shares normalize the effects.

    Journey construction: per ``seq_col``, events order by
    (``time_col``, ``tiebreak_col``) — a TOTAL order, the qx70
    lesson; the journey truncates at the FIRST ``conversion_state``
    event (mapped to the absorbing CONV), non-converting journeys
    absorb into DROP, and START precedes every journey.

    Finite ``horizon`` (fixed value-iteration rounds) rather than a
    linear solve: the iteration is the replayable form (a SQL twin
    unrolls the same rounds — the PageRank/HITS/Bradley-Terry
    discipline), and at 8+ steps the remaining mass sits in cycles
    that rarely convert. Per round, every scenario advances in ONE
    join — scenarios ride a key column, never a loop of jobs.

    Exactness: transition probabilities are 12dp-rounded divisions
    summed as DECIMAL under scenario retargeting; each value-
    iteration term is one IEEE multiply rounded to 15dp, summed as
    DECIMAL (order-free); effects and shares are single divisions.

    Scale shape: the corpus-sized work is the per-sequence window +
    one transition hash aggregate (the qx80 shape). Everything after
    runs on the transition table (states², model-sized by
    construction) × (channels + 1) scenarios; a per-round eager
    ``localCheckpoint`` cuts the iteration lineage.

    Output per channel: (channel, p_full, p_removed, removal_effect,
    attribution_share), effect descending.
    """
    from ..functions.numeric import round_c  # noqa: PLC0415

    if horizon < 1:
        raise ValueError("horizon must be >= 1")
    # the synthetic states are RESERVED: a real channel literally named
    # START/CONV/DROP would merge with them (a 'CONV' channel lands in
    # both the non-absorbing spine and the absorbing r=1 rows, double-
    # counting probability mass) — raise loudly instead (one bounded
    # pushdown-filtered probe, the schema-guard discipline)
    reserved = {"START", "CONV", "DROP"} - {conversion_state}
    clash = (
        df.filter(F.col(state_col).isin(*sorted(reserved)))
        .select(state_col)
        .limit(1)
        .collect()
    )
    if clash:
        raise ValueError(
            f"state value {clash[0][0]!r} collides with a reserved "
            "journey state (START/CONV/DROP) — rename it upstream"
        )
    order = [F.col(time_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = Window.partitionBy(seq_col).orderBy(*order)
    base = df.filter(
        F.col(seq_col).isNotNull() & F.col(state_col).isNotNull()
    ).select(
        F.col(seq_col).alias("seq"),
        F.row_number().over(w).alias("pos"),
        F.col(state_col).alias("st"),
    )
    conv_pos = (
        base.filter(F.col("st") == conversion_state)
        .groupBy("seq")
        .agg(F.min("pos").alias("cpos"))
    )
    kept = (
        base.join(conv_pos, "seq", "left")
        .filter(F.col("cpos").isNull() | (F.col("pos") <= F.col("cpos")))
        .select(
            "seq",
            "pos",
            F.when(F.col("st") == conversion_state, F.lit("CONV"))
            .otherwise(F.col("st"))
            .alias("st"),
            "cpos",
        )
    )
    starts = kept.select("seq").distinct().select(
        "seq", F.lit(0).alias("pos"), F.lit("START").alias("st")
    )
    drops = (
        kept.filter(F.col("cpos").isNull())
        .select("seq")
        .distinct()
        .select(
            "seq",
            F.lit(1 << 62).alias("pos"),
            F.lit("DROP").alias("st"),
        )
    )
    journey = starts.unionAll(kept.select("seq", "pos", "st")).unionAll(drops)
    jw = Window.partitionBy("seq").orderBy("pos")
    steps = (
        journey.withColumn("to", F.lead("st").over(jw))
        .filter(F.col("to").isNotNull())
        .select(F.col("st").alias("from"), "to")
    )
    trans = steps.groupBy("from", "to").agg(F.count(F.lit(1)).alias("n"))
    totals = trans.groupBy("from").agg(F.sum("n").alias("__tot"))
    probs = trans.join(totals, "from").select(
        "from",
        "to",
        round_c(
            F.col("n").cast("double") / F.col("__tot").cast("double"), 12
        ).alias("p"),
    ).localCheckpoint()

    channels = (
        probs.select(F.col("from").alias("ch"))
        .filter(F.col("ch") != "START")
        .distinct()
    )
    scens = channels.select(F.col("ch").alias("scen")).unionAll(
        literal_frame(
            probs.sparkSession, [("__full__",)], "scen string"
        )
    ).localCheckpoint()
    scen_trans = (
        probs.crossJoin(F.broadcast(scens))
        .filter((F.col("scen") == "__full__") | (F.col("from") != F.col("scen")))
        .select(
            "scen",
            "from",
            F.when(
                (F.col("scen") != "__full__")
                & (F.col("to") == F.col("scen")),
                F.lit("DROP"),
            )
            .otherwise(F.col("to"))
            .alias("to"),
            "p",
        )
        .groupBy("scen", "from", "to")
        .agg(
            F.sum(F.col("p").cast("decimal(38,12)"))
            .cast("double")
            .alias("p")
        )
        .localCheckpoint()
    )

    # Value iteration: per round, one join of the transitions against
    # the value vector, a decimal SUM per (scen, state), and a lineage
    # checkpoint. A driver-side map-literal form of the same rounds was
    # flat against this loop on 4 cores (qx95 at sf0.1, local[4]: 5.12
    # vs 5.27 s median over 10 interleaved pairs, rows identical), so
    # the join loop is the only path.
    absorbing = scens.select(
        "scen", F.lit("CONV").alias("state"), F.lit(1.0).alias("r")
    ).unionAll(
        scens.select(
            "scen", F.lit("DROP").alias("state"), F.lit(0.0).alias("r")
        )
    ).localCheckpoint()
    nonabs0 = scen_trans.select(
        "scen", F.col("from").alias("state")
    ).distinct().select("scen", "state", F.lit(0.0).alias("r"))
    r = nonabs0.unionAll(absorbing).localCheckpoint()
    for _ in range(horizon):
        stepped = (
            scen_trans.join(
                r.withColumnRenamed("state", "to"), ["scen", "to"]
            )
            .select(
                "scen",
                F.col("from").alias("state"),
                round_c(F.col("p") * F.col("r"), 15).alias("__t"),
            )
            .groupBy("scen", "state")
            .agg(
                F.sum(F.col("__t").cast("decimal(38,15)"))
                .cast("double")
                .alias("r")
            )
        )
        r = stepped.unionAll(absorbing).localCheckpoint()

    p_conv = r.filter(F.col("state") == "START").select(
        "scen", F.col("r").alias("p_conv")
    )
    full = p_conv.filter(F.col("scen") == "__full__").select(
        F.col("p_conv").alias("p_full")
    )
    effects = (
        p_conv.filter(F.col("scen") != "__full__")
        .crossJoin(F.broadcast(full))
        .select(
            F.col("scen").alias("channel"),
            "p_full",
            F.col("p_conv").alias("p_removed"),
            F.when(
                F.col("p_full") > 0,
                round_c(
                    F.lit(1.0) - F.col("p_conv") / F.col("p_full"), 12
                ),
            ).alias("re"),
        )
        .localCheckpoint()
    )
    tot_re = effects.agg(
        F.sum(F.col("re").cast("decimal(38,12)")).cast("double").alias("__s")
    )
    return (
        effects.crossJoin(F.broadcast(tot_re))
        .select(
            "channel",
            round_c(F.col("p_full"), 6).alias("p_full"),
            round_c(F.col("p_removed"), 6).alias("p_removed"),
            round_c(F.col("re"), 6).alias("removal_effect"),
            F.when(
                F.col("__s") > 0, round_c(F.col("re") / F.col("__s"), 6)
            ).alias("attribution_share"),
        )
        .orderBy(F.desc("removal_effect"), "channel")
    )


def item_cosine_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket: int = 100,
    min_pair: int = 2,
) -> DataFrame:
    """Item-item cosine similarity from co-occurrence — the
    normalized kNN-recommender form next to :func:`basket_affinity`
    (support/confidence/lift answer RULE questions; cosine
    ``pair_n / (sqrt(n_a)·sqrt(n_b))`` is the symmetric SIMILARITY a
    nearest-neighbor model consumes, penalizing ubiquitous items that
    lift alone does not normalize symmetrically).

    Same basket discipline as basket_affinity: distinct collapse,
    per-basket size guard (``max_basket`` — one bot basket otherwise
    contributes O(items²) pairs), bounded self-join on the basket
    key, NULL baskets/items excluded. ``min_pair`` drops
    one-coincidence pairs.

    Exactness: counts exact; cosine = exact BIGINT over the product
    of two IEEE sqrts of exact integers — replays bit-for-bit.
    """
    from ..functions.numeric import round_c  # noqa: PLC0415

    kept = _kept_basket_items(df, basket_col, item_col, max_basket)
    item_n = kept.groupBy("i").agg(F.count(F.lit(1)).alias("n"))
    a = kept.select("b", F.col("i").alias("item_a"))
    c = kept.select("b", F.col("i").alias("item_b"))
    pairs = (
        a.join(c, "b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= min_pair)
    )
    return (
        pairs.join(
            item_n.select(F.col("i").alias("item_a"), F.col("n").alias("n_a")),
            "item_a",
        )
        .join(
            item_n.select(F.col("i").alias("item_b"), F.col("n").alias("n_b")),
            "item_b",
        )
        .select(
            "item_a",
            "item_b",
            "pair_n",
            "n_a",
            "n_b",
            round_c(
                F.col("pair_n").cast("double")
                / (
                    F.sqrt(F.col("n_a").cast("double"))
                    * F.sqrt(F.col("n_b").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
        .orderBy("item_a", "item_b")
    )


def common_paths(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    event_col: str,
    n: int = 3,
    top_k: int = 20,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Top-k most common n-step event paths — the sequence-pattern
    report between `conversion_funnel` (counts ONE fixed pattern) and
    `markov_transitions` (memoryless 1-step rates): which length-n
    journeys actually dominate the product, pattern-free.

    Each user's event stream (ordered by ``ts_col``, then
    ``tiebreak_col`` — pass one whenever timestamps can collide, or
    the path windows are nondeterministic) contributes one candidate
    path per position via n-1 ``lead`` columns; incomplete tails
    (fewer than n events remain) drop out. Paths count twice: raw
    occurrences and distinct users (a single loop-happy user can't
    own the report).

    Scale shape: ONE user-keyed sort window (n widens the row, not
    the plan), one (path) hash aggregate with map-side partials, and
    a TakeOrderedAndProject top-k under the TOTAL order (occurrences
    desc, users desc, path asc) — no global sort materializes and the
    k boundary is engine-stable. NULL events are excluded before
    positions form (a NULL step would poison every window crossing
    it).
    """
    if n < 2:
        raise ValueError("n must be >= 2")
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    order = [F.col(ts_col)]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col))
    w = Window.partitionBy(F.col(user_col)).orderBy(*order)
    base = df.filter(
        F.col(event_col).isNotNull() & F.col(user_col).isNotNull()
    )
    leads = [
        F.lead(F.col(event_col), i).over(w).alias(f"__s{i}")
        for i in range(1, n)
    ]
    steps = base.select(
        F.col(user_col).alias("__u"),
        F.col(event_col).alias("__s0"),
        *leads,
    )
    complete = steps
    for i in range(1, n):
        complete = complete.filter(F.col(f"__s{i}").isNotNull())
    path = F.concat_ws(">", *[F.col(f"__s{i}") for i in range(n)])
    return (
        complete.select(F.col("__u"), path.alias("path"))
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("__u").cast("long").alias("n_users"),
        )
        .orderBy(
            F.col("n_occurrences").desc(),
            F.col("n_users").desc(),
            F.col("path").asc(),
        )
        .limit(top_k)
    )
