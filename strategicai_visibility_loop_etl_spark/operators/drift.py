"""Corpus distribution drift: per-group token-distribution divergence.

The mixture-health check a 100 TB training-data pipeline runs per
ingest wave: how far has each source's (or each snapshot's) token
distribution drifted from the corpus-wide distribution?  KL divergence
with add-one smoothing is the standard monitor (and the quantity
DoReMi/DSIR-style mixture tuning consumes); Pearson's chi-square is
the classical homogeneity test over the same contingency table.
Reference has no analog; this extends the governance family
(`operators/governance.py` datasheet, `operators/expectations.py`
gate) with the distribution-level signal.

Spark-first shape, and the part that matters at scale: the smoothed
KL and chi-square are defined over the FULL vocabulary — every group
must account for vocab terms it never saw.  The naive plan is a
``groups × vocab`` cross join (ruinous: thousands of sources × 1e8
terms).  Both statistics instead split into a present-term sum plus a
CLOSED-FORM absent-mass correction built from three global scalars,
so the plan is: one explode, two hash aggregates, one token-keyed
join, one per-group aggregate, one broadcast of a 1-row globals
frame.  No cross join, no collect, no UDF.

    KL(P_s‖P_g)  = Σ_present p_s·ln(p_s/p_g)
                   + p_0·[(V−V_s)·ln p_0 − (Σ_vocab ln p_g − Σ_present ln p_g)]
    chi²         = Σ_present (c_st − n_s·p_g)²/(n_s·p_g)
                   + n_s·(Σ_vocab p_g − Σ_present p_g)

with p_s=(c_st+1)/(n_s+V), p_g=(c_t+1)/(N+V), p_0=1/(n_s+V) the
smoothed probability of an unseen term.

Determinism across engines: every ln/ratio term is rounded via the
multiply-form ``round_c`` and cast to DECIMAL before any SUM, so the
per-group statistics are partitioning- AND engine-independent — a
DuckDB twin replaying the identical expression sequence reproduces
every output bit-for-bit (the qx11/qx23 log-sum discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.numeric import round_c
from ..functions.text import tokens


def token_distribution_drift(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """(group, n_tokens, distinct_terms, kl, chi2) per group.

    - ``kl``: add-one-smoothed KL(P_group ‖ P_corpus) over the full
      corpus vocabulary, rounded to 9 decimals.
    - ``chi2``: Pearson chi-square of the group's token counts
      against expected counts ``n_s·p_g`` under the smoothed corpus
      distribution, rounded to 6 decimals.
    - Absent-vocab mass enters through the closed forms above — the
      plan never materializes (group, absent-term) rows.
    - Groups whose text normalizes to empty contribute no token rows
      and are absent from the output (same omission contract as the
      LM scorers).
    """
    tok = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )

    # Per-(group, token) and per-token counts: two hash aggregates.
    gc = tok.groupBy("grp", "token").agg(F.count("*").alias("c_st"))
    g = tok.groupBy("token").agg(F.count("*").alias("c_t"))

    # Corpus-level scalars ride a broadcast 1-row frame (no collect).
    tot = g.agg(
        F.count("*").alias("v"),
        F.sum("c_t").alias("n"),
    )

    # Per-token corpus terms, computed ONCE on the token table: the
    # smoothed corpus probability and its log, term-rounded so both
    # the present-term sums and the global sums are engine-exact.
    pg = (F.col("c_t") + 1).cast("double") / (F.col("n") + F.col("v")).cast(
        "double"
    )
    gterms = (
        g.crossJoin(F.broadcast(tot))
        .select(
            "token",
            "c_t",
            "v",
            "n",
            round_c(pg, 15).cast("decimal(38,15)").alias("pg_r"),
            round_c(F.log(pg), 12).cast("decimal(38,12)").alias("lpg_r"),
        )
    )

    glob = F.broadcast(
        gterms.groupBy("v", "n").agg(
            F.sum("lpg_r").alias("g_lpg"),
            F.sum("pg_r").alias("g_pg"),
        )
    )

    # Per-group totals first (n_s), then the present-term sums off the
    # token-keyed join — big-big hash join on token, both sides
    # already token-partitioned by their aggregates.
    ns = gc.groupBy("grp").agg(F.sum("c_st").alias("n_s"))
    j = gc.join(gterms, "token").join(F.broadcast(ns), "grp")

    ps = (F.col("c_st") + 1).cast("double") / (
        F.col("n_s") + F.col("v")
    ).cast("double")
    pg_j = (F.col("c_t") + 1).cast("double") / (
        F.col("n") + F.col("v")
    ).cast("double")
    exp_ct = F.col("n_s").cast("double") * pg_j
    present = j.groupBy("grp", "n_s").agg(
        F.count("*").alias("v_s"),
        F.sum(round_c(ps * F.log(ps / pg_j), 12).cast("decimal(38,12)")).alias(
            "s_kl"
        ),
        F.sum("lpg_r").alias("s_lpg"),
        F.sum("pg_r").alias("s_pg"),
        F.sum(
            round_c(
                (F.col("c_st").cast("double") - exp_ct)
                * (F.col("c_st").cast("double") - exp_ct)
                / exp_ct,
                9,
            ).cast("decimal(38,9)")
        ).alias("s_chi"),
    )

    p0 = F.lit(1.0) / (F.col("n_s") + F.col("v")).cast("double")
    absent_kl = p0 * (
        (F.col("v") - F.col("v_s")).cast("double") * F.log(p0)
        - (F.col("g_lpg") - F.col("s_lpg")).cast("double")
    )
    absent_chi = F.col("n_s").cast("double") * (
        F.col("g_pg") - F.col("s_pg")
    ).cast("double")
    return (
        present.crossJoin(glob)
        .select(
            F.col("grp").alias(group_col),
            F.col("n_s").alias("n_tokens"),
            F.col("v_s").alias("distinct_terms"),
            round_c(F.col("s_kl").cast("double") + absent_kl, 9).alias("kl"),
            round_c(F.col("s_chi").cast("double") + absent_chi, 6).alias(
                "chi2"
            ),
        )
        .orderBy(group_col)
    )


def ks_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    alpha_coeff: float = 1.358,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test between two groups' value
    distributions: one row of (n_a, n_b, ks_stat, critical, reject)
    — the numeric-metric companion of `token_distribution_drift`
    (that answers "did the vocabulary shift", this answers "did a
    METRIC's distribution shift" — score drift between two scorer
    versions, latency drift between two crawls).

    Exactness: the supremum |F_a − F_b| is computed as an INTEGER —
    max |cca·nb − ccb·na| over the cumulative counts at each distinct
    value — with one double division at the end, so the statistic is
    bit-identical across engines and partitionings.  ``critical`` is
    the large-sample threshold c(α)·√((n_a+n_b)/(n_a·n_b)) with
    c(0.05) = 1.358 (Smirnov); IEEE requires sqrt to be correctly
    rounded, so even the rejection boundary replays exactly.

    Shape: one (value) hash aggregate with per-side conditional
    counts, one cumulative window over distinct values (a global sort
    of the DISTINCT value set), two broadcast totals.

    NULL metrics are excluded up front — a NULL carries no
    distribution information, and kept it would be its own CDF point.
    """
    tagged = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        F.col(value_col).alias("v"),
        F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("ia"),
    )
    per_v = tagged.groupBy("v").agg(
        F.sum("ia").alias("ca"),
        F.sum(F.lit(1) - F.col("ia")).alias("cb"),
    )
    tot = per_v.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    cum_w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_v.select(
        F.sum("ca").over(cum_w).alias("cca"),
        F.sum("cb").over(cum_w).alias("ccb"),
    )
    num = cum.crossJoin(F.broadcast(tot)).agg(
        F.max(
            F.abs(
                F.col("cca").cast("decimal(38,0)") * F.col("nb")
                - F.col("ccb").cast("decimal(38,0)") * F.col("na")
            )
        ).alias("d_num"),
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
    )
    na_d = F.col("n_a").cast("double")
    nb_d = F.col("n_b").cast("double")
    ks = F.col("d_num").cast("double") / (na_d * nb_d)
    crit = F.lit(alpha_coeff) * F.sqrt((na_d + nb_d) / (na_d * nb_d))
    # An absent group (typo'd label, over-filtered slice) must read
    # as "no data" (NULL stat/reject, n visible as 0), never as a
    # quiet "no drift" from a divide-by-zero NaN row.
    has_data = (F.coalesce(F.col("n_a"), F.lit(0)) > 0) & (
        F.coalesce(F.col("n_b"), F.lit(0)) > 0
    )
    return num.select(
        F.coalesce(F.col("n_a"), F.lit(0).cast("long")).alias("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0).cast("long")).alias("n_b"),
        F.when(has_data, round_c(ks, 6)).alias("ks_stat"),
        F.when(has_data, round_c(crit, 6)).alias("critical"),
        F.when(has_data, round_c(ks, 6) > round_c(crit, 6)).alias("reject"),
    )


def two_proportion_ztest(
    df: DataFrame,
    variant_col: str,
    variant_a: str,
    variant_b: str,
    success_col: str,
    group_cols: list[str] | None = None,
    alpha_z: float = 1.959963985,
) -> DataFrame:
    """Two-proportion z-test per group — the A/B-experiment readout
    (did variant A's success rate differ from B's beyond sampling
    noise?) and the categorical companion of :func:`ks_test` (that
    compares continuous DISTRIBUTIONS; this compares RATES):

        z = (p_a − p_b) / sqrt(p(1−p)(1/n_a + 1/n_b)),  p pooled.

    Output per group: n/x/p for both variants, z, and
    ``significant`` at the given critical value (default two-sided
    95%). Groups where either variant logged NOTHING are dropped
    (there is no rate to compare — join back on the group keys if
    absence itself must be surfaced); z is NULL when the pooled rate
    is degenerate (0 or 1 — no variance to test against).

    Exactness: counts are exact; p's are single divisions; sqrt is
    IEEE-correctly-rounded; the z expression keeps a fixed operation
    order so a SQL twin replays it bit-for-bit.

    Scale shape: ONE conditional-count hash aggregate over the
    grouping; everything after is per-group scalar arithmetic.
    ``success_col`` is truthy-int (NULL = failure, the conservative
    default).
    """
    from ..functions.numeric import round_c  # noqa: PLC0415

    gcols = list(group_cols or [])
    is_a = F.col(variant_col) == variant_a
    is_b = F.col(variant_col) == variant_b
    succ = F.when(
        F.coalesce(F.col(success_col), F.lit(0)).cast("int") != 0, 1
    ).otherwise(0)
    agg = df.groupBy(*gcols).agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(is_a, succ).otherwise(0)).cast("long").alias("x_a"),
        F.sum(F.when(is_b, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(is_b, succ).otherwise(0)).cast("long").alias("x_b"),
    ).filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
    p_a = F.col("x_a").cast("double") / F.col("n_a").cast("double")
    p_b = F.col("x_b").cast("double") / F.col("n_b").cast("double")
    pool = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(
        pool
        * (F.lit(1.0) - pool)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    z = F.when(se > 0, round_c((p_a - p_b) / se, 6))
    out = agg.select(
        *gcols,
        "n_a",
        "x_a",
        round_c(p_a, 6).alias("p_a"),
        "n_b",
        "x_b",
        round_c(p_b, 6).alias("p_b"),
        z.alias("z"),
        F.coalesce(
            F.abs(z) > F.lit(float(alpha_z)), F.lit(False)
        ).alias("significant"),
    )
    return out.orderBy(*gcols) if gcols else out


def psi_drift(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    baseline: DataFrame | None = None,
    n_bins: int = 10,
    out_decimals: int = 6,
    cut_epsilon: float = 0.0,
) -> DataFrame:
    """Population Stability Index per group — the model-monitoring
    standard for NUMERIC distribution drift (banking/scoring lineage),
    complementing :func:`token_distribution_drift` (categorical KL over
    tokens) and :func:`ks_test` (a hypothesis test; PSI is the
    magnitude-of-shift INDEX the common >0.1 / >0.25 thresholds read):

        PSI = sum_bins (p_cur - p_base) * ln(p_cur / p_base)

    over ``n_bins`` quantile bins OF THE BASELINE (equal expected mass
    — the convention that makes PSI comparable across metrics), with
    add-one smoothing so empty bins contribute finitely (the qx51
    discipline; classic implementations clamp with an arbitrary
    epsilon, which is not replayable arithmetic).

    Scale shape: the baseline collapses to ONE exact-percentile
    aggregate whose n_bins-1 cut points broadcast back (the
    quality_blend pattern — no global sort; swap `percentile_approx`
    in at 100 TB, identical plan); bucketing is a pure array
    expression; each side then folds to a bins×groups aggregate. The
    only corpus-scale exchanges are the two bucket-count aggregates.
    NULL values are excluded; groups absent from ``df`` don't appear
    (join back on a spine if absence must be surfaced).

    Exactness: counts are exact; each bin's term is a fixed-order
    double expression over (count+1)/(n+B) ratios, rounded via
    ``round_c`` to 9 decimals and summed as DECIMAL — order- and
    engine-independent (the shared ln-then-round log-sum discipline).

    ``cut_epsilon``: the quality_blend half-lattice tolerance for the
    bucket compare (``cut ≤ x + ε``). Engines interpolate the
    percentile cuts with different IEEE operation order, so a cut
    that EQUALS a data value can land one ulp above it in one engine
    only, flipping a row's bin (caught live at sf1 for the sibling
    pattern). Set it to half your value lattice (5e-8 for 6dp-rounded
    values) when adjacent distinct values are farther apart than 2ε;
    the default 0.0 keeps exact ``#cuts ≤ x`` semantics for arbitrary
    doubles.
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    base_df = baseline if baseline is not None else df
    fracs = [i / n_bins for i in range(1, n_bins)]
    cuts = (
        base_df.filter(F.col(value_col).isNotNull())
        .agg(F.percentile(F.col(value_col), F.lit(fracs)).alias("__cuts"))
    )
    bucket = F.size(
        F.filter(
            F.col("__cuts"),
            lambda t: t <= F.col(value_col) + F.lit(float(cut_epsilon)),
        )
    ).alias("__b")

    base_counts = (
        base_df.filter(F.col(value_col).isNotNull())
        .join(F.broadcast(cuts))
        .select(bucket)
        .groupBy("__b")
        .agg(F.count(F.lit(1)).cast("long").alias("__cb"))
    )
    cur_counts = (
        df.filter(F.col(value_col).isNotNull())
        .join(F.broadcast(cuts))
        .select(*group_cols, bucket)
        .groupBy(*group_cols, "__b")
        .agg(F.count(F.lit(1)).cast("long").alias("__cc"))
    )
    # Full group x bin grid so absent bins still contribute their
    # smoothed mass (dropping them understates PSI exactly when drift
    # is strongest -- the cramers_v zero-cell lesson).
    spine = cuts.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("__b")
    )
    groups = cur_counts.groupBy(*group_cols).agg(
        F.sum("__cc").cast("long").alias("__n_cur")
    )
    n_base_f = base_counts.agg(
        F.sum("__cb").cast("long").alias("__n_base")
    )
    # NULL-SAFE join on the group key: groupBy keeps NULL-keyed
    # groups, a plain equi-join would zero their bin counts and
    # report the pure-smoothing PSI as if it were measured drift.
    cc_r = cur_counts.select(
        *[F.col(c).alias(f"__k_{i}") for i, c in enumerate(group_cols)],
        F.col("__b").alias("__kb"),
        "__cc",
    )
    ns_cond = [
        F.col(c).eqNullSafe(F.col(f"__k_{i}"))
        for i, c in enumerate(group_cols)
    ] + [F.col("__b") == F.col("__kb")]
    grid = (
        groups.crossJoin(F.broadcast(spine))
        .join(cc_r, ns_cond, "left")
        .drop(*[f"__k_{i}" for i in range(len(group_cols))], "__kb")
        .join(F.broadcast(base_counts), "__b", "left")
        .crossJoin(F.broadcast(n_base_f))
        .select(
            *group_cols,
            "__b",
            "__n_cur",
            "__n_base",
            F.coalesce(F.col("__cc"), F.lit(0)).alias("__cc"),
            F.coalesce(F.col("__cb"), F.lit(0)).alias("__cb"),
        )
    )
    bins_lit = F.lit(float(n_bins))
    p_cur = (F.col("__cc").cast("double") + F.lit(1.0)) / (
        F.col("__n_cur").cast("double") + bins_lit
    )
    p_base = (F.col("__cb").cast("double") + F.lit(1.0)) / (
        F.col("__n_base").cast("double") + bins_lit
    )
    term = round_c((p_cur - p_base) * (F.log(p_cur) - F.log(p_base)), 9)
    out = (
        grid.select(
            *group_cols,
            "__n_cur",
            "__n_base",
            term.cast("decimal(28,9)").alias("__t"),
        )
        .groupBy(*group_cols)
        .agg(
            F.max("__n_cur").alias("n_cur"),
            F.max("__n_base").alias("n_base"),
            round_c(F.sum("__t").cast("double"), out_decimals).alias("psi"),
        )
    )
    return out.orderBy(*group_cols)


def js_divergence_pairs(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    out_decimals: int = 6,
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between every two groups'
    token distributions — the SYMMETRIC, bounded ([0, ln 2]) member
    of the drift family: :func:`token_distribution_drift`'s KL reads
    each group against the corpus (asymmetric, unbounded — fine for
    monitoring, awkward for clustering); JS is the metric-like
    quantity mixture planning actually compares sources WITH
    (which two crawls are interchangeable, which add diversity):

        JS(P,Q) = 1/2 KL(P||M) + 1/2 KL(Q||M),  M = (P+Q)/2

    with add-one smoothing over the corpus vocabulary V.

    Scale shape — the qx51 closed form, pairwise: NO pairs-times-vocab
    grid. For tokens absent from BOTH groups, the smoothed p, q, m
    are per-pair CONSTANTS, so those (V - |union|) tokens contribute
    one closed-form term; only each pair's union-token table (two
    model-sized joins against the (group, token) counts) is computed
    explicitly. Group count is assumed report-sized (sources/langs —
    pairs are O(G^2)); the corpus is scanned once for the count table.

    Exactness: every ln term is a fixed-order double rounded via
    ``round_c`` to 9 decimals and summed as DECIMAL; the absent-mass
    constant rounds to 12 decimals before the exact integer multiply
    by (V - |union|). ``js_norm`` = js / ln 2 (a Python-literal
    divisor — ln never runs in a plan for it) rescales to [0, 1].
    NULL groups participate as their own group (eqNullSafe joins —
    the review-pass convention).
    """
    import math  # noqa: PLC0415

    counts = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(group_col).alias("__g"),
            F.explode(tokens(F.col(text_col))).alias("__t"),
        )
        .groupBy("__g", "__t")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .localCheckpoint()
    )
    totals = counts.groupBy("__g").agg(
        F.sum("__c").cast("long").alias("__n")
    )
    vocab = counts.select("__t").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("__v")
    )
    ga = totals.select(F.col("__g").alias("ga"), F.col("__n").alias("na"))
    gb = totals.select(F.col("__g").alias("gb"), F.col("__n").alias("nb"))
    # Canonical pair order via (is-null flag, string value): an
    # in-domain sentinel (a literal ' ' group) would collide with the
    # NULL group and silently drop that pair.
    a_n = F.col("ga").isNull().cast("int")
    b_n = F.col("gb").isNull().cast("int")
    a_s = F.coalesce(F.col("ga").cast("string"), F.lit(""))
    b_s = F.coalesce(F.col("gb").cast("string"), F.lit(""))
    pairs = ga.crossJoin(gb).filter(
        (a_n < b_n) | ((a_n == b_n) & (a_s < b_s))
    )
    # union tokens per pair: each side's tokens tagged with the pair.
    ca = counts.select(
        F.col("__g").alias("ga"),
        F.col("__t").alias("__t"),
        F.col("__c").alias("__ca"),
    )
    cb = counts.select(
        F.col("__g").alias("gb"),
        F.col("__t").alias("__t"),
        F.col("__c").alias("__cb"),
    )
    # union tokens per pair, carrying the pair totals through so no
    # re-join against `pairs` is needed downstream (a re-join would
    # collide attribute lineage: ut derives FROM pairs).
    left_tag = pairs.join(
        ca.select(F.col("ga").alias("__cg"), "__t"),
        pairs["ga"].eqNullSafe(F.col("__cg")),
    ).select("ga", "gb", "na", "nb", "__t")
    right_tag = pairs.join(
        cb.select(F.col("gb").alias("__cg"), "__t"),
        pairs["gb"].eqNullSafe(F.col("__cg")),
    ).select("ga", "gb", "na", "nb", "__t")
    ut = left_tag.unionByName(right_tag).distinct()
    j = (
        ut.alias("u")
        .join(
            ca.alias("x"),
            (F.col("u.ga").eqNullSafe(F.col("x.ga")))
            & (F.col("u.__t") == F.col("x.__t")),
            "left",
        )
        .join(
            cb.alias("y"),
            (F.col("u.gb").eqNullSafe(F.col("y.gb")))
            & (F.col("u.__t") == F.col("y.__t")),
            "left",
        )
        .select(
            F.col("u.ga").alias("ga"),
            F.col("u.gb").alias("gb"),
            F.col("u.na").alias("na"),
            F.col("u.nb").alias("nb"),
            F.col("x.__ca").alias("__ca"),
            F.col("y.__cb").alias("__cb"),
        )
        .crossJoin(F.broadcast(vocab))
    )
    vd = F.col("__v").cast("double")
    p = (F.coalesce(F.col("__ca"), F.lit(0)).cast("double") + F.lit(1.0)) / (
        F.col("na").cast("double") + vd
    )
    q = (F.coalesce(F.col("__cb"), F.lit(0)).cast("double") + F.lit(1.0)) / (
        F.col("nb").cast("double") + vd
    )
    m = (p + q) / F.lit(2.0)
    term = round_c(
        F.lit(0.5) * (p * (F.log(p) - F.log(m)))
        + F.lit(0.5) * (q * (F.log(q) - F.log(m))),
        9,
    )
    present = (
        j.select(
            "ga",
            "gb",
            "na",
            "nb",
            "__v",
            term.cast("decimal(28,9)").alias("__term"),
        )
        .groupBy("ga", "gb", "na", "nb", "__v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__u"),
            F.sum("__term").alias("__psum"),
        )
    )
    p0 = F.lit(1.0) / (F.col("na").cast("double") + vd)
    q0 = F.lit(1.0) / (F.col("nb").cast("double") + vd)
    m0 = (p0 + q0) / F.lit(2.0)
    const0 = round_c(
        F.lit(0.5) * (p0 * (F.log(p0) - F.log(m0)))
        + F.lit(0.5) * (q0 * (F.log(q0) - F.log(m0))),
        12,
    )
    absent = (
        const0.cast("decimal(16,12)")
        * (F.col("__v") - F.col("__u")).cast("decimal(19,0)")
    ).cast("decimal(38,12)")
    js = round_c(
        F.col("__psum").cast("double") + absent.cast("double"),
        out_decimals,
    )
    ln2 = F.lit(math.log(2.0))
    return present.select(
        F.col("ga").alias("group_a"),
        F.col("gb").alias("group_b"),
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.col("__u").alias("n_union_terms"),
        js.alias("js"),
        round_c(
            (F.col("__psum").cast("double") + absent.cast("double")) / ln2,
            out_decimals,
        ).alias("js_norm"),
    ).orderBy("group_a", "group_b")
