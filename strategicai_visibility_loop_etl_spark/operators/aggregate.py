"""Per-key collapse of fact sources (reference etl_merge.py:658-710).

Both aggregations are single hash-aggregate shuffles on the join key —
map-side partial aggregation means the shuffle carries one row per
(partition, key), and because the downstream merge joins on the same
key, AQE can reuse the exchange. At 100 TB the weighted mean costs
nothing extra: sum(x*w) and sum(w) ride the same shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def weighted_mean(
    value: Column, weight: Column, neutral_weight: float = 1.0, exact: bool = False
) -> Column:
    """sum(v*w)/sum(w) with a neutral weight when w is NULL or <= 0.

    Mirrors the reference's impressions-weighted position
    (etl_merge.py:677-693): rows with zero/missing weight still count,
    with weight ``neutral_weight``.

    ``exact=True`` routes both sums through DECIMAL(38,6): decimal
    addition is exact and order-independent, so the result is
    bit-identical regardless of partitioning (and matches a SQL oracle
    computing the same casts). Costs ~2× on the aggregate — use it
    when reproducibility across runs/engines matters more than raw
    throughput.
    """
    w = F.when(weight.isNotNull() & (weight > 0), weight).otherwise(F.lit(neutral_weight))
    if exact:
        num = F.sum((value * w).cast("decimal(38,6)")).cast("double")
        den = F.sum(w.cast("decimal(38,6)")).cast("double")
        return F.when(den > 0, num / den)
    num = F.sum(value * w)
    # Denominator sums w over ALL rows — the reference's w_sum
    # (etl_merge.py:688-693) counts null-value rows' weights too.
    den = F.sum(w)
    return F.when(den > 0, num / den)


def quantile_buckets(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Per-group quantile discretization: cut each group's values at
    its own quantiles, return the per-bucket histogram
    (group…, bucket, n, min_v, max_v) with bucket = #cutpoints below
    the value + 1 (values ≤ q25 land in bucket 1).

    Two passes over the fact: one percentile aggregate for the
    cutpoints, then the tiny (group, cutpoints) dim broadcasts back
    and the bucket assignment is a codegen'd comparison chain — no
    second wide shuffle beyond the histogram's own hash aggregate.
    Cut points are the sort-based exact interpolated percentiles (the
    DuckDB oracle's ``quantile_cont``).
    """
    val = F.col(value_col).cast("double")
    base = df.select(*group_cols, val.alias("__v"))
    parr = F.array(*[F.lit(p) for p in probs])
    cuts = base.groupBy(*group_cols).agg(F.percentile("__v", parr).alias("__cuts"))
    joined = base.join(F.broadcast(cuts), list(group_cols))
    bucket = F.lit(1)
    for i in range(len(probs)):
        bucket = bucket + (F.col("__v") > F.element_at("__cuts", i + 1)).cast("int")
    return (
        joined.groupBy(*group_cols, bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("__v").alias("min_v"),
            F.max("__v").alias("max_v"),
        )
    )


def agg_gsc(gsc: DataFrame, key: str = "url") -> DataFrame:
    """Collapse GSC rows to one per URL: sum clicks/impressions,
    impressions-weighted mean position, recomputed ctr."""
    out = gsc.groupBy(key).agg(
        F.sum("clicks").alias("clicks"),
        F.sum("impressions").alias("impressions"),
        weighted_mean(F.col("position"), F.col("impressions")).alias("position"),
    )
    return out.withColumn(
        "ctr",
        F.when(F.col("impressions") > 0, F.col("clicks") / F.col("impressions")),
    )


def agg_ga4(ga4: DataFrame, key: str = "url") -> DataFrame:
    """Collapse GA4 rows to one per URL by summing every numeric metric."""
    num_cols = [c for c, t in ga4.dtypes if c != key and t in ("double", "float", "bigint", "int", "long")]
    return ga4.groupBy(key).agg(*[F.sum(c).alias(c) for c in num_cols])


def linear_trend(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    out_decimals: int = 6,
) -> DataFrame:
    """Per-group simple linear regression (closed-form OLS) — the
    trend aggregate a visibility/metrics pipeline runs per page or
    per event type: slope of y over x, plus R², from ONE hash
    aggregate per group. No window, no iteration, no collect.

    Determinism contract: ``x_col`` must be integral (day index,
    position, …) and ``y_col`` DECIMAL — then every regression sum
    (Σx, Σx², Σy, Σxy, Σy²) is exact integer/decimal arithmetic, so
    slope/intercept/R² are bit-identical across engines and
    partitionings; only the final division passes through double,
    rounded to ``out_decimals``.

    Returns group_cols + (n_points, slope, intercept, r2); slope and
    intercept are NULL for degenerate groups (single x value), R²
    additionally NULL when y is constant.
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("decimal(28,6)")
    agg = df.groupBy(*group_cols).agg(
        F.count("*").alias("__n"),
        F.sum(x).alias("__sx"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(y * y).alias("__syy"),
    )
    n = F.col("__n")
    den_x = (n * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast(
        "decimal(38,6)"
    )
    den_y = (n * F.col("__syy") - F.col("__sy") * F.col("__sy")).cast(
        "decimal(38,12)"
    )
    num = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast(
        "decimal(38,6)"
    )
    from ..functions.numeric import round_c  # noqa: PLC0415

    slope = F.when(
        den_x != 0, round_c(num.cast("double") / den_x.cast("double"), out_decimals)
    )
    intercept = F.when(
        den_x != 0,
        round_c(
            (
                F.col("__sy").cast("double")
                - (num.cast("double") / den_x.cast("double"))
                * F.col("__sx").cast("double")
            )
            / n.cast("double"),
            out_decimals,
        ),
    )
    r2 = F.when(
        (den_x != 0) & (den_y != 0),
        round_c(
            (num.cast("double") * num.cast("double"))
            / (den_x.cast("double") * den_y.cast("double")),
            out_decimals,
        ),
    )
    return agg.select(
        *group_cols,
        n.cast("long").alias("n_points"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


def theil_sen_trend(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    out_decimals: int = 6,
) -> DataFrame:
    """Per-group Theil–Sen robust trend: the MEDIAN of all pairwise
    slopes (y_j − y_i)/(x_j − x_i), x_i < x_j — the estimator that
    shrugs off the outliers that drag OLS (``linear_trend``) around;
    the standard robust companion on monitoring rollups.

    Fully relational — a within-group self-join on x-ordered pairs
    plus an exact median; no Python, no sorting UDFs. Pair volume is
    O(points² per group): fine for the intended inputs (daily rollups
    — thousands of points per key at most, millions of pair rows),
    and the join is group-keyed so pairs never cross groups. For
    longer series, pre-bucket x (e.g. weekly) before calling.

    Determinism: slopes are DECIMAL y-deltas over integral x-deltas,
    rounded per pair before the median; the exact interpolated median
    matches DuckDB's ``quantile_cont`` bit-for-bit. Groups with < 2
    distinct x produce no pairs and are OMITTED from the output
    (left-join back on the group key to materialize NULL rows).
    """
    a = df.select(
        *group_cols,
        F.col(x_col).cast("long").alias("__xa"),
        F.col(y_col).cast("decimal(28,6)").alias("__ya"),
    )
    b = df.select(
        *group_cols,
        F.col(x_col).cast("long").alias("__xb"),
        F.col(y_col).cast("decimal(28,6)").alias("__yb"),
    )
    from ..functions.numeric import round_c  # noqa: PLC0415

    pairs = a.join(b, group_cols).filter(F.col("__xa") < F.col("__xb"))
    slope = round_c(
        (F.col("__yb") - F.col("__ya")).cast("double")
        / (F.col("__xb") - F.col("__xa")).cast("double"),
        out_decimals + 3,
    )
    return (
        pairs.select(*group_cols, slope.alias("__s"))
        .groupBy(*group_cols)
        .agg(
            F.count("*").alias("n_pairs"),
            round_c(F.median("__s"), out_decimals).alias("ts_slope"),
        )
        .select(
            *group_cols,
            F.col("n_pairs").cast("long").alias("n_pairs"),
            "ts_slope",
        )
    )


def mad_outliers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: float = 3.5,
) -> DataFrame:
    """Robust per-group outliers by Median Absolute Deviation
    (Hampel / Iglewicz-Hoaglin, the |robust z| > 3.5 rule): flags
    rows where |x − median| > k · 1.4826 · MAD — the metric-anomaly
    gate that, unlike the mean/std z-score
    (`timeseries.rolling_zscore_anomalies`), does not let the
    outliers inflate their own threshold (a z-score needs ~30% junk
    before it stops flagging; MAD's breakdown point is 50%).

    Returns the flagged rows with ``group_median``, ``mad`` and
    ``robust_z = round_c(|x−med| / (1.4826·MAD), 6)``.  Degenerate
    groups (MAD = 0: over half the values identical) flag ANY
    deviating row with ``robust_z`` NULL — silently dropping them
    would hide exactly the frozen-metric pathology MAD exists to
    catch.

    Shape: two exact per-group medians (sort-based — the q38
    contract) on the SAME
    group key — one wide shuffle reused across both aggregates and
    the two co-partitioned join-backs.  ``F.median`` matches DuckDB's
    ``median`` bit-for-bit (both sort + interpolate), so the flag
    boundary itself is engine-exact.
    """
    from ..functions.numeric import round_c

    med = df.groupBy(*group_cols).agg(
        F.median(value_col).alias("group_median")
    )
    dev = df.join(med, group_cols).withColumn(
        "__dev", F.abs(F.col(value_col) - F.col("group_median"))
    )
    mad = dev.groupBy(*group_cols).agg(F.median("__dev").alias("mad"))
    scale = F.lit(1.4826) * F.col("mad")
    flagged = dev.join(mad, group_cols).filter(
        F.when(F.col("mad") == 0, F.col("__dev") > 0).otherwise(
            F.col("__dev") > F.lit(k) * scale
        )
    )
    return flagged.select(
        *df.columns,
        "group_median",
        "mad",
        F.when(
            F.col("mad") > 0, round_c(F.col("__dev") / scale, 6)
        ).alias("robust_z"),
    )


def weighted_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    ps: list[float] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Weighted per-group percentiles (type-1 / lower weighted
    quantile): for each p, the smallest value whose cumulative weight
    reaches p·W — "the token-count-weighted median quality score"
    class of question, where per-ROW percentiles mislead because one
    10M-token document should count like 10M rows, not one.

    Exactness: weights round to DECIMAL(28,6) before summing (exact,
    order-free); values COLLAPSE to (group, value) first so the
    cumulative window has no duplicate-tie ambiguity (the qx70
    lesson, eliminated structurally here rather than tie-broken);
    the p·W threshold stays in DECIMAL end to end — each p is read
    as the exact rational num/den of its decimal literal and the
    test is ``cw·den ≥ num·tw`` on exact decimal products, so a
    threshold landing exactly on a cumulative-weight boundary selects
    the correct order statistic even when total weight exceeds 2^53
    (a double compare could pick the adjacent value there). Exact
    while W·den < 10^32 (decimal(38,6) product headroom) — beyond
    astronomical.  Negative weights are undefined (weighted quantiles
    need a monotone CDF) — caller contract.

    Shape: TWO exchanges — the (group, value) collapse aggregate
    partitions on the composite key, then the cumulative window
    re-partitions on the group alone — plus the ps explode
    (model-sized literal array) and a min aggregate on the window's
    partitioning.  Long output (group, p, value).  At 100 TB with high-cardinality values, pre-bucket
    values (row-68 quantile buckets) before the window.
    """
    from ..functions.numeric import round_c

    if not ps or any(not 0.0 < p <= 1.0 for p in ps):
        raise ValueError("ps must be within (0, 1]")
    wv = (
        df.select(
            *group_cols,
            F.col(value_col).alias("v"),
            round_c(F.col(weight_col), 6).cast("decimal(28,6)").alias("w"),
        )
        .groupBy(*group_cols, "v")
        .agg(F.sum("w").alias("w"))
    )
    cum_w = Window.partitionBy(*group_cols).orderBy("v")
    full_w = Window.partitionBy(*group_cols)
    cum = wv.select(
        *group_cols,
        "v",
        F.sum("w")
        .over(cum_w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cw"),
        F.sum("w").over(full_w).alias("tw"),
    )
    from fractions import Fraction

    # Each p as the exact rational of its decimal literal, so the
    # threshold compare below never leaves decimal arithmetic.
    fracs = [Fraction(str(float(p))) for p in ps]
    p_structs = [
        F.struct(
            F.lit(float(p)).alias("p"),
            F.lit(int(fr.numerator)).alias("num"),
            F.lit(int(fr.denominator)).alias("den"),
        )
        for p, fr in zip(ps, fracs)
    ]
    return (
        cum.select(
            *group_cols,
            "v",
            "cw",
            "tw",
            F.explode(F.array(*p_structs)).alias("pp"),
        )
        .filter(
            F.col("cw") * F.col("pp.den") >= F.col("pp.num") * F.col("tw")
        )
        .select(*group_cols, "v", F.col("pp.p").alias("p"))
        .groupBy(*group_cols, "p")
        .agg(F.min("v").alias("value"))
    )


def winsorize(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lower: float = 0.01,
    upper: float = 0.99,
) -> DataFrame:
    """Per-group winsorization: clip ``value_col`` into the group's
    exact [p_lower, p_upper] percentile band — the heavy-tail taming
    step before means/regressions on web metrics, where a handful of
    viral outliers otherwise own the average (clipping PRESERVES the
    row with a bounded value, where trimming/MAD-filtering drops it —
    use `mad_outliers` to FLAG, this to KEEP).

    Adds ``p_lo``, ``p_hi`` and the clipped ``<value>_winsorized``
    next to every original column.  Percentiles are the exact
    interpolated form (`F.percentile` == DuckDB `quantile_cont`
    bit-for-bit — the q38 contract); the clip is
    least/greatest, engine-exact.  One group-key aggregate + one
    broadcast-able join-back.
    """
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError("need 0 <= lower < upper <= 1")
    bounds = df.groupBy(*group_cols).agg(
        F.percentile(value_col, lower).alias("p_lo"),
        F.percentile(value_col, upper).alias("p_hi"),
    )
    # greatest/least skip NULLs, which would FABRICATE p_lo for a
    # missing metric — preserve NULL instead (mad_outliers parity).
    clipped = F.when(
        F.col(value_col).isNotNull(),
        F.least(F.greatest(F.col(value_col), F.col("p_lo")), F.col("p_hi")),
    )
    return df.join(bounds, list(group_cols)).withColumn(
        f"{value_col}_winsorized", clipped
    )


def corr_matrix(
    df: DataFrame,
    cols: list[str],
    decimals: int = 6,
) -> DataFrame:
    """Pairwise Pearson correlations over a fixed metric-column list —
    the metric-redundancy audit before a quality blend (row 129
    fuses scorers; this says which scorers are measuring the same
    thing) and the numeric companion of Cramér's V. Output: one row
    per unordered pair (col_a < col_b) with the PAIRWISE-COMPLETE
    sample size and r.

    Pairwise-complete: each pair's sums run over rows where BOTH
    columns are non-NULL (the standard corr(x, y) contract), as
    conditional aggregates — all pairs in ONE corpus pass, k(k−1)/2
    aggregate sets over a fixed small k (the caller names the
    columns; they are the model).

    Exactness: values round to 6dp and sum as DECIMAL (order-free,
    partition-invariant); the closed form
    r = (n·Sxy − Sx·Sy) / (sqrt(n·Sxx − Sx²) · sqrt(n·Syy − Sy²))
    then evaluates in DOUBLES over those exact sums in a FIXED
    operation order (decimal×decimal here would hit each engine's
    own precision-reduction rules; exact-sum→double conversion is
    engine-identical, and fixed-order IEEE ops replay bit-for-bit —
    the rolling-zscore discipline, never the engine's incremental
    algorithm). r is NULL for degenerate pairs (constant column or
    n < 2).
    """
    from ..functions.numeric import round_c  # noqa: PLC0415

    if len(cols) < 2:
        raise ValueError("need at least two columns")
    aggs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            both = F.col(a).isNotNull() & F.col(b).isNotNull()
            # ASYMMETRIC (19,6)x(18,6) product operands: Spark's
            # (28,6)x(28,6) promotes to (38,6) — silently 6dp-ROUNDED
            # (0.000123*0.000456 -> 0E-12, review-caught) — while
            # DuckDB's (18,6)x(18,6) runs int64 internally and
            # OVERFLOWS on ~1e5-scale values. (19,6)x(18,6) is the
            # one shape exact in BOTH: Spark (38,12) with no
            # precision loss; DuckDB width 37 on int128.
            # |value| < 1e12 after 6dp rounding is the input contract.
            def _dec(col_name, width):
                return F.when(
                    both, round_c(F.col(col_name).cast("double"), 6)
                ).cast(f"decimal({width},6)")

            x19, x18 = _dec(a, 19), _dec(a, 18)
            y19, y18 = _dec(b, 19), _dec(b, 18)
            tag = f"{a}__{b}"
            aggs += [
                F.count(F.when(both, F.lit(1))).alias(f"n_{tag}"),
                F.sum(x18).alias(f"sx_{tag}"),
                F.sum(y18).alias(f"sy_{tag}"),
                F.sum((x19 * y18).cast("decimal(38,12)")).alias(f"sxy_{tag}"),
                F.sum((x19 * x18).cast("decimal(38,12)")).alias(f"sxx_{tag}"),
                F.sum((y19 * y18).cast("decimal(38,12)")).alias(f"syy_{tag}"),
            ]
    wide = df.agg(*aggs)
    rows = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            tag = f"{a}__{b}"
            n = F.col(f"n_{tag}").cast("double")
            sx = F.col(f"sx_{tag}").cast("double")
            sy = F.col(f"sy_{tag}").cast("double")
            num = n * F.col(f"sxy_{tag}").cast("double") - sx * sy
            dx = n * F.col(f"sxx_{tag}").cast("double") - sx * sx
            dy = n * F.col(f"syy_{tag}").cast("double") - sy * sy
            r = F.when(
                (F.col(f"n_{tag}") >= 2) & (dx > 0) & (dy > 0),
                round_c(num / (F.sqrt(dx) * F.sqrt(dy)), decimals),
            )
            rows.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.col(f"n_{tag}").alias("n"),
                    r.alias("r"),
                )
            )
    return wide.select(
        F.explode(F.array(*rows)).alias("__p")
    ).select("__p.col_a", "__p.col_b", "__p.n", "__p.r").orderBy(
        "col_a", "col_b"
    )


def gini_concentration(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Gini coefficient of a non-negative value per group — the
    inequality/concentration audit ("is this corpus's traffic /
    token mass / crawl budget concentrated in a few heads?") that
    complements the CATEGORICAL concentration in mixture_diversity
    (row 191) with the standard NUMERIC-mass measure: 0 = uniform,
    →1 = one unit holds everything.

    Closed form over ascending-ranked values:
    ``G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx)``. Ranks come from one
    per-group window; ties rank arbitrarily WITHIN equal values,
    which cannot change Σ i·xᵢ (equal x swap freely) — so no
    tiebreak column is needed and any replay agrees. Values round to
    6dp and every sum/product is exact DECIMAL; ONE double division
    at the end. NULL and negative values are excluded by contract
    (Gini needs non-negative mass); all-zero groups report NULL.

    Scale shape: one window + one hash aggregate, both on the group
    key — a single shuffle. Output: (group, n, total, gini).
    """
    from ..functions.numeric import round_c  # noqa: PLC0415

    x = round_c(F.col(value_col).cast("double"), 6).cast("decimal(28,6)")
    base = df.filter(
        F.col(value_col).isNotNull() & (F.col(value_col) >= 0)
    ).select(*group_cols, x.alias("__x"))
    w = Window.partitionBy(*group_cols).orderBy("__x")
    ranked = base.select(
        *group_cols,
        "__x",
        F.row_number().over(w).cast("long").alias("__i"),
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("__sx"),
        F.sum(
            (F.col("__i").cast("decimal(38,6)") * F.col("__x")).cast(
                "decimal(38,6)"
            )
        ).alias("__six"),
    )
    num = (
        F.lit(2) * F.col("__six")
        - (F.col("n") + F.lit(1)).cast("decimal(38,0)") * F.col("__sx")
    ).cast("double")
    den = (
        F.col("n").cast("decimal(38,0)") * F.col("__sx")
    ).cast("double")
    return agg.select(
        *group_cols,
        "n",
        round_c(F.col("__sx").cast("double"), 6).alias("total"),
        F.when(den > 0, round_c(num / den, 6)).alias("gini"),
    ).orderBy(*group_cols)


def moments_profile(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    out_decimals: int = 6,
) -> DataFrame:
    """Per-group higher-moment profile — mean, sample std, adjusted
    Fisher-Pearson skewness (G1) and sample excess kurtosis (G2) — the
    distribution-SHAPE companion of the location/spread profilers
    (`mad_outliers` robust center, `winsorize` tail clipping,
    `column_profile` basics): a quality metric whose per-source
    skewness flips sign, or whose kurtosis explodes, has changed
    distributional character even when mean and std look stable.

    Built from exact power sums in ONE hash aggregate per group:
    x is rounded to 6 decimals, each power term x^2 / x^3 / x^4 is a
    FIXED-ORDER double product rounded via ``round_c`` and cast to
    DECIMAL before SUM — partial-aggregable map-side, order- and
    engine-independent (the corr_matrix one-pass discipline; central
    moments then derive from raw sums in fixed-order doubles). The
    one-pass raw-sum form is well-conditioned while |mean| /
    std << 1e5 (doubles carry ~16 digits; our 6-decimal inputs stay
    far inside) — for pathologically ill-conditioned data, pre-center
    with a first pass and feed the residuals here.

    n < 3 groups report NULL skewness, n < 4 NULL kurtosis (the
    bias-corrected estimators are undefined); zero-variance groups
    report NULL for both (no shape to measure). NULL values excluded.

    The power sums are DECIMAL — exact, order-independent and
    oracle-reproducible, at ~1 µs/row of BigDecimal cost (Spark
    decimals wider than 18 digits leave the compact-long fast path).
    """
    from ..functions.numeric import round_c  # noqa: PLC0415

    # Power terms are PRE-PROJECTED once per row and the aggregate
    # consumes plain column refs: aggregate INPUT expressions don't get
    # whole-stage-codegen subexpression elimination, so inlining the
    # rounding chains re-evaluated round(x·1e6)/1e6 ~10× per row
    # (each Spark double-round is a BigDecimal setScale) — measured 6×
    # slower than this shape on the same scan. Projection exprs DO CSE.
    x = round_c(F.col(value_col).cast("double"), 6)
    pre = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, x.alias("__x"))
        .select(
            *group_cols,
            "__x",
            round_c(F.col("__x") * F.col("__x"), 6).alias("__x2"),
            round_c(
                (F.col("__x") * F.col("__x")) * F.col("__x"), 6
            ).alias("__x3"),
            round_c(
                (F.col("__x") * F.col("__x"))
                * (F.col("__x") * F.col("__x")),
                6,
            ).alias("__x4"),
        )
    )
    agg = (
        pre.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            # Exact constant-group detection: with the raw-sum double
            # form, a constant like 1.0005 yields m2 = -2.5e-7 from
            # 6dp power rounding (NaN std) or a tiny positive value
            # (noise skew); min(x) == max(x) over the ROUNDED value
            # decides exactly AND collapses map-side like the other
            # sums — countDistinct here would add an Exchange keyed
            # on (group, value), a corpus-sized shuffle in a query
            # that is otherwise one hash aggregate.
            F.min("__x").alias("__mn"),
            F.max("__x").alias("__mx"),
            F.sum(F.col("__x").cast("decimal(28,6)")).alias("__s1"),
            F.sum(F.col("__x2").cast("decimal(32,6)")).alias("__s2"),
            F.sum(F.col("__x3").cast("decimal(36,6)")).alias("__s3"),
            F.sum(F.col("__x4").cast("decimal(38,6)")).alias("__s4"),
        )
    )
    n = F.col("n").cast("double")
    s1 = F.col("__s1").cast("double")
    s2 = F.col("__s2").cast("double")
    s3 = F.col("__s3").cast("double")
    s4 = F.col("__s4").cast("double")
    mean = s1 / n
    # Central moments from raw sums, fixed operation order.
    m2 = s2 / n - mean * mean
    m3 = s3 / n - F.lit(3.0) * mean * (s2 / n) + F.lit(2.0) * (mean * mean) * mean
    m4 = (
        s4 / n
        - F.lit(4.0) * mean * (s3 / n)
        + F.lit(6.0) * (mean * mean) * (s2 / n)
        - F.lit(3.0) * ((mean * mean) * (mean * mean))
    )
    std = F.when(F.col("__mn") == F.col("__mx"), F.lit(0.0)).when(
        F.col("n") > 1,
        F.sqrt(F.greatest(m2, F.lit(0.0)) * n / (n - F.lit(1.0))),
    )
    g1 = m3 / (m2 * F.sqrt(m2))
    skew = F.when(
        (F.col("n") > 2) & (m2 > 0) & (F.col("__mn") < F.col("__mx")),
        round_c(
            g1 * F.sqrt(n * (n - F.lit(1.0))) / (n - F.lit(2.0)),
            out_decimals,
        ),
    )
    g2 = m4 / (m2 * m2) - F.lit(3.0)
    kurt = F.when(
        (F.col("n") > 3) & (m2 > 0) & (F.col("__mn") < F.col("__mx")),
        round_c(
            ((n + F.lit(1.0)) * g2 + F.lit(6.0))
            * (n - F.lit(1.0))
            / ((n - F.lit(2.0)) * (n - F.lit(3.0))),
            out_decimals,
        ),
    )
    return agg.select(
        *group_cols,
        "n",
        round_c(mean, out_decimals).alias("mean"),
        round_c(std, out_decimals).alias("std"),
        skew.alias("skewness"),
        kurt.alias("kurtosis"),
    ).orderBy(*group_cols)


def mann_kendall(
    df: DataFrame,
    group_cols: list[str],
    time_col: str,
    value_col: str,
    alpha_z: float = 1.959963985,
) -> DataFrame:
    """Mann-Kendall trend test per group — the NON-PARAMETRIC "is this
    metric monotonically drifting?" readout beside `linear_trend`
    (assumes linearity; one outlier owns the slope) and
    `theil_sen_trend` (robust SLOPE estimate; this is the TEST):

        S = sum_{i<j} sign(x_j - x_i)

    with the tie-corrected normal approximation
    ``Var(S) = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)] / 18`` and the
    standard continuity correction (z = (S∓1)/sqrt(Var), 0 at S=0).
    Output per group: n, s_stat, var_s, z, and trend ∈ {increasing,
    decreasing, no_trend} at the given critical value.

    Exactness: S is an exact integer over sign comparisons of raw
    doubles; both variance polynomials ride asymmetric-width DECIMAL
    products ((12,0)x(13,0)x(13,0) — exact in Spark AND a replaying
    engine's int128); z is one fixed-order double expression.

    Scale shape: the pair table is an equi-join on the group key with
    a position-ordering filter (the theil_sen contract — NEVER a
    cartesian; pair volume is O(points²/group), bounded by rollup
    cardinality: use daily/weekly rollups, not raw events). Ties in
    ``time_col`` within a group make sign pairs ill-defined — build
    series with unique timestamps (a rollup does). NULL values are
    excluded; n < 2 groups report NULL z.
    """
    from ..functions.numeric import round_c  # noqa: PLC0415

    base = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            *group_cols,
            F.col(time_col).alias("__t"),
            F.col(value_col).cast("double").alias("__x"),
        )
    )
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy("__t")
    seq = base.withColumn("__rn", F.row_number().over(w))
    a = seq.select(
        *group_cols, F.col("__rn").alias("__ri"), F.col("__x").alias("__xi")
    )
    bb = seq.select(
        *[F.col(c).alias(f"__g_{c}") for c in group_cols],
        F.col("__rn").alias("__rj"),
        F.col("__x").alias("__xj"),
    )
    # eqNullSafe: window partitioning keeps NULL-keyed groups, so the
    # pair join (and the S join-back below) must too — a plain == had
    # a NULL-keyed drifting series report s_stat=0 / 'no_trend'.
    cond = [F.col(c).eqNullSafe(F.col(f"__g_{c}")) for c in group_cols] + [
        F.col("__ri") < F.col("__rj")
    ]
    s_tab = (
        a.join(bb, cond)
        .groupBy(*group_cols)
        .agg(
            F.sum(F.signum(F.col("__xj") - F.col("__xi")))
            .cast("long")
            .alias("s_stat")
        )
    )
    td = F.col("__tcnt").cast("decimal(12,0)")
    ties = (
        base.groupBy(*group_cols, "__x")
        .agg(F.count(F.lit(1)).cast("long").alias("__tcnt"))
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("__nvals"),
            F.sum("__tcnt").cast("long").alias("n"),
            F.sum(
                td
                * (td - F.lit(1)).cast("decimal(13,0)")
                * (
                    F.lit(2).cast("decimal(12,0)") * td + F.lit(5)
                ).cast("decimal(13,0)")
            ).cast("decimal(38,0)").alias("__tie_sum"),
        )
    )
    s_tab_r = s_tab.select(
        *[F.col(c).alias(f"__j_{i}") for i, c in enumerate(group_cols)],
        "s_stat",
    )
    joined = ties.join(
        s_tab_r,
        [
            F.col(c).eqNullSafe(F.col(f"__j_{i}"))
            for i, c in enumerate(group_cols)
        ],
        "left",
    ).drop(*[f"__j_{i}" for i in range(len(group_cols))])
    nd = F.col("n").cast("decimal(12,0)")
    var_num = (
        nd
        * (nd - F.lit(1)).cast("decimal(13,0)")
        * (F.lit(2).cast("decimal(12,0)") * nd + F.lit(5)).cast(
            "decimal(13,0)"
        )
    ).cast("decimal(38,0)") - F.col("__tie_sum")
    var_s = var_num.cast("double") / F.lit(18.0)
    s_d = F.col("s_stat").cast("double")
    z = F.when(
        (F.col("n") > 1) & (var_s > 0),
        F.when(F.col("s_stat") > 0, round_c((s_d - F.lit(1.0)) / F.sqrt(var_s), 6))
        .when(F.col("s_stat") < 0, round_c((s_d + F.lit(1.0)) / F.sqrt(var_s), 6))
        .otherwise(F.lit(0.0)),
    )
    trend = (
        F.when(z.isNull(), F.lit("no_trend"))
        .when(
            (F.abs(z) > F.lit(float(alpha_z))) & (F.col("s_stat") > 0),
            F.lit("increasing"),
        )
        .when(
            (F.abs(z) > F.lit(float(alpha_z))) & (F.col("s_stat") < 0),
            F.lit("decreasing"),
        )
        .otherwise(F.lit("no_trend"))
    )
    return joined.select(
        *group_cols,
        "n",
        F.coalesce(F.col("s_stat"), F.lit(0)).alias("s_stat"),
        round_c(var_s, 6).alias("var_s"),
        z.alias("z"),
        trend.alias("trend"),
    ).orderBy(*group_cols)
