"""Hashed n-gram linear text scorer (the fastText shape).

fastText-style quality/topic classification (Joulin et al. 2016, "Bag
of Tricks for Efficient Text Classification") over this engine's
relational primitives: documents become bags of HASHED features (word
unigrams, word bigrams, boundary-marked char n-grams — hashing trick,
fixed bucket count), the model is a model-sized (bucket, weight)
table, and a document's score is the mean weight of its features — a
linear classifier. The lang-ID marker-word heuristic
(``functions/text.py:97``) stays as the zero-setup fallback; this is
the trained upgrade path.

Training here is naive-Bayes log-odds (add-one smoothing): weight(b) =
ln P(b|pos) − ln P(b|neg) — the classic linear-model closed form that
needs exactly two hash aggregates, no gradient loop. Any externally
trained weight table with the same (bucket, weight) schema drops in.

Scale shape: features hash map-side with the engine's portable
polynomial hash (same fold the q20 oracle replays — NOT xxhash, so
any SQL engine can recompute it); training is one explode + per-bucket
conditional aggregate; scoring is one explode + hash join against the
weight table (AQE broadcasts it — it is at most ``n_buckets`` rows)
+ a per-doc aggregate whose exchange carries map-side partials.
Weights round to DECIMAL before the per-doc sum (the unigram-LM
trick), so scores are order-independent and engine-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exprs import flet
from ..functions.text import tokens

_FP_BASE = 31
_FP_MOD = 1_000_000_007


def _poly_hash(s: Column) -> Column:
    """(acc·31 + codepoint) mod 1e9+7 folded over the characters —
    bit-identical to ``fingerprint64``'s fold and its SQL replay."""
    return F.aggregate(
        F.split(s, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * F.lit(_FP_BASE) + F.ascii(ch)) % F.lit(_FP_MOD),
    )


def _poly_hash_gram(codes: Column, i: Column, n: int) -> Column:
    """Closed-form fold for the ``n``-codepoint gram starting at
    1-based ``i`` of ``codes``: Σ code_j·31^(n−1−j) mod 1e9+7.
    Modular arithmetic is a homomorphism, so this is bit-identical to
    the per-char fold — and the int64 sum can't overflow for n ≤ 8
    (max codepoint ~1.1e6 × 31⁷ × 8 ≪ 2⁶³). One expression per gram
    instead of a split + aggregate: ~10× cheaper in the hot path."""
    acc: Column = F.lit(0).cast("long")
    for j in range(n):
        acc = acc + F.element_at(codes, i + j).cast("long") * F.lit(
            _FP_BASE ** (n - 1 - j)
        )
    return acc % F.lit(_FP_MOD)


def hashed_features(
    col: Column, n_buckets: int = 1 << 18, char_n: int = 3
) -> Column:
    """array<long> of feature bucket ids: word unigrams + adjacent word
    bigrams + char ``char_n``-grams of each ``<``boundary-marked``>``
    word, each hashed into ``n_buckets``. Pure higher-order
    expressions — no shuffle, no Python.

    Expression-cost discipline (this tripled qx19's speed): the token
    array is LET-BOUND via a one-element ``transform`` so the regex
    tokenization runs once per row (expression references are NOT
    common-subexpression-eliminated across the feature terms); bigrams
    zip sliced arrays instead of ``element_at(words, i)`` (an outer
    reference inside a higher-order lambda re-evaluates per element);
    char grams hash with the closed form (``_poly_hash_gram``) over a
    once-split codepoint array, not a per-gram fold."""
    return flet(
        tokens(col), lambda ws: _features_from_words(ws, n_buckets, char_n)
    )


def _features_from_words(
    words: Column, n_buckets: int, char_n: int
) -> Column:
    b = F.lit(n_buckets)
    nw = F.size(words)
    uni = F.transform(words, lambda w: _poly_hash(w) % b)
    # bigrams via arrays_zip, NOT element_at(words, i) inside the
    # lambda: an outer-expression reference in a higher-order lambda
    # re-evaluates it per ELEMENT — that re-tokenized the document for
    # every bigram (measured 10× the cost of all other terms).
    big = F.when(
        nw >= 2,
        F.transform(
            F.arrays_zip(
                F.slice(words, 1, nw - 1).alias("a"),
                F.slice(words, 2, nw - 1).alias("b"),
            ),
            lambda p: _poly_hash(F.concat_ws(" ", p["a"], p["b"])) % b,
        ),
    ).otherwise(F.array().cast("array<long>"))
    # boundary-marked codepoint arrays, one split per word
    marked_codes = F.transform(
        words,
        lambda w: F.concat(
            F.array(F.lit(60)),  # '<'
            F.transform(F.split(w, ""), lambda c: F.ascii(c)),
            F.array(F.lit(62)),  # '>'
        ),
    )
    chars = F.flatten(
        F.transform(
            marked_codes,
            lambda m: F.transform(
                F.sequence(F.lit(1), F.size(m) - F.lit(char_n - 1)),
                lambda i: _poly_hash_gram(m, i, char_n) % b,
            ),
        )
    )
    return F.concat(uni, big, chars)


def train_hashed_scorer(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    n_buckets: int = 1 << 18,
    char_n: int = 3,
    logw_decimals: int = 6,
) -> DataFrame:
    """Learn the (bucket, w) weight table from boolean/0-1 labels:
    naive-Bayes log-odds with add-one smoothing over ``n_buckets``
    virtual vocabulary slots. Returns DataFrame (bucket long,
    w decimal) — model-sized, at most ``n_buckets`` rows."""
    feats = df.select(
        F.col(label_col).cast("int").alias("__y"),
        F.explode(
            hashed_features(
                F.coalesce(F.col(text_col), F.lit("")), n_buckets, char_n
            )
        ).alias("bucket"),
    )
    agg = feats.groupBy("bucket").agg(
        F.sum("__y").alias("__pos"),
        (F.count("*") - F.sum("__y")).alias("__neg"),
    ).localCheckpoint()
    tot = agg.agg(
        F.sum("__pos").alias("__tp"), F.sum("__neg").alias("__tn")
    )
    # round_c, not F.round: the weight table must round like the
    # DuckDB oracle's multiply-form round (the qx11/qx19 sf1 class —
    # one straddling bucket weight shifts every containing doc's sum).
    from ..functions.numeric import round_c  # noqa: PLC0415

    return agg.crossJoin(F.broadcast(tot)).select(
        "bucket",
        round_c(
            F.log(
                (F.col("__pos") + 1).cast("double")
                / (F.col("__tp") + F.lit(n_buckets)).cast("double")
            )
            - F.log(
                (F.col("__neg") + 1).cast("double")
                / (F.col("__tn") + F.lit(n_buckets)).cast("double")
            ),
            logw_decimals,
        )
        .cast(f"decimal(18,{logw_decimals})")
        .alias("w"),
    )


def hashed_scorer_scores(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1 << 18,
    char_n: int = 3,
    normalize: bool = True,
) -> DataFrame:
    """Score documents with a (bucket, w) table: mean feature weight
    (``normalize=False`` keeps the raw SUM — the log importance weight
    a DSIR-style selector needs), positive ⇒ the positive class.
    Buckets absent from the table contribute 0 (train and score on the
    same bucket space to avoid that; the default only fires on
    features unseen in training). Returns (id_col, n_features, score,
    pred); docs with no features (empty/null text) score NULL, pred
    false."""
    feats = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            hashed_features(
                F.coalesce(F.col(text_col), F.lit("")), n_buckets, char_n
            )
        ).alias("bucket"),
    )
    dec = weights.schema["w"].dataType.simpleString()
    scored = (
        feats.join(weights, "bucket", "left")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_features"),
            F.sum(F.coalesce(F.col("w"), F.lit(0).cast(dec))).alias("__sw"),
        )
    )
    # + 0.0 canonicalizes IEEE negative zero (a tiny negative sum that
    # rounds to zero must not hash-differ from +0.0 across engines).
    # round_c, not F.round: the r13 sf1 decade sweep caught two docs
    # whose score·10^6 double product lands exactly on a .5 boundary,
    # where F.round (shortest-repr rounding) disagrees with DuckDB's
    # multiply-form round.
    from ..functions.numeric import round_c  # noqa: PLC0415

    denom = F.col("n_features") if normalize else F.lit(1)
    score = round_c(
        F.col("__sw").cast("double") / denom, 6
    ) + F.lit(0.0)
    out = scored.select(
        F.col("id").alias(id_col),
        F.col("n_features").cast("long").alias("n_features"),
        score.alias("score"),
        (score > 0).alias("pred"),
    )
    base = df.select(F.col(id_col)).distinct()
    return base.join(out, id_col, "left").select(
        id_col,
        F.coalesce("n_features", F.lit(0)).cast("long").alias("n_features"),
        "score",
        F.coalesce("pred", F.lit(False)).alias("pred"),
    )


def dsir_select(
    df: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1 << 18,
    char_n: int = 3,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    pick ``k`` raw documents whose hashed-n-gram distribution looks
    like the ``target`` corpus. The importance weight of a document is
    ∑ features ln(p_target(b)/p_source(b)) — exactly the naive-Bayes
    log-odds table this module already trains (target vs raw as the
    two classes), summed rather than averaged — and the draw is
    Gumbel top-k: key = log-weight + g, g = −ln(−ln u) with the same
    deterministic pure-hash uniform the A-ES sampler uses, so the
    selection is reproducible across engines, runs and partitionings.

    Scale shape: weight training is two hash aggregates over the union
    corpus (the bucket table is checkpointed once);
    scoring is qx19's explode + broadcast-weight join + per-doc
    DECIMAL sum; the top-k is a rank window over (key DESC, id) —
    TakeOrdered semantics, map tasks ship k rows each. Returns
    (id_col, n_features, logw, sel_rank) for the ``k`` selected docs.
    """
    src = df.select(
        F.col(text_col).alias("__t"), F.lit(False).alias("__is_t")
    )
    tgt = target.select(
        F.col(text_col).alias("__t"), F.lit(True).alias("__is_t")
    )
    w = train_hashed_scorer(
        src.unionByName(tgt), "__is_t", text_col="__t",
        n_buckets=n_buckets, char_n=char_n
    )
    scored = hashed_scorer_scores(
        df, w, text_col=text_col, id_col=id_col,
        n_buckets=n_buckets, char_n=char_n, normalize=False,
    ).filter(F.col("score").isNotNull())
    # Deterministic Gumbel: u ∈ (0,1) strictly from the multiplicative
    # key hash (the +0.5/2³²+1 shift keeps ln away from both poles).
    folded = F.pmod(F.col(id_col), F.lit(2147483648))
    u = (
        F.pmod(folded * F.lit(2654435761), F.lit(4294967296)).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967297.0)
    key = F.col("score") + (-F.log(-F.log(u)))
    win = Window.orderBy(key.desc(), F.col(id_col).asc())
    return (
        scored.withColumn("sel_rank", F.row_number().over(win))
        .filter(F.col("sel_rank") <= k)
        .select(
            id_col,
            "n_features",
            F.col("score").alias("logw"),
            F.col("sel_rank").cast("int").alias("sel_rank"),
        )
    )


def isotonic_calibrate(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 20,
) -> DataFrame:
    """Isotonic (monotone) calibration of a scorer against observed
    labels — the step that turns a RANKING score (fastText-shape
    scorer, perplexity, quality blend) into a usable PROBABILITY
    before thresholding decides what a corpus keeps: bin the score
    range, take each bin's label mean, then fit the best monotone
    non-decreasing approximation (L2 isotonic regression). Where
    Platt scaling assumes a sigmoid, isotonic assumes only
    monotonicity — the standard non-parametric choice (Zadrozny &
    Elkan 2002).

    The fit uses the CLOSED-FORM max-min characterization over bins —
    ``fit_i = max_{j<=i} min_{k>=i} wavg(label, bins j..k)`` — which
    equals the PAVA solution exactly but is pure relational algebra:
    with ``B`` bins it enumerates the O(B^3) (j, i, k) triples over a
    B-row table (8k rows at B=20 — model-sized by construction, the
    bins being the model). Weighted averages come from DECIMAL prefix
    sums (exact, order-free); each is ONE double division, so a SQL
    twin replays the fit bit-for-bit. No collect, no UDF, no window
    beyond the B-row prefix scan.

    Scale shape: the heavy part is ONE hash aggregate of the corpus
    into B bins (map-side combine); everything after runs on B rows.
    Bin edges come from the global min/max via a 1-row broadcast
    (the scalar-agg discipline); a degenerate constant score lands
    everything in bin 0. NULL scores/labels are excluded.

    Output: (bin, score_lo, score_hi, n, label_mean, fit) — ``fit``
    non-decreasing in ``bin`` (pytest-pinned against a reference
    PAVA).
    """
    from ..functions.numeric import round_c

    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    base = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(score_col).cast("double").alias("__s"),
        F.col(label_col).cast("double").alias("__y"),
    )
    rng = base.agg(
        F.min("__s").alias("__lo"), F.max("__s").alias("__hi")
    )
    binned = (
        base.crossJoin(F.broadcast(rng))
        .select(
            F.when(
                F.col("__hi") > F.col("__lo"),
                F.least(
                    F.floor(
                        (F.col("__s") - F.col("__lo"))
                        / (F.col("__hi") - F.col("__lo"))
                        * F.lit(float(n_bins))
                    ).cast("long"),
                    F.lit(n_bins - 1).cast("long"),
                ),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("bin"),
            "__y",
            "__lo",
            "__hi",
        )
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(round_c(F.col("__y"), 9).cast("decimal(28,9)")).alias("__ysum"),
        F.min("__lo").alias("__lo"),
        F.max("__hi").alias("__hi"),
    )
    # single-partition by construction (B rows — the bins ARE the
    # model); the non-foldable constant key keeps the partition bound
    # explicit (the anomaly-rank nanvl idiom — an INTEGER col*0 would
    # constant-fold and resurrect the no-partition warning; the
    # double form can't fold because NaN*0 is NaN, and nanvl pins it)
    w = (
        Window.partitionBy(
            F.nanvl(F.col("bin").cast("double") * F.lit(0.0), F.lit(0.0))
        )
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pref = bins.select(
        "bin",
        "n",
        "__ysum",
        "__lo",
        "__hi",
        F.sum("n").over(w).alias("__cw"),
        F.sum("__ysum").over(w).alias("__cwy"),
    )
    # prefix rows keyed for the triple join (tiny — at most B rows,
    # so the single-partition window above is model-sized by design)
    jrows = pref.select(
        F.col("bin").alias("j"),
        (F.col("__cw") - F.col("n")).alias("cw_j0"),
        (F.col("__cwy") - F.col("__ysum")).alias("cwy_j0"),
    )
    krows = pref.select(
        F.col("bin").alias("k"),
        F.col("__cw").alias("cw_k"),
        F.col("__cwy").alias("cwy_k"),
    )
    irows = pref.select(F.col("bin").alias("i"))
    avg_jk = (
        (F.col("cwy_k") - F.col("cwy_j0")).cast("double")
        / (F.col("cw_k") - F.col("cw_j0")).cast("double")
    )
    triples = (
        irows.join(jrows, F.col("j") <= F.col("i"))
        .join(krows, F.col("k") >= F.col("i"))
        .select("i", "j", avg_jk.alias("__a"))
    )
    fit = (
        triples.groupBy("i", "j")
        .agg(F.min("__a").alias("__m"))
        .groupBy("i")
        .agg(F.max("__m").alias("__fit"))
    )
    return (
        bins.join(fit, bins["bin"] == fit["i"])
        .select(
            "bin",
            round_c(
                F.col("__lo")
                + F.col("bin").cast("double")
                * (F.col("__hi") - F.col("__lo"))
                / F.lit(float(n_bins)),
                9,
            ).alias("score_lo"),
            round_c(
                F.col("__lo")
                + (F.col("bin") + F.lit(1)).cast("double")
                * (F.col("__hi") - F.col("__lo"))
                / F.lit(float(n_bins)),
                9,
            ).alias("score_hi"),
            "n",
            round_c(
                F.col("__ysum").cast("double") / F.col("n").cast("double"), 6
            ).alias("label_mean"),
            round_c(F.col("__fit"), 6).alias("fit"),
        )
        .orderBy("bin")
    )


def classifier_eval(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Rank-based binary-classifier evaluation: ROC AUC computed as
    the tie-corrected Mann-Whitney rank statistic, plus the U statistic
    and the normal-approximation z against the no-discrimination null —
    the readout that closes the scorer family's loop (train a scorer
    `train_hashed_scorer`, calibrate it `isotonic_calibrate`, and now
    MEASURE whether it actually ranks positives above negatives before
    a 100 TB corpus is filtered with it).

    AUC == P(score_pos > score_neg) + P(tie)/2 == the Wilcoxon/
    Mann-Whitney statistic (Hanley & McNeil 1982), so no ROC curve is
    ever materialized: with average ranks ``R_pos`` summed over
    positives, ``AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos*n_neg)``.

    Exactness: ranks never materialize per row — the per-DISTINCT-score
    aggregate carries (count, positives), the cumulative window gives
    each tie group's doubled average rank ``2*cum_before + n_g + 1``
    (an integer, so no fractional rank arithmetic), and every product
    rides DECIMAL with asymmetric operand widths (the corr_matrix
    precision discipline — exact in both Spark and a replaying SQL
    engine). The tie-corrected variance uses the exact
    ``sum(t^3 - t)`` term; AUC/z are each ONE fixed-order double
    expression at the end, so an oracle replays them bit-for-bit.

    Scale shape: one hash aggregate to distinct scores (map-side
    combine collapses the corpus to at most |distinct scores| rows per
    group), one per-group cumulative window over those rows, one
    per-group fold. No row-level ranks, no global sort of the corpus,
    no collect. NULL scores/labels are excluded (no rank to assign /
    no class to credit); groups with a single class report NULL
    metrics rather than vanishing.
    """
    from ..functions.numeric import round_c  # noqa: PLC0415

    gcols = list(group_cols or [])
    lab = (F.col(label_col).cast("int") != 0).cast("int")
    base = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(*gcols, F.col(score_col).alias("__s"), lab.alias("__y"))
    per_score = base.groupBy(*gcols, "__s").agg(
        F.count(F.lit(1)).cast("long").alias("__n_g"),
        F.sum("__y").cast("long").alias("__pos_g"),
    )
    w = (
        Window.partitionBy(*[F.col(c) for c in gcols])
        if gcols
        else Window.partitionBy(F.lit(1))
    )
    cum_before = F.coalesce(
        F.sum("__n_g").over(
            w.orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0).cast("long"),
    )
    # Doubled average rank of the tie group: 2*cum_before + n_g + 1.
    ranked = per_score.withColumn(
        "__two_r", F.lit(2) * cum_before + F.col("__n_g") + F.lit(1)
    )
    # Asymmetric decimal widths keep every product exact in Spark
    # ((38,0), no precision loss) AND inside a replaying engine's
    # int128 (the corr_matrix lesson).
    nd = F.col("__n_g").cast("decimal(12,0)")
    agg = ranked.groupBy(*gcols).agg(
        F.sum("__n_g").cast("long").alias("n"),
        F.sum("__pos_g").cast("long").alias("n_pos"),
        (F.sum("__n_g") - F.sum("__pos_g")).cast("long").alias("n_neg"),
        F.sum(
            F.col("__pos_g").cast("decimal(18,0)")
            * F.col("__two_r").cast("decimal(19,0)")
        ).cast("decimal(38,0)").alias("__r2pos"),
        F.sum(nd * nd * nd - nd).cast("decimal(38,0)").alias("__ties"),
    )
    np_d = F.col("n_pos").cast("decimal(18,0)")
    nn_d = F.col("n_neg").cast("decimal(19,0)")
    # num = 2*R_pos - n_pos(n_pos+1)  (integer; U = num/2 exactly)
    num = F.col("__r2pos") - np_d * (np_d + F.lit(1)).cast("decimal(19,0)")
    # (np*nn)*2, not 2*np*nn: keeps the widest intermediate at 38
    # digits in a replaying engine whose multiply widths ADD.
    denom = (np_d * nn_d) * F.lit(2).cast("decimal(1,0)")
    npnn = (np_d * nn_d).cast("double")
    n_dbl = F.col("n").cast("double")
    u = num.cast("double") / F.lit(2.0)
    sig2 = (
        npnn
        / F.lit(12.0)
        * (
            (n_dbl + F.lit(1.0))
            - F.col("__ties").cast("double")
            / (n_dbl * (n_dbl - F.lit(1.0)))
        )
    )
    both = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    auc = F.when(both, round_c(num.cast("double") / denom.cast("double"), 6))
    z = F.when(
        both & (sig2 > 0),
        round_c((u - npnn / F.lit(2.0)) / F.sqrt(sig2), 6),
    )
    out = agg.select(
        *gcols,
        "n",
        "n_pos",
        "n_neg",
        auc.alias("auc"),
        F.when(both, u).alias("u_stat"),
        z.alias("z"),
    )
    return out.orderBy(*gcols) if gcols else out


def calibration_report(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    n_bins: int = 10,
    out_decimals: int = 6,
) -> DataFrame:
    """Calibration diagnosis for a [0,1]-scored classifier: the
    reliability table (per-bin predicted confidence vs observed rate)
    plus Expected Calibration Error and the Brier score — the
    MEASUREMENT companion of :func:`isotonic_calibrate` (that one
    FIXES miscalibration; this one tells you whether you need to, and
    whether the fix worked) and of :func:`classifier_eval` (AUC reads
    RANKING power; a perfectly-ranked scorer can still be wildly
    miscalibrated):

        ECE   = sum_bins (n_b / n) * |acc_b - conf_b|
        Brier = mean (p - y)^2

    over ``n_bins`` equal-width probability bins. Output: one row per
    NON-EMPTY bin — (bin, n, conf, acc, gap) — with the group-level
    ece / brier / n_total repeated on each row (one result frame, the
    datasheet convention).

    Exactness: bin = floor(p * n_bins) clamped to the top bin (the
    p = 1.0 edge); per-bin p-sums, (p-y)^2 terms and the |acc - conf|
    ECE terms all round via ``round_c`` to 9 decimals and accumulate
    as DECIMAL; ratios are fixed-order double expressions. Scale
    shape: ONE hash aggregate into at most n_bins rows + a 1-row
    broadcast summary; the corpus is scanned once. NULL probabilities
    or labels are excluded; out-of-[0,1] probabilities raise no error
    but land in the edge bins (clamped) — gate upstream with the
    expectation operator if they should be impossible.
    """
    from ..functions.numeric import round_c  # noqa: PLC0415

    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    p = F.col(prob_col).cast("double")
    y = (F.col(label_col).cast("int") != 0).cast("int")
    bin_ = F.least(
        F.greatest(F.floor(p * F.lit(float(n_bins))), F.lit(0)),
        F.lit(n_bins - 1),
    ).cast("int")
    base = df.filter(
        F.col(prob_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        bin_.alias("bin"),
        round_c(p, 9).cast("decimal(28,9)").alias("__p"),
        y.alias("__y"),
        round_c((p - y.cast("double")) * (p - y.cast("double")), 9)
        .cast("decimal(28,9)")
        .alias("__sq"),
    )
    bins = base.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__p").alias("__ps"),
        F.sum("__y").cast("long").alias("__ys"),
        F.sum("__sq").alias("__sqs"),
    )
    conf = F.col("__ps").cast("double") / F.col("n").cast("double")
    acc = F.col("__ys").cast("double") / F.col("n").cast("double")
    per_bin = bins.select(
        "bin",
        "n",
        round_c(conf, out_decimals).alias("conf"),
        round_c(acc, out_decimals).alias("acc"),
        round_c(F.abs(acc - conf), out_decimals).alias("gap"),
        # n * |acc - conf| as ONE fixed-order double product rounded
        # to 9dp BEFORE the decimal sum: a decimal x decimal product
        # here would trip Spark's precision-loss scale reduction (the
        # corr_matrix lesson).
        round_c(F.abs(acc - conf) * F.col("n").cast("double"), 9)
        .cast("decimal(28,9)")
        .alias("__wgap9"),
        F.col("__sqs"),
    )
    summary = per_bin.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.sum("__wgap9").alias("__wgap"),
        F.sum("__sqs").alias("__sqall"),
    ).select(
        "n_total",
        round_c(
            F.col("__wgap").cast("double") / F.col("n_total").cast("double"),
            out_decimals,
        ).alias("ece"),
        round_c(
            F.col("__sqall").cast("double")
            / F.col("n_total").cast("double"),
            out_decimals,
        ).alias("brier"),
    )
    return (
        per_bin.select("bin", "n", "conf", "acc", "gap")
        .crossJoin(F.broadcast(summary))
        .orderBy("bin")
    )
