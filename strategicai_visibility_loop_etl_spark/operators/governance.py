"""Run / autodetect governance logs (reference etl_merge.py:222-247,
986-1004).

These are run-level metadata — one row per pipeline run — so a
driver-side CSV append is the correct design even on a cluster: the
data plane never touches them, and an append-only audit file is what
the reference's consumers tail. Both are env-gated exactly like the
reference (``ETL_RUN_LOG`` / ``ETL_AUTODETECT_LOG`` with ``*_PATH``
overrides).

The log path contract is DRIVER-LOCAL by design (append semantics
don't exist on object stores); a path with a remote scheme raises
loudly instead of writing to a surprising driver-local location.
"""

from __future__ import annotations

import csv
import os
import re
import threading
from datetime import datetime, timezone

_REMOTE_SCHEME = re.compile(r"^(?!file:)[a-zA-Z][a-zA-Z0-9+.-]*://")
_APPEND_LOCK = threading.Lock()


def _env_bool(name: str, default: bool) -> bool:
    raw = os.getenv(name)
    if raw is None or not raw.strip():
        return default
    return raw.strip().lower() in {"1", "true", "yes", "on"}


def _append_csv(path: str, header: list[str], row: list) -> None:
    """Append ``row`` (and ``header`` first, to a new file) under a
    module lock, so loaders running on concurrent threads never
    interleave partial rows or both write the header. Rows land in the
    order the appends complete, not the order the callers started."""
    if _REMOTE_SCHEME.match(path):
        raise ValueError(
            f"governance logs are driver-local append-only CSV; got remote path {path!r}. "
            "Point ETL_RUN_LOG_PATH / ETL_AUTODETECT_LOG_PATH at local driver "
            "storage (or a mounted filesystem) and ship the file from there."
        )
    path = path[len("file://"):] if path.startswith("file://") else path
    parent = os.path.dirname(path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    with _APPEND_LOCK, open(path, "a", newline="") as fh:
        writer = csv.writer(fh)
        if fh.tell() == 0:
            writer.writerow(header)
        writer.writerow(row)


def write_autodetect_log(
    source_name: str,
    mapping: dict[str, str | None],
    autodetected: str | None,
    df_rows: int,
) -> str | None:
    """Append one autodetect-outcome row; returns the path written (or
    None when disabled). Mirrors reference etl_merge.py:222-247."""
    if not _env_bool("ETL_AUTODETECT_LOG", True):
        return None
    path = os.getenv("ETL_AUTODETECT_LOG_PATH", "logs/etl_autodetect.csv")
    present = [k for k, v in mapping.items() if v is not None]
    missing = [k for k, v in mapping.items() if v is None]
    _append_csv(
        path,
        ["timestamp_utc", "source", "rows", "autodetected_url_col", "mapped_fields", "missing_fields"],
        [
            datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ"),
            source_name,
            df_rows,
            autodetected or "",
            ";".join(present),
            ";".join(missing),
        ],
    )
    return path


def append_run_log(
    run_id: str,
    run_ts: int,
    rows_merged: int,
    frog_path: str,
    gsc_path: str,
    ga4_path: str,
    out_path: str,
) -> str | None:
    """Append one run row; returns the path written (or None when
    disabled). Mirrors reference etl_merge.py:986-1004."""
    if not _env_bool("ETL_RUN_LOG", True):
        return None
    path = os.getenv("ETL_RUN_LOG_PATH", "logs/runs.csv")
    _append_csv(
        path,
        ["run_id", "run_timestamp", "rows_merged", "frog_csv", "gsc_csv", "ga4_csv", "merged_csv"],
        [
            run_id,
            run_ts,
            rows_merged,
            os.path.basename(frog_path),
            os.path.basename(gsc_path),
            os.path.basename(ga4_path),
            out_path,
        ],
    )
    return path


def corpus_datasheet(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str | None = "lang",
):
    """Dataset datasheet: the one-page stats report a training-data
    release ships with (Gebru et al. 2021, "Datasheets for Datasets"
    — the quantitative slice), as a long (metric, value) frame:
    corpus size, token-length distribution, emptiness,
    exact-duplicate fraction, language concentration and mean quality.

    Token-length p50/p90/p99 are exact sort-based percentiles;
    everything else in the datasheet is a plain mergeable aggregate.

    Two aggregates total: one global (counts, sums, percentiles,
    distinct-normalized-text), one over the language distribution;
    both partial-aggregate map-side. Every value lands as a rounded
    double so the report is engine-exact and hash-stable.
    """
    from pyspark.sql import functions as F

    from ..functions.text import normalized_text, quality_score, token_count

    txt = F.coalesce(F.col(text_col), F.lit(""))
    base = df.select(
        F.col(id_col).alias("id"),
        token_count(txt).alias("__nt"),
        F.length(txt).cast("long").alias("__nc"),
        quality_score(txt).alias("__q"),
        F.sha2(normalized_text(txt), 256).alias("__dig"),
        *([F.col(lang_col).alias("__lang")] if lang_col else []),
    )
    # means via exact sum / count, not avg(): a floating avg's
    # accumulation order varies with partitioning; long/decimal sums
    # are exact, so one final division is deterministic
    g = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("__nt").alias("tokens_total"),
        F.median("__nt").alias("tokens_p50"),
        F.percentile("__nt", 0.9).alias("tokens_p90"),
        F.percentile("__nt", 0.99).alias("tokens_p99"),
        F.sum("__nc").alias("chars_total"),
        F.sum(F.col("__q").cast("decimal(18,6)")).alias("__q_sum"),
        F.sum((F.col("__nt") == 0).cast("int")).alias("__n_empty"),
        F.countDistinct("__dig").alias("__n_uniq"),
    )
    metrics = {
        "chars_total": F.col("chars_total").cast("double"),
        "dup_frac": F.lit(1.0) - F.col("__n_uniq") / F.col("n_docs"),
        "empty_frac": F.col("__n_empty") / F.col("n_docs"),
        "n_docs": F.col("n_docs").cast("double"),
        "quality_mean": F.col("__q_sum").cast("double") / F.col("n_docs"),
        "tokens_mean": F.col("tokens_total").cast("double") / F.col("n_docs"),
        "tokens_p50": F.col("tokens_p50"),
        "tokens_p90": F.col("tokens_p90"),
        "tokens_p99": F.col("tokens_p99"),
        "tokens_total": F.col("tokens_total").cast("double"),
    }
    if lang_col:
        lang = (
            base.groupBy("__lang")
            .agg(F.count("*").alias("c"))
            .agg(
                F.count("*").alias("n_langs"),
                (F.max("c") / F.sum("c")).alias("top_lang_share"),
            )
        )
        g = g.crossJoin(F.broadcast(lang))
        metrics["n_langs"] = F.col("n_langs").cast("double")
        metrics["top_lang_share"] = F.col("top_lang_share")
    from ..functions.numeric import round_c  # noqa: PLC0415

    stack_args = []
    for name in sorted(metrics):
        stack_args += [F.lit(name), round_c(metrics[name], 6)]
    return (
        g.select(
            F.stack(F.lit(len(metrics)), *stack_args).alias("metric", "value")
        )
        .orderBy("metric")
    )


def rater_agreement(
    labels,
    item_col: str = "item_id",
    rater_col: str = "rater_id",
    cat_col: str = "category",
):
    """Fleiss' kappa inter-rater agreement (Fleiss 1971) over an
    (item, rater, category) label table — the labeling-QA gate a
    training-data pipeline runs over human or ensemble-classifier
    annotations before trusting them as supervision.

    One row out: ``n_items``, ``n_raters``, ``p_bar`` (mean observed
    per-item agreement), ``p_e`` (chance agreement from the marginal
    category distribution) and ``kappa = (p̄ − p_e)/(1 − p_e)``.
    Fleiss assumes a CONSTANT rater count per item, one vote each:
    items where any rater cast conflicting categories are dropped
    first (their vote count exceeds their distinct-rater count — and
    would otherwise inflate the panel size and evict every clean
    item), then ``n`` is the max per-item count among valid items and
    short-panel items are dropped — ``n_items`` reports what
    survived, so a silent partial panel is visible in the output.

    Degenerate panels read as NULL, never Inf/NaN (the ks_test
    "no data reads as NULL" convention): a single-rater panel
    (n = 1) has no within-item agreement to measure, so ``p_bar``
    and ``kappa`` are NULL; a panel whose rounded chance agreement
    reaches 1.0 (every vote in one category) leaves kappa's
    denominator at zero, so ``kappa`` is NULL while ``p_bar``/``p_e``
    stay visible.

    Every intermediate stays an exact integer — A = Σ_i Σ_c n_ic²,
    S_c = Σ_i n_ic (squared through DECIMAL(38,0): S_c² overflows
    BIGINT at corpus scale) — with the three divisions done in
    IEEE double at the very end through ``round_c``, so the statistic
    is partitioning- and engine-exact.  Shape: two hash aggregates
    keyed on the item (AQE reuses the exchange), one model-sized
    per-category aggregate, 1-row broadcasts — no window, no sort.
    """
    from pyspark.sql import functions as F

    from ..functions.numeric import round_c

    triples = labels.select(
        F.col(item_col).alias("item"),
        F.col(rater_col).alias("rater"),
        F.col(cat_col).alias("cat"),
    ).distinct()
    per_ic = triples.groupBy("item", "cat").agg(F.count("*").alias("n_ic"))
    # Panel integrity: a rater casting CONFLICTING categories for one
    # item inflates that item's vote count — without the
    # votes == distinct-raters check, one such item would raise n and
    # silently drop every correctly-rated item from the panel.
    votes = triples.groupBy("item").agg(
        F.count("*").alias("n_i"),
        F.count_distinct(F.col("rater")).alias("n_r"),
    )
    sq = per_ic.groupBy("item").agg(
        F.sum(F.col("n_ic") * F.col("n_ic")).alias("sq_i")
    )
    valid = votes.filter(F.col("n_i") == F.col("n_r")).join(sq, "item")
    n_row = valid.agg(F.max("n_i").alias("n"))
    kept = valid.crossJoin(F.broadcast(n_row)).filter(F.col("n_i") == F.col("n"))
    g1 = kept.agg(
        F.count("*").alias("n_items"),
        F.sum("sq_i").alias("a_sum"),
        F.max("n").alias("n"),
    )
    s_c = (
        per_ic.join(kept.select("item"), "item")
        .groupBy("cat")
        .agg(F.sum("n_ic").cast("decimal(38,0)").alias("s_c"))
    )
    g2 = s_c.agg(F.sum(F.col("s_c") * F.col("s_c")).alias("b_sum"))
    nn = F.col("n_items").cast("double") * F.col("n").cast("double")
    p_bar = (F.col("a_sum").cast("double") - nn) / (
        nn * (F.col("n").cast("double") - F.lit(1.0))
    )
    p_e = F.col("b_sum").cast("double") / (nn * nn)
    # Degenerate-panel guards (NULL, never Inf/NaN): p_bar's
    # denominator nn*(n-1) is zero when the panel is a single rater
    # (n == 1) or empty (n_items == 0, where n is NULL anyway); the
    # kappa denominator 1 - p_e is zero when rounded p_e hits 1.0.
    measurable = (F.col("n_items") > 0) & (F.col("n") > 1)
    return (
        g1.crossJoin(F.broadcast(g2))
        .withColumn("p_bar", F.when(measurable, round_c(p_bar, 6)))
        .withColumn(
            "p_e", F.when(F.col("n_items") > 0, round_c(p_e, 6))
        )
        .select(
            "n_items",
            F.col("n").alias("n_raters"),
            "p_bar",
            "p_e",
            F.when(
                F.col("p_e") < 1.0,
                round_c(
                    (F.col("p_bar") - F.col("p_e"))
                    / (F.lit(1.0) - F.col("p_e")),
                    6,
                ),
            ).alias("kappa"),
        )
    )


def k_anonymity_violations(
    df,
    quasi_cols: list[str],
    k: int = 5,
):
    """k-anonymity audit over quasi-identifier columns: every
    quasi-identifier combination shared by FEWER than ``k`` rows is a
    re-identification risk (Sweeney 2002) — the privacy gate a
    training-data pipeline runs before releasing event logs or
    user-derived metadata. Returns the violating combinations with
    their group sizes (ascending — rarest, riskiest first).

    One hash aggregate + one filter; NULL quasi values group as their
    own combination (a NULL zip code is itself identifying when rare).
    """
    from pyspark.sql import functions as F

    if k < 2:
        raise ValueError("k must be >= 2")
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") < k)
        .orderBy("n", *quasi_cols)
    )


def l_diversity_violations(
    df,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 2,  # noqa: E741 - the literature's name
):
    """l-diversity audit — the attribute-disclosure companion of
    :func:`k_anonymity_violations` (Machanavajjhala et al. 2007):
    a quasi-identifier combination can be k-anonymous yet still leak
    ("every 41-zip male in the release has cancer") when its
    equivalence class holds fewer than ``l`` DISTINCT sensitive
    values. Returns the violating combinations with their group size
    and distinct-sensitive count (least diverse first).

    NULL sensitive values are excluded from the diversity count (an
    unknown diagnosis is not a diverse one); NULL quasi values group
    as their own combination, as in the k-anonymity gate. One hash
    aggregate + filter — run both gates off one pass by reusing the
    same quasi grouping upstream if needed.
    """
    from pyspark.sql import functions as F

    if l < 2:
        raise ValueError("l must be >= 2")
    return (
        df.groupBy(*quasi_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(sensitive_col).alias("n_sensitive"),
        )
        .filter(F.col("n_sensitive") < l)
        .orderBy("n_sensitive", "n", *quasi_cols)
    )


def mixture_diversity(
    df,
    class_col: str,
    group_cols: list[str] | None = None,
):
    """Categorical mixture-diversity report — the datasheet line that
    answers "how concentrated is this corpus?" per slice (language
    mix per source, domain mix per shard) before a mixture re-weight
    (DoReMi, temperature sampling) decides what to do about it:

    - ``n`` rows with a non-NULL class, ``k_classes`` distinct;
    - ``gini_simpson`` = 1 − Σ nᵢ(nᵢ−1) / (n(n−1)) — the UNBIASED
      (finite-sample) probability two draws WITHOUT replacement
      differ; 0 = monoculture, →1 = maximally mixed. Exact rational
      of integer counts, one final double division (no pow/ln —
      Shannon entropy would not hash-replay, this does);
    - ``berger_parker`` = max nᵢ / n, the dominance share (the
      complement view: how big is the single biggest class).

    NULL class values are excluded (an unknown label is not a
    class); groups with n < 2 report NULL gini (no pair to draw).
    Two hash aggregates on one grouping chain; replayable in any
    SQL engine."""
    from pyspark.sql import functions as F

    from ..functions.numeric import round_c

    gcols = list(group_cols or [])
    counts = (
        df.filter(F.col(class_col).isNotNull())
        .groupBy(*gcols, class_col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    # pair products ride DECIMAL: at corpus scale n(n-1) exceeds
    # BIGINT (~3e9 rows wraps it silently in non-ANSI long multiply)
    # — the chi2_terms discipline; decimal -> double conversion is
    # value-identical to DuckDB's HUGEINT -> double
    c_dec = F.col("__c").cast("decimal(38,0)")
    n = F.sum("__c")
    pairs_same = F.sum(c_dec * (c_dec - F.lit(1)))
    out = counts.groupBy(*gcols).agg(
        n.alias("n"),
        F.count(F.lit(1)).alias("k_classes"),
        pairs_same.alias("__same"),
        F.max("__c").alias("__top"),
    )
    n_dec = F.col("n").cast("decimal(38,0)")
    gini = F.lit(1.0) - (
        F.col("__same").cast("double")
        / (n_dec * (n_dec - F.lit(1))).cast("double")
    )
    result = out.select(
        *gcols,
        "n",
        "k_classes",
        F.when(F.col("n") >= 2, round_c(gini, 6)).alias("gini_simpson"),
        round_c(
            F.col("__top").cast("double") / F.col("n").cast("double"), 6
        ).alias("berger_parker"),
    )
    return result.orderBy(*gcols) if gcols else result


def t_closeness_violations(
    df,
    quasi_cols: list[str],
    sensitive_col: str,
    t: float = 0.2,
    out_decimals: int = 6,
):
    """t-closeness audit — the DISTRIBUTION-disclosure gate that
    completes the privacy trio (Li et al. 2007): a class can be
    k-anonymous (:func:`k_anonymity_violations`) and l-diverse
    (:func:`l_diversity_violations`) yet still leak — "every 41-zip
    male has SOME cancer, 90% of them lung" — whenever its sensitive
    DISTRIBUTION strays from the table-wide one. For a categorical
    sensitive attribute under uniform ground distance the Earth
    Mover's Distance reduces to total variation,

        tvd = 1/2 * sum_v |p_class(v) - p_global(v)|,

    and classes with ``tvd > t`` are reported (largest first).

    Scale shape: NO class x value grid — the absent-value mass is the
    closed form ``1 - sum_present p_global(v)`` (the qx51 discipline),
    so the plan is one (class, value) hash aggregate, one value-keyed
    join against the model-sized global distribution, one per-class
    fold. NULL sensitive values are excluded from BOTH distributions
    (the l-diversity convention); NULL quasi values group as their
    own class.

    Exactness: p's are single divisions of exact counts; each
    |p_c - p_g| term and each present p_g rounds via ``round_c`` to
    9 decimals and sums as DECIMAL, so tvd is order- and
    engine-independent; the final halving is one fixed-order double
    expression.
    """
    from pyspark.sql import functions as F

    from ..functions.numeric import round_c

    if not 0.0 < t < 1.0:
        raise ValueError("t must be in (0, 1)")
    base = df.filter(F.col(sensitive_col).isNotNull())
    glob = base.groupBy(sensitive_col).agg(
        F.count(F.lit(1)).cast("long").alias("__g")
    )
    n_glob = base.agg(F.count(F.lit(1)).cast("long").alias("__ng"))
    cls = base.groupBy(*quasi_cols, sensitive_col).agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    n_cls = cls.groupBy(*quasi_cols).agg(
        F.sum("__c").cast("long").alias("__nc")
    )
    # NULL-SAFE join back on the quasi key: groupBy keeps NULL-keyed
    # classes, and a plain equi-join would silently drop them — a
    # privacy-gate false negative exactly where data is dirtiest.
    n_cls_r = n_cls.select(
        *[F.col(c).alias(f"__k_{i}") for i, c in enumerate(quasi_cols)],
        "__nc",
    )
    ns_cond = [
        F.col(c).eqNullSafe(F.col(f"__k_{i}"))
        for i, c in enumerate(quasi_cols)
    ]
    joined = (
        cls.join(F.broadcast(glob), sensitive_col)
        .join(n_cls_r, ns_cond)
        .drop(*[f"__k_{i}" for i in range(len(quasi_cols))])
        .crossJoin(F.broadcast(n_glob))
    )
    p_c = F.col("__c").cast("double") / F.col("__nc").cast("double")
    p_g = F.col("__g").cast("double") / F.col("__ng").cast("double")
    folded = (
        joined.select(
            *quasi_cols,
            F.col("__nc"),
            round_c(F.abs(p_c - p_g), 9).cast("decimal(28,9)").alias("__d"),
            round_c(p_g, 9).cast("decimal(28,9)").alias("__pg"),
        )
        .groupBy(*quasi_cols)
        .agg(
            F.max("__nc").alias("n"),
            F.sum("__d").alias("__sumd"),
            F.sum("__pg").alias("__sumpg"),
        )
    )
    tvd = round_c(
        (
            F.col("__sumd").cast("double")
            + (F.lit(1.0) - F.col("__sumpg").cast("double"))
        )
        * F.lit(0.5),
        out_decimals,
    )
    return (
        folded.select(*quasi_cols, "n", tvd.alias("tvd"))
        .filter(F.col("tvd") > t)
        .orderBy(F.col("tvd").desc(), *quasi_cols)
    )
