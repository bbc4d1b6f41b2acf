"""URL normalization as pure Spark column expressions (no UDFs).

Re-expresses the reference semantics (reference etl_merge.py:474-514
URL normalization and :165-172 ``looks_url_like``) with JVM-side
``pyspark.sql.functions`` so the whole transform stays inside
whole-stage codegen — at 100 TB this runs on every row of every
source, so a Python UDF here would dominate the pipeline.

Semantics (matching the reference):
- trim; path-only values ("/x") get ``site_base`` prefixed when given
- fragment ("#...") always dropped
- query: ``utm_*`` params dropped (case-insensitive); optionally ALL
  params dropped (``strip_all_query``); empty segments dropped
- authority (host[:port], userinfo) lowercased
- trailing slash trimmed from the path unless the path is exactly "/"
- non-URL strings pass through with the same path-style treatment the
  reference's urlparse round-trip applies (fragment/query/slash rules,
  no authority to lowercase)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SCHEME_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://"


def looks_url_like(col: Column) -> Column:
    """True when the trimmed value starts with http(s):// or '/'.

    Mirrors reference etl_merge.py:165-172. One rlike, not three
    startswith branches: codegen inlines the shared trim/lower subtree
    once per reference, so the single-regex form generates a third of
    the code when this predicate lands inside a fused stage.
    """
    return F.trim(col.cast("string")).rlike(r"(?i)^(https?://|/)")


def _filter_query(query: Column, strip_all_query: bool) -> Column:
    """Drop utm_* params and empty segments — pure regex, no lambda.

    Higher-order functions (``F.filter`` with a lambda) are not
    whole-stage-codegen compatible and force the entire projection into
    interpreted evaluation (~20× slower); regexp_replace stays in
    codegen. Steps: blank out utm_* params (case-insensitive, anchored
    at start-of-query or '&'), collapse duplicate separators left by
    removed/empty segments, trim dangling separators.
    """
    if strip_all_query:
        return F.lit("")
    q = F.regexp_replace(query, r"(?i)(^|&)utm_[^&]*", "$1")
    q = F.regexp_replace(q, r"&&+", "&")
    q = F.regexp_replace(q, r"^&+|&+$", "")
    return q


def url_normalize_df(
    df: DataFrame,
    src_col: str,
    out_col: str | None = None,
    site_base: str | None = None,
    strip_all_query: bool = False,
) -> DataFrame:
    """Normalize ``src_col`` into ``out_col`` (default: in place) with
    the semantics in the module docstring.

    Each intermediate (trimmed input, fragment-free base, query,
    scheme, authority, path) is a NAMED column computed exactly once,
    so every step stays flat, codegen'd and evaluated once
    (CollapseProject keeps multiply-referenced non-trivial aliases
    materialized). A single-expression form re-evaluates shared
    subtrees on every reference: swapped into the loaders it slowed
    the full visibility pipeline from 6.95 s to 13.65 s median at 10k
    pages on 4 cores, so this is the only form.
    """
    out_col = out_col or src_col
    src = F.col(src_col)

    u = F.trim(src.cast("string"))
    if site_base:
        base = site_base.rstrip("/")
        u = F.when(u.startswith("/"), F.concat(F.lit(base), u)).otherwise(u)
    step = df.withColumn("__u", F.regexp_replace(u, r"#.*$", ""))

    step = step.withColumns(
        {
            "__qpos": F.instr(F.col("__u"), "?"),
            "__base": F.substring_index(F.col("__u"), "?", 1),
        }
    )
    step = step.withColumns(
        {
            "__query": _filter_query(
                F.when(
                    F.col("__qpos") > 0,
                    F.substring(F.col("__u"), F.col("__qpos") + 1, F.length("__u")),
                ).otherwise(F.lit("")),
                strip_all_query,
            ),
            "__scheme": F.regexp_extract(F.col("__base"), r"^([a-zA-Z][a-zA-Z0-9+.\-]*://)", 1),
            "__auth": F.regexp_extract(F.col("__base"), _SCHEME_RE + r"([^/]*)", 1),
        }
    )
    step = step.withColumn(
        "__path",
        F.when(
            F.col("__scheme") != "",
            F.substring(
                F.col("__base"),
                F.length("__scheme") + F.length("__auth") + F.lit(1),
                F.length("__base"),
            ),
        ).otherwise(F.col("__base")),
    )
    step = step.withColumn(
        "__path",
        F.when(
            (F.col("__path") != "/") & F.col("__path").endswith("/"),
            F.expr("substring(__path, 1, length(__path) - 1)"),
        ).otherwise(F.col("__path")),
    )
    rebuilt = F.when(
        F.col("__scheme") != "",
        F.concat(F.lower("__scheme"), F.lower("__auth"), F.col("__path")),
    ).otherwise(F.col("__path"))
    rebuilt = F.when(
        F.col("__query") != "", F.concat(rebuilt, F.lit("?"), F.col("__query"))
    ).otherwise(rebuilt)
    final = F.when(src.isNull() | (F.trim(src.cast("string")) == ""), src.cast("string")).otherwise(
        rebuilt
    )
    return step.withColumn(out_col, final).drop(
        "__u", "__qpos", "__base", "__query", "__scheme", "__auth", "__path"
    )


def url_host(col: Column) -> Column:
    """Lowercase host of a URL, or NULL when the value has no
    authority (path-only values, plain strings, empty/null input).

    Same authority semantics the normalizer applies (reference
    etl_merge.py:474-514 lowercases the netloc): the component between
    ``scheme://`` and the first ``/``, ``?`` or ``#``, with userinfo
    and an explicit port stripped and one trailing dot removed.
    Bracketed IPv6 literals survive (only a trailing ``:digits`` port
    is stripped). Pure regexp expressions — stays in codegen."""
    u = F.trim(col.cast("string"))
    auth = F.regexp_extract(u, _SCHEME_RE + r"([^/?#]*)", 1)
    host = F.regexp_replace(auth, r"^[^@/]*@", "")   # userinfo
    host = F.regexp_replace(host, r":\d*$", "")       # port
    host = F.regexp_replace(F.lower(host), r"\.$", "")
    return F.when(host == "", F.lit(None).cast("string")).otherwise(host)


def host_suffixes(host: Column, max_labels: int = 8) -> Column:
    """Every dot-suffix of a host as an array — the standard
    subdomain-match key set: ``a.b.example.com`` →
    [a.b.example.com, b.example.com, example.com, com]. Bounded at the
    last ``max_labels`` labels so adversarial 100-label hosts can't
    blow up the explode — but the FULL host itself is always included
    (prepended when truncation would drop it), so an exact blocklist/
    allowlist entry for a deep host still matches. NULL host → empty
    array."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    idx = F.sequence(F.greatest(F.lit(1), n - F.lit(max_labels - 1)), n)
    out = F.transform(
        idx, lambda i: F.array_join(F.slice(labels, i, n - i + 1), ".")
    )
    out = F.when(n > F.lit(max_labels), F.concat(F.array(host), out)).otherwise(
        out
    )
    return F.when(host.isNull(), F.array().cast("array<string>")).otherwise(out)
