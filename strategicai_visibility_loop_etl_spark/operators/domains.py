"""Domain blocklist / allowlist filtering for crawl corpora.

The first gate of every real crawl pipeline (the reference's own
domain is SEO crawl data — etl_merge.py:474-514 normalizes hosts for
exactly this kind of slicing): drop or keep documents by the host of
their URL, where a list entry matches the exact host and every
subdomain of it (standard blocklist semantics: ``example.com``
matches ``a.b.example.com``).

Scale shape: the list is a model-sized broadcast dim. Each document's
host expands map-side into its dot-suffix chain (≤ 8 entries, a pure
array expression), explodes, and broadcast-joins the list — no
corpus shuffle to FIND matches. The matched hosts then anti-join (or
semi-join, allowlist mode) back against the corpus on the host key;
AQE broadcasts that side when the matched set is small (the typical
case — a blocklist hits a fraction of the corpus), and degrades to a
plain shuffle join only when most of the corpus matches.

Null/path-only URLs have no host: blocklist mode KEEPS them (nothing
to match), allowlist mode DROPS them (strict).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.localframe import literal_frame

from ..functions.urls import host_suffixes, url_host

_HOST = "__df_host"


def _list_df(spark, domains: Iterable[str] | DataFrame, col: str) -> DataFrame:
    if isinstance(domains, DataFrame):
        return domains.select(F.lower(F.trim(F.col(col))).alias("__dom"))
    rows = sorted({d.strip().lower().lstrip(".") for d in domains if d and d.strip()})
    return literal_frame(spark, [(d,) for d in rows], "__dom string")


def _matched_hosts(hosted: DataFrame, dim: DataFrame) -> DataFrame:
    """Hosts of ``hosted`` that hit the list, directly or through a
    parent domain — may contain duplicates (one per matching row);
    anti/semi join semantics don't care."""
    keyed = hosted.select(
        F.col(_HOST), F.explode(host_suffixes(F.col(_HOST))).alias("__dom")
    )
    return keyed.join(F.broadcast(dim), "__dom").select(_HOST)


def domain_filter(
    df: DataFrame,
    blocklist: Iterable[str] | DataFrame | None = None,
    allowlist: Iterable[str] | DataFrame | None = None,
    url_col: str = "url",
    domain_col: str | None = None,
    list_col: str = "domain",
) -> DataFrame:
    """Filter ``df`` by domain block/allow lists.

    Exactly one of ``blocklist`` / ``allowlist`` modes may be active
    at a time per call semantics below; passing both applies the
    allowlist FIRST, then the blocklist (carve exceptions out of an
    allowed set). Lists are iterables of domain strings or a
    DataFrame with ``list_col``.

    ``domain_col`` names a column that already holds a bare host
    (e.g. the documents table's ``source``); otherwise the host is
    extracted from ``url_col`` with :func:`url_host`.
    """
    if blocklist is None and allowlist is None:
        raise ValueError("domain_filter needs a blocklist or an allowlist")
    spark = df.sparkSession
    host = (
        F.lower(F.trim(F.col(domain_col).cast("string")))
        if domain_col
        else url_host(F.col(url_col))
    )
    out = df.withColumn(_HOST, host)
    if allowlist is not None:
        dim = _list_df(spark, allowlist, list_col)
        allowed = _matched_hosts(out, dim)
        out = out.join(allowed, _HOST, "left_semi")
    if blocklist is not None:
        dim = _list_df(spark, blocklist, list_col)
        blocked = _matched_hosts(out, dim)
        out = out.join(blocked, _HOST, "left_anti")
    return out.drop(_HOST)


def crawl_frontier_shards(
    urls: DataFrame,
    n_shards: int,
    per_host_per_round: int = 1,
    url_col: str = "url",
    host_col: str = "host",
) -> DataFrame:
    """Politeness-aware crawl-frontier scheduling: assign every URL a
    fetch ``shard`` and ``fetch_round`` such that (a) ALL of a host's
    URLs land in one shard — two workers never hit the same host
    concurrently — and (b) a host contributes at most
    ``per_host_per_round`` URLs per round — the crawl-delay contract,
    expressed as data (the Heritrix/Nutch frontier-partitioning
    regime, as relational assignment instead of queue state).

    ``shard`` is the repo's polynomial char hash of the host mod
    ``n_shards`` (DuckDB-replayable, unlike xxhash64 — and host-hash
    sharding is exactly how a URL column repartitions for polite
    fetching at 100 TB); ``seq`` orders a host's URLs
    deterministically by URL string; ``fetch_round`` is
    ``(seq−1) // per_host_per_round``.  One window keyed on the host
    (= one shuffle) and pure integer arithmetic — hash-exact in both
    engines.

    A shard's round-r workload is ≤ (hosts in shard) ×
    ``per_host_per_round``; skewed hosts lengthen their OWN tail of
    rounds instead of blocking other hosts (the politeness invariant
    pytest asserts).
    """
    from pyspark.sql import Window

    from ..functions.text import char_fold_hash

    if n_shards < 1 or per_host_per_round < 1:
        raise ValueError("need n_shards >= 1 and per_host_per_round >= 1")
    w = Window.partitionBy(host_col).orderBy(url_col)
    return urls.select(
        url_col,
        host_col,
        F.pmod(char_fold_hash(F.col(host_col)), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
        F.row_number().over(w).alias("seq"),
    ).withColumn(
        "fetch_round",
        F.floor((F.col("seq") - 1) / per_host_per_round).cast("int"),
    )


# A deliberately small, BUILT-IN public-suffix subset (longest match
# wins): the full PSL is a moving external file — callers with exotic
# TLD needs pass their own list. Ordered here only for reading; the
# expression sorts by label depth so 'co.uk' beats 'uk'.
PUBLIC_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "co.in", "co.kr", "com.mx",
    "com", "org", "net", "edu", "gov", "mil", "int",
    "io", "dev", "app", "info", "biz", "example",
    "uk", "de", "fr", "jp", "cn", "au", "in", "br", "ru", "it", "nl",
)


def registrable_domain(host_col, suffixes: tuple[str, ...] = PUBLIC_SUFFIXES):
    """eTLD+1 (registrable domain) of a hostname column — the crawl
    aggregation key that host-level rollups get WRONG for multi-label
    suffixes (``a.co.uk`` and ``b.co.uk`` are different sites;
    grouping by the last two labels would merge every .co.uk site
    into one). The longest matching suffix from the built-in PSL
    subset wins; the registrable domain is the label before it plus
    the suffix. NULL when no suffix matches or the host IS a bare
    suffix (no registrable label).

    Pure expression: one lowercase + a when-chain over the suffix
    list ordered by label depth (longest first), each arm a single
    anchored ``regexp_extract`` — codegen, replayable as a SQL CASE
    chain with the same ordering.
    """
    import re as _re  # noqa: PLC0415

    from pyspark.sql import functions as F  # noqa: PLC0415

    h = F.lower(host_col.cast("string"))
    # longest suffix FIRST in the chain: chained .when()s test in
    # order, so 'a.co.uk' must hit the co.uk arm before the uk arm
    ordered = sorted(
        suffixes, key=lambda s: (s.count("."), len(s)), reverse=True
    )
    expr = None
    for suf in ordered:
        pat = r"([^.]+\." + _re.escape(suf) + r")$"
        got = F.regexp_extract(h, pat, 1)
        cond = h.endswith("." + suf) & (got != "")
        expr = F.when(cond, got) if expr is None else expr.when(cond, got)
    # a host that IS a suffix has no registrable label ('co.uk' would
    # otherwise fall through to the '.uk' arm and return itself)
    return F.when(h.isin(*ordered), F.lit(None).cast("string")).otherwise(
        expr.otherwise(F.lit(None).cast("string"))
    )


def rendezvous_assign(
    df: DataFrame,
    key_col: str,
    nodes: list[str],
    out_col: str = "node",
) -> DataFrame:
    """Rendezvous (highest-random-weight) assignment of keys to a
    node list — the rebalance-STABLE alternative to modulo sharding
    (row 163's ``mod n_shards``): when a node leaves, ONLY the keys
    that lived on it move (~1/n of keys), where re-modding moves
    almost everything. The shard-rebalancing primitive for crawl
    frontiers, cache partitioning, and worker hand-off.

    weight(key, node) = the repo's shared polynomial char hash
    (``char_fold_hash``, DuckDB-replayable) of ``node || '|' || key``;
    the key goes to the arg-max weight with the node NAME as total
    tiebreak. Deterministic, no coordinator state: any worker
    recomputes any assignment.

    Output contract: ONE row per DISTINCT key (the result is an
    assignment MAP — duplicate input keys collapse; join it back to
    the payload table on the key rather than re-attaching
    positionally).

    Scale shape: keys × |nodes| via a broadcast explode (|nodes| is
    the model), one key-keyed max_by — one shuffle on the key.
    """
    from ..functions.text import char_fold_hash

    if not nodes:
        raise ValueError("need at least one node")
    spark = df.sparkSession
    node_df = literal_frame(spark, [(n,) for n in nodes], "__node string")
    weighted = df.select(F.col(key_col)).distinct().crossJoin(
        F.broadcast(node_df)
    ).select(
        key_col,
        "__node",
        char_fold_hash(
            F.concat(F.col("__node"), F.lit("|"), F.col(key_col))
        ).alias("__w"),
    )
    return weighted.groupBy(key_col).agg(
        F.max_by(
            "__node", F.struct(F.col("__w"), F.col("__node"))
        ).alias(out_col)
    )


def ring_positions(
    nodes: list[str], vnodes: int = 16
) -> list[tuple[int, str]]:
    """Pre-tabulated consistent-hash ring: ``vnodes`` positions per
    node at ``avalanche32(char_fold_hash(f"{node}#{r}"))``, sorted by
    (position, node). Computed ONCE in Python (the decay-weights /
    Benford tabulation trick) so the Spark plan and a SQL oracle
    embed the SAME integer literals — only the KEY hash ever runs in
    an engine. Position collisions across nodes keep a deterministic
    node-name order."""
    from ..functions.text import py_avalanche32, py_char_fold_hash

    if vnodes < 1 or not nodes:
        raise ValueError("need nodes and vnodes >= 1")
    ring = [
        (py_avalanche32(py_char_fold_hash(f"{n}#{r}")), n)
        for n in nodes
        for r in range(vnodes)
    ]
    return sorted(ring)


def consistent_hash_assign(
    df: DataFrame,
    key_col: str,
    nodes: list[str],
    vnodes: int = 16,
    out_col: str = "node",
) -> DataFrame:
    """Consistent-hashing ring assignment (Karger et al. 1997) — the
    OTHER rebalance-stable sharder next to :func:`rendezvous_assign`
    (HRW): each key goes to the first virtual node clockwise of its
    hash. Removing a node moves ONLY that node's keys (onto the next
    vnode clockwise — pytest-pinned); ``vnodes`` controls balance
    (load spread ~1/sqrt(vnodes·|nodes|)). Prefer HRW for small
    node counts (perfectly uniform); prefer the ring when node lists
    are large (assignment is O(log) on a sorted ring, here a bounded
    array expression) or when vnode weighting matters.

    One row per DISTINCT key (the rendezvous map contract). The ring
    is ``|nodes|·vnodes`` pre-tabulated literals riding the plan (see
    :func:`ring_positions`); assignment is a pure array expression —
    count ring positions below the key's hash, wrap past the end —
    zero joins, zero shuffles beyond the key distinct.
    """
    from ..functions.text import avalanche32, char_fold_hash  # noqa: PLC0415

    ring = ring_positions(nodes, vnodes)
    pos_arr = F.array(*[F.lit(p).cast("long") for p, _ in ring])
    node_arr = F.array(*[F.lit(n) for _, n in ring])
    # kp and below are staged through intermediate selects: an outer
    # reference inside the filter() lambda re-evaluates PER RING
    # ELEMENT (the flet lesson -- 64 vnodes would re-run the per-char
    # key fold 64x), and `below` feeds both branches of the wrap.
    kp = avalanche32(char_fold_hash(F.col("key").cast("string")))
    below = F.size(F.filter(pos_arr, lambda p: p < F.col("__kp")))
    idx = F.when(
        F.col("__below") == F.lit(len(ring)), F.lit(1)
    ).otherwise(F.col("__below") + F.lit(1))
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(F.col(key_col).alias("key"))
        .distinct()
        .select(F.col("key"), kp.alias("__kp"))
        .select(F.col("key"), below.alias("__below"))
        .select(
            F.col("key").alias(key_col),
            F.element_at(node_arr, idx).alias(out_col),
        )
    )
