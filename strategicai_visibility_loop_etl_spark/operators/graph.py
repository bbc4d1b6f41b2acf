"""Distributed link analysis: PageRank over an edge table.

The host/page authority signal a 100 TB crawl pipeline ranks its
frontier with (the Common Crawl host-graph regime — PageRank /
harmonic-centrality over hosts decides what gets crawled and what a
quality-weighted training mix upweights). Reference has no analog;
this adds the iterative link-analysis member to the graph family
(connected components, `operators/clusters.py`).

Spark-first shape: classic power iteration as relational algebra —
each iteration is one join (ranks → out-edges), one hash aggregate
(inflow per destination), a 1-row dangling-mass aggregate, and a
projection. No Pregel library, no RDDs. Every per-edge contribution
and every new rank routes through the multiply-form rounding into
DECIMAL(28,12), so sums are exact and the fixed-point is
partitioning- AND engine-independent — a DuckDB twin unrolling the
same iterations reproduces every rank bit-for-bit.

Per-iteration ``localCheckpoint`` is the Pregel barrier: the ranks
frame feeds two consumers per iteration (contributions + dangling
mass) and the next iteration besides — without the cut, iteration
``t`` re-executes the whole lineage ``2^t`` times. Every checkpoint
in this module is eager: the iterative operators are not pure plans,
each call runs its rounds as jobs before it returns, and no lazily
checkpointed frame is ever shared by a shuffle and a broadcast (the
shape that can deadlock the DAG scheduler). At cluster scale this is
where a real checkpoint (or a staged parquet round-trip) goes; the
cadence is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions.numeric import round_c

_DEC = "decimal(28,12)"


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 5,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(id, rank DECIMAL(28,12)) after ``iters`` power iterations.

    - ``nodes`` is the FULL vertex set (one row per id): vertices
      with no out-edges are dangling — their mass redistributes
      uniformly; vertices absent from the edge list entirely still
      hold rank.
    - rank update: r'(v) = (1−d)/N + d·(Σ_{u→v} r(u)/outdeg(u)
      + dangling/N); parallel edges contribute once each.
    - N never hits the driver: the node count rides a broadcast 1-row
      frame (no count() action).
    - not a pure plan: the call runs ``iters + 3`` eager local
      checkpoints (out-degrees, decorated edges, initial ranks, each
      round's ranks). Each round's ranks feed both a shuffle join and
      a broadcast aggregate; a lazily checkpointed frame shared that
      way can deadlock the DAG scheduler against the broadcast thread.
    - exactness: per-edge contributions and new ranks round via
      ``round_c(·,12)`` → DECIMAL(28,12) before any SUM, making each
      iteration's fixed arithmetic reproducible anywhere.
    """
    n1 = nodes.select(F.col(id_col).alias("id"))
    total = n1.agg(F.count("*").alias("__n"))
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    # Both loop-invariant frames checkpoint once: edged feeds every
    # iteration's contribution join, outdeg every iteration's dangling
    # anti-join — without BOTH cuts the edge scan + deg aggregate
    # replays per iteration.
    outdeg = (
        e.groupBy("src").agg(F.count("*").alias("__deg")).localCheckpoint()
    )
    edged = e.join(outdeg, "src").localCheckpoint()

    ranks = (
        n1.crossJoin(F.broadcast(total))
        .select(
            "id",
            round_c(F.lit(1.0) / F.col("__n").cast("double"), 12)
            .cast(_DEC)
            .alias("rank"),
        )
        .localCheckpoint()
    )
    base = F.lit(1.0 - damping)
    for _ in range(iters):
        contrib = (
            edged.join(ranks.withColumnRenamed("id", "src"), "src")
            .select(
                F.col("dst").alias("id"),
                round_c(
                    F.col("rank").cast("double") / F.col("__deg"), 12
                )
                .cast(_DEC)
                .alias("__c"),
            )
            .groupBy("id")
            .agg(F.sum("__c").alias("__inflow"))
        )
        dangling = (
            ranks.join(outdeg.withColumnRenamed("src", "id"), "id", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0).cast(_DEC)).alias("__dg"))
        )
        nd = F.col("__n").cast("double")
        val = base / nd + F.lit(float(damping)) * (
            F.coalesce(F.col("__inflow"), F.lit(0).cast(_DEC)).cast("double")
            + F.col("__dg").cast("double") / nd
        )
        ranks = (
            n1.join(contrib, "id", "left")
            .crossJoin(F.broadcast(dangling))
            .crossJoin(F.broadcast(total))
            .select("id", round_c(val, 12).cast(_DEC).alias("rank"))
            .localCheckpoint()
        )
    return ranks


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected graph:
    (id, triangles) for every vertex incident to ≥1 edge.

    The node-iterator-with-degree-orientation algorithm — the
    standard distributed formulation (Cohen 2009; the GraphX /
    Spark-adopted shape).  Edges canonicalize to (a<b) with
    self-loops and parallels dropped; each edge then orients from
    its (degree, id)-smaller endpoint to the larger.  Wedges form
    only at an edge's TAIL, so per-vertex wedge fan-out is bounded
    by out-degree ≤ O(√m) even on power-law graphs — the join
    volume is O(m^1.5) instead of Σ deg² (a hub with degree 10⁶
    would otherwise emit 10¹² wedges).  Closing the wedge is one
    hash join back against the oriented edge list; every triangle
    is produced exactly once (its orientation-minimal vertex is the
    unique wedge center).

    All-relational: two hash aggregates (degrees, final counts),
    three hash joins (orientation decoration, wedge build, wedge
    close), one explode of 3 rows per triangle.  Pure integer
    arithmetic — a DuckDB twin replays it row-for-row.  Residual
    tail skew in the wedge join is AQE-split territory; the
    orientation already removed the quadratic hub blow-up.
    """
    e = edges.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
    ).filter(F.col("s") != F.col("d"))
    canon = (
        e.select(
            F.least("s", "d").alias("a"), F.greatest("s", "d").alias("b")
        )
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("id"))
        .unionAll(canon.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    dec = (
        canon.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = dec.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    e1 = oriented.select(
        F.col("u"), F.col("v").alias("x"), F.col("dv").alias("dx")
    )
    e2 = oriented.select(
        F.col("u"), F.col("v").alias("y"), F.col("dv").alias("dy")
    )
    # e1 × e2 on the shared tail yields each neighbor pair twice;
    # keeping only orientation-order (x before y) enumerates every
    # wedge once, already ordered to match the closing edge's (u, v).
    wedges = (
        e1.join(e2, "u")
        .filter(
            (F.col("dx") < F.col("dy"))
            | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
        )
        .select("u", F.col("x").alias("lo"), F.col("y").alias("hi"))
    )
    tris = wedges.join(
        oriented.select(F.col("u").alias("lo"), F.col("v").alias("hi")),
        ["lo", "hi"],
    )
    return (
        tris.select(
            F.explode(F.array("u", "lo", "hi")).alias("id")
        )
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
        .join(deg.select("id"), "id", "right")
        .select(
            "id",
            F.coalesce(F.col("triangles"), F.lit(0).cast("bigint")).alias(
                "triangles"
            ),
        )
    )


def link_graph(
    pages: DataFrame,
    src_host_col: str = "src_host",
    text_col: str = "page",
) -> DataFrame:
    """Host-level link graph from crawled page HTML:
    (src_host, dst_host, n_links) — the extraction step that feeds
    ``pagerank`` in a crawl-frontier / host-authority pipeline
    (Common Crawl's host-graph regime).

    Pure codegen: ``regexp_extract_all`` pulls every ``href="..."``
    value map-side, ``url_host`` (`functions/urls.py`) parses the
    authority with the same semantics the visibility normalizer
    uses, unparseable targets (no scheme/authority) drop via the
    NULL filter, and one hash aggregate produces edge weights.  No
    UDF, no collect; the explode fans out by links-per-page (tens),
    not corpus size.
    """
    links = pages.select(
        F.col(src_host_col).alias("src_host"),
        F.explode(
            F.regexp_extract_all(
                F.col(text_col), F.lit(r'href="([^"]*)"'), F.lit(1)
            )
        ).alias("__href"),
    )
    from ..functions.urls import url_host

    return (
        links.select(
            "src_host", url_host(F.col("__href")).alias("dst_host")
        )
        .filter(F.col("dst_host").isNotNull())
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
    )


def label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 4,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection:
    (id, label) after ``iters`` rounds — the cheap community signal
    over a host/near-dup graph (Raghavan et al. 2007; the GraphX
    LPA shape).  Distinct from connected components
    (`operators/clusters.py`): CC merges everything reachable, LPA
    partitions a connected graph into densely-linked communities.

    Determinism (LPA is notoriously order-sensitive; this variant is
    not): updates are fully synchronous, every node adopts the MODE
    of its neighbors' labels with ties broken by the smallest label,
    and isolated nodes keep their own.  Pure integer relational
    algebra — join, count, row_number — so a DuckDB twin unrolling
    the same rounds reproduces every label exactly.

    Per-iteration shape: one join (labels → undirected edge list),
    one (node, label) hash aggregate, one per-node top-1 window
    (WindowGroupLimit prunes to the argmax row), a left join back to
    the vertex spine, and an eager ``localCheckpoint`` barrier (the
    pagerank cadence — without it round ``t`` replays the whole
    lineage), so the call materializes ``iters + 2`` checkpoints.
    """
    n1 = nodes.select(F.col(id_col).alias("id"))
    e = edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
    ef = e.filter(F.col("s") != F.col("d"))
    und = (
        ef.select("s", "d")
        .unionAll(ef.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .localCheckpoint()
    )
    labels = n1.select("id", F.col("id").alias("label")).localCheckpoint()
    w = Window.partitionBy("id").orderBy(
        F.col("cnt").desc(), F.col("nl")
    )
    for _ in range(iters):
        neigh = (
            und.join(
                labels.select(
                    F.col("id").alias("d"), F.col("label").alias("nl")
                ),
                "d",
            )
            .groupBy(F.col("s").alias("id"), "nl")
            .agg(F.count("*").alias("cnt"))
        )
        top = (
            neigh.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", F.col("nl").alias("new_label"))
        )
        labels = (
            labels.join(top, "id", "left")
            .select(
                "id",
                F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
            )
            .localCheckpoint()
        )
    return labels


def anchor_text_index(
    pages: DataFrame,
    text_col: str = "page",
    top_k: int = 3,
) -> DataFrame:
    """Incoming anchor-text index: for each link TARGET host, the
    ``top_k`` most frequent anchor texts pointing at it —
    (dst_host, anchor, n_refs, rank).  Anchor text is how the web
    describes a page (the classic retrieval/quality signal: anchors
    feed document expansion and host-quality scoring in web-corpus
    pipelines), and it lives on the SOURCE page, so building the
    index is exactly this inverted aggregation.

    Pure codegen, same family as ``link_graph``: one
    ``regexp_extract_all`` over ``<a href="...">text</a>`` pairs
    map-side (fan-out = links per page, not corpus size), authority
    parse via ``url_host`` (unparseable targets drop), anchors
    lower-cased/trimmed with empties dropped, one (host, anchor)
    hash aggregate, then a per-host top-k window — WindowGroupLimit
    prunes to k rows per host below the shuffle.  Ties break by
    anchor text, so ranks are engine-deterministic.
    """
    pat = r'<a href="([^"]*)">([^<]*)</a>'
    from ..functions.urls import url_host

    raw = pages.select(
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))
        ).alias("__m")
    ).select(
        url_host(F.regexp_extract(F.col("__m"), pat, 1)).alias("dst_host"),
        F.lower(F.trim(F.regexp_extract(F.col("__m"), pat, 2))).alias(
            "anchor"
        ),
    )
    counted = (
        raw.filter(F.col("dst_host").isNotNull() & (F.col("anchor") != ""))
        .groupBy("dst_host", "anchor")
        .agg(F.count("*").alias("n_refs"))
    )
    w = Window.partitionBy("dst_host").orderBy(
        F.col("n_refs").desc(), F.col("anchor")
    )
    return counted.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_k
    )


def hits(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 4,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999): (id, hub DECIMAL,
    authority DECIMAL) after ``iters`` mutual-reinforcement rounds —
    the directional complement of ``pagerank`` (a page can be a great
    DIRECTORY without being a great DESTINATION; link-analysis
    pipelines read both).

    Update per round (classic order): authority'(v) = Σ_{u→v} hub(u)
    then hub'(u) = Σ_{u→v} authority'(v), each L1-normalized (sum =
    1; the usual L2 needs sqrt, which is not engine-exact — L1
    preserves the ranking and keeps the arithmetic closed).  Nodes
    with no in-edges get authority 0; no out-edges, hub 0; parallel
    edges contribute once each (deduped).

    Exactness is the `pagerank` contract: every score routes
    ``round_c(·,12)`` → DECIMAL(28,12) before any SUM, sums are exact
    decimals, the normalizing division is one IEEE double op from
    already-agreed values — so any partitioning and a DuckDB
    unrolled twin land bit-identically.  Per round: two
    co-partitioned joins + two hash aggregates on the edge list, two
    1-row broadcast normalizers, eager localCheckpoint barriers
    (lineage otherwise replays 2^t) that run inside the call.
    """
    n1 = nodes.select(F.col(id_col).alias("id"))
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    total = n1.agg(F.count("*").alias("__n"))
    init = (
        n1.crossJoin(F.broadcast(total))
        .select(
            "id",
            round_c(F.lit(1.0) / F.col("__n").cast("double"), 12)
            .cast(_DEC)
            .alias("score"),
        )
        .localCheckpoint()
    )
    hubs = init
    auths = init

    def _norm(scores: DataFrame) -> DataFrame:
        tot = scores.agg(
            F.coalesce(F.sum("score"), F.lit(0).cast(_DEC)).alias("__t")
        )
        return (
            scores.crossJoin(F.broadcast(tot))
            .select(
                "id",
                F.when(F.col("__t") == 0, F.lit(0).cast(_DEC))
                .otherwise(
                    round_c(
                        F.col("score").cast("double")
                        / F.col("__t").cast("double"),
                        12,
                    ).cast(_DEC)
                )
                .alias("score"),
            )
            .localCheckpoint()
        )

    for _ in range(iters):
        auths = _norm(
            n1.join(
                e.join(hubs.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("score").alias("__s")),
                "id",
                "left",
            ).select(
                "id", F.coalesce(F.col("__s"), F.lit(0).cast(_DEC)).alias("score")
            )
        )
        hubs = _norm(
            n1.join(
                e.join(auths.withColumnRenamed("id", "dst"), "dst")
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum("score").alias("__s")),
                "id",
                "left",
            ).select(
                "id", F.coalesce(F.col("__s"), F.lit(0).cast(_DEC)).alias("score")
            )
        )
    return (
        hubs.withColumnRenamed("score", "hub")
        .join(auths.withColumnRenamed("score", "authority"), "id")
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int | None = None,
) -> DataFrame:
    """k-core decomposition membership: iteratively PEEL nodes whose
    degree (in the surviving subgraph) is below ``k`` until a fixpoint
    — the standard graph-mining density filter (Seidman 1983), and the
    web-graph hygiene step next to :func:`pagerank`/:func:`hits`: link
    farms and orphan chains peel away while genuinely interconnected
    hosts survive.

    Output: ``(id, core_degree)`` — the surviving nodes with their
    degree inside the final subgraph. With ``iters=None`` (default)
    peeling runs to convergence, so every ``core_degree >= k`` (the
    k-core property). With ``iters=n`` EXACTLY n peel rounds run —
    the replayable form a fixed-unroll SQL oracle can follow; the
    last round's survivors may still hold degree < k if n rounds were
    not enough (documented, not hidden — tests pin the fixture's
    convergence round count).

    Scale shape (per round): one degree hash aggregate over the
    surviving edges + two semi joins restricting edge endpoints —
    all key-partitioned, no windows, no collects. Each round's edge
    set is cut by an eager ``localCheckpoint`` so lineage never
    snowballs, and its row count (the convergence scalar) is observed
    on that checkpoint job — the connected-components discipline.
    Rounds needed = peeling depth (degeneracy ordering layers),
    typically tens on web graphs — NOT diameter-bound like label
    propagation.

    Self-loops are dropped and parallel edges collapse before
    peeling (degree = distinct-neighbor count, matching
    :func:`triangle_count`'s canonicalization).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    e = edges.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
    ).filter(F.col("s") != F.col("d"))

    def _cut(ed: DataFrame) -> tuple[DataFrame, int]:
        rows = Observation()
        cp = ed.observe(rows, F.count(F.lit(1)).alias("n")).localCheckpoint()
        return cp, rows.get["n"]

    cur, prev = _cut(
        e.select(
            F.least("s", "d").alias("a"), F.greatest("s", "d").alias("b")
        ).distinct()
    )

    def _degrees(ed: DataFrame) -> DataFrame:
        return (
            ed.select(F.col("a").alias("id"))
            .unionAll(ed.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count("*").alias("deg"))
        )

    def _peel_once(ed: DataFrame) -> tuple[DataFrame, int]:
        keep = _degrees(ed).filter(F.col("deg") >= k).select("id")
        return _cut(
            ed.join(keep.withColumnRenamed("id", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("id", "b"), "b", "left_semi")
            .select("a", "b")
        )

    if iters is not None:
        for _ in range(iters):
            cur = _peel_once(cur)[0]
    else:
        while True:
            cur, n = _peel_once(cur)
            if n == prev:
                break
            prev = n
    return _degrees(cur).withColumnRenamed("deg", "core_degree")


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "id",
) -> DataFrame:
    """Multi-source BFS hop distances: the shortest hop count from
    ANY seed to each reachable node, out to ``iters`` hops — the
    crawl-frontier / trust-propagation primitive the rest of the
    graph family leans on (seed a crawl at known-good hosts and
    ``dist`` is crawl depth; seed at known-spam hosts and it is
    contamination radius; nodes past ``iters`` are "beyond the
    horizon" by construction, the bounded form production crawls
    actually run).

    Per round (synchronous frontier relaxation, Bellman-Ford
    specialized to unit weights): candidates = frontier ⋈ edges (one
    key-partitioned shuffle), new distance table = union + per-node
    MIN hash aggregate, lineage cut per round by an eager
    ``localCheckpoint`` (the pagerank discipline — iteration t must not
    re-execute iteration t−1's plan). Only the FRONTIER (nodes first reached
    last round) joins the edge table, so round cost tracks the
    expanding wave, not the visited set; a fixed ``iters`` makes the
    run replayable by an unrolled SQL twin (the k_core contract —
    distances already found are final BFS property, so extra rounds
    past the horizon are no-ops).

    Edges are undirected: they symmetrize via explode (the CC
    lesson: a union of two projections re-executes the upstream
    subtree; one explode does not). Self-loops are dropped; parallel
    edges are harmless under MIN. Output: ``(id, dist)`` for reached
    nodes only — left-join from your node table if unreached rows
    must surface (with NULL dist).
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    e = edges.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
    ).filter(
        F.col("s").isNotNull()
        & F.col("d").isNotNull()
        & (F.col("s") != F.col("d"))
    )
    e = e.select(
        F.explode(
            F.array(
                F.struct(F.col("s"), F.col("d")),
                F.struct(F.col("d").alias("s"), F.col("s").alias("d")),
            )
        ).alias("__e")
    ).select(F.col("__e.s").alias("s"), F.col("__e.d").alias("d"))
    e = e.distinct().localCheckpoint()
    dist = (
        seeds.select(F.col(seed_col).alias("id"))
        .distinct()
        .select("id", F.lit(0).cast("int").alias("dist"))
        .localCheckpoint()
    )
    frontier = dist
    for r in range(1, iters + 1):
        cand = (
            e.join(
                frontier.select(F.col("id").alias("s")), "s"
            )
            .select(F.col("d").alias("id"))
            .distinct()
            .select("id", F.lit(r).cast("int").alias("dist"))
        )
        merged = (
            dist.unionByName(cand)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
        # Nodes first reached THIS round: they alone expand next. A
        # filter over the checkpoint, so it needs no barrier of its own.
        frontier = merged.filter(F.col("dist") == r)
        dist = merged
    return dist
