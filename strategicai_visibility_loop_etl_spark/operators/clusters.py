"""Near-duplicate cluster formation: connected components over a pair
graph.

The dedup family emits PAIRS (exact digests, MinHash/SimHash/Jaccard
candidates); a training-data pipeline needs CLUSTERS — "keep one doc
per component of the similarity graph". Components are computed by
min-label propagation: every node starts labeled with its own id, and
each round takes the min of its own and its neighbors' labels. The
label of a component's minimum node floods outward one hop per round,
so convergence takes O(graph diameter) rounds — near-dup graphs are
shallow (dup clusters are cliques or short chains), so a handful. A
component too deep to finish in ``max_iter`` rounds falls back to
star contraction, which needs O(log n) rounds on any shape.

Scale shape: each round is one join + one aggregate, both shuffling on
node id — the same partitioning every round, which AQE/exchange reuse
co-locates. An eager ``localCheckpoint`` truncates the lineage each
round so the plan doesn't grow with iterations (the classic
iterative-algorithm footgun). The per-round convergence scalar rides
the checkpoint job as an ``Observation``: one job per round, no
collect of the frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions.text import normalized_text


def collapse_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Exact-duplicate pre-collapse for near-dup clustering:
    ``(representatives, star_edges)``.

    Crawl corpora are 30-50% byte-identical pages; running shingle-based
    candidate generation on them wastes the whole inverted index on
    jaccard-1 pairs (every posting doubles, every dup pair meets in
    EVERY shared shingle). Collapsing first costs one narrow shuffle on
    a 64-hex digest and turns each exact group into O(n) star edges
    (member → group-min) instead of O(n²) posting work.

    Component equivalence with the uncollapsed graph: identical
    normalized texts have identical shingle sets, so jaccard is a
    function of the representative — every cross-group edge survives via
    the rep pair, every in-group edge is replaced by stars to the same
    rep, and the reachable-min label of every node is unchanged.

    ``min_tokens`` must match the shingle width ``k`` of the pair
    generator run on the representatives: docs with fewer tokens have no
    shingles, hence no edges in the pair graph, and must not be pulled
    into components by a star edge either.
    """
    norm = normalized_text(F.coalesce(F.col(text_col), F.lit("")))
    t = df.select(
        F.col(id_col),
        F.col(text_col),
        F.sha2(norm, 256).alias("__key"),
        F.when(norm == "", 0).otherwise(F.size(F.split(norm, " "))).alias("__n"),
    ).filter(F.col("__n") >= min_tokens)
    t = t.withColumn("__rep", F.min(id_col).over(Window.partitionBy("__key")))
    reps = t.filter(F.col(id_col) == F.col("__rep")).select(id_col, text_col)
    stars = t.filter(F.col(id_col) != F.col("__rep")).select(
        F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b")
    )
    return reps, stars


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """(id, component) for every node in ``edges``; component = min node
    id reachable through the undirected pair graph.

    Min-label propagation runs first: one join + one aggregate per
    round, O(diameter) rounds — the cheap common case for near-dup
    graphs, whose components are cliques or short chains. If it hits
    ``max_iter`` without converging (a pathologically deep component)
    the graph is solved again by alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14): O(log n) rounds on ANY graph shape, at two
    grouped aggregates + joins per round. Raises only if that too
    fails to converge in ``max_iter`` rounds.
    """
    labels = _connected_components_propagation(edges, src, dst, max_iter)
    if labels is None:
        return _connected_components_star(edges, src, dst, max_iter)
    return labels


def _connected_components_propagation(
    edges: DataFrame, src: str, dst: str, max_iter: int
) -> DataFrame | None:
    """Min-label propagation (see :func:`connected_components`); None
    when it has not converged after ``max_iter`` rounds."""
    # Symmetrize by EXPLODE, not union-with-swap: Catalyst expands a
    # self-union into two copies of the edges subtree, so the pair
    # generator (shingle index / window over the corpus) would execute
    # TWICE inside the one checkpoint job that is supposed to pin it.
    # The explode reads the subtree exactly once.
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("__e")
        )
        .select("__e.a", "__e.b")
        .localCheckpoint()
    )
    # The node derivation IS round 1 (optimization r15): instead of a
    # distinct + self-label (same shuffle as a groupBy on the node id),
    # aggregate min(neighbor ∪ self) directly — the first propagation
    # hop comes free with the init job, and shallow graphs (the
    # near-dup shape) save one full loop round.
    labels = (
        sym.groupBy(F.col("a").alias("id"))
        .agg(F.least(F.min("b"), F.min("a")).alias("component"))
        .localCheckpoint()
    )
    # Self-loops make each round ONE join + ONE aggregate (optimization
    # r15): the (id, id) row carries the node's own current label
    # through the neighbor join, so min(nc) over neighbors ∪ self IS
    # the new label — no second join-back against the old labels — and
    # the old label rides out of the same aggregate (min over the self
    # row alone) for the changed flag. The ids are static, so the loop
    # frame is built once from the initial labels.
    sym2 = sym.unionAll(
        labels.select(F.col("id").alias("a"), F.col("id").alias("b"))
    )

    for _ in range(max_iter):
        # The convergence count is observed on the checkpoint job: one
        # job both materializes the round (truncating lineage) and
        # returns the count.
        changed = Observation()
        labels = (
            sym2.join(
                labels.select(F.col("id").alias("b"), F.col("component").alias("nc")),
                "b",
            )
            .groupBy(F.col("a").alias("id"))
            .agg(
                F.min("nc").alias("component"),
                F.min(F.when(F.col("a") == F.col("b"), F.col("nc"))).alias("__old"),
            )
            .observe(
                changed,
                F.count_if(F.col("component") < F.col("__old")).alias("n"),
            )
            .select("id", "component")
            .localCheckpoint()
        )
        if changed.get["n"] == 0:
            return labels
    return None


def _connected_components_star(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int,
) -> DataFrame:
    """Alternating large-star/small-star contraction.

    Each round rewrites the edge set: large-star hangs every
    strictly-larger neighbor of u onto m = min(N(u) ∪ {u}); small-star
    hangs u and its smaller neighbors onto their min. Both emissions
    keep every edge (v, m) with v > m, so edges stay canonically
    (hi, lo)-oriented, and the edge count never grows. At the fixpoint
    the edge set is a star forest: every non-root node carries exactly
    one edge to its component's minimum node.

    Convergence is detected by an order-insensitive checksum
    (count + sum of xxhash64) of the canonical edge set, observed on
    each round's checkpoint job — no extra job, no driver-side edge
    collection.
    """
    # Materialize the input projection ONCE: nodes and the canonical
    # edge set both consume it, and the node derivation explodes rather
    # than self-unions — without this the edges subtree (possibly a
    # whole candidate generator) would execute three times.
    # A checkpoint, NOT persist: a persisted block lost mid-build is
    # silently recomputed from the untruncated lineage, and if the
    # upstream candidate generator is order-sensitive the two consumers
    # can see DIVERGENT edge sets (the round-7 prefix-sum bug class);
    # the checkpoint is fail-stop instead. Dropping the reference once
    # both consumers are checkpointed makes the blocks collectible by
    # the ContextCleaner rather than pinned for all O(log n) rounds.
    raw = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint()
    nodes = (
        raw.select(F.explode(F.array("a", "b")).alias("id"))
        .distinct()
        .localCheckpoint()
    )

    def _checksummed(df: DataFrame):
        # decimal(38,0) accumulator: a long sum of xxhash64 values
        # overflows (ANSI mode throws on it).
        chk = Observation()
        cp = df.observe(
            chk,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("hi", "lo").cast("decimal(38,0)")).alias("h"),
        ).localCheckpoint()
        return cp, (chk.get["n"], chk.get["h"])

    e, prev = _checksummed(
        raw.filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo"))
        .distinct()
    )
    del raw

    for _ in range(max_iter):
        # Large-star over the symmetric view: m = min(N(u) ∪ {u});
        # emit (v, m) for every neighbor v > u.
        sym = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionAll(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        m_lg = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        large = (
            sym.join(m_lg, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # Small-star over canonical edges: m = min of u's smaller
        # neighbors; emit (v, m) for those neighbors and u itself.
        m_sm = large.groupBy("hi").agg(F.min("lo").alias("m"))
        small = (
            large.join(m_sm, "hi")
            .select(F.col("lo").alias("v"), F.col("m"))
            .unionAll(m_sm.select(F.col("hi").alias("v"), F.col("m")))
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )
        e, chk = _checksummed(small)
        if chk == prev:
            roots_or_isolated = nodes.join(
                e.select(F.col("hi").alias("id")), "id", "left_anti"
            ).select("id", F.col("id").alias("component"))
            members = e.groupBy(F.col("hi").alias("id")).agg(
                F.min("lo").alias("component")
            )
            return members.unionByName(roots_or_isolated)
        prev = chk
    raise RuntimeError(
        f"star contraction did not converge in {max_iter} rounds"
    )


def cluster_representatives(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one row per near-dup cluster: the component's min id wins;
    rows not in any component (no near-dup edges) keep themselves."""
    joined = df.join(
        components.select(F.col("id").alias(id_col), "component"), id_col, "left"
    )
    return joined.filter(
        F.col("component").isNull() | (F.col(id_col) == F.col("component"))
    ).drop("component")


def leakage_free_split(
    df: DataFrame,
    components: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/val/test assignment that never splits a near-dup cluster
    across sides — the eval-hygiene guarantee a naive per-document
    hash split silently violates (a test document's near-duplicate in
    train IS leakage; Lee et al. 2022 measure the inflation).

    The split UNIT is the connected component (own id for unclustered
    docs); the label is a pure-hash bucket of the unit against
    cumulative parts-per-million thresholds derived from the
    normalized ``weights`` (insertion order) — deterministic across
    engines/runs/partitionings, stable under corpus growth (a new doc
    joins its cluster's side), and proportions hold in expectation
    over units. One broadcast-ish join against the components table
    (cluster-sized) + a pure projection.
    """
    if not weights:
        raise ValueError("weights must be a non-empty {label: weight} dict")
    total = float(sum(weights.values()))
    cum = 0.0
    bounds: list[tuple[str, int]] = []
    for name, wgt in weights.items():
        cum += wgt / total
        bounds.append((name, min(1_000_000, round(cum * 1_000_000))))
    bounds[-1] = (bounds[-1][0], 1_000_000)  # close rounding gaps

    unit = F.coalesce(F.col("component"), F.col(id_col)).cast("long")
    folded = F.pmod(unit, F.lit(2147483648))
    bucket = F.pmod(
        F.pmod(folded * F.lit(2654435761), F.lit(4294967296)),
        F.lit(1_000_000),
    )
    label = None
    for name, hi in bounds:
        cond = bucket < F.lit(hi)
        label = (
            F.when(cond, F.lit(name))
            if label is None
            else label.when(cond, F.lit(name))
        )
    return (
        df.join(
            components.select(F.col("id").alias(id_col), "component"),
            id_col,
            "left",
        )
        .withColumn("split_unit", unit)
        .withColumn("split", label)
        .drop("component")
    )
