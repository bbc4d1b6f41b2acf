"""PageRank (capability row 140): power-iteration semantics, mass
conservation, dangling redistribution, determinism."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from strategicai_visibility_loop_etl_spark.operators import graph
from strategicai_visibility_loop_etl_spark.operators.clusters import connected_components
from strategicai_visibility_loop_etl_spark.operators.graph import pagerank


def test_pagerank_cycle_and_star(spark):
    nodes2 = spark.createDataFrame([(0,), (1,)], "id long")
    cyc = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    got = {r["id"]: r["rank"] for r in pagerank(nodes2, cyc, iters=3).collect()}
    assert got[0] == got[1] == Decimal("0.500000000000")

    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    star = spark.createDataFrame(
        [(i, 0) for i in range(1, 5)], "src long, dst long"
    )
    r = {x["id"]: float(x["rank"]) for x in pagerank(nodes, star, iters=5).collect()}
    # Center absorbs the leaves' mass; leaves only hold base + their
    # share of the center's dangling redistribution.
    assert r[0] > 0.5 and all(r[0] > r[i] for i in range(1, 5))
    assert abs(sum(r.values()) - 1.0) < 1e-9          # mass conserved


def test_pagerank_no_edges_uniform_and_deterministic(spark):
    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    empty = spark.createDataFrame([], "src long, dst long")
    r = {x["id"]: x["rank"] for x in pagerank(nodes, empty, iters=3).collect()}
    # All-dangling graph: the uniform distribution is the fixed point.
    assert set(r.values()) == {Decimal("0.250000000000")}

    # Determinism under different shuffle partitioning.
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0)], "src long, dst long"
    )
    a = sorted(map(tuple, pagerank(nodes, edges, iters=4).collect()))
    b = sorted(
        map(
            tuple,
            pagerank(
                nodes.repartition(7), edges.repartition(5), iters=4
            ).collect(),
        )
    )
    assert a == b


def test_pagerank_checkpoints_eagerly(spark):
    """Every round's ranks feed a shuffle join and a broadcast
    aggregate; a lazily checkpointed frame shared that way can deadlock
    the DAG scheduler against the broadcast thread. So the checkpoints
    materialize inside the call: the frame pagerank returns is already
    checkpointed before anything consumes it. (A job count does not tell
    the two apart: under AQE a lazy checkpoint runs its shuffle and
    broadcast stages too.)"""
    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long"
    )
    ranks = pagerank(nodes, edges, iters=3)
    assert ranks._jdf.queryExecution().logical().rdd().isCheckpointed()


_ITERATIVE = {
    "label_propagation": lambda n, e: graph.label_propagation(n, e, iters=3),
    "hits": lambda n, e: graph.hits(n, e, iters=3),
    "k_core": lambda n, e: graph.k_core(e, k=1),
    "bfs_distances": lambda n, e: graph.bfs_distances(e, n.limit(1), iters=3),
    "connected_components": lambda n, e: connected_components(
        e.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    ),
}


@pytest.mark.parametrize("op", list(_ITERATIVE))
def test_iterative_operators_read_only_checkpoints(spark, op):
    """The pagerank pin, for every other iterative graph operator: the
    frame each returns reads nothing but checkpoints that already
    materialized inside the call (hits joins its hub and authority
    checkpoints, k_core aggregates its last edge checkpoint)."""
    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long"
    )
    plan = _ITERATIVE[op](nodes, edges)._jdf.queryExecution().logical()
    found = plan.collectLeaves()
    leaves = [found.apply(i) for i in range(found.size())]
    assert leaves
    assert all(
        leaf.getClass().getSimpleName() == "LogicalRDD" and leaf.rdd().isCheckpointed()
        for leaf in leaves
    )


def test_connected_components_job_count(spark):
    """Each propagation round is one checkpoint job that also observes
    the round's changed count. 40 chains of 8 nodes converge after 7
    rounds (the init aggregate is hop 1; the last round changes
    nothing). The count is exact: a second job per round for the
    convergence count, or a lazy round, moves it."""
    edges = spark.createDataFrame(
        [(c * 8 + i, c * 8 + i + 1) for c in range(40) for i in range(7)],
        "id_a long, id_b long",
    )
    sc = spark.sparkContext
    jvm_sc = sc._jsc.sc()
    jvm_sc.listenerBus().waitUntilEmpty()
    sc.setJobGroup("cc_job_count", "connected_components")
    try:
        comp = connected_components(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jvm_sc.listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup("cc_job_count"))
    assert {r["id"]: r["component"] for r in comp.collect()} == {
        c * 8 + i: c * 8 for c in range(40) for i in range(8)
    }
    assert jobs == 38, jobs


def test_triangle_count_known_graph(spark):
    from strategicai_visibility_loop_etl_spark.operators.graph import (
        triangle_count,
    )

    # K4 on {0,1,2,3} (4 triangles, each vertex in 3) plus a pendant
    # vertex 4 (0 triangles) plus a disconnected edge 5-6.  Edges
    # given in mixed directions with duplicates and a self-loop —
    # canonicalization must absorb all of it.
    edges = spark.createDataFrame(
        [
            (0, 1), (1, 0), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
            (3, 2),  # duplicate reversed
            (4, 0),  # pendant
            (5, 6),  # disconnected edge
            (2, 2),  # self-loop
        ],
        "src long, dst long",
    )
    out = {r["id"]: r["triangles"] for r in triangle_count(edges).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3, 4: 0, 5: 0, 6: 0}
    # Global count: each triangle attributed to exactly 3 vertices.
    assert sum(out.values()) == 3 * 4


def test_triangle_count_partitioning_independence(spark):
    from strategicai_visibility_loop_etl_spark.operators.graph import (
        triangle_count,
    )

    edges = spark.createDataFrame(
        [(i % 11, (i * 7 + 3) % 11) for i in range(40)], "src long, dst long"
    )
    a = sorted(map(tuple, triangle_count(edges).collect()))
    b = sorted(map(tuple, triangle_count(edges.repartition(13)).collect()))
    assert a == b


def test_label_propagation_two_communities(spark):
    from strategicai_visibility_loop_etl_spark.operators.graph import (
        label_propagation,
    )

    # Two triangles {0,1,2} and {3,4,5} joined by one bridge 2-3,
    # plus an isolated node 6.  Hand-unrolled synchronous rounds
    # (mode, smallest-label ties) converge to labels 0 / 2 by round
    # 3; the isolated node keeps its own label.
    nodes = spark.createDataFrame([(i,) for i in range(7)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5), (2, 3)],
        "src long, dst long",
    )
    got = {r["id"]: r["label"]
           for r in label_propagation(nodes, edges, iters=4).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 2, 4: 2, 5: 2, 6: 6}
    # Intermediate round check (round 2 of the hand unroll).
    got2 = {r["id"]: r["label"]
            for r in label_propagation(nodes, edges, iters=2).collect()}
    assert got2 == {0: 0, 1: 0, 2: 0, 3: 3, 4: 2, 5: 2, 6: 6}


def test_label_propagation_partitioning_independence(spark):
    from strategicai_visibility_loop_etl_spark.operators.graph import (
        label_propagation,
    )

    nodes = spark.createDataFrame([(i,) for i in range(20)], "id long")
    edges = spark.createDataFrame(
        [(i % 20, (i * 7 + 3) % 20) for i in range(60)],
        "src long, dst long",
    )
    a = sorted(map(tuple, label_propagation(nodes, edges, iters=3).collect()))
    b = sorted(
        map(
            tuple,
            label_propagation(
                nodes.repartition(7), edges.repartition(5), iters=3
            ).collect(),
        )
    )
    assert a == b


def test_link_graph_extraction_and_host_parse(spark):
    from strategicai_visibility_loop_etl_spark.operators.graph import link_graph

    pages = spark.createDataFrame(
        [
            # two links to b.example (one with port+userinfo), one to c
            ("a.example",
             'x <a href="https://b.example/p1">l</a> '
             '<a href="http://user@B.Example.:8080/p2">l</a> '
             '<a href="https://c.example/">l</a>'),
            # junk hrefs only: schemeless, empty, fragment
            ("a.example", '<a href="not a url">j</a> <a href="">j</a> '
                          '<a href="/rel/path">j</a>'),
            ("b.example", 'no links at all'),
        ],
        "src_host string, page string",
    )
    out = {(r["src_host"], r["dst_host"]): r["n_links"]
           for r in link_graph(pages).collect()}
    assert out == {("a.example", "b.example"): 2, ("a.example", "c.example"): 1}


def test_anchor_text_index_extraction_normalize_topk(spark):
    from strategicai_visibility_loop_etl_spark.operators.graph import (
        anchor_text_index,
    )

    pages = spark.createDataFrame(
        [
            # b.example referenced twice as "Docs", once as "home";
            # junk href and whitespace-only anchor must drop.
            ('x <a href="https://b.example/p1">Docs</a> '
             '<a href="https://b.example/p2">docs </a> '
             '<a href="https://b.example/">home</a> '
             '<a href="not a url">junk</a> '
             '<a href="https://c.example/">  </a>',),
            ('<a href="https://b.example/p3">guide</a> '
             '<a href="https://c.example/1">API</a>',),
        ],
        "page string",
    )
    out = [(r["dst_host"], r["anchor"], r["n_refs"], r["rank"])
           for r in anchor_text_index(pages, top_k=2)
           .orderBy("dst_host", "rank").collect()]
    assert out == [
        ("b.example", "docs", 2, 1),
        ("b.example", "guide", 1, 2),   # 'guide' < 'home' tie-break
        ("c.example", "api", 1, 1),
    ]


def test_hits_star_hub_authority_split(spark):
    from strategicai_visibility_loop_etl_spark.operators.graph import hits

    # Star 1..4 -> 0: node 0 is the pure authority (1.0), the leaves
    # are equal hubs (0.25 each); converged after one round.
    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 5)], "src long, dst long"
    )
    got = {r["id"]: (float(r["hub"]), float(r["authority"]))
           for r in hits(nodes, edges, iters=3).collect()}
    assert got[0] == (0.0, 1.0)
    for i in range(1, 5):
        assert got[i] == (0.25, 0.0)


def test_hits_partitioning_independence_and_l1_norm(spark):
    from strategicai_visibility_loop_etl_spark.operators.graph import hits

    nodes = spark.createDataFrame([(i,) for i in range(12)], "id long")
    edges = spark.createDataFrame(
        [(i % 12, (i * 5 + 2) % 12) for i in range(40)], "src long, dst long"
    )
    a = sorted(map(tuple, hits(nodes, edges, iters=3).collect()))
    b = sorted(map(tuple, hits(
        nodes.repartition(7), edges.repartition(5), iters=3).collect()))
    assert a == b
    hub_sum = sum(float(x[1]) for x in a)
    auth_sum = sum(float(x[2]) for x in a)
    assert abs(hub_sum - 1.0) < 1e-9 and abs(auth_sum - 1.0) < 1e-9


def test_k_core_hand_example_and_convergence(spark):
    """2-core of a triangle with pendant chain: the chain peels away
    over multiple rounds (cascading), the triangle survives with
    degree 2 everywhere; fixed-round form equals the converged form
    once rounds >= peeling depth, and extra rounds are no-ops."""
    from strategicai_visibility_loop_etl_spark.operators.graph import k_core

    # triangle 1-2-3, chain 3-4-5-6 (4,5,6 peel in cascade: 6 first,
    # then 5, then 4 — three rounds of depth)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6)],
        "src long, dst long",
    )
    conv = {r["id"]: r["core_degree"] for r in k_core(edges, k=2).collect()}
    assert conv == {1: 2, 2: 2, 3: 2}
    fixed = {
        r["id"]: r["core_degree"]
        for r in k_core(edges, k=2, iters=3).collect()
    }
    assert fixed == conv
    # idempotent past convergence
    more = {
        r["id"]: r["core_degree"]
        for r in k_core(edges, k=2, iters=8).collect()
    }
    assert more == conv
    # too few rounds: survivors may still hold degree < k (documented)
    early = {
        r["id"]: r["core_degree"]
        for r in k_core(edges, k=2, iters=1).collect()
    }
    assert set(early) == {1, 2, 3, 4, 5}  # 6 peeled, 5 not yet

    # parallel edges collapse, self-loops drop, whole-graph dissolve
    messy = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 1), (2, 3)], "src long, dst long"
    )
    assert k_core(messy, k=2).count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        k_core(edges, k=0)
