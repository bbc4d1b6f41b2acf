"""Similarity search over embedding columns (array<float>).

- ``knn_cosine_topk`` — exact brute-force top-k: broadcast the (small)
  query set against the corpus, cosine via native array expressions,
  per-query top-k through a window. This is the correctness baseline
  and the oracle target.
- ``ann_lsh_topk`` — the scale path: random-hyperplane LSH. Each vector
  gets a ``nbits``-bit signature from seeded deterministic hyperplanes;
  candidates share a signature bucket (multi-probe over bands), exact
  cosine re-ranks within buckets. At 100 TB the corpus is scanned once
  to signatures, and each query touches only its buckets.
- ``ivf_topk`` — the clustered scale path (FAISS-IVF shape): a coarse
  quantizer of ``n_centroids`` k-means centroids partitions the corpus
  into inverted lists; each query probes its ``n_probe`` nearest lists
  and exact cosine re-ranks inside them. Training is Spark-side (like
  the xxhash64 of the LSH family); the trained centroid table stages
  to parquet, and the DuckDB oracle replays assignment + probing +
  re-rank over it — the IVF *logic* gets an engine-independent check.
- ``embedding_neardup_pairs`` — the embedding member of the dedup
  family (exact / fingerprint / n-gram Jaccard / MinHash / SimHash /
  embedding-cosine): hyperplane-LSH banded *self*-join over one corpus,
  exact cosine verify ≥ threshold. Same staged-signature oracle surface
  as ``ann_lsh_topk``.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.util import inheritable_thread_target

from ..functions.localframe import one_partition_frame
from ..functions.numeric import round_c
from ..functions.vectors import cosine_arrow, dot_arrow, l2_norm_arrow


def knn_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus.

    Query side is broadcast (queries ≪ corpus); the corpus streams
    through one projection. Per-query top-k uses row_number over
    (query, -cos) — with AQE this is a shuffle keyed on query_id, each
    reducer holding one query's scores.

    Norms are staged ONCE per corpus/query row before the cross join —
    the |corpus|×|queries| pair projection then does a single Arrow-
    batched dot product per pair instead of recomputing both norms
    (3× the flops) through an interpreted lambda. The sequential-fold
    Arrow kernels are bit-identical to the expression forms and to
    DuckDB's list_dot_product, so oracle parity is preserved exactly.
    """
    c = corpus.select(
        F.col(corpus_id), F.col(corpus_vec), l2_norm_arrow(F.col(corpus_vec)).alias("__cn")
    )
    q = queries.select(
        F.col(query_id), F.col(query_vec), l2_norm_arrow(F.col(query_vec)).alias("__qn")
    )
    joined = c.crossJoin(F.broadcast(q))
    denom = F.col("__cn") * F.col("__qn")
    cos = F.when(denom > 0, dot_arrow(F.col(corpus_vec), F.col(query_vec)) / denom).otherwise(
        F.lit(0.0)
    )
    scored = joined.select(
        F.col(query_id), F.col(corpus_id), round_c(cos, 6).alias("cosine")
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def _train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int,
    iters: int,
    corpus_id: str,
    corpus_vec: str,
) -> np.ndarray:
    """Lloyd-iterated k-means centroids, (n_centroids, dim) float64.

    Init is the deterministic hash-sample: the ``n_centroids`` corpus
    vectors with the smallest ``xxhash64(id)`` (reproducible across
    runs and partitionings, no ``rand()``). Each iteration is one
    corpus pass: an Arrow-batched argmin assignment (one matmul per
    batch — training needs no cross-engine bit-parity, the centroids
    are staged), then per-dimension partial-aggregable SUM/COUNT via
    ``posexplode`` — the collect is bounded by model size
    (n_centroids × dim rows), never by corpus size. Empty clusters
    keep their previous centroid.
    """
    init_rows = (
        corpus.select(F.col(corpus_vec).alias("v"), F.col(corpus_id).alias("i"))
        .withColumn("__o", F.xxhash64(F.col("i")))
        .orderBy("__o", "i")
        .limit(n_centroids)
        .collect()
    )
    cents = np.asarray([list(r["v"]) for r in init_rows], dtype=np.float64)

    for _ in range(iters):
        frozen = cents.copy()

        @pandas_udf("int")
        def assign_udf(vecs: pd.Series) -> pd.Series:
            if len(vecs) == 0:
                return pd.Series([], dtype="int32")
            mat = np.asarray(list(vecs), dtype=np.float64)
            d2 = (mat * mat).sum(1, keepdims=True) - 2.0 * (mat @ frozen.T) + (
                frozen * frozen
            ).sum(1)
            return pd.Series(d2.argmin(axis=1).astype("int32"))

        stats = (
            corpus.select(assign_udf(F.col(corpus_vec)).alias("cluster"), F.col(corpus_vec))
            .select("cluster", F.posexplode(corpus_vec).alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.sum(F.col("x").cast("double")).alias("s"), F.count("*").alias("n"))
            .collect()
        )
        nxt = cents.copy()
        counts = np.zeros(len(cents))
        for r in stats:
            nxt[r["cluster"], r["dim"]] = r["s"] / r["n"]
            counts[r["cluster"]] = r["n"]
        cents = np.where(counts[:, None] > 0, nxt, cents)
    return cents


def _centroid_df(spark, cents: np.ndarray) -> DataFrame:
    """(cluster, centroid) model table from a trained (k, dim) array —
    the single construction shared by every IVF consumer so the
    staged schema can never drift between them. One-slice parallelize:
    the default 32-slice local frame paid 32 zero-CPU Python tasks per
    staging write and per broadcast build (profiled r15); array-heavy
    rows stay off the literal path by the r14 codegen measurement."""
    return one_partition_frame(
        spark,
        [(i, [float(x) for x in row]) for i, row in enumerate(cents)],
        "cluster int, centroid array<double>",
    )


def _codebook_df(spark, books: np.ndarray, code_col: str) -> DataFrame:
    """(sub, <code_col>, centroid) model table from trained
    (m, ksub_eff, dsub) PQ codebooks; iterates the ACTUAL trained
    shape, so a corpus smaller than ``ksub`` degrades to fewer codes
    instead of indexing out of bounds."""
    m, ksub_eff = books.shape[0], books.shape[1]
    return one_partition_frame(
        spark,
        [
            (s, c, [float(x) for x in books[s, c]])
            for s in range(m)
            for c in range(ksub_eff)
        ],
        f"sub int, {code_col} int, centroid array<double>",
    )


def _subspace_slices(col, m: int, dsub: int):
    """Array of the m contiguous dsub-length slices of a vector —
    the one slicing arithmetic every PQ stage (train, encode, LUT)
    must agree on."""
    return F.array(*[F.slice(col, s * dsub + 1, dsub) for s in range(m)])


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    stage_path: str | None = None,
) -> DataFrame:
    """Approximate cosine top-k via IVF (inverted-file) search.

    Search-time assignment/probing uses the order-preserving fold
    kernels and the comparison score ``(-2·x·c) + c·c`` (the ``x·x``
    term is constant under the argmin), written identically in the
    DuckDB oracle so the argmin and probe ranks agree bit-for-bit.
    Assignment reduces map-side (``min_by`` partial agg) — the corpus
    never shuffles ×n_centroids. ``stage_path`` materializes the
    centroid table (``{stage_path}/centroids``) for the oracle replay
    AND the inverted lists themselves, Hive-partitioned by cluster
    (``{stage_path}/lists`` via ``write_partitioned``): the search
    then re-reads ONLY the probed lists through a
    PartitionFilters-pruned scan (probe set ≤ n_centroids distinct
    ints, a model-sized collect sharing :func:`_probe_lists` with the
    search join so pruning can never disagree with probing). At
    100 TB that makes per-query list reads n_probe/n_centroids of the
    index bytes — the same layout contract as the IVF-PQ code table.
    """
    cents = _train_ivf_centroids(corpus, n_centroids, iters, corpus_id, corpus_vec)
    cent_df = _centroid_df(corpus.sparkSession, cents)

    assigned = ivf_assign(corpus, cent_df, corpus_id, corpus_vec)
    probes = None
    if stage_path is not None:
        from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

        from ..sources.sinks import write_partitioned  # noqa: PLC0415

        # write_partitioned truncates the root: the staged lists are a
        # complete snapshot of THIS corpus/centroid assignment, so a
        # reused stage_path must not keep partitions for clusters the
        # new assignment left empty. Three legs run as CONCURRENT jobs
        # (guide §2.6: actions are sequential only because the driver
        # calls them sequentially):
        # the centroid staging write (oracle audit surface only —
        # consumers keep the driver-local frame, whose doubles the
        # parquet roundtrip reproduces exactly), the corpus-side list
        # write, and the query-side probe build.
        # Each target is wrapped on its own, so each thread gets its own
        # copy of the caller's job group and description.
        spark = corpus.sparkSession
        with ThreadPoolExecutor(max_workers=2) as pool:
            cents_write = pool.submit(
                inheritable_thread_target(spark)(cent_df.write.mode("overwrite").parquet),
                f"{stage_path}/centroids",
            )
            lists_write = pool.submit(
                inheritable_thread_target(spark)(write_partitioned),
                assigned, f"{stage_path}/lists", ["cluster"],
            )
            # computed ONCE (lineage cut): the pruning set and the
            # search join share the same probe table instead of
            # re-running the queries×centroids assignment per consumer;
            # the probed-cluster set rides the checkpoint job
            probed_obs = Observation()
            probes = (
                _probe_lists(queries, cent_df, n_probe, query_id, query_vec)
                .observe(probed_obs, F.collect_set("cluster").alias("c"))
                .localCheckpoint()
            )
            probed = sorted(probed_obs.get["c"])
            # surface write errors before the read-back
            cents_write.result()
            lists_write.result()
        keep = F.col("cluster").isin(probed) if probed else F.lit(False)
        assigned = (
            corpus.sparkSession.read.parquet(f"{stage_path}/lists")
            .filter(keep)
            .select(corpus_id, corpus_vec, "cluster")
        )
    return ivf_search_index(
        assigned, queries, cent_df, k, n_probe, corpus_id, corpus_vec,
        query_id, query_vec, probes=probes,
    )


def ivf_centroids_write(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    iters: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Train the IVF coarse quantizer ONCE on an initial corpus and
    persist it — the frozen-centroid regime every incremental ANN
    index runs in (FAISS's train-once/add-forever contract): arriving
    batches assign against these centroids map-side; retraining is a
    scheduled rebuild, not a per-batch event. Returns the staged
    (cluster, centroid) table read back from parquet."""
    from .dedup import _stage_roundtrip  # noqa: PLC0415 (sibling module)

    cents = _train_ivf_centroids(corpus, n_centroids, iters, corpus_id, corpus_vec)
    return _stage_roundtrip(_centroid_df(corpus.sparkSession, cents), path)


def ivf_assign(
    df: DataFrame,
    cent_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, cluster) nearest-centroid assignment: broadcast the
    model-sized centroid table, score with the comparison form
    ``(-2·x·c) + c·c`` (the ``x·x`` term is constant under the
    argmin), reduce with a map-side-partial ``min_by`` — the corpus
    never shuffles ×n_centroids, and the assignment output IS the
    inverted index (write it bucketed by cluster at scale)."""
    score = (F.lit(-2) * dot_arrow(F.col(vec_col), F.col("centroid"))) + dot_arrow(
        F.col("centroid"), F.col("centroid")
    )
    return (
        df.crossJoin(F.broadcast(cent_df))
        .select(F.col(id_col), F.col(vec_col), F.col("cluster"), score.alias("__s"))
        .groupBy(id_col)
        .agg(
            F.min_by("cluster", F.struct("__s", "cluster")).alias("cluster"),
            F.first(vec_col).alias(vec_col),
        )
    )


def _probe_lists(
    queries: DataFrame,
    cent_df: DataFrame,
    n_probe: int,
    query_id: str,
    query_vec: str,
) -> DataFrame:
    """(query, query_vec, cluster) — each query's ``n_probe`` closest
    inverted lists under the shared comparison score
    ``(-2·q·c) + c·c`` with the cluster tie-break. THE single probe
    definition: the search join and the partition-pruned list read
    must agree on it exactly, or pruning could drop a list the search
    would touch."""
    q_score = (F.lit(-2) * dot_arrow(F.col(query_vec), F.col("centroid"))) + dot_arrow(
        F.col("centroid"), F.col("centroid")
    )
    wq = Window.partitionBy(query_id).orderBy(F.col("__s"), F.col("cluster"))
    return (
        queries.crossJoin(F.broadcast(cent_df))
        .select(F.col(query_id), F.col(query_vec), F.col("cluster"), q_score.alias("__s"))
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= n_probe)
        .select(query_id, query_vec, "cluster")
    )


def ivf_search_index(
    index_df: DataFrame,
    queries: DataFrame,
    cent_df: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    probes: DataFrame | None = None,
) -> DataFrame:
    """Probe + exact re-rank over a PREBUILT (id, vec, cluster)
    inverted index — the serving-time half of IVF, shared by
    ``ivf_topk`` (fresh assignment) and the incremental index path
    (accumulated committed batches). Each query probes its
    ``n_probe`` closest centroids (same comparison score and cluster
    tie-break as assignment) and exact cosine re-ranks inside the
    probed lists only. A caller that already computed the probe table
    (:func:`_probe_lists` — e.g. to prune a partitioned list read)
    passes it in so the queries×centroids assignment runs once, not
    twice."""
    if probes is None:
        probes = _probe_lists(queries, cent_df, n_probe, query_id, query_vec)

    scored = index_df.join(F.broadcast(probes), "cluster").select(
        F.col(query_id),
        F.col(corpus_id),
        round_c(cosine_arrow(F.col(corpus_vec), F.col(query_vec)), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def _hyperplanes(dim: int, nbits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-Gaussian hyperplanes (driver-side literals)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(nbits)]


def _signature(vec_col, planes: list[list[float]]):
    """Bit b = 1 iff dot(vec, plane_b) >= 0; assembled into a BIGINT.

    Arrow-batched pandas UDF doing ONE numpy matmul per batch
    (vectors × planesᵀ → sign bits → packed int64). The expression
    alternative — nbits interpreted aggregate-lambdas per row — is the
    slow path by orders of magnitude at corpus scale; this is the
    declared Python boundary for the ANN signature.
    """
    plane_matrix = np.asarray(planes, dtype=np.float64).T  # (dim, nbits)
    weights = (1 << np.arange(plane_matrix.shape[1], dtype=np.uint64)).astype(np.uint64)

    @pandas_udf("long")
    def sig_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        mat = np.asarray(list(vecs), dtype=np.float64)  # (n, dim)
        bits = (mat @ plane_matrix) >= 0  # (n, nbits)
        packed = (bits.astype(np.uint64) * weights).sum(axis=1)
        return pd.Series(packed.astype(np.int64))

    return sig_udf(vec_col)


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int | None = None,
    nbits: int = 16,
    bands: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    seed: int = 42,
    stage_path: str | None = None,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH.

    The ``nbits`` signature is split into ``bands``; a corpus vector is
    a candidate for a query iff they agree on at least one band
    (multi-probe recall boost without hamming-ball enumeration).

    ``stage_path`` materializes the signature tables to parquet
    (``{stage_path}/corpus`` and ``{stage_path}/query``, columns
    id + vector + sig) and derives candidates from the read-back —
    a compute-once barrier for the signature UDF, and the surface an
    engine-independent oracle replays the banding over.
    """
    from .dedup import _stage_roundtrip  # noqa: PLC0415 (sibling module)

    if dim is None:
        first = corpus.select(F.size(corpus_vec).alias("d")).first()
        dim = int(first["d"]) if first else 0
    planes = _hyperplanes(dim, nbits, seed)
    rbits = nbits // bands

    def band_cols(sig_col):
        return [
            F.shiftright(sig_col, b * rbits).bitwiseAND(F.lit((1 << rbits) - 1)).alias(f"band_{b}")
            for b in range(bands)
        ]

    c_sig = corpus.select(
        F.col(corpus_id), F.col(corpus_vec), _signature(F.col(corpus_vec), planes).alias("sig")
    )
    q_sig = queries.select(
        F.col(query_id), F.col(query_vec), _signature(F.col(query_vec), planes).alias("sig")
    )
    if stage_path is not None:
        c_sig = _stage_roundtrip(c_sig, f"{stage_path}/corpus")
        q_sig = _stage_roundtrip(q_sig, f"{stage_path}/query")

    c_bands = c_sig.select(
        corpus_id,
        corpus_vec,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sig"), b * rbits)
                        .bitwiseAND(F.lit((1 << rbits) - 1))
                        .alias("bv"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(corpus_id, corpus_vec, F.col("bk.band").alias("band"), F.col("bk.bv").alias("bv"))

    q_bands = q_sig.select(
        query_id,
        query_vec,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sig"), b * rbits)
                        .bitwiseAND(F.lit((1 << rbits) - 1))
                        .alias("bv"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(query_id, query_vec, F.col("bk.band").alias("band"), F.col("bk.bv").alias("bv"))

    cand = (
        c_bands.join(F.broadcast(q_bands), ["band", "bv"])
        .select(query_id, corpus_id, corpus_vec, query_vec)
        .dropDuplicates([query_id, corpus_id])
    )
    scored = cand.select(
        F.col(query_id),
        F.col(corpus_id),
        # Candidate sets are bucket-bounded (small), so one fused Arrow
        # cosine per pair beats staging norms through the band explode.
        round_c(cosine_arrow(F.col(corpus_vec), F.col(query_vec)), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    dim: int | None = None,
    nbits: int = 64,
    bands: int = 8,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    seed: int = 42,
    max_bucket: int | str = "auto",
    stage_path: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (``id_a < id_b``, cosine
    ≥ ``threshold``) via random-hyperplane LSH.

    Candidate generation: two vectors are candidates iff some
    ``nbits // bands``-bit band of their signatures matches — no
    all-pairs. Buckets above ``max_bucket`` rows are dropped (skew
    guard, see ``dedup.resolve_max_bucket``); only (id, band-key) pairs
    ride the candidate shuffle — vectors are joined back from the
    signature table for the final cosine verify, so the band explode
    never replicates the embedding payload ``bands``×.

    ``stage_path`` materializes the ``(id, vec, sig)`` table to parquet
    (compute-once barrier + the surface the DuckDB oracle replays the
    banding and cosine verification over).
    """
    from .dedup import _stage_roundtrip, resolve_max_bucket  # noqa: PLC0415

    if dim is None:
        first = corpus.select(F.size(corpus_vec).alias("d")).first()
        dim = int(first["d"]) if first else 0
    planes = _hyperplanes(dim, nbits, seed)
    rbits = nbits // bands
    mask = F.lit((1 << rbits) - 1)

    sig = corpus.select(
        F.col(corpus_id).alias("id"),
        F.col(corpus_vec).alias("vec"),
        _signature(F.col(corpus_vec), planes).alias("sig"),
    )
    sig = _stage_roundtrip(sig, stage_path)

    band_rows = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sig"), b * rbits).bitwiseAND(mask).alias("bv"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bv").alias("bv"))

    bucket_sizes = band_rows.groupBy("band", "bv").agg(F.count("*").alias("n"))
    cap = resolve_max_bucket(bucket_sizes, max_bucket)
    ok = bucket_sizes.filter((F.col("n") > 1) & (F.col("n") <= cap)).select("band", "bv")
    pruned = band_rows.join(ok, ["band", "bv"])

    a = pruned.select("band", "bv", F.col("id").alias("id_a"))
    b = pruned.select("band", "bv", F.col("id").alias("id_b"))
    cand = (
        a.join(b, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )

    va = sig.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = sig.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            round_c(cosine_arrow(F.col("vec_a"), F.col("vec_b")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def kmeans_assign(
    corpus: DataFrame,
    n_clusters: int = 16,
    iters: int = 3,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    stage_path: str | None = None,
) -> DataFrame:
    """Full-corpus k-means cluster assignment — the semantic-clustering
    building block (SemDeDup-style embedding clustering, topic
    balancing, curriculum bucketing): (id, cluster, sq_dist) for every
    corpus vector, plus nothing corpus-sized on the driver.

    Training reuses the IVF coarse quantizer (deterministic hash-sample
    init + Lloyd passes whose only collect is model-sized stats,
    ``_train_ivf_centroids``). Final assignment is the broadcast
    score-argmin: corpus × broadcast(centroids) with the comparison
    score ``(-2·x·c) + c·c`` reduced map-side by ``min_by`` — one
    corpus pass, no shuffle ×n_clusters, no Python in the final
    assignment. ``sq_dist`` adds the ``x·x`` term back so the output
    is the true squared Euclidean distance. ``stage_path`` stages the
    centroid table for the engine-independent oracle replay (DuckDB
    recomputes the argmin from the same centroids).
    """
    from .dedup import _stage_roundtrip  # noqa: PLC0415 (sibling module)

    cents = _train_ivf_centroids(corpus, n_clusters, iters, corpus_id, corpus_vec)
    spark = corpus.sparkSession
    cent_df = _centroid_df(spark, cents)
    if stage_path is not None:
        cent_df = _stage_roundtrip(cent_df, f"{stage_path}/centroids")

    part = (F.lit(-2) * dot_arrow(F.col(corpus_vec), F.col("centroid"))) + dot_arrow(
        F.col("centroid"), F.col("centroid")
    )
    return (
        corpus.crossJoin(F.broadcast(cent_df))
        .select(
            F.col(corpus_id).alias("id"),
            F.col(corpus_vec),
            F.col("cluster"),
            part.alias("__s"),
        )
        .groupBy("id")
        .agg(
            F.min(F.struct("__s", "cluster")).alias("__best"),
            F.first(corpus_vec).alias("__v"),
        )
        .select(
            "id",
            F.col("__best.cluster").alias("cluster"),
            round_c(
                F.col("__best.__s") + dot_arrow(F.col("__v"), F.col("__v")), 6
            ).alias("sq_dist"),
        )
    )


def semantic_neardup_pairs(
    corpus: DataFrame,
    n_clusters: int = 16,
    iters: int = 2,
    threshold: float = 0.95,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    max_cluster: int | str = "auto",
    stage_path: str | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: k-means clusters
    as the blocking key, exact cosine within each cluster —
    (id_a < id_b, cluster, cosine ≥ threshold).

    This is the published SemDeDup recipe (cluster the embeddings,
    compare only within clusters): candidate volume is Σ c_i² over
    cluster sizes instead of n² — with balanced clusters, n²/k. The
    within-cluster self-join keys on the cluster id, the same
    bucket-join shape as the LSH family, and inherits its skew guard:
    clusters above ``max_cluster`` rows ("auto" = the data-driven
    p99.9 cap) are dropped from pairing — a degenerate k-means fit
    must not recreate the all-pairs join. Assignment reuses the
    broadcast min-struct argmin (one corpus pass); the staged
    ``(id, cluster, vec)`` table is the DuckDB oracle's replay
    surface. For the keep/drop decision, feed these pairs to
    ``connected_components`` + ``cluster_representatives`` (the
    component formation is oracle-checked by q42).
    """
    from .dedup import _stage_roundtrip, resolve_max_bucket  # noqa: PLC0415

    cents = _train_ivf_centroids(corpus, n_clusters, iters, corpus_id, corpus_vec)
    spark = corpus.sparkSession
    cent_df = _centroid_df(spark, cents)
    part = (F.lit(-2) * dot_arrow(F.col(corpus_vec), F.col("centroid"))) + dot_arrow(
        F.col("centroid"), F.col("centroid")
    )
    assign = (
        corpus.crossJoin(F.broadcast(cent_df))
        .select(
            F.col(corpus_id).alias("id"),
            F.col(corpus_vec).alias("vec"),
            F.col("cluster"),
            part.alias("__s"),
        )
        .groupBy("id")
        .agg(
            F.min(F.struct("__s", "cluster")).alias("__best"),
            F.first("vec").alias("vec"),
        )
        .select("id", F.col("__best.cluster").alias("cluster"), "vec")
    )
    assign = _stage_roundtrip(assign, f"{stage_path}/assign" if stage_path else None)

    sizes = assign.groupBy("cluster").agg(F.count("*").alias("n"))
    cap = resolve_max_bucket(sizes, max_cluster)
    ok = sizes.filter((F.col("n") > 1) & (F.col("n") <= cap)).select("cluster")
    pruned = assign.join(F.broadcast(ok), "cluster")

    a = pruned.select("cluster", F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    b = pruned.select("cluster", F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    return (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "cluster",
            "id_a",
            "id_b",
            round_c(cosine_arrow(F.col("vec_a"), F.col("vec_b")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 quantization: (id, scale, qvec) with
    q_i = round(x_i·127 / max|x|) ∈ [−127, 127] — the standard 4×
    memory cut for billion-vector ANN serving. Zero vectors quantize
    to all-zero with scale 0.

    ``F.round(y, 0)`` is exact at .5 ties for |y| < 2^53 (matches
    C-library/DuckDB rounding — see ``round_c``), so the quantized
    codes are engine-identical. flet-bound so the per-element lambda
    sees the scale as a variable (an outer reference would recompute
    the array-max per ELEMENT)."""
    from ..functions.exprs import flet

    v = F.col(vec_col)
    scale_expr = (
        F.coalesce(
            F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(0.0)
        )
        / 127.0
    ).cast("double")
    qvec = flet(
        scale_expr,
        lambda s: F.when(
            s > 0,
            F.transform(v, lambda x: F.round(x / s, 0).cast("int")),
        ).otherwise(F.transform(v, lambda x: F.lit(0))),
    )
    return df.select(
        F.col(id_col),
        scale_expr.alias("scale"),
        qvec.alias("qvec"),
    )


def quantized_cosine_topk(
    corpus_q: DataFrame,
    queries_q: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
) -> DataFrame:
    """Exact top-k under QUANTIZED cosine: because the per-vector
    scales cancel in cos = (sa·sb·Σqa·qb)/(sa√Σqa²·sb√Σqb²), scoring
    is pure integer arithmetic — Σqa·qb and the two squared norms are
    exact int64 sums — with one final sqrt+divide. No float
    accumulation order anywhere: the ranking is deterministic by
    construction, and DuckDB replays it from the same integer codes.
    Same broadcast-query / window-rank shape as ``knn_cosine_topk``;
    recall vs the float path is tolerance-tested."""
    c = corpus_q.select(
        F.col(corpus_id),
        F.col("qvec").alias("__cq"),
        F.aggregate(
            F.transform(F.col("qvec"), lambda x: (x * x).cast("long")),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        ).alias("__cn2"),
    )
    q = queries_q.select(
        F.col(query_id),
        F.col("qvec").alias("__qq"),
        F.aggregate(
            F.transform(F.col("qvec"), lambda x: (x * x).cast("long")),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        ).alias("__qn2"),
    )
    joined = c.crossJoin(F.broadcast(q))
    dot = F.aggregate(
        F.zip_with(F.col("__cq"), F.col("__qq"), lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    denom2 = F.col("__cn2") * F.col("__qn2")
    cos = F.when(
        denom2 > 0,
        round_c(dot.cast("double") / F.sqrt(denom2.cast("double")), 6),
    ).otherwise(F.lit(0.0))
    w = Window.partitionBy(query_id).orderBy(
        F.col("qcosine").desc(), F.col(corpus_id)
    )
    return (
        joined.select(query_id, corpus_id, cos.alias("qcosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, F.col("rank").cast("int").alias("rank"), corpus_id, "qcosine")
    )


def _train_pq_codebooks(
    corpus: DataFrame,
    m: int,
    ksub: int,
    iters: int,
    corpus_id: str,
    corpus_vec: str,
    dim: int,
) -> np.ndarray:
    """Per-subspace Lloyd k-means codebooks, (m, ksub, dsub) float64.

    ALL ``m`` subspaces train together in ONE corpus pass per
    iteration: the vector slices into an array of m subvectors
    (pure codegen ``slice``), ``posexplode`` yields (sub, subvec)
    rows, an Arrow-batched argmin assigns each subvector against its
    own frozen codebook, and per-(sub, cluster, dim) SUM/COUNT
    partial-aggregates map-side — the collect is bounded by model
    size (m·ksub·dsub rows), never corpus size. Init is the
    deterministic hash-sample: the ksub corpus vectors with smallest
    ``xxhash64(id)`` seed every subspace with their corresponding
    slices (no ``rand()``, reproducible across partitionings). Empty
    clusters keep their previous centroid.
    """
    dsub = dim // m
    init_rows = (
        corpus.select(F.col(corpus_vec).alias("v"), F.col(corpus_id).alias("i"))
        .withColumn("__o", F.xxhash64(F.col("i")))
        .orderBy("__o", "i")
        .limit(ksub)
        .collect()
    )
    # (m, ksub, dsub): subspace s initialized from slice s of the sample.
    books = np.asarray(
        [[list(r["v"])[s * dsub : (s + 1) * dsub] for r in init_rows] for s in range(m)],
        dtype=np.float64,
    )

    sliced = corpus.select(
        F.posexplode(_subspace_slices(F.col(corpus_vec), m, dsub)).alias(
            "sub", "subvec"
        )
    )

    for _ in range(iters):
        frozen = books.copy()

        @pandas_udf("int")
        def assign_udf(subs: pd.Series, vecs: pd.Series) -> pd.Series:
            if len(vecs) == 0:
                return pd.Series([], dtype="int32")
            out = np.empty(len(vecs), dtype="int32")
            subs_np = subs.to_numpy()
            mat = np.asarray(list(vecs), dtype=np.float64)
            for s in np.unique(subs_np):
                mask = subs_np == s
                sub_mat = mat[mask]
                cb = frozen[s]
                d2 = (sub_mat * sub_mat).sum(1, keepdims=True) - 2.0 * (
                    sub_mat @ cb.T
                ) + (cb * cb).sum(1)
                out[mask] = d2.argmin(axis=1).astype("int32")
            return pd.Series(out)

        stats = (
            sliced.select(
                F.col("sub"),
                assign_udf(F.col("sub"), F.col("subvec")).alias("cluster"),
                F.col("subvec"),
            )
            .select("sub", "cluster", F.posexplode("subvec").alias("dim", "x"))
            .groupBy("sub", "cluster", "dim")
            .agg(F.sum(F.col("x").cast("double")).alias("s"), F.count("*").alias("n"))
            .collect()
        )
        nxt = books.copy()
        counts = np.zeros(books.shape[:2])
        for r in stats:
            nxt[r["sub"], r["cluster"], r["dim"]] = r["s"] / r["n"]
            counts[r["sub"], r["cluster"]] = r["n"]
        books = np.where(counts[:, :, None] > 0, nxt, books)
    return books


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    stage_path: str | None = None,
) -> DataFrame:
    """Approximate cosine top-k via product quantization + ADC
    (FAISS-PQ shape) — the memory-bound serving path of the ANN
    family (brute q25 / hyperplane-LSH q29 / IVF q50 / int8 qx34):
    each corpus vector compresses to ``m`` sub-codebook codes
    (m bytes at ksub ≤ 256 — 32× smaller than float32 at dsub = 8),
    and query scoring never touches the original vectors, only the
    code table and a per-query lookup table of subspace dot products.

    Spark-first shape, every stage relational:
    - encode: slice → posexplode (sub, subvec) → broadcast-join the
      (m·ksub)-row codebook → per-(id, sub) ``min_by`` argmin with the
      IVF comparison score ``(-2·x·c) + c·c`` (the ``x·x`` term is
      constant under the argmin). ONE shuffle of m·N skinny rows;
      at 100 TB the code table IS the index — write it once, scans
      thereafter read m ints per vector instead of the vector.
    - ADC lookup table: queries × codebook (broadcast, model-sized):
      entry(q, sub, cluster) = dot(q_sub, centroid), plus the
      centroid's own squared norm for the corpus-norm approximation
      ‖x‖² ≈ Σ_sub ‖c_sel‖².
    - score: code rows join the broadcast LUT on (sub, cluster) and
      SUM the m entries per (query, id). Every LUT term routes through
      ``round_c(·, 9)`` → DECIMAL(28,9) BEFORE the sum, so the m-term
      accumulation is exact and partitioning-independent (the
      ``_dsum`` discipline) and the rounded term is engine-identical;
      approx cosine = adot / (√cn2 · ‖q‖), one final double division.
    - per-query top-k window, ties broken by id.

    ``stage_path`` materializes the codebook (``{stage_path}/books``)
    and the DuckDB oracle replays encode + LUT + ADC ranking over it
    bit-for-bit (sequential-fold dot kernels match list_dot_product).
    Approximation quality (recall vs exact brute force) is
    tolerance-tested, not oracle-gated — PQ is lossy by design.
    """
    from .dedup import _stage_roundtrip  # noqa: PLC0415 (sibling module)

    head = corpus.select(corpus_vec).first()
    dim = len(head[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m

    books = _train_pq_codebooks(corpus, m, ksub, iters, corpus_id, corpus_vec, dim)
    book_df = _codebook_df(corpus.sparkSession, books, "cluster")
    if stage_path is not None:
        book_df = _stage_roundtrip(book_df, f"{stage_path}/books")

    sliced = corpus.select(
        F.col(corpus_id),
        F.posexplode(_subspace_slices(F.col(corpus_vec), m, dsub)).alias(
            "sub", "subvec"
        ),
    )
    enc_score = (F.lit(-2) * dot_arrow(F.col("subvec"), F.col("centroid"))) + dot_arrow(
        F.col("centroid"), F.col("centroid")
    )
    codes = (
        sliced.join(F.broadcast(book_df), "sub")
        .select(F.col(corpus_id), F.col("sub"), F.col("cluster"), enc_score.alias("__s"))
        .groupBy(corpus_id, "sub")
        .agg(F.min_by("cluster", F.struct("__s", "cluster")).alias("code"))
    )

    q_sliced = queries.select(
        F.col(query_id),
        l2_norm_arrow(F.col(query_vec)).alias("__qn"),
        F.posexplode(_subspace_slices(F.col(query_vec), m, dsub)).alias(
            "sub", "qsubvec"
        ),
    )
    lut = (
        q_sliced.join(F.broadcast(book_df), "sub")
        .select(
            F.col(query_id),
            F.col("__qn"),
            F.col("sub"),
            F.col("cluster"),
            round_c(dot_arrow(F.col("qsubvec"), F.col("centroid")), 9)
            .cast("decimal(28,9)")
            .alias("entry"),
            round_c(dot_arrow(F.col("centroid"), F.col("centroid")), 9)
            .cast("decimal(28,9)")
            .alias("cn2_term"),
        )
    )

    agg = (
        codes.join(
            F.broadcast(lut),
            (codes["sub"] == lut["sub"]) & (codes["code"] == lut["cluster"]),
        )
        .groupBy(query_id, corpus_id)
        .agg(
            F.sum("entry").alias("__adot"),
            F.sum("cn2_term").alias("__cn2"),
            F.first("__qn").alias("__qn"),
        )
    )
    denom = F.sqrt(F.col("__cn2").cast("double")) * F.col("__qn")
    cos = F.when(
        denom > 0, round_c(F.col("__adot").cast("double") / denom, 6)
    ).otherwise(F.lit(0.0))
    w = Window.partitionBy(query_id).orderBy(F.col("pq_cosine").desc(), F.col(corpus_id))
    return (
        agg.select(query_id, corpus_id, cos.alias("pq_cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, F.col("rank").cast("int").alias("rank"), corpus_id, "pq_cosine")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    rerank: int = 32,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    stage_path: str | None = None,
) -> DataFrame:
    """IVF-PQ with residual encoding and exact re-rank — the
    composition FAISS ships as its billion-vector default
    (IndexIVFPQ + refine): a coarse quantizer limits the search to
    ``n_probe`` inverted lists, product-quantized RESIDUALS
    (vec − assigned centroid) give an 8-byte-per-vector approximate
    score inside the probed lists, and only the ``rerank`` best
    approximate candidates per query touch their original vectors for
    the exact cosine top-k.

    Composes the family's existing staged pieces — the coarse
    quantizer is ``ivf_assign`` against ``_train_ivf_centroids``
    output, the sub-codebooks are ``_train_pq_codebooks`` over the
    residual frame (residuals concentrate near zero, which is WHY
    PQ-on-residuals beats PQ-on-vectors at equal bits) — and keeps
    every stage relational:

    - approximate score: q·x ≈ q·c + Σ_sub LUT(q, cluster, sub,
      code), the LUT being dot products of the query's per-cluster
      residual slices against the sub-codebooks (model-sized,
      broadcast). Every term routes ``round_c(·,9)`` → DECIMAL(28,9)
      before the sum — candidate selection is exact-arithmetic and
      therefore engine/partitioning-deterministic.
    - candidate cut: top-``rerank`` per query by (approx score, id).
    - re-rank: candidates join their original vectors (id-keyed spine
      join — the ONLY stage that reads vectors at query time), exact
      cosine, top-k.

    ``stage_path`` stages centroids, codebooks AND the code table —
    the codes write Hive-partitioned by cluster (``write_partitioned``,
    row 141) and the query re-reads ONLY the probed lists via a
    PartitionFilters-pruned scan (the probe set is ≤ n_centroids
    distinct ints, a model-sized collect), so unprobed clusters never
    even reach the file listing — the FAISS inverted-list read
    pattern expressed as partition pruning. The DuckDB oracle replays
    assignment, residuals, encoding, the decimal ADC sum, the
    candidate cut and the re-rank end-to-end.
    """
    from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

    head = corpus.select(corpus_vec).first()
    dim = len(head[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    spark = corpus.sparkSession

    cents = _train_ivf_centroids(corpus, n_centroids, iters, corpus_id, corpus_vec)
    cent_df = _centroid_df(spark, cents)
    # Model-table staging writes run as background jobs (guide §2.6):
    # they exist for the oracle replay, while every in-process consumer
    # keeps the driver-local frame (the parquet roundtrip reproduces
    # the doubles exactly), so the centroid write overlaps PQ training
    # and the codebook write overlaps encoding. All futures are joined
    # before the staged code table is read back.
    # Each target is wrapped on its own, so each thread gets its own copy
    # of the caller's job group and description.
    with ThreadPoolExecutor(max_workers=2) as stage_pool:
        stage_writes = []
        if stage_path is not None:
            stage_writes.append(
                stage_pool.submit(
                    inheritable_thread_target(spark)(cent_df.write.mode("overwrite").parquet),
                    f"{stage_path}/centroids",
                )
            )

        assigned = ivf_assign(corpus, cent_df, corpus_id, corpus_vec)
        # Materialization barrier: resid feeds the codebook-init collect,
        # every Lloyd training pass AND the encode — without the cut, the
        # corpus×centroids assignment subtree re-executes per consumer.
        resid = assigned.join(F.broadcast(cent_df), "cluster").select(
            F.col(corpus_id),
            F.col("cluster"),
            F.zip_with(F.col(corpus_vec), F.col("centroid"), lambda a, b: a - b).alias(
                "rvec"
            ),
        ).localCheckpoint()

        books = _train_pq_codebooks(resid, m, ksub, iters, corpus_id, "rvec", dim)
        book_df = _codebook_df(spark, books, "code")
        if stage_path is not None:
            stage_writes.append(
                stage_pool.submit(
                    inheritable_thread_target(spark)(book_df.write.mode("overwrite").parquet),
                    f"{stage_path}/books",
                )
            )

        r_slices = _subspace_slices(F.col("rvec"), m, dsub)
        enc_score = (F.lit(-2) * dot_arrow(F.col("subvec"), F.col("centroid"))) + dot_arrow(
            F.col("centroid"), F.col("centroid")
        )
        codes = (
            resid.select(
                F.col(corpus_id), F.col("cluster"),
                F.posexplode(r_slices).alias("sub", "subvec"),
            )
            .join(F.broadcast(book_df), "sub")
            .select(
                F.col(corpus_id), F.col("cluster"), F.col("sub"),
                F.col("code"), enc_score.alias("__s"),
            )
            .groupBy(corpus_id, "cluster", "sub")
            .agg(F.min_by("code", F.struct("__s", "code")).alias("code"))
        )

        # Query side: probe n_probe lists (the shared _probe_lists argmin
        # form), then the per-(query, probed-cluster) residual LUT.
        probes = _probe_lists(queries, cent_df, n_probe, query_id, query_vec)
        if stage_path is not None:
            # Cluster-partitioned code-table layout (the row-141 sink
            # applied to this row): codes stage Hive-partitioned by
            # cluster, and the query reads back only the PROBED lists —
            # the probe set is at most n_centroids distinct ints
            # (model-sized collect, same class as the codebook collects),
            # so the IN-filter lands in PartitionFilters and unprobed
            # clusters never reach the file listing. Without this the ADC
            # join is still CORRECT (the LUT join drops unprobed rows)
            # but scans every code row; at 100 TB the probed fraction is
            # n_probe/n_centroids of the bytes.
            from ..sources.sinks import write_partitioned  # noqa: PLC0415

            # Full truncate, as with the IVF lists: a reused stage_path
            # with a re-trained codebook/corpus must not keep stale
            # partitions for now-empty clusters. The code-table
            # write (corpus side) and the probe build (query side) are
            # independent legs — run them as concurrent jobs (guide §2.6).
            stage_writes.append(
                stage_pool.submit(
                    inheritable_thread_target(spark)(write_partitioned),
                    codes, f"{stage_path}/codes", ["cluster"],
                )
            )
            # lineage cut so the pruning set and the downstream LUT
            # build share one probe computation; the probed-cluster set
            # rides the checkpoint job
            probed_obs = Observation()
            probes = probes.observe(
                probed_obs, F.collect_set("cluster").alias("c")
            ).localCheckpoint()
            probed = sorted(probed_obs.get["c"])
            # surface write errors before the pruned read-back
            for fut in stage_writes:
                fut.result()
            keep = F.col("cluster").isin(probed) if probed else F.lit(False)
            codes = (
                spark.read.parquet(f"{stage_path}/codes")
                .filter(keep)
                .select(corpus_id, "cluster", "sub", "code")
            )
    qres = probes.join(F.broadcast(cent_df), "cluster").select(
        F.col(query_id),
        F.col("cluster"),
        round_c(dot_arrow(F.col(query_vec), F.col("centroid")), 9)
        .cast("decimal(28,9)")
        .alias("__qc"),
        F.zip_with(F.col(query_vec), F.col("centroid"), lambda a, b: a - b).alias(
            "qrvec"
        ),
    )
    qr_slices = _subspace_slices(F.col("qrvec"), m, dsub)
    lut = (
        qres.select(
            F.col(query_id), F.col("cluster"), F.col("__qc"),
            F.posexplode(qr_slices).alias("sub", "qsubvec"),
        )
        .join(F.broadcast(book_df), "sub")
        .select(
            F.col(query_id), F.col("cluster"), F.col("__qc"),
            F.col("sub"), F.col("code"),
            round_c(dot_arrow(F.col("qsubvec"), F.col("centroid")), 9)
            .cast("decimal(28,9)")
            .alias("entry"),
        )
    )

    approx = (
        codes.join(F.broadcast(lut), ["cluster", "sub", "code"])
        .groupBy(query_id, corpus_id)
        .agg(
            (F.first("__qc") + F.sum("entry")).alias("__adot"),
        )
    )
    wc = Window.partitionBy(query_id).orderBy(F.col("__adot").desc(), F.col(corpus_id))
    cand = (
        approx.withColumn("__rn", F.row_number().over(wc))
        .filter(F.col("__rn") <= rerank)
        .select(query_id, corpus_id)
    )

    spine = corpus.select(F.col(corpus_id), F.col(corpus_vec))
    qspine = queries.select(F.col(query_id), F.col(query_vec))
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(corpus_id))
    return (
        cand.join(spine, corpus_id)
        .join(F.broadcast(qspine), query_id)
        .select(
            F.col(query_id),
            F.col(corpus_id),
            round_c(cosine_arrow(F.col(corpus_vec), F.col(query_vec)), 6).alias(
                "cosine"
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def random_project(
    df: DataFrame,
    out_dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection with a ±1 sign matrix
    (Achlioptas 2003): ``y_j = (1/√out_dim) · Σ_i x_i · s_ij`` —
    the dimensionality-reduction tool of the vector family (rows
    124/143 shrink BITS per component; this shrinks COMPONENTS,
    the standard pre-step before LSH/clustering when d is large).

    The sign matrix is never materialized: ``s_ij`` derives from the
    qx47-style integer hash arithmetic of (i, j, seed) — replayable
    in any engine, no RNG state, any worker can recompute any entry
    (THE property that lets the projection run map-side at 100 TB
    with zero broadcast).  Per-term products round to DECIMAL(28,9)
    before the exact per-(id, j) sums, and the 1/√out_dim factor is
    one driver-computed double literal — so the projection is
    partitioning- and engine-exact.

    Shape: explode (id, i, x_i) × out_dim sign terms → ONE hash
    aggregate on (id, j).  Output long-form (id, j, value) — the
    shape downstream aggregates/joins want; pivot to arrays at the
    edge if needed.
    """
    if out_dim < 1:
        raise ValueError("out_dim must be >= 1")
    inv = 1.0 / (out_dim ** 0.5)
    comp = df.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("i", "x"),
    ).select(
        id_col,
        "i",
        F.col("x").cast("double").alias("x"),
        F.explode(F.sequence(F.lit(0), F.lit(out_dim - 1))).alias("j"),
    )
    # xor-fold mix: a bare linear form mod 2 degenerates to parity of
    # i+j (a rank-1 sign matrix that destroys the JL property — the
    # distance-band test catches it); the shift-xor steps give real
    # avalanche while every intermediate stays < 2^32 (no overflow).
    h = F.pmod(
        F.col("i") * F.lit(2654435761) + F.col("j") * F.lit(40503)
        + F.lit(seed * 97),
        F.lit(4294967296),
    )
    h = h.bitwiseXOR(F.shiftright(h, 13))
    h = F.pmod(h * F.lit(40503), F.lit(4294967296))
    bit = F.shiftright(h, 16).bitwiseXOR(F.shiftright(h, 5)).bitwiseAND(
        F.lit(1)
    )
    sign = F.when(bit == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    return (
        comp.select(
            id_col,
            "j",
            round_c(F.col("x") * sign, 9).cast("decimal(28,9)").alias("t"),
        )
        .groupBy(id_col, "j")
        .agg(
            round_c(F.sum("t").cast("double") * F.lit(inv), 6).alias("value")
        )
    )


def _centroid_components(
    df: DataFrame,
    group_col: str,
    vec_col: str,
) -> DataFrame:
    """(group, dim, c) long-form per-group mean components: each input
    component routes ``round_c(·,9)`` → DECIMAL(28,9) before the sum
    (order-free exact, the family convention), one division at the
    end, result re-rounded to 9 — so the component table is
    partitioning- and engine-deterministic. One posexplode + hash
    aggregate keyed (group, dim); vectors shuffle as scalar
    components, never as arrays."""
    ex = df.select(
        F.col(group_col), F.posexplode(F.col(vec_col)).alias("dim", "x")
    )
    per = ex.groupBy(group_col, "dim").agg(
        F.sum(round_c(F.col("x"), 9).cast("decimal(28,9)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    return per.select(
        group_col,
        "dim",
        round_c(
            F.col("s").cast("double") / F.col("n").cast("double"), 9
        ).alias("c"),
    )


def centroid_similarity(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairwise cosine similarity between GROUP CENTROIDS — the
    embedding-drift audit ("how close are source A's documents to
    source B's in embedding space?") and the cluster-overlap check
    before merging corpora. Output: canonical (group_a < group_b,
    cosine) — k·(k−1)/2 rows for k groups, model-sized by
    construction, so the pairwise join is the CORRECT plan here (k
    centroids, not corpus rows; the all-pairs ban applies to
    row-level vectors, which never pair in this operator).

    Exact arithmetic end-to-end: components are 9-decimal-rounded
    means (see :func:`_centroid_components`), dot products and norms
    sum DECIMAL(18,9) products exactly (order-free), and the final
    cosine is two IEEE sqrt/divide steps — so DuckDB replays the
    whole similarity matrix bit-for-bit without any float-fold
    order sensitivity."""
    comp = _centroid_components(df, group_col, vec_col).select(
        F.col(group_col).alias("g"),
        "dim",
        F.col("c").cast("decimal(18,9)").alias("c"),
    )
    pairs = (
        comp.alias("a")
        .join(comp.alias("b"), "dim")
        .filter(F.col("a.g") < F.col("b.g"))
        .groupBy(
            F.col("a.g").alias("group_a"), F.col("b.g").alias("group_b")
        )
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("__dot"))
    )
    norms = comp.groupBy("g").agg(
        F.sum(F.col("c") * F.col("c")).alias("__n2")
    )
    denom = F.sqrt(F.col("__na").cast("double")) * F.sqrt(
        F.col("__nb").cast("double")
    )
    return (
        pairs.join(
            norms.select(F.col("g").alias("group_a"), F.col("__n2").alias("__na")),
            "group_a",
        )
        .join(
            norms.select(F.col("g").alias("group_b"), F.col("__n2").alias("__nb")),
            "group_b",
        )
        .select(
            "group_a",
            "group_b",
            F.when(
                denom > 0,
                round_c(F.col("__dot").cast("double") / denom, 6),
            )
            .otherwise(F.lit(0.0))
            .alias("cosine"),
        )
    )


def negative_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    k: int = 3,
    exclude_pairs: DataFrame | None = None,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training data:
    each anchor document draws ``k`` pseudo-random negatives from the
    corpus — no ``rand()`` anywhere (the A-ES/qx14 discipline), so
    the sample is reproducible across engines, runs and
    partitionings, and a SQL twin replays it exactly.

    Mechanism: candidates hash into B buckets by a Knuth
    multiplicative hash of their id; each (anchor, j) draw targets
    bucket ``h(anchor, j) mod B`` and takes the candidate minimizing
    a (anchor, j, candidate)-keyed hash — an argmin inside one
    bucket, so no global rank, no order dependence, and the per-draw
    join fans out to ONE bucket's candidates (size ~N/B). B =
    max(16, floor(N/1000)) comes from a corpus count computed as a
    broadcast one-row scalar subquery — bucket size stays ~1000
    regardless of corpus size, so total work is O(N·k·1000), LINEAR
    in N (a fixed B would make it quadratic: the r13 sf1 sweep
    measured 133× time for 10× data at fixed B). Self-pairs are
    excluded; ``exclude_pairs`` (id_a, id_b — e.g. near-dup pairs
    from any dedup-family operator) removes known positives in both
    orientations via an anti-join, so a near-duplicate can never be
    served as a negative.

    Output: (anchor_id, draw, negative_id) — ``draw`` in 1..k. A
    draw whose bucket holds no eligible candidate yields no row
    (visible as a missing draw, never a fabricated pair).

    Id contract: ``id_col`` must be an integral type (raises
    otherwise — a string id would hash NULL and silently empty the
    output) and NON-NEGATIVE (the cross-engine contract: a SQL
    twin's ``%`` keeps the dividend's sign where ``pmod`` does not).
    Every hash input is first reduced mod 2^31, so arbitrary int64
    magnitudes never overflow the 64-bit multiply in either engine.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    id_type = dict(docs.dtypes).get(id_col, "")
    if id_type not in ("tinyint", "smallint", "int", "bigint", "long"):
        raise ValueError(
            f"id_col must be integral, got {id_type!r} — string ids "
            "would hash NULL and silently produce no pairs"
        )
    m31 = F.lit(2147483648)
    m32 = F.lit(4294967296)

    def _n31(col):
        # overflow normalization: x mod 2^31 <= 2.1e9, so the Knuth
        # multiply stays below 2^63 for ANY non-negative int64 input
        return F.pmod(col, m31)

    # B = max(16, floor(N/1000)) as a broadcast one-row scalar
    # subquery: the count scan is column-pruned, the join adds no
    # shuffle, and the plan stays fully declarative (no driver count
    # action). Mirrored literally in the SQL twin.
    nb_df = F.broadcast(
        docs.agg(
            F.greatest(
                F.lit(16).cast("long"),
                F.floor(F.count(F.lit(1)) / F.lit(1000.0)),
            ).alias("__nb")
        )
    )
    nb = F.col("__nb")

    cand = docs.crossJoin(nb_df).select(
        F.col(id_col).alias("cand"),
        F.pmod(
            F.pmod(_n31(F.col(id_col)) * F.lit(2654435761), m32),
            nb,
        ).alias("bucket"),
    )
    draws = docs.select(F.col(id_col).alias("anchor")).crossJoin(
        F.broadcast(
            docs.sparkSession.range(1, k + 1).select(
                F.col("id").alias("draw")
            )
        )
    ).crossJoin(nb_df)
    draws = draws.select(
        "anchor",
        "draw",
        F.pmod(
            F.pmod(
                _n31(F.col("anchor")) * F.lit(2654435761)
                + F.col("draw") * F.lit(40503),
                m32,
            ),
            nb,
        ).alias("bucket"),
    )
    paired = (
        draws.join(cand, "bucket")
        .filter(F.col("cand") != F.col("anchor"))
        .select(
            "anchor",
            "draw",
            "cand",
            F.pmod(
                _n31(
                    _n31(F.col("anchor")) * F.lit(31) + _n31(F.col("cand"))
                )
                * F.lit(2654435761)
                + F.col("draw"),
                m32,
            ).alias("__h"),
        )
    )
    if exclude_pairs is not None:
        ex = exclude_pairs.select(
            F.col(exclude_pairs.columns[0]).alias("anchor"),
            F.col(exclude_pairs.columns[1]).alias("cand"),
        )
        both = ex.unionAll(
            ex.select(F.col("cand").alias("anchor"), F.col("anchor").alias("cand"))
        )
        paired = paired.join(both, ["anchor", "cand"], "left_anti")
    return (
        paired.groupBy("anchor", "draw")
        .agg(
            F.min_by(
                "cand", F.struct(F.col("__h"), F.col("cand"))
            ).alias("negative_id")
        )
        .select(
            F.col("anchor").alias("anchor_id"), "draw", "negative_id"
        )
        .orderBy("anchor_id", "draw")
    )


def knn_label_audit(
    corpus: DataFrame,
    audit: DataFrame | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    method: str = "brute",
    n_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    stage_path: str | None = None,
) -> DataFrame:
    """Label-noise audit via k-NN disagreement (the confident-learning
    intuition, Northcutt et al. 2021, reduced to its relational core):
    a labeled example whose k nearest neighbors mostly carry a
    DIFFERENT label is a mislabel candidate — the pre-training triage
    for classifier/reward datasets that the scorer family
    (`train_hashed_scorer`, `classifier_eval`) consumes downstream.

    ``audit`` selects which rows get audited (default: the whole
    corpus — quadratic; pass a deterministic hash slice to sample).
    ``method`` picks the neighbor source; the downstream plan (k+1
    fetch, self-exclusion re-rank, majority vote) is IDENTICAL:

    - ``"brute"``: :func:`knn_cosine_topk` (broadcast audit set ×
      streamed corpus — the q25 plan). Exact, but the corpus scan is
      O(|audit|·N): decade-measured 43× time for 10× data.
    - ``"ivf"``: :func:`ivf_topk` — the production scale path. The
      corpus shards into ``n_centroids`` inverted lists; each audit
      row probes its ``n_probe`` closest lists, so the scan is
      ~n_probe/n_centroids of the brute cost and the audit stays
      near-linear. With ``n_probe == n_centroids`` probing covers
      every list and the leg is EXACTLY the brute audit (pinned by
      test). ``stage_path`` stages centroids + Hive-partitioned lists
      for the SQL-twin replay and pruned reads, as in ``ivf_topk``.

    SELF is excluded after the fact
    (k+1 fetched, own id dropped, survivors re-ranked so exactly k
    remain even when duplicates tie above self). Majority is the
    neighbor-label mode with smallest-label tie-break (the
    label-propagation determinism rule).

    Output: (id, label, majority_label, n_neighbors, n_agree,
    flagged) — flagged when the majority disagrees with the row's own
    label. NULL-labeled rows can't vote and aren't audited.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if method not in ("brute", "ivf"):
        raise ValueError("method must be 'brute' or 'ivf'")
    labeled = corpus.filter(F.col(label_col).isNotNull())
    audit_set = audit if audit is not None else labeled
    queries = audit_set.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
    )
    if method == "ivf":
        nn = ivf_topk(
            labeled,
            queries,
            k=k + 1,
            n_centroids=n_centroids,
            n_probe=n_probe,
            iters=iters,
            corpus_id=id_col,
            corpus_vec=vec_col,
            stage_path=stage_path,
        )
    else:
        nn = knn_cosine_topk(
            labeled, queries, k=k + 1, corpus_id=id_col, corpus_vec=vec_col
        )
    nn = nn.filter(F.col(id_col) != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy("rank")
    nn = nn.withColumn("__r2", F.row_number().over(w)).filter(
        F.col("__r2") <= k
    )
    # the neighbor table feeds THREE consumers (votes, counts, and the
    # majority join); without a lineage cut each one re-executes the
    # whole k-NN search — for the IVF leg that is re-training k-means
    # and re-probing per consumer. |audit|·k rows: model-sized.
    nn = nn.localCheckpoint()
    votes = (
        nn.join(
            labeled.select(
                F.col(id_col), F.col(label_col).alias("__nl")
            ),
            id_col,
        )
        .groupBy("query_id", "__nl")
        .agg(F.count(F.lit(1)).cast("long").alias("__v"))
    )
    mw = Window.partitionBy("query_id").orderBy(
        F.col("__v").desc(), F.col("__nl").asc()
    )
    majority = (
        votes.withColumn("__mr", F.row_number().over(mw))
        .filter(F.col("__mr") == 1)
        .select(
            "query_id",
            F.col("__nl").alias("majority_label"),
            F.col("__v").alias("n_agree"),
        )
    )
    counts = nn.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_neighbors")
    )
    own = audit_set.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("label")
    )
    return (
        own.join(majority, "query_id")
        .join(counts, "query_id")
        .select(
            F.col("query_id").alias(id_col),
            "label",
            "majority_label",
            "n_neighbors",
            "n_agree",
            (F.col("label") != F.col("majority_label")).alias("flagged"),
        )
        .orderBy(id_col)
    )
