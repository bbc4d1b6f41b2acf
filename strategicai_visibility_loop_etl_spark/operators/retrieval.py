"""BM25 full-text retrieval over the relational engine.

The lexical complement of the embedding ANN family
(``operators/similarity.py``): Okapi BM25 (Robertson & Zaragoza 2009)
re-expressed as three hash aggregates and one broadcast join — the
shape every search engine's batch scoring job takes on Spark.

Scale story: the posting table (doc, term, tf, dl) is ONE explode +
hash aggregate over the corpus; document frequency and the average
document length fold from it map-side (model-sized); the query side is
tiny and broadcast, so scoring never shuffles the corpus — the only
post-postings exchange carries (query, doc, partial score) aggregates.
Top-k per query is a rank window over queries (thousands of rows), not
documents.

Determinism contract (the repo's engine-exactness discipline): each
per-(query, doc, term) BM25 contribution rounds to DECIMAL(18,6)
before the per-pair sum, so scores are independent of join order and
partitioning, and DuckDB replays them bit-for-bit; ranking orders by
the rounded score with doc id as the total tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens


def document_postings(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, term, tf, dl): term frequencies plus the document length
    (token count) every BM25 variant needs. One explode + one hash
    aggregate."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias(
            "term"
        ),
    )
    tf = toks.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
    return tf.join(dl, "id")


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_col: str = "query",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Top-``k`` documents per query under Okapi BM25.

    idf = ln(1 + (N − df + 0.5)/(df + 0.5)) (always positive), term
    score = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)). Returns
    (query_id_col, rank, id_col, score) — rank 1 is the best match;
    ties on the rounded score break by ascending document id.

    The postings are built once and checkpointed, so corpus stats and
    the scoring join all read one materialization.
    """
    from ..functions.numeric import round_c  # noqa: PLC0415

    postings = document_postings(docs, text_col, id_col).localCheckpoint()

    # corpus stats fold from the postings: N, avgdl, df(term)
    nstats = (
        postings.groupBy("id")
        .agg(F.first("dl").alias("dl"))
        .agg(
            F.count("*").alias("__n"),
            (F.sum("dl") / F.count("*")).alias("__avgdl"),
        )
    )
    dfreq = postings.groupBy("term").agg(F.count("*").alias("df"))

    qterms = queries.select(
        F.col(query_id_col).alias("qid"),
        F.explode(
            F.array_distinct(tokens(F.coalesce(F.col(query_col), F.lit(""))))
        ).alias("term"),
    )

    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf = F.col("tf").cast("double")
    norm = tf + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("__avgdl")
    )
    contrib = round_c(idf * tf * F.lit(k1 + 1.0) / norm, 6).cast(
        "decimal(18,6)"
    )

    # qterms is query-batch-sized: always broadcast. dfreq is
    # vocabulary-sized: no hint — AQE broadcasts it at small SF and
    # shuffles at web-corpus vocabulary scale.
    scored = (
        postings.join(F.broadcast(qterms), "term")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(nstats))
        .select("qid", "id", contrib.alias("__c"))
        .groupBy("qid", "id")
        .agg(F.sum("__c").alias("__s"))
    )
    win = Window.partitionBy("qid").orderBy(
        F.col("__s").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(query_id_col),
            F.col("rank").cast("int").alias("rank"),
            F.col("id").alias(id_col),
            F.col("__s").cast("double").alias("score"),
        )
    )


def rank_fusion(
    rankings: DataFrame,
    query_col: str = "query",
    doc_col: str = "doc",
    rank_col: str = "rank",
    k_const: int = 60,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al. 2009) — combine ANY set
    of per-query rankings (BM25 lexical, ANN semantic, a quality
    prior) without calibrating their incommensurable scores:

        rrf(d) = sum_rankers 1 / (k_const + rank_r(d))

    Rank positions are all that survives of each ranker, which is
    exactly why RRF is the production default for hybrid retrieval
    (the score scales of :func:`bm25_topk` and a cosine ANN don't
    share units; their RANKS do).

    Input is long form — one row per (ranker, query, doc, rank);
    feed it the union of each ranker's output. Scale shape: one
    (query, doc)-keyed hash aggregate (map-side partials) + one
    per-query top-k rank window (WindowGroupLimit pre-prunes
    map-side). Each reciprocal term rounds via ``round_c`` to 9
    decimals and sums as DECIMAL — order- and engine-exact — and the
    final ordering ties break on the doc key, so the cut is total.

    Output: (query, doc, n_rankers, rrf, fused_rank), top_k rows per
    query.
    """
    from ..functions.numeric import round_c  # noqa: PLC0415

    if k_const < 1 or top_k < 1:
        raise ValueError("k_const and top_k must be >= 1")
    term = round_c(
        F.lit(1.0)
        / (F.lit(float(k_const)) + F.col(rank_col).cast("double")),
        9,
    )
    fused = (
        rankings.filter(F.col(rank_col).isNotNull())
        .select(
            F.col(query_col).alias("query"),
            F.col(doc_col).alias("doc"),
            term.cast("decimal(28,9)").alias("__t"),
        )
        .groupBy("query", "doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rankers"),
            F.sum("__t").alias("__rrf"),
        )
    )
    w = Window.partitionBy("query").orderBy(
        F.col("__rrf").desc(), F.col("doc").asc()
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= top_k)
        .select(
            "query",
            "doc",
            "n_rankers",
            F.col("__rrf").cast("double").alias("rrf"),
            "fused_rank",
        )
        .orderBy("query", "fused_rank")
    )


def retrieval_eval(
    results: DataFrame,
    truth: DataFrame,
    query_col: str = "query",
    doc_col: str = "doc",
    rank_col: str = "rank",
    rel_col: str = "rel",
    k: int = 10,
    out_decimals: int = 6,
) -> DataFrame:
    """Ranked-retrieval evaluation against graded relevance labels:
    NDCG@k, precision@k, recall@k and MRR per query — the measurement
    loop for the retrieval family (:func:`bm25_topk`, the ANN stack,
    :func:`rank_fusion`): tune n_probe / fusion constants / index
    parameters against these, not against eyeballed result lists.

        DCG@k  = sum_{rank<=k} (2^rel - 1) / log2(rank + 1)
        NDCG@k = DCG@k / IDCG@k   (ideal = labels sorted rel desc)

    precision/recall count ``rel > 0`` as relevant; MRR is the
    reciprocal of the first relevant rank within k (0 when none).
    Queries with no relevant labels report NULL NDCG/recall (nothing
    to normalize by) rather than a fake 0.

    Scale shape: results ⋈ truth on (query, doc) — rank- and
    label-table sized, never corpus sized; IDCG needs no join at all
    (one per-query rank window over truth). Each gain term rounds via
    ``round_c`` to 9 decimals and sums as DECIMAL (the qx23 ln-term
    discipline — log2 is a libm call, so terms are pinned to 9dp
    before any accumulation); the final ratios are fixed-order double
    expressions.
    """
    from ..functions.numeric import round_c  # noqa: PLC0415

    if k < 1:
        raise ValueError("k must be >= 1")
    res = results.select(
        F.col(query_col).alias("query"),
        F.col(doc_col).alias("doc"),
        F.col(rank_col).cast("long").alias("rank"),
    ).filter(F.col("rank") <= k)
    tru = truth.select(
        F.col(query_col).alias("query"),
        F.col(doc_col).alias("doc"),
        F.coalesce(F.col(rel_col).cast("long"), F.lit(0)).alias("rel"),
    )

    def _gain(rel_name, pos):
        # 2^rel - 1 via shiftleft: exact integer, no libm pow (the
        # qx59 pow-free lesson; F.shiftleft only takes literal bit
        # counts, so the shift is an expr). log2 IS libm, hence the
        # 9dp pin before any accumulation.
        shift = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST({rel_name} AS INT))"
        )
        return round_c(
            (shift - F.lit(1)).cast("double")
            / F.log2(pos.cast("double") + F.lit(1.0)),
            9,
        ).cast("decimal(28,9)")

    hits = res.join(tru, ["query", "doc"], "left").select(
        "query",
        "rank",
        F.coalesce(F.col("rel"), F.lit(0)).alias("rel"),
    )
    per_q = hits.groupBy("query").agg(
        F.sum(_gain("rel", F.col("rank"))).alias("__dcg"),
        F.sum((F.col("rel") > 0).cast("int")).cast("long").alias("__hits"),
        F.min(F.when(F.col("rel") > 0, F.col("rank"))).alias("__first"),
    )
    iw = Window.partitionBy("query").orderBy(
        F.col("rel").desc(), F.col("doc").asc()
    )
    ideal = (
        tru.filter(F.col("rel") > 0)
        .withColumn("__ipos", F.row_number().over(iw))
        .groupBy("query")
        .agg(
            F.sum(
                F.when(
                    F.col("__ipos") <= k,
                    _gain("rel", F.col("__ipos")),
                )
            ).alias("__idcg"),
            F.count(F.lit(1)).cast("long").alias("n_relevant"),
        )
    )
    joined = per_q.join(ideal, "query", "full")
    ndcg = F.when(
        F.col("__idcg").isNotNull() & (F.col("__idcg") > 0),
        round_c(
            F.coalesce(F.col("__dcg"), F.lit(0).cast("decimal(28,9)"))
            .cast("double")
            / F.col("__idcg").cast("double"),
            out_decimals,
        ),
    )
    hits_l = F.coalesce(F.col("__hits"), F.lit(0))
    return joined.select(
        "query",
        F.coalesce(F.col("n_relevant"), F.lit(0)).alias("n_relevant"),
        round_c(hits_l.cast("double") / F.lit(float(k)), out_decimals).alias(
            f"precision_at_{k}"
        ),
        F.when(
            F.col("n_relevant").isNotNull() & (F.col("n_relevant") > 0),
            round_c(
                hits_l.cast("double") / F.col("n_relevant").cast("double"),
                out_decimals,
            ),
        ).alias(f"recall_at_{k}"),
        ndcg.alias(f"ndcg_at_{k}"),
        F.coalesce(
            round_c(F.lit(1.0) / F.col("__first").cast("double"), 9),
            F.lit(0.0),
        ).alias("mrr"),
    ).orderBy("query")
