"""BM25 retrieval (operators/retrieval.py) vs an independent in-test
Python implementation of Okapi BM25."""

from __future__ import annotations

import math
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal


DOCS = {
    1: "spark runs distributed queries over parquet tables",
    2: "duckdb runs analytical queries on a laptop",
    3: "spark spark spark streaming micro batches",
    4: "completely unrelated text about gardening and tulips",
    5: "parquet files store columnar data for queries",
}
QUERIES = {101: "spark queries", 102: "parquet columnar", 103: "zebra"}


def _py_bm25(k1=1.2, b=0.75):
    toks = {i: t.split() for i, t in DOCS.items()}
    tf = {i: Counter(ws) for i, ws in toks.items()}
    dl = {i: len(ws) for i, ws in toks.items()}
    n = len(DOCS)
    avgdl = sum(dl.values()) / n
    df = Counter()
    for c in tf.values():
        df.update(c.keys())

    def q6(x):
        return Decimal(repr(x)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP)

    out = {}
    for qid, q in QUERIES.items():
        scores = {}
        for i in DOCS:
            s = Decimal(0)
            for term in dict.fromkeys(q.split()):
                if term not in tf[i]:
                    continue
                idf = math.log(1 + (n - df[term] + 0.5) / (df[term] + 0.5))
                t = tf[i][term]
                contrib = idf * t * (k1 + 1) / (
                    t + k1 * (1 - b + b * dl[i] / avgdl))
                s += q6(contrib)
            if s:
                scores[i] = float(s)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        out[qid] = [(r + 1, i, s) for r, (i, s) in enumerate(ranked[:3])]
    return out


def test_bm25_matches_python_reference(spark):
    from strategicai_visibility_loop_etl_spark.operators.retrieval import (
        bm25_topk,
    )

    docs = spark.createDataFrame(list(DOCS.items()), "doc_id long, text string")
    qs = spark.createDataFrame(
        list(QUERIES.items()), "query_id long, query string"
    )
    got: dict[int, list] = {}
    for r in bm25_topk(docs, qs, k=3).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    want = _py_bm25()
    assert 103 not in got  # no matching term anywhere
    for qid in (101, 102):
        got_q = sorted(got[qid])
        assert len(got_q) == len(want[qid])
        for (gr, gi, gs), (wr, wi, ws) in zip(got_q, want[qid]):
            assert (gr, gi) == (wr, wi), (qid, got_q, want[qid])
            assert abs(gs - ws) < 1e-9
    # doc 3's spark tf=3 must outrank single-mention docs for q101
    assert got[101][0][1] == 3
