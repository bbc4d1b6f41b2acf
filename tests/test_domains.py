"""Domain blocklist/allowlist filter (SURVEY §2 row 106)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from strategicai_visibility_loop_etl_spark.operators.domains import domain_filter


def _docs(spark):
    rows = [
        (0, "https://www.example.com/a", "keep unless example.com blocked"),
        (1, "https://deep.sub.example.com/b", "subdomain of example.com"),
        (2, "https://notexample.com/c", "suffix must match on label boundary"),
        (3, "https://other.org/d", "independent host"),
        (4, "/path/only", "no host"),
        (5, None, "null url"),
        (6, "https://Example.COM./e", "case + trailing dot"),
    ]
    return spark.createDataFrame(rows, "doc_id long, url string, text string")


def test_blocklist_subdomains_and_boundaries(spark):
    out = domain_filter(_docs(spark), blocklist=["example.com"])
    kept = sorted(r["doc_id"] for r in out.collect())
    # 0/1/6 blocked (host or subdomain); 2 kept (notexample.com is NOT
    # a subdomain); 4/5 kept (no host -> blocklist keeps)
    assert kept == [2, 3, 4, 5]


def test_allowlist_strict_drops_hostless(spark):
    out = domain_filter(_docs(spark), allowlist=["example.com"])
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [0, 1, 6]  # subdomains allowed; no-host rows dropped


def test_allow_then_block_carveout(spark):
    out = domain_filter(
        _docs(spark),
        allowlist=["example.com"],
        blocklist=["deep.sub.example.com"],
    )
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [0, 6]


def test_domain_col_mode_and_df_list(spark):
    docs = spark.createDataFrame(
        [(0, "src0", "a"), (1, "src1", "b"), (2, "SRC1", "c"), (3, None, "d")],
        "doc_id long, source string, text string",
    )
    bl = spark.createDataFrame([("src1",)], "domain string")
    out = domain_filter(docs, blocklist=bl, domain_col="source")
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [0, 3]  # SRC1 lowercased and blocked; null kept


def test_requires_a_list(spark):
    with pytest.raises(ValueError):
        domain_filter(_docs(spark))


def test_corpus_pipeline_domain_gate(spark):
    from strategicai_visibility_loop_etl_spark.plans.corpus import (
        run_corpus_pipeline,
    )

    docs = spark.createDataFrame(
        [
            (i, f"src{i % 4}", "the quick brown fox jumps over the lazy dog "
                              f"unique tail {i}")
            for i in range(40)
        ],
        "doc_id long, source string, text string",
    )
    cfg = {
        "domain_filter": {"enable": True, "domain_col": "source",
                          "blocklist": ["src1", "src3"]},
        "neardup": {"enable": False},
        "min_tokens": 1,
    }
    clean = run_corpus_pipeline(docs, cfg)["clean"]
    srcs = {r["source"] for r in clean.select("source").distinct().collect()}
    assert srcs == {"src0", "src2"}


def test_domain_filter_plan_broadcasts_the_dim(spark):
    """The list join must be a broadcast hash join — no shuffle of the
    corpus to FIND matches, no cartesian."""
    out = domain_filter(_docs(spark), blocklist=["example.com", "other.org"])
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_cli_domain_flags(tmp_path, spark):
    from strategicai_visibility_loop_etl_spark.__main__ import corpus_main

    src = tmp_path / "docs"
    docs = spark.createDataFrame(
        [
            (i, f"https://src{i % 4}.example.com/p/{i}",
             "the quick brown fox jumps over the lazy dog tail " + str(i))
            for i in range(40)
        ],
        "doc_id long, url string, text string",
    )
    docs.write.parquet(str(src))
    blfile = tmp_path / "bl.txt"
    blfile.write_text("src1.example.com\nsrc3.example.com\n")
    out_dir = tmp_path / "out"
    rc = corpus_main(
        [
            "--input", str(src), "--out", str(out_dir),
            "--block-domains", f"@{blfile}",
            "--no-neardup", "--min-tokens", "1",
        ],
        spark=spark,
    )
    assert rc == 0
    clean = spark.read.parquet(str(out_dir / "clean"))
    hosts = {r["url"].split("/")[2] for r in clean.select("url").collect()}
    assert hosts == {"src0.example.com", "src2.example.com"}


def test_crawl_frontier_politeness_invariants(spark):
    from strategicai_visibility_loop_etl_spark.operators.domains import (
        crawl_frontier_shards,
    )

    rows = [(f"https://{h}/p{i}", h)
            for h in ("a.com", "b.com", "c.net")
            for i in range(5)] + [("https://big.org/x%d" % i, "big.org")
                                  for i in range(12)]
    df = spark.createDataFrame(rows, "url string, host string")
    out = crawl_frontier_shards(df, n_shards=4, per_host_per_round=2).collect()

    # (a) one shard per host; (b) per host per round <= 2; (c) a
    # skewed host lengthens its own rounds, not others'.
    shard_of, per_round = {}, {}
    for r in out:
        shard_of.setdefault(r["host"], set()).add(r["shard"])
        per_round[(r["host"], r["fetch_round"])] = (
            per_round.get((r["host"], r["fetch_round"]), 0) + 1
        )
    assert all(len(s) == 1 for s in shard_of.values())
    assert all(v <= 2 for v in per_round.values())
    rounds = {h: max(r for (hh, r) in per_round if hh == h)
              for h in shard_of}
    assert rounds["big.org"] == 5 and rounds["a.com"] == 2

    # Determinism: seq ordered by url within host.
    a_urls = sorted([r["url"] for r in out if r["host"] == "a.com"])
    seqs = {r["url"]: r["seq"] for r in out if r["host"] == "a.com"}
    assert [seqs[u] for u in a_urls] == [1, 2, 3, 4, 5]

    import pytest as _pytest
    with _pytest.raises(ValueError):
        crawl_frontier_shards(df, n_shards=0)


def test_registrable_domain(spark):
    """Longest public suffix wins; bare suffixes and unknown TLDs give
    NULL; matching is case-insensitive."""
    import pyspark.sql.functions as SF

    from strategicai_visibility_loop_etl_spark.operators.domains import (
        registrable_domain,
    )

    df = spark.createDataFrame(
        [
            ("www.shop.co.uk",),
            ("a.b.site.com",),
            ("WWW.Foo.COM",),
            ("x.com.au",),
            ("co.uk",),        # bare suffix: no registrable label
            ("weird.zz",),     # unknown TLD
            (None,),
        ],
        "host string",
    )
    out = [
        r["d"]
        for r in df.select(
            registrable_domain(SF.col("host")).alias("d")
        ).collect()
    ]
    assert out == [
        "shop.co.uk", "site.com", "foo.com", "x.com.au", None, None, None,
    ]


def test_rendezvous_assign_stability(spark):
    """HRW assignment: deterministic across partitionings, and
    removing one node moves ONLY that node's keys (the property mod
    sharding lacks)."""
    import pytest as _pytest

    from strategicai_visibility_loop_etl_spark.operators.domains import (
        rendezvous_assign,
    )

    keys = spark.createDataFrame(
        [(f"host{i}.example",) for i in range(60)], "host string"
    )
    four = {
        r["host"]: r["node"]
        for r in rendezvous_assign(keys, "host", ["a", "b", "c", "d"]).collect()
    }
    four2 = {
        r["host"]: r["node"]
        for r in rendezvous_assign(
            keys.repartition(7), "host", ["a", "b", "c", "d"]
        ).collect()
    }
    assert four == four2
    assert set(four.values()) == {"a", "b", "c", "d"}  # all nodes used
    three = {
        r["host"]: r["node"]
        for r in rendezvous_assign(keys, "host", ["a", "b", "c"]).collect()
    }
    moved = {k for k in four if three[k] != four[k]}
    assert moved == {k for k, n in four.items() if n == "d"}
    with _pytest.raises(ValueError):
        rendezvous_assign(keys, "host", [])
