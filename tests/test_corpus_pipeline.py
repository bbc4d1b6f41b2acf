"""End-to-end corpus-cleaning pipeline: composition of the oracle-gated
training-data operators, verified on a hand-built fixture plus the real
documents table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from strategicai_visibility_loop_etl_spark.operators.clusters import (
    cluster_representatives,
    collapse_exact,
    connected_components,
)
from strategicai_visibility_loop_etl_spark.operators.dedup import (
    exploded_shingles,
    ngram_jaccard_pairs,
)
from strategicai_visibility_loop_etl_spark.operators.textprep import redact_pii
from strategicai_visibility_loop_etl_spark.plans.corpus import (
    default_corpus_config,
    run_corpus_pipeline,
)


pytestmark = pytest.mark.sweep  # corpus pipeline + CLI end-to-end

BASE = "the quick brown fox jumps over the lazy dog again and again today"


@pytest.fixture()
def corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE.upper()),                      # exact dup of 1 (normalized)
        (3, BASE + " tonight"),                 # near dup of 1
        (4, "completely different words about spark catalyst execution plans here"),
        (5, "short"),                           # under min_tokens
        (6, "mail me at jane.doe@example.com " + BASE),  # PII + near dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_corpus_pipeline_stages(corpus):
    cfg = default_corpus_config()
    cfg["min_tokens"] = 6
    cfg["neardup"] = {"enable": True, "threshold": 0.5}
    cfg["chunk"] = {"enable": True, "chunk_tokens": 8, "overlap": 2}
    cfg["shards"] = 2
    out = run_corpus_pipeline(corpus, cfg)

    ann = {r["doc_id"]: r for r in out["annotated"].collect()}
    assert len(ann) == 6                       # annotation never drops rows
    assert ann[1]["n_tokens"] == len(BASE.split())
    assert ann[1]["lang"] is not None and 0.0 <= ann[1]["quality"] <= 1.0

    clean = {r["doc_id"]: r for r in out["clean"].collect()}
    # 5 dropped (too short); 1/2/3/6 are one near-dup cluster -> keep 1;
    # 4 distinct -> kept.
    assert set(clean) == {1, 4}
    # PII was redacted before dedup, so the kept text is clean even
    # when a redacted doc had been the cluster's representative.
    assert "@" not in clean[1]["text"]

    chunks = out["chunks"].collect()
    assert all(r["doc_id"] in {1, 4} for r in chunks)
    assert any(r["chunk_idx"] > 0 for r in chunks)  # BASE splits into >1 chunk

    shards = {r["doc_id"]: r["shard"] for r in out["shards"].collect()}
    assert set(shards) == {1, 4}
    assert all(0 <= s < 2 for s in shards.values())


def test_corpus_pipeline_neardup_reads_kept_checkpoint(corpus):
    """With near-dup on, the filtered + redacted corpus is materialized
    once: ``clean`` reads it from the checkpoint (no redact/normalize
    regex left in its plan) and equals the same operators composed
    lazily with no barrier, in every column and row."""
    cfg = default_corpus_config()
    cfg["min_tokens"] = 6
    cfg["neardup"] = {"threshold": 0.5}
    out = run_corpus_pipeline(corpus, cfg)

    plan = out["clean"]._jdf.queryExecution().optimizedPlan().toString()
    assert "regexp_replace" not in plan, plan

    kept = (
        out["annotated"]
        .filter(F.col("n_tokens").between(cfg["min_tokens"], 1_000_000))
        .withColumn("text", redact_pii(F.col("text")))
    )
    reps, stars = collapse_exact(kept.select("doc_id", "text"), min_tokens=3)
    pairs = ngram_jaccard_pairs(
        reps, k=3, threshold=0.5, max_bucket="auto"
    ).select("id_a", "id_b")
    comp = connected_components(stars.unionByName(pairs))
    want = cluster_representatives(kept, comp)

    assert out["clean"].columns == want.columns
    got_rows = sorted(tuple(r) for r in out["clean"].collect())
    assert got_rows == sorted(tuple(r) for r in want.collect())
    assert [r[0] for r in got_rows] == [1, 4]


def test_warm_corpus_run_compiles_nothing(spark, corpus, tmp_path):
    """The session's generated-class cache holds a whole corpus run: a
    second run of the pipeline plus its ``clean`` write compiles no
    class. Spark's default of 100 classes is smaller than this run's
    working set, so each warm run recompiled about half of it. Runtime
    broadcast conversion is off for the test: which side of a join
    ends up broadcast depends on which shuffle finishes first, and each
    side compiles its own class, so a warm run could meet a variant
    that no earlier run has compiled."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    key = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        compiles = []
        for i in range(2):
            before = metric.getCount()
            run_corpus_pipeline(corpus)["clean"].write.parquet(str(tmp_path / f"clean{i}"))
            compiles.append(metric.getCount() - before)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert compiles[1] == 0, compiles


def test_ngram_jaccard_pairs_reads_shingle_checkpoint(corpus):
    """The exploded shingles are materialized once: every leaf of the
    pair frame is that checkpoint, no NGram or explode of tokens is left
    in its plan, and the pairs equal brute-force Jaccard over the same
    shingle sets."""
    pairs = ngram_jaccard_pairs(corpus, k=3, threshold=0.5, max_bucket=10**6)

    plan = pairs._jdf.queryExecution().optimizedPlan()
    assert "explode" not in plan.toString(), plan.toString()
    assert "ngram" not in plan.toString().lower(), plan.toString()
    found = plan.collectLeaves()
    leaves = [found.apply(i) for i in range(found.size())]
    assert leaves
    assert all(
        leaf.getClass().getSimpleName() == "LogicalRDD" and leaf.rdd().isCheckpointed()
        for leaf in leaves
    )

    sh: dict[int, set] = {}
    for r in exploded_shingles(corpus, k=3).collect():
        sh.setdefault(r["id"], set()).add(r["g"])
    want = {
        (a, b): len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        for a in sh for b in sh
        if a < b and len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= 0.5
    }
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert set(got) == set(want) and len(want) > 1
    assert all(abs(got[p] - want[p]) < 1e-6 for p in want)


def test_corpus_pipeline_exact_only_and_filters(corpus):
    cfg = default_corpus_config()
    cfg["min_tokens"] = 6
    cfg["neardup"] = {"enable": False}
    out = run_corpus_pipeline(corpus, cfg)
    clean = {r["doc_id"] for r in out["clean"].collect()}
    # Exact-only: 2 collapses into 1; near-dups 3 and 6 survive.
    assert clean == {1, 3, 4, 6}


def test_corpus_pipeline_decontaminate(corpus, spark):
    bench = spark.createDataFrame(
        [(100, "catalyst execution plans here are completely different words about spark")],
        "doc_id long, text string",
    )
    cfg = default_corpus_config()
    cfg["min_tokens"] = 6
    cfg["neardup"] = {"enable": False}
    cfg["decontaminate"] = {"enable": True, "k": 5}
    out = run_corpus_pipeline(corpus, cfg, benchmark=bench)
    clean = {r["doc_id"] for r in out["clean"].collect()}
    # doc 4 shares 5-grams with the benchmark text -> dropped.
    assert 4 not in clean and 1 in clean

    with pytest.raises(ValueError, match="benchmark"):
        run_corpus_pipeline(corpus, cfg)


def test_corpus_pipeline_on_real_documents(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    cfg = default_corpus_config()
    cfg["neardup"] = {"enable": True, "threshold": 0.8}
    out = run_corpus_pipeline(docs, cfg)
    n_in = docs.count()
    n_clean = out["clean"].count()
    assert 0 < n_clean <= n_in
    # Cleaned output keeps the annotation columns and the original ids.
    assert {"lang", "quality", "n_tokens"} <= set(out["clean"].columns)


def test_corpus_pipeline_bloom_decontaminate_matches_exact(corpus, spark):
    """use_bloom must be a pure execution-strategy switch: same clean
    set as the exact decontamination path."""
    bench = spark.createDataFrame(
        [(100, "catalyst execution plans here are completely different words about spark")],
        "doc_id long, text string",
    )
    cfg = default_corpus_config()
    cfg["min_tokens"] = 6
    cfg["neardup"] = {"enable": False}
    cfg["decontaminate"] = {"enable": True, "k": 5}
    exact = {r["doc_id"] for r in
             run_corpus_pipeline(corpus, cfg, benchmark=bench)["clean"].collect()}
    cfg["decontaminate"] = {"enable": True, "k": 5, "use_bloom": True}
    bloom = {r["doc_id"] for r in
             run_corpus_pipeline(corpus, cfg, benchmark=bench)["clean"].collect()}
    assert bloom == exact and 4 not in bloom


def test_corpus_pipeline_domain_cap_and_sample(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    cfg = default_corpus_config()
    cfg["neardup"] = {"enable": False}
    cfg["domain_cap"] = {"enable": True, "domain_col": "source", "cap": 20}
    cfg["sample"] = {"enable": True, "k": 30, "weight_col": "n_tokens"}
    out = run_corpus_pipeline(docs, cfg)
    per_domain = out["clean"].groupBy("source").count().collect()
    assert all(r["count"] <= 20 for r in per_domain)
    sample = out["sample"].collect()
    assert len(sample) == 30
    # The quota rank column must not leak into the output schema.
    assert "__quota_rank" not in out["clean"].columns


def test_corpus_cli_new_stage_flags(spark, sf_dir, tmp_path):
    """--benchmark/--bloom/--domain-cap/--sample-k wire through the CLI
    into the pipeline config and write the extra outputs."""
    import duckdb

    from strategicai_visibility_loop_etl_spark.__main__ import corpus_main

    bench = tmp_path / "bench.parquet"
    duckdb.sql(
        f"COPY (SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') "
        f"WHERE doc_id % 20 = 0) TO '{bench}' (FORMAT PARQUET)"
    )
    out = tmp_path / "out"
    rc = corpus_main(
        [
            "--input", f"{sf_dir}/documents.parquet",
            "--out", str(out),
            "--no-neardup",
            "--benchmark", str(bench),
            "--bloom",
            "--domain-cap", "15",
            "--sample-k", "10",
            "--ppl-max", "1000",
        ],
        spark=spark,
    )
    assert rc == 0
    clean = spark.read.parquet(str(out / "clean"))
    per_domain = clean.groupBy("source").count().collect()
    assert all(r["count"] <= 15 for r in per_domain)
    assert clean.filter(F.col("doc_id") % 20 == 0).count() == 0
    assert spark.read.parquet(str(out / "sample")).count() == 10
    # --ppl-max wired through: the lm_filter stage ran and annotated
    assert {"nll", "ppl"} <= set(clean.columns)
    assert clean.filter(F.col("ppl") > 1000).count() == 0


def test_corpus_pipeline_lm_filter_band(corpus):
    """The perplexity-band stage trims the tails: the repeated-text
    family (1/2/3/6) shares most tokens, so its docs score low ppl;
    doc 4 is all corpus-rare words, so it scores the highest. A
    max_ppl cap must drop doc 4 and keep the family; nll/ppl ride
    along on the clean frame."""
    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        unigram_lm_scores,
    )

    cfg = default_corpus_config()
    cfg["min_tokens"] = 6
    cfg["neardup"] = {"enable": False}
    cfg["lm_filter"] = {"enable": True, "min_ppl": 0.0, "max_ppl": None}
    out = run_corpus_pipeline(corpus, cfg)
    clean = out["clean"]
    assert {"nll", "ppl"} <= set(clean.columns)
    scores = {r["doc_id"]: r["ppl"] for r in clean.collect()}
    assert max(scores, key=scores.get) == 4

    cfg["lm_filter"] = {"enable": True, "min_ppl": 0.0,
                        "max_ppl": scores[4] - 0.01}
    kept = {r["doc_id"] for r in run_corpus_pipeline(corpus, cfg)["clean"].collect()}
    assert 4 not in kept and 1 in kept

    # direct operator edge cases: null and whitespace-only docs drop
    # out (no tokens -> no likelihood), everything else scores
    docs = corpus.sparkSession.createDataFrame(
        [(10, None), (11, "   "), (12, "alpha beta alpha")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in unigram_lm_scores(docs).collect()}
    assert set(rows) == {12}
    assert rows[12]["n_tokens"] == 3 and rows[12]["ppl"] > 0


def test_corpus_pipeline_lm_filter_no_bounds_keeps_tokenless(spark):
    """Enabling lm_filter with both bounds off must not change the
    output set: token-less docs have no score row, ride through the
    LEFT join with null ppl, and only a configured bound drops them."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, "   "), (3, "beta beta delta")],
        "doc_id long, text string",
    )
    cfg = default_corpus_config()
    cfg["min_tokens"] = 0
    cfg["neardup"] = {"enable": False}
    cfg["lm_filter"] = {"enable": True, "min_ppl": 0.0, "max_ppl": None}
    clean = run_corpus_pipeline(docs, cfg)["clean"]
    rows = {r["doc_id"]: r for r in clean.collect()}
    assert set(rows) == {1, 2, 3}           # nothing dropped by the join
    assert rows[2]["ppl"] is None           # unscorable, annotated null
    assert rows[1]["ppl"] is not None
    # with a bound configured, the token-less doc drops (cannot score)
    cfg["lm_filter"] = {"enable": True, "min_ppl": 0.0, "max_ppl": 1e9}
    kept = {r["doc_id"] for r in run_corpus_pipeline(docs, cfg)["clean"].collect()}
    assert kept == {1, 3}


def test_corpus_pipeline_fix_encoding(spark):
    """Stage 0 repairs mojibake before dedup: a cp1252-ghosted copy of
    a clean doc must collapse into the same exact-dup group."""
    rows = [
        (1, "the café’s façade — “quite” nice and modern today indeed"),
        (2, "the cafÃ©â€™s faÃ§ade â€” â€œquiteâ€\x9d nice and modern today indeed"),
        (3, "totally unrelated words about distributed query engines here"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = default_corpus_config()
    cfg["min_tokens"] = 5
    cfg["neardup"] = {"enable": False}
    kept = {r["doc_id"] for r in run_corpus_pipeline(corpus, cfg)["clean"].collect()}
    assert kept == {1, 3}  # 2 is an exact dup of 1 after repair


def test_corpus_pipeline_structural_stage(spark):
    """Stage 0b: C4 page rules + within-page line dedup run BEFORE
    annotation, so junk pages and repeated boilerplate lines never
    reach the tokenizing/hashing stages."""
    from strategicai_visibility_loop_etl_spark.plans.corpus import (
        default_corpus_config,
        run_corpus_pipeline,
    )

    docs = spark.createDataFrame(
        [
            (1, "nav bar menu login search here.\n"
                "A real sentence with several words in it.\n"
                "nav bar menu login search here.\n"
                "Another real sentence closing out the page."),
            (2, "Lorem ipsum dolor sit amet and so on."),  # page drop
            (3, "short\nno punct line\nok?"),              # too few sentences
        ],
        "doc_id long, text string",
    )
    cfg = {
        **default_corpus_config(),
        "structural": {"enable": True},
        "min_tokens": 1,
        "neardup": {"enable": False},
    }
    clean = run_corpus_pipeline(docs, cfg)["clean"]
    rows = {r["doc_id"]: r["text"] for r in clean.collect()}
    assert set(rows) == {1}
    # duplicated boilerplate line removed, order preserved
    assert rows[1] == (
        "nav bar menu login search here.\n"
        "A real sentence with several words in it.\n"
        "Another real sentence closing out the page."
    )


def test_corpus_cli_structural_flag(spark, tmp_path):
    """--structural wires the C4 + line-dedup stage through the CLI."""
    from strategicai_visibility_loop_etl_spark.__main__ import corpus_main

    src = tmp_path / "docs.parquet"
    spark.createDataFrame(
        [
            (1, "Repeated boilerplate line here again.\n"
                "A genuine sentence with enough words inside.\n"
                "Repeated boilerplate line here again.\n"
                "One more proper sentence finishes the page."),
            (2, "lorem ipsum dolor sit amet filler."),
        ],
        "doc_id long, text string",
    ).write.parquet(str(src))
    out = tmp_path / "out"
    rc = corpus_main(
        ["--input", str(src), "--out", str(out),
         "--no-neardup", "--min-tokens", "1", "--structural"],
        spark=spark,
    )
    assert rc == 0
    clean = spark.read.parquet(str(out / "clean"))
    rows = {r["doc_id"]: r["text"] for r in clean.collect()}
    assert set(rows) == {1}
    assert rows[1].count("Repeated boilerplate line here again.") == 1


def test_corpus_cli_out_holds_only_outputs(spark, tmp_path):
    """--out receives the outputs and nothing else: the perplexity
    filter's LM table is checkpointed, not staged under --out."""
    import os

    from strategicai_visibility_loop_etl_spark.__main__ import corpus_main

    src = tmp_path / "docs.parquet"
    spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, "beta beta delta gamma")],
        "doc_id long, text string",
    ).write.parquet(str(src))
    out = tmp_path / "out"
    rc = corpus_main(
        ["--input", str(src), "--out", str(out), "--no-neardup",
         "--min-tokens", "1", "--ppl-min", "1"],
        spark=spark,
    )
    assert rc == 0
    assert sorted(os.listdir(out)) == ["clean"]
