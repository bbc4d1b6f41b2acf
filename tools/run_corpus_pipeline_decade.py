"""Time run_corpus_pipeline's FULL composition end to end at decade
scale (VERDICT r14 item 3).

Every stage of the corpus pipeline is individually oracle-gated, but
the composed pipeline — mojibake repair → C4 structural clean → lang/
quality/token annotate+filter → unigram-LM perplexity band → PII
redaction → exact dedup → MinHash-LSH near-dup collapse →
decontamination → per-domain quota → weighted sample → mixture →
chunk/pack → vocab/tokenize → shards — had never been timed end to
end at sf1. This tool runs it against a gen_decade replica dir and
records per-output rows + seconds to stdout (one JSON line) for
logs/ + BASELINE.md.

The synthetic corpus is single-line, so documents first get the
synth_pages scaffolding (deterministic pseudo-lines with planted C4
violations — the qx13 recipe) so the structural stage has real work.
The near-dup stage runs method="minhash" — the production path (the
r13 decade measured the exact-Jaccard leg 503 s vs 21.9 s for the
same pair volume on the 10×-replica corpus).

The ``run_corpus_pipeline`` call is not lazy: with near-dup on it
checkpoints the filtered, redacted corpus and runs the pair build and
connected-components jobs before it returns, so ``total_sec`` counts
them while the ``clean`` entry times only what runs after near-dup.

``clean`` is persisted before the derived views count, exactly as a
production run would checkpoint the cleaned corpus before fanning out
to chunking/packing/tokenizing consumers; every derived view then
reuses the cached plan instead of re-running the whole upstream.

Usage: python tools/run_corpus_pipeline_decade.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/decade_sf1"

    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from strategicai_visibility_loop_etl_spark.session import get_spark

    spark = get_spark("corpus-pipeline-decade")

    from strategicai_visibility_loop_etl_spark.operators.c4 import synth_pages
    from strategicai_visibility_loop_etl_spark.plans.corpus import (
        run_corpus_pipeline,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_input = docs.count()

    # single-line corpus -> deterministic page scaffolding, keeping
    # the source column for the quota/mixture stages
    paged = (
        synth_pages(docs)
        .withColumnRenamed("page", "text")
        .join(docs.select("doc_id", "source"), "doc_id")
    )

    # benchmark frame for decontamination: a deterministic slice of
    # the corpus itself (guaranteed-contaminated members, so the stage
    # provably drops rows)
    benchmark = docs.filter(F.col("doc_id") % 997 == 3).select("doc_id", "text")

    sources = [r["source"] for r in docs.select("source").distinct().collect()]
    cfg = {
        "fix_encoding": True,
        "langs": None,
        "min_quality": 0.1,
        "min_tokens": 8,
        "max_tokens": 1_000_000,
        "redact_pii": True,
        "structural": {
            "enable": True,
            "min_words_per_line": 4,
            "min_sentences": 2,
            "bad_words": ("badtoken",),
            "dedup_lines": True,
        },
        "lm_filter": {
            "enable": True,
            "min_ppl": 2.0,
            "max_ppl": 1_000_000.0,
        },
        "neardup": {
            "enable": True,
            "method": "minhash",
            "k": 3,
            "threshold": 0.7,
            "num_hashes": 64,
            "bands": 16,
            "max_bucket": "auto",
            "cc_algorithm": "auto",
        },
        "decontaminate": {"enable": True, "k": 8, "use_bloom": True},
        "domain_cap": {"enable": True, "domain_col": "source", "cap": 2000},
        "sample": {"enable": True, "k": 5000, "weight_col": "n_tokens"},
        "mixture": {
            "enable": True,
            "targets": {s: 1.0 / len(sources) for s in sources},
            "k": 10_000,
            "domain_col": "source",
        },
        "chunk": {"enable": True, "chunk_tokens": 256, "overlap": 32},
        "pack": {"enable": True, "budget_tokens": 4096, "stratum_col": None},
        "tokenize": {"enable": True, "vocab_size": 32_768},
        "shards": 16,
    }

    t_total0 = time.monotonic()
    out = run_corpus_pipeline(paged, cfg, benchmark=benchmark)

    report: dict[str, dict] = {}

    def timed(name: str, df) -> None:
        t0 = time.monotonic()
        rows = df.count()
        report[name] = {"rows": rows, "sec": round(time.monotonic() - t0, 2)}
        print(json.dumps({name: report[name]}), flush=True)

    out["clean"].persist(StorageLevel.MEMORY_AND_DISK)
    timed("clean", out["clean"])
    for name in ("annotated", "sample", "mixture", "chunks", "packed",
                 "vocab", "tokens", "shards"):
        if name in out:
            timed(name, out[name])
    total = round(time.monotonic() - t_total0, 2)
    out["clean"].unpersist()

    print(json.dumps({
        "sf_dir": sf_dir,
        "input_rows": n_input,
        "stages": report,
        "total_sec": total,
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
