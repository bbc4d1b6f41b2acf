"""CLI front door for the visibility pipeline.

Mirrors the reference's primary UX (etl_merge.py:733-1012 ``main()``):

    python -m strategicai_visibility_loop_etl_spark --config etl_config.yaml

Input resolution precedence, same as the reference's
``resolve_input_path`` (etl_merge.py:717-731):

    1. explicit CLI flag (``--frog/--gsc/--ga4``)
    2. env var (FROG_CSV_PATH / GSC_CSV_PATH / GA4_CSV_PATH)
    3. config ``inputs:`` section (short or ``*_csv`` key names)
    4. demo defaults under ``data_demo/``

then, like the reference, a missing ``.csv``/``.xlsx`` input falls back
to its sibling with the paired extension before the existence check.

Outputs land as parquet directories under ``--out`` (splittable,
column-pruned — the at-scale sink); pass ``--csv-mirror`` for the
reference's CSV rendering alongside.
"""

from __future__ import annotations

import argparse
import os
import sys

from .plans.pipeline import _resolve_input, load_config, run_visibility_pipeline
from .sources.readers import _fs_exists, resolve_sibling_extension

_DEMO_DIR = "data_demo"


def _flag(value: str | None) -> str | None:
    return os.path.expanduser(os.path.expandvars(value)) if value else None


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m strategicai_visibility_loop_etl_spark",
        description="Run the SEO-visibility merge pipeline on Spark.",
    )
    p.add_argument("--config", default="etl_config.yaml",
                   help="YAML config (reference etl_config.yaml shape)")
    p.add_argument("--frog", help="Screaming Frog export (csv/xlsx)")
    p.add_argument("--gsc", help="Google Search Console export (csv/xlsx)")
    p.add_argument("--ga4", help="GA4 export (csv/xlsx)")
    p.add_argument("--out", default="merged",
                   help="output directory for parquet results (default: merged/)")
    p.add_argument("--csv-mirror", action="store_true",
                   help="also write the reference-rendered CSV mirrors")
    p.add_argument("--write-slices", action="store_true",
                   help="also write the ctr_debug candidate slice")
    p.add_argument("--cpus", type=int, default=None,
                   help="local[N] parallelism (default: SPARK_GRAFT_CPUS or nproc)")
    return p


def build_corpus_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m strategicai_visibility_loop_etl_spark corpus",
        description="Run the corpus-cleaning pipeline on a parquet documents table.",
    )
    p.add_argument("--input", required=True,
                   help="parquet path with (doc_id, text) columns")
    p.add_argument("--out", required=True, help="output directory")
    p.add_argument("--langs", help="comma-separated language allowlist")
    p.add_argument("--min-tokens", type=int, default=8)
    p.add_argument("--min-quality", type=float, default=0.0)
    p.add_argument("--no-neardup", action="store_true",
                   help="exact dedup only (skip shingle-Jaccard clustering)")
    p.add_argument("--jaccard", type=float, default=0.8)
    p.add_argument("--chunk-tokens", type=int, default=0,
                   help=">0 also writes a chunked view")
    p.add_argument("--shards", type=int, default=0,
                   help=">0 also writes a shard assignment")
    p.add_argument("--benchmark",
                   help="parquet path with (doc_id, text): enables "
                        "decontamination against this eval set")
    p.add_argument("--bloom", action="store_true",
                   help="route decontamination through the Bloom "
                        "prefilter (same result, smaller broadcast)")
    p.add_argument("--decontaminate-k", type=int, default=8,
                   help="n-gram width for the contamination check")
    p.add_argument("--domain-cap", type=int, default=0,
                   help=">0 keeps at most N documents per domain")
    p.add_argument("--domain-col", default="source",
                   help="column holding the domain for --domain-cap")
    p.add_argument("--sample-k", type=int, default=0,
                   help=">0 also writes a weighted sample of N docs")
    p.add_argument("--ppl-min", type=float, default=0.0,
                   help="drop docs below this unigram-LM perplexity "
                        "(boilerplate tail)")
    p.add_argument("--ppl-max", type=float, default=0.0,
                   help="drop docs above this unigram-LM perplexity "
                        "(noise tail); 0 disables")
    p.add_argument("--sample-weight", default="n_tokens",
                   help="weight column for --sample-k")
    p.add_argument("--block-domains",
                   help="comma-separated domain blocklist (entry matches "
                        "the host and its subdomains); prefix with @ to "
                        "read one domain per line from a file")
    p.add_argument("--allow-domains",
                   help="comma-separated domain allowlist; @file form as "
                        "for --block-domains. Docs without a parseable "
                        "host are dropped in allowlist mode")
    p.add_argument("--domain-url-col", default=None,
                   help="column holding each document's URL for the "
                        "domain lists (default: 'url' if present)")
    p.add_argument("--domain-host-col", default=None,
                   help="column that already holds a bare host (e.g. "
                        "'source'); overrides --domain-url-col")
    p.add_argument("--structural", action="store_true",
                   help="enable the C4 line/page rules + within-page "
                        "duplicate-line removal (multi-line corpora)")
    p.add_argument("--bad-words", default=None,
                   help="comma-separated (or @file) policy word list "
                        "for the structural page filter")
    p.add_argument("--cpus", type=int, default=None)
    return p


def _domain_list(spec: str) -> list[str]:
    if spec.startswith("@"):
        with open(spec[1:], encoding="utf-8") as fh:
            return [ln.strip() for ln in fh if ln.strip()]
    return [x.strip() for x in spec.split(",") if x.strip()]


def corpus_main(argv: list[str], spark=None) -> int:
    from .plans.corpus import default_corpus_config, run_corpus_pipeline  # noqa: PLC0415

    args = build_corpus_parser().parse_args(argv)
    cfg = default_corpus_config()
    cfg["min_tokens"] = args.min_tokens
    cfg["min_quality"] = args.min_quality
    if args.langs:
        cfg["langs"] = [x.strip() for x in args.langs.split(",") if x.strip()]
    cfg["neardup"] = {"enable": not args.no_neardup, "threshold": args.jaccard}
    if args.chunk_tokens:
        cfg["chunk"] = {"enable": True, "chunk_tokens": args.chunk_tokens,
                        "overlap": max(args.chunk_tokens // 8, 1)}
    cfg["shards"] = args.shards
    if args.benchmark:
        cfg["decontaminate"] = {"enable": True, "k": args.decontaminate_k,
                                "use_bloom": args.bloom}
    if args.domain_cap:
        cfg["domain_cap"] = {"enable": True, "domain_col": args.domain_col,
                             "cap": args.domain_cap}
    if args.sample_k:
        cfg["sample"] = {"enable": True, "k": args.sample_k,
                         "weight_col": args.sample_weight}
    if args.block_domains or args.allow_domains:
        cfg["domain_filter"] = {
            "enable": True,
            "blocklist": _domain_list(args.block_domains) if args.block_domains else None,
            "allowlist": _domain_list(args.allow_domains) if args.allow_domains else None,
            "url_col": args.domain_url_col or "url",
            "domain_col": args.domain_host_col,
        }
    if args.structural:
        cfg["structural"] = {
            "enable": True,
            "bad_words": tuple(_domain_list(args.bad_words))
            if args.bad_words else (),
        }
    if args.ppl_min or args.ppl_max:
        cfg["lm_filter"] = {"enable": True, "min_ppl": args.ppl_min,
                            "max_ppl": args.ppl_max or None}

    owns_spark = spark is None
    if owns_spark:
        from .session import get_spark  # noqa: PLC0415

        spark = get_spark(cpus=args.cpus)
    try:
        docs = spark.read.parquet(args.input)
        benchmark = spark.read.parquet(args.benchmark) if args.benchmark else None
        out = run_corpus_pipeline(docs, cfg, benchmark=benchmark)
        for name, df in out.items():
            if name == "annotated":
                continue  # derived view of the input; clean/chunks/etc suffice
            path = os.path.join(args.out, name)
            df.write.mode("overwrite").parquet(path)
            print(f"Wrote {path}")
        n_in = docs.count()
        n_clean = spark.read.parquet(os.path.join(args.out, "clean")).count()
        print(f"Corpus cleaned: {n_in} -> {n_clean} documents")
    finally:
        if owns_spark:
            spark.stop()
    return 0


def main(argv: list[str] | None = None, spark=None) -> int:
    if argv is None:
        argv = sys.argv[1:]
    if argv and argv[0] == "corpus":
        return corpus_main(argv[1:], spark=spark)
    args = build_parser().parse_args(argv)
    cfg = load_config(args.config)
    if args.csv_mirror:
        cfg.setdefault("output", {})["csv_mirror"] = True
    if args.write_slices:
        cfg.setdefault("output", {})["write_slices"] = True

    frog = _flag(args.frog) or _resolve_input(
        "FROG_CSV_PATH", cfg, "screaming_frog", f"{_DEMO_DIR}/screaming_frog_export.csv")
    gsc = _flag(args.gsc) or _resolve_input("GSC_CSV_PATH", cfg, "gsc", f"{_DEMO_DIR}/gsc_export.csv")
    ga4 = _flag(args.ga4) or _resolve_input("GA4_CSV_PATH", cfg, "ga4", f"{_DEMO_DIR}/ga4_export.csv")

    owns_spark = spark is None
    if owns_spark:
        from .session import get_spark  # noqa: PLC0415

        spark = get_spark(cpus=args.cpus)
    try:
        # The loaders apply the same fallback and resolve paths through
        # the Hadoop FS API, so these checks agree with what the
        # pipeline reads (file:// and other scheme URIs included).
        frog, gsc, ga4 = (resolve_sibling_extension(p, spark) for p in (frog, gsc, ga4))
        print(f"Resolved inputs -> Frog: {frog} | GSC: {gsc} | GA4: {ga4}")

        missing = [(tag, p) for tag, p in
                   (("Screaming Frog", frog), ("GSC", gsc), ("GA4", ga4))
                   if not _fs_exists(spark, p)]
        if missing:
            for tag, p in missing:
                print(f"[ERROR] File not found for {tag}: {p}", file=sys.stderr)
            return 1

        outputs = run_visibility_pipeline(
            spark, cfg, frog_path=frog, gsc_path=gsc, ga4_path=ga4,
            out_dir=args.out,
        )
        # out_dir materializes 'merged' to parquet; the count here is a
        # metadata-only read of the staged files, not a recompute.
        n = outputs["merged"].count()
        print(f"Merged rows: {n}")
        print(f"Merged data exported to {os.path.join(args.out, 'merged')}")
        for name in outputs:
            if name != "merged":
                print(f"Wrote {os.path.join(args.out, name)}")
    finally:
        if owns_spark:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
