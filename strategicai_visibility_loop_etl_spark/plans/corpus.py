"""End-to-end corpus-cleaning pipeline for LLM training data.

The training-data analog of ``plans.pipeline``: one config-driven
composition of the operators this engine already oracle-gates —
language ID, quality scoring, PII redaction, exact dedup, near-dup
cluster collapse, decontamination, chunking, packing, and shard
assignment — in the order a FineWeb/RefinedWeb-style corpus pass runs
them. The whole pipeline is a handful of narrow shuffles:

0. domain gate   — blocklist/allowlist by URL host (broadcast dim,
                   map-side suffix match; the cheapest filter first)
0b. structural   — C4 line/page rules + within-page duplicate-line
                   removal (opt-in; pure codegen on the same scan)
1. annotate      — lang_id / quality / token counts (zero shuffles)
2. filter        — lang allowlist + quality floor + length bounds
                   (predicate on the annotated scan)
3. redact        — PII placeholders (pure regexp projection)
4. exact dedup   — keep min-id per normalized-text sha256 (one narrow
                   shuffle on a 32-byte digest)
5. near-dup      — shingle/Jaccard candidate pairs → connected
                   components → keep cluster representative
6. decontaminate — drop documents sharing ≥k-gram with a benchmark
                   frame (optional; (gram, id)-only shuffle)
7. emit          — cleaned docs, plus optional chunked and packed
                   views and a deterministic shard assignment

With near-dup off, the returned frames are lazy (only an opted-in
``lm_filter.stage_path`` writes its table up front). With near-dup on
(the default), ``run_corpus_pipeline`` runs eager jobs before it
returns: the pair build and connected-components rounds, plus the
module's one barrier, an eager ``localCheckpoint`` of the filtered,
redacted corpus (``kept``) before stage 4. Every near-dup consumer and
the ``clean`` frame read it instead of re-running the repair →
annotate → filter → redact chain. Its cost: the kept rows sit in
executor block storage for the life of the returned frames, and a lost
block fails the job (fail-stop) instead of being recomputed.

At 100 TB each stage's scale story is the underlying operator's (see
their docstrings); this module adds no collect, no global window, no
cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    bpe_ish_token_count,
    lang_id_expr,
    normalized_text,
    quality_score,
    token_count,
)
from ..operators.clusters import (
    cluster_representatives,
    collapse_exact,
    connected_components,
)
from ..operators.dedup import benchmark_overlap, ngram_jaccard_pairs
from ..operators.sketch import bloom_prefilter_overlap
from ..operators.textprep import (
    chunk_documents,
    pack_sequences,
    redact_pii,
    shard_assignment,
    topk_per_stratum,
    weighted_sample_k,
)


def default_corpus_config() -> dict:
    return {
        "fix_encoding": True,       # repair utf-8-as-cp1252 mojibake first
        "langs": None,              # e.g. ["en", "de"]; None = keep all
        "min_quality": 0.0,         # quality_score floor, 0 disables
        "min_tokens": 8,
        "max_tokens": 1_000_000,
        "redact_pii": True,
        "neardup": {
            "enable": True,
            # "jaccard" = exact n-gram Jaccard verify (small corpora /
            # audits — candidate work grows with true-pair volume);
            # "minhash" = banded MinHash-LSH (the production path: the
            # r13 decade ran the same pair volume 21.9 s vs 503 s)
            "method": "jaccard",
            "k": 3,                 # shingle width
            "threshold": 0.8,       # jaccard (estimated, in minhash mode)
            "max_bucket": "auto",   # hot-shingle skew guard
            "cc_algorithm": "auto",  # propagation w/ star fallback
            "num_hashes": 64,       # minhash mode only
            "bands": 16,            # minhash mode only
            "stage_path": None,     # minhash mode: signature staging
        },
        "domain_filter": {"enable": False, "url_col": "url",
                          "domain_col": None, "blocklist": None,
                          "allowlist": None, "include_subdomains": True},
        # C4 structural page rules + within-page duplicate-line removal
        # (multi-line corpora only — a single-line corpus has no page
        # structure for the line rules to keep, so this is opt-in)
        "structural": {"enable": False, "min_words_per_line": 5,
                       "min_sentences": 3, "bad_words": (),
                       "dedup_lines": True},
        "lm_filter": {"enable": False, "min_ppl": 0.0, "max_ppl": None,
                      "stage_path": None},
        "decontaminate": {"enable": False, "k": 8, "use_bloom": False},
        "domain_cap": {"enable": False, "domain_col": "source", "cap": 1000},
        "sample": {"enable": False, "k": 1000, "weight_col": "n_tokens"},
        "mixture": {"enable": False, "targets": {}, "k": 1000,
                    "domain_col": "source"},
        "chunk": {"enable": False, "chunk_tokens": 512, "overlap": 64},
        "pack": {"enable": False, "budget_tokens": 4096, "stratum_col": None},
        "tokenize": {"enable": False, "vocab_size": 32768},
        "shards": 0,                # >0 = emit shard assignment
    }


def run_corpus_pipeline(
    docs: DataFrame,
    cfg: dict | None = None,
    benchmark: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict[str, DataFrame]:
    """Clean ``docs`` and return ``{"clean", "annotated", ...}`` frames.

    ``docs`` needs (id_col, text_col); extra columns ride along.
    ``benchmark`` (id_col, text_col) enables decontamination when the
    config asks for it. With near-dup off the returned frames are lazy —
    write or count them to execute. With near-dup on this call runs
    eager jobs (the ``kept`` checkpoint, the pair build and the CC
    rounds; see the module docstring), and ``clean`` and the views on
    it read the checkpointed rows. ``annotated`` stays lazy either way.
    """
    cfg = {**default_corpus_config(), **(cfg or {})}
    nd = {**default_corpus_config()["neardup"], **(cfg.get("neardup") or {})}
    txt = F.col(text_col)

    # 0a. domain gate — the cheapest and FIRST filter of a crawl
    # pipeline: drop blocklisted (or keep only allowlisted) hosts
    # before any text-shaped work touches the rows. Broadcast dim +
    # map-side suffix expansion; see operators/domains.py.
    dfc = {**default_corpus_config()["domain_filter"],
           **(cfg.get("domain_filter") or {})}
    if dfc["enable"]:
        from ..operators.domains import domain_filter  # noqa: PLC0415

        docs = domain_filter(
            docs,
            blocklist=dfc["blocklist"],
            allowlist=dfc["allowlist"],
            url_col=dfc["url_col"],
            domain_col=dfc["domain_col"],
            include_subdomains=dfc["include_subdomains"],
        )

    # 0. encoding repair (ftfy-lite): fix utf-8-as-cp1252 mojibake
    # before anything tokenizes or hashes the text — a no-op literal
    # replace chain on clean text, still inside the scan's codegen.
    if cfg["fix_encoding"]:
        from ..functions.text import fix_mojibake  # noqa: PLC0415

        docs = docs.withColumn(text_col, fix_mojibake(txt))

    # 0b. structural clean (C4 + intra-page line dedup): both are pure
    # codegen projections/filters on the same scan — junk pages and
    # repeated boilerplate lines disappear before any tokenizing,
    # hashing or shuffling stage sees them.
    st = {**default_corpus_config()["structural"],
          **(cfg.get("structural") or {})}
    if st["enable"]:
        from ..operators.c4 import c4_clean  # noqa: PLC0415

        docs = c4_clean(
            docs, text_col=text_col,
            min_words_per_line=st["min_words_per_line"],
            min_sentences=st["min_sentences"],
            bad_words=tuple(st["bad_words"] or ()),
        )
        if st["dedup_lines"]:
            from ..operators.textprep import dedup_lines_text  # noqa: PLC0415

            docs = docs.withColumn(text_col, dedup_lines_text(txt))

    # 1. annotate (pure projection: stays in the scan's codegen stage)
    annotated = docs.withColumns(
        {
            "lang": lang_id_expr(txt),
            "quality": quality_score(txt),
            "n_tokens": token_count(txt),
            "n_bpe_tokens": bpe_ish_token_count(txt),
        }
    )

    # 2. filter (predicates push down past the annotations they use)
    kept = annotated.filter(
        (F.col("n_tokens") >= cfg["min_tokens"])
        & (F.col("n_tokens") <= cfg["max_tokens"])
    )
    if cfg["langs"]:
        kept = kept.filter(F.col("lang").isin(list(cfg["langs"])))
    if cfg["min_quality"] > 0:
        kept = kept.filter(F.col("quality") >= cfg["min_quality"])

    # 2b. perplexity-band filter (CCNet shape): score every kept doc
    # against the kept corpus's own unigram LM and trim the tails —
    # low ppl is boilerplate, high ppl is noise. Adds one (doc, token)
    # term-frequency shuffle + a vocabulary join; nll/ppl ride along
    # as annotations on the clean frame.
    lf = {**default_corpus_config()["lm_filter"], **(cfg.get("lm_filter") or {})}
    if lf["enable"]:
        from ..operators.textprep import unigram_lm_scores  # noqa: PLC0415

        # stage_path materializes the vocabulary-sized LM table; without
        # it the lazy DAG re-runs the whole upstream chain (repair →
        # annotate → filter) once each for the LM, the scalar total,
        # and the scoring branch — three corpus scans instead of two.
        scores = unigram_lm_scores(
            kept, text_col=text_col, id_col=id_col,
            stage_path=lf.get("stage_path"),
        )
        # LEFT join: a doc that tokenizes to nothing has no score row;
        # it is only dropped by a bound it actually violates (null ppl
        # fails both bound predicates), never by the join itself.
        kept = kept.join(scores.select(id_col, "nll", "ppl"), id_col, "left")
        if lf["min_ppl"]:
            kept = kept.filter(F.col("ppl") >= lf["min_ppl"])
        if lf["max_ppl"] is not None:
            kept = kept.filter(F.col("ppl") <= lf["max_ppl"])

    # 3. redact
    if cfg["redact_pii"]:
        kept = kept.withColumn(text_col, redact_pii(txt))

    # 4-5. exact dedup + near-dup collapse. collapse_exact already
    # returns unique-normalized-text representatives, so the exact pass
    # is the first half of the near-dup pass — one digest shuffle total.
    clean = kept
    if nd["enable"]:
        # The module's one barrier: without it each near-dup consumer
        # (the max_bucket percentile job, the pair build's scans, the
        # star edges, the clean rows) re-runs the regex chain, 4 times
        # per warm run on the 250-doc perfbench corpus.
        # localCheckpoint, NOT persist: see operators/clusters.py.
        kept = kept.localCheckpoint(eager=True)
        reps, stars = collapse_exact(
            kept.select(id_col, text_col), text_col=text_col, id_col=id_col,
            min_tokens=nd["k"],
        )
        if nd.get("method", "jaccard") == "minhash":
            from ..operators.dedup import dedup_minhash_lsh  # noqa: PLC0415

            pairs = dedup_minhash_lsh(
                reps, text_col=text_col, id_col=id_col, k=nd["k"],
                num_hashes=nd["num_hashes"], bands=nd["bands"],
                threshold=nd["threshold"], max_bucket=nd["max_bucket"],
                stage_path=nd.get("stage_path"),
            ).select("id_a", "id_b")
        else:
            pairs = ngram_jaccard_pairs(
                reps, text_col=text_col, id_col=id_col, k=nd["k"],
                threshold=nd["threshold"], max_bucket=nd["max_bucket"],
            ).select("id_a", "id_b")
        comp = connected_components(
            stars.unionByName(pairs), algorithm=nd["cc_algorithm"]
        )
        clean = cluster_representatives(kept, comp, id_col=id_col)
    else:
        norm = normalized_text(F.coalesce(txt, F.lit("")))
        clean = (
            kept.withColumn("__key", F.sha2(norm, 256))
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("__key").orderBy(F.col(id_col))
                ),
            )
            .filter(F.col("__rn") == 1)
            .drop("__key", "__rn")
        )

    # 6. decontaminate — ``use_bloom`` routes through the
    # bit-position-set prefilter (result-identical; the 100-TB path
    # ships the benchmark as MBs of ints instead of gram strings)
    dec = {**default_corpus_config()["decontaminate"], **(cfg.get("decontaminate") or {})}
    if dec["enable"]:
        if benchmark is None:
            raise ValueError("decontaminate.enable requires a benchmark frame")
        overlap_fn = bloom_prefilter_overlap if dec.get("use_bloom") else benchmark_overlap
        overlap = overlap_fn(
            clean.select(id_col, text_col), benchmark.select(id_col, text_col),
            k=dec["k"], text_col=text_col, id_col=id_col,
        )
        contaminated = overlap.filter(F.col("n_overlap") > 0).select(
            F.col("id").alias(id_col)
        )
        clean = clean.join(contaminated, id_col, "left_anti")

    # 7. per-domain quota — crawl-balance cap: at most ``cap`` docs per
    # domain, chosen by the deterministic hash rank (WindowGroupLimit —
    # map tasks pre-limit before the per-domain exchange), so one giant
    # domain can't dominate the training mix.
    dq = {**default_corpus_config()["domain_cap"], **(cfg.get("domain_cap") or {})}
    if dq["enable"]:
        clean = topk_per_stratum(
            clean, k=dq["cap"], key_col=id_col, stratum_col=dq["domain_col"],
            rank_col="__quota_rank",
        ).drop("__quota_rank")

    out: dict[str, DataFrame] = {"annotated": annotated, "clean": clean}

    # 8. weighted subsample — an Efraimidis–Spirakis draw of the clean
    # corpus with probability ∝ weight (token count by default): the
    # budget-constrained "train on k docs" view, deterministic across
    # runs and partitionings.
    sm = {**default_corpus_config()["sample"], **(cfg.get("sample") or {})}
    if sm["enable"]:
        out["sample"] = weighted_sample_k(
            clean, k=sm["k"], key_col=id_col, weight_col=sm["weight_col"]
        )

    # 8b. domain mixture re-weighting (DoReMi static step): re-sample
    # the clean corpus so each target domain contributes in proportion
    # toward the document budget.
    mx = {**default_corpus_config()["mixture"], **(cfg.get("mixture") or {})}
    if mx["enable"]:
        from ..operators.textprep import mixture_sample  # noqa: PLC0415

        out["mixture"] = mixture_sample(
            clean, targets=mx["targets"], k=mx["k"],
            key_col=id_col, domain_col=mx["domain_col"],
        )

    ch = {**default_corpus_config()["chunk"], **(cfg.get("chunk") or {})}
    if ch["enable"]:
        out["chunks"] = chunk_documents(
            clean, chunk_tokens=ch["chunk_tokens"], overlap=ch["overlap"],
            text_col=text_col, id_col=id_col,
        )
    pk = {**default_corpus_config()["pack"], **(cfg.get("pack") or {})}
    if pk["enable"]:
        out["packed"] = pack_sequences(
            clean.select(id_col, "n_tokens", *([pk["stratum_col"]] if pk["stratum_col"] else [])),
            budget_tokens=pk["budget_tokens"],
            id_col=id_col,
            stratum_col=pk["stratum_col"],
        )
    tk = {**default_corpus_config()["tokenize"], **(cfg.get("tokenize") or {})}
    if tk["enable"]:
        from ..operators.textprep import build_vocab, encode_tokens  # noqa: PLC0415

        vocab = build_vocab(clean, vocab_size=tk["vocab_size"], text_col=text_col)
        out["vocab"] = vocab
        out["tokens"] = encode_tokens(
            clean, vocab, text_col=text_col, id_col=id_col
        )
    if cfg["shards"]:
        out["shards"] = shard_assignment(
            clean.select(id_col), n_shards=cfg["shards"], key_col=id_col
        )
    return out
