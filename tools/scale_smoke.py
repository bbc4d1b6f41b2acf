"""sf1-scale smoke for the dedup / clustering family.

The registered correctness queries run at sf0.01-0.1; this script
proves the skew guards at ~10x that. It builds a synthetic corpus by
replicating the sf0.1 documents table 10x with controlled mutations —
plus a deliberately adversarial skew block (one boilerplate text
repeated N times, the worst case for shingle inverted indexes) — then
runs the three candidate-generation paths and connected components,
reporting wall time and candidate counts.

The check is that candidate counts stay O(n * cap), NOT O(n^2): the
skew block alone would contribute ~N^2/2 pairs if any hot-bucket guard
failed.

Usage:
    python tools/scale_smoke.py [--mult 10] [--skew 20000] [--cpus N]

Results are printed as one JSON line; paste the numbers into
BASELINE.md's scale-smoke section.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_corpus(spark, sf_dir: str, mult: int, skew: int):
    """documents x mult with per-replica tail mutations (so replicas are
    near-dups, not byte dups), plus `skew` copies of one boilerplate."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    n = docs.count()
    rep = spark.range(mult).select(F.col("id").alias("rep"))
    body = (
        docs.crossJoin(F.broadcast(rep))
        .select(
            (F.col("doc_id") + F.col("rep") * F.lit(10_000_000)).alias("doc_id"),
            # rep 0 keeps the original; others get a distinct tail token
            # so each replica group forms a near-dup (not exact) cluster.
            F.when(F.col("rep") == 0, F.col("text"))
            .otherwise(F.concat_ws(" ", F.col("text"), F.format_string("rep%d", "rep")))
            .alias("text"),
        )
    )
    boiler = spark.range(skew).select(
        (F.col("id") + F.lit(900_000_000)).alias("doc_id"),
        F.lit(
            "this site uses cookies to improve your experience accept all "
            "cookies or manage preferences in settings privacy policy terms"
        ).alias("text"),
    )
    return body.unionByName(boiler), n * mult + skew


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--skew", type=int, default=20_000)
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] parallelism (default: SPARK_GRAFT_CPUS or nproc)")
    ap.add_argument("--stage", default="/tmp/scale_smoke_stage")
    ap.add_argument("--emb-mult", type=int, default=50,
                    help="embedding replication factor for the ANN smoke (0 skips)")
    args = ap.parse_args()

    from strategicai_visibility_loop_etl_spark.session import get_spark

    spark = get_spark("scale-smoke", cpus=args.cpus)

    report: dict = {"mult": args.mult, "skew_block": args.skew}

    def timed(tag: str, fn):
        t0 = time.perf_counter()
        out = fn()
        report[tag] = {"sec": round(time.perf_counter() - t0, 2), **out}
        print(f"  {tag}: {report[tag]}", file=sys.stderr)

    run_docs = args.mult > 0
    if run_docs:
        corpus_df, n_docs = build_corpus(spark, args.sf_dir, args.mult, args.skew)
        corpus_path = os.path.join(args.stage, "corpus")
        corpus_df.write.mode("overwrite").parquet(corpus_path)
        corpus = spark.read.parquet(corpus_path)
        report["n_docs"] = n_docs
        _run_doc_family(args, timed, corpus)

    if args.emb_mult > 0:
        _run_ann_family(spark, args, timed, report)

    # Sanity gate: candidates must be O(n * cap), never O(n^2). The skew
    # block alone would emit ~skew^2/2 pairs on a broken guard.
    if run_docs and args.skew > 1:
        quad = args.skew * (args.skew - 1) // 2
        for tag in ("ngram_jaccard", "minhash_lsh", "simhash"):
            assert report[tag]["pairs"] < quad / 10, (
                f"{tag} candidate blowup: {report[tag]['pairs']} pairs vs "
                f"skew-quadratic {quad}"
            )
    if run_docs:
        # ExactSubstr: no row loss at scale.
        assert report["exactsubstr"]["docs"] == n_docs, report["exactsubstr"]
        # Min-match leg rows = corpus + the appended long-boiler block.
        assert (
            report["exactsubstr_minlen"]["docs"] == n_docs + args.skew
        ), report["exactsubstr_minlen"]
        # The Bloom prefilter must be result-identical to the exact
        # decontamination path at scale, not just in unit fixtures.
        assert (
            report["bloom_decontaminate"]["overlap"]
            == report["exact_decontaminate"]["overlap"]
            and report["bloom_decontaminate"]["docs"]
            == report["exact_decontaminate"]["docs"]
        ), (report["bloom_decontaminate"], report["exact_decontaminate"])
    report["ok"] = True
    print(json.dumps(report))
    spark.stop()


def _run_doc_family(args, timed, corpus) -> None:
    from strategicai_visibility_loop_etl_spark.operators.clusters import (
        collapse_exact,
        connected_components,
    )
    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        dedup_minhash_lsh,
        dedup_simhash,
        ngram_jaccard_pairs,
    )

    timed(
        "ngram_jaccard",
        lambda: {
            "pairs": ngram_jaccard_pairs(
                corpus, k=5, threshold=0.7, max_bucket="auto"
            ).count()
        },
    )
    timed(
        "minhash_lsh",
        lambda: {
            "pairs": dedup_minhash_lsh(
                corpus,
                num_hashes=64,
                bands=16,
                threshold=0.7,
                max_bucket="auto",
                stage_path=os.path.join(args.stage, "mh"),
            ).count()
        },
    )
    timed(
        "simhash",
        lambda: {
            "pairs": dedup_simhash(
                corpus, max_hamming=3, max_bucket="auto",
                stage_path=os.path.join(args.stage, "sh"),
            ).count()
        },
    )

    def _clusters():
        reps, stars = collapse_exact(corpus, min_tokens=5)
        pairs = ngram_jaccard_pairs(
            reps, k=5, threshold=0.7, max_bucket="auto"
        ).select("id_a", "id_b")
        comp = connected_components(stars.unionByName(pairs))
        return {
            "nodes": comp.count(),
            "components": comp.select("component").distinct().count(),
        }

    timed("dedup_clusters", _clusters)

    # Bloom-prefiltered decontamination: every 20th base doc plays the
    # benchmark. The check is that the Bloom path completes at 10x and
    # agrees with the exact path on total overlap mass.
    from pyspark.sql import functions as F

    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        benchmark_overlap,
    )
    from strategicai_visibility_loop_etl_spark.operators.sketch import (
        bloom_prefilter_overlap,
    )

    bench = corpus.filter(F.col("doc_id") % 20 == 0).limit(5000)
    train = corpus.filter(F.col("doc_id") % 20 != 0)

    def _bloom():
        agg = bloom_prefilter_overlap(train, bench, k=8).agg(
            F.count("*").alias("docs"), F.sum("n_overlap").alias("overlap")
        ).first()
        return {"docs": agg["docs"], "overlap": int(agg["overlap"] or 0)}

    def _exact():
        agg = benchmark_overlap(train, bench, k=8).agg(
            F.count("*").alias("docs"), F.sum("n_overlap").alias("overlap")
        ).first()
        return {"docs": agg["docs"], "overlap": int(agg["overlap"] or 0)}

    timed("bloom_decontaminate", _bloom)
    timed("exact_decontaminate", _exact)

    # ExactSubstr excision: the only data-sized shuffle carries
    # (gram-hash, id, pos) — the 20k-identical boilerplate block is the
    # worst case for the hit-fold (every position of every copy is a
    # hit), yet stays linear: hits are O(total positions), never pairs.
    # Gate: no row loss, and every boilerplate copy fully excised.
    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        exactsubstr_dedup,
    )

    def _exactsubstr():
        out = exactsubstr_dedup(corpus, k=8)
        agg = out.agg(
            F.count("*").alias("docs"),
            F.sum("n_tokens").alias("tok"),
            F.sum("n_removed").alias("removed"),
        ).first()
        b = (
            out.filter(F.col("doc_id") >= 900_000_000)
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    (F.col("n_removed") == F.col("n_tokens")).cast("int")
                ).alias("full"),
            )
            .first()
        )
        assert b["n"] == b["full"], ("boilerplate not fully excised", b)
        return {
            "docs": agg["docs"],
            "tokens": int(agg["tok"]),
            "removed": int(agg["removed"]),
        }

    timed("exactsubstr", _exactsubstr)

    # Minimum-match length (Lee et al. 2022's L=50) at scale: append a
    # second adversarial block — `skew` copies of a 60-token
    # boilerplate (ids >= 950M). Gate is TWO-SIDED: every long copy is
    # fully excised (its merged span is 60 >= L) while the original
    # 19-token boilerplate block survives UNTOUCHED at L=50 (its span
    # is below the threshold — the short-idiom-survival contract), and
    # rows are conserved. Same linear hit-fold; the span filter is a
    # per-doc array expression, so candidate volume is unchanged.
    def _exactsubstr_minlen():
        long_boiler = corpus.sparkSession.range(args.skew).select(
            (F.col("id") + F.lit(950_000_000)).alias("doc_id"),
            F.lit(" ".join(f"legal{i} notice{i}" for i in range(30))).alias(
                "text"
            ),
        )
        c2 = corpus.unionByName(long_boiler)
        out = exactsubstr_dedup(c2, k=8, min_match_tokens=50)
        agg = out.agg(F.count("*").alias("docs")).first()
        lb = (
            out.filter(F.col("doc_id") >= 950_000_000)
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    (F.col("n_removed") == F.col("n_tokens")).cast("int")
                ).alias("full"),
            )
            .first()
        )
        sb = (
            out.filter(
                (F.col("doc_id") >= 900_000_000)
                & (F.col("doc_id") < 950_000_000)
            )
            .agg(
                F.count("*").alias("n"),
                F.sum((F.col("n_removed") == 0).cast("int")).alias(
                    "untouched"
                ),
            )
            .first()
        )
        assert lb["n"] == lb["full"], ("long boilerplate not excised", lb)
        assert sb["n"] == sb["untouched"], (
            "short boilerplate excised below min-match length",
            sb,
        )
        return {
            "docs": agg["docs"],
            "long_excised": lb["full"],
            "short_untouched": sb["untouched"],
        }

    timed("exactsubstr_minlen", _exactsubstr_minlen)

    # Unigram-LM perplexity scoring: two term-frequency shuffles + a
    # vocabulary join — should stay scan-bound at any multiplier. The
    # determinism check at scale: the 20k identical boilerplate docs
    # must all receive the SAME score (the decimal-sum design makes the
    # aggregate order-independent; a raw double sum would fan these out
    # across partitionings).
    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        unigram_lm_scores,
    )

    def _lm():
        scores = unigram_lm_scores(corpus)
        agg = scores.agg(
            F.count("*").alias("docs"),
            F.min("ppl").alias("min_ppl"),
            F.max("ppl").alias("max_ppl"),
        ).first()
        b = (
            scores.filter(F.col("doc_id") >= 900_000_000)
            .agg(F.min("ppl").alias("lo"), F.max("ppl").alias("hi"))
            .first()
        )
        assert b["lo"] == b["hi"], ("boilerplate ppl not constant", b)
        return {
            "docs": agg["docs"],
            "min_ppl": agg["min_ppl"],
            "max_ppl": agg["max_ppl"],
            "boiler_ppl": b["lo"],
        }

    timed("unigram_lm", _lm)

    # Cross-doc boilerplate line excision: the 20k-identical block is
    # the worst case one level up from ExactSubstr — every line of
    # every boilerplate page is a hit, yet hits stay O(total line
    # positions), never pairs. Gate: no row loss + every boilerplate
    # page fully emptied.
    from strategicai_visibility_loop_etl_spark.operators.c4 import synth_pages
    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        boilerplate_line_excision,
    )

    pages = synth_pages(corpus)

    def _boiler_lines():
        out = boilerplate_line_excision(pages, min_df=2, text_col="page")
        agg = out.agg(
            F.count("*").alias("docs"),
            F.sum("n_lines").alias("lines"),
            F.sum("n_removed").alias("removed"),
        ).first()
        b = (
            out.filter(F.col("doc_id") >= 900_000_000)
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    (F.col("n_removed") == F.col("n_lines")).cast("int")
                ).alias("full"),
            )
            .first()
        )
        assert b["n"] == b["full"], ("boilerplate pages not fully excised", b)
        return {
            "docs": agg["docs"],
            "lines": int(agg["lines"]),
            "removed": int(agg["removed"]),
        }

    timed("boilerplate_excision", _boiler_lines)

    # Incremental line excision vs the persistent (line-hash, df)
    # index: 90% of the pages become the archive's index, the last 10%
    # arrive as a crawl increment — the increment's excision must be
    # IDENTICAL to the full-corpus recompute restricted to those docs
    # (the row-119 equivalence contract at scale). Only the batch is
    # ever split to lines here; the archive contributes its stored df.
    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        boilerplate_excision_incremental,
        line_df_index_write,
    )

    def _boiler_incremental():
        import shutil

        is_batch = F.abs(F.xxhash64("doc_id")) % 10 == 0
        archive = pages.filter(~is_batch)
        batch = pages.filter(is_batch)
        idx = os.path.join(args.stage, "line_idx")
        shutil.rmtree(idx, ignore_errors=True)
        line_df_index_write(archive, idx, text_col="page")
        inc = boilerplate_excision_incremental(
            batch, idx, min_df=2, text_col="page"
        )
        full = boilerplate_line_excision(pages, min_df=2, text_col="page").join(batch.select("doc_id"), "doc_id", "left_semi")

        def digest(df):
            # hash sum as decimal(38,0): a long sum of 64-bit hashes
            # overflows under ANSI mode
            return df.agg(
                F.count("*").alias("docs"),
                F.sum("n_removed").alias("removed"),
                F.sum(
                    F.xxhash64("clean_text").cast("decimal(38,0)")
                ).alias("content_hash"),
            ).first()

        di, df_ = digest(inc), digest(full)
        assert (di["docs"], di["removed"], di["content_hash"]) == (
            df_["docs"], df_["removed"], df_["content_hash"]
        ), (di, df_)
        return {"batch_docs": di["docs"], "removed": int(di["removed"])}

    timed("boilerplate_incremental", _boiler_incremental)

    # Incremental ExactSubstr vs the persistent k-gram occurrence
    # index — same 90/10 split and equivalence digest as the line-
    # excision gate, one level down (spans, not lines).
    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        exactsubstr_dedup as _es_full,
        exactsubstr_incremental,
        substr_gram_index_write,
    )

    def _exactsubstr_incremental():
        import shutil

        is_batch = F.abs(F.xxhash64("doc_id")) % 10 == 0
        archive = corpus.filter(~is_batch)
        batch = corpus.filter(is_batch)
        idx = os.path.join(args.stage, "gram_idx")
        shutil.rmtree(idx, ignore_errors=True)
        substr_gram_index_write(archive, idx, k=8)
        inc = exactsubstr_incremental(batch, idx, k=8)
        full = _es_full(corpus, k=8).join(batch.select("doc_id"), "doc_id", "left_semi")

        def digest(df):
            return df.agg(
                F.count("*").alias("docs"),
                F.sum("n_removed").alias("removed"),
                F.sum(
                    F.xxhash64("clean_text").cast("decimal(38,0)")
                ).alias("content_hash"),
            ).first()

        di, df_ = digest(inc), digest(full)
        assert (di["docs"], di["removed"], di["content_hash"]) == (
            df_["docs"], df_["removed"], df_["content_hash"]
        ), (di, df_)
        return {"batch_docs": di["docs"], "removed": int(di["removed"])}

    timed("exactsubstr_incremental", _exactsubstr_incremental)

    # Stupid-Backoff bigram LM: same order-independence gate as the
    # unigram — the 20k identical docs must score bit-identically
    # regardless of partitioning (the DECIMAL per-transition sum).
    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        bigram_lm_scores,
    )

    def _bigram():
        scores = bigram_lm_scores(corpus)
        n = scores.count()
        b = (
            scores.filter(F.col("doc_id") >= 900_000_000)
            .agg(F.min("sb_ppl").alias("lo"), F.max("sb_ppl").alias("hi"))
            .first()
        )
        assert b["lo"] == b["hi"], ("boilerplate sb_ppl not constant", b)
        return {"docs": n, "boiler_sb_ppl": b["lo"]}

    timed("bigram_lm", _bigram)

    # GPT-style block carving: conservation gate — the carved blocks
    # must contain EXACTLY the concatenated corpus token count (plus
    # one EOS per doc), with every non-final block exactly B long.
    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        carve_blocks,
    )
    from strategicai_visibility_loop_etl_spark.functions.text import (
        token_count,
    )

    def _carve():
        blocks = carve_blocks(corpus, block_tokens=512)
        agg = blocks.agg(
            F.count("*").alias("blocks"),
            F.sum("n_tokens").alias("tok"),
            F.max("block_id").alias("max_id"),
            F.sum((F.col("n_tokens") == 512).cast("int")).alias("full"),
        ).first()
        src = corpus.select(token_count(F.col("text")).alias("n")).filter(
            F.col("n") > 0
        ).agg(F.sum("n").alias("t"), F.count("*").alias("d")).first()
        expect = int(src["t"]) + int(src["d"])  # + one EOS per doc
        assert int(agg["tok"]) == expect, (agg["tok"], expect)
        assert agg["blocks"] == int(agg["max_id"]) + 1
        assert agg["full"] >= agg["blocks"] - 1
        return {"blocks": int(agg["blocks"]), "tokens": int(agg["tok"])}

    timed("carve_blocks", _carve)

    # Batched BPE at a production-ish merge count: 2,000 merges must
    # train in a BOUNDED number of Spark rounds (one candidate collect
    # per round, not per merge — the qx16 sequential loop would be
    # 2,000 jobs here). checkpoint_every=1 keeps each round's plan at
    # one batch of replaces (256 chained replaces is already at the
    # codegen comfort limit; stacking 6 rounds of them would not be).
    from strategicai_visibility_loop_etl_spark.operators.bpe import (
        bpe_train,
    )

    # The synthetic corpus has only ~58 distinct words — a real
    # vocabulary ceiling of ~214 merges. Enrich it determin-
    # istically (per-doc hex suffix on every token -> ~40k distinct
    # words) so the gate exercises a production-sized merge count;
    # the TRAINER sees a normal word-frequency table either way.
    rich = corpus.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.transform(
                F.split(F.col("text"), r"\s+"),
                lambda w: F.concat(
                    w, F.lit("_"), F.hex(F.col("doc_id") % 677)
                ),
            ),
        ).alias("text"),
    )
    trained: dict = {}

    def _bpe_batched():
        stats: dict = {}
        merges = bpe_train(
            rich,
            n_merges=2000,
            batch_size=256,
            candidate_pool=1024,
            min_count=2,
            checkpoint_every=1,
            stats_out=stats,
        )
        assert len(merges) == 2000, len(merges)
        assert [m["merge_rank"] for m in merges] == list(range(2000))
        # multi-char subwords must actually form (sanity on content)
        deep = sum(1 for m in merges if len(m["merged"]) >= 4)
        assert deep > 0, "no multi-char subwords after 2000 merges"
        trained["merges"] = merges
        return {
            "merges": len(merges),
            "rounds": stats["rounds"],
            "len4_subwords": deep,
        }

    timed("bpe_batched_2000", _bpe_batched)

    # ENCODE at the production merge count (the round-9 verdict's top
    # item: the trainer had its batched path, the encoder was never
    # exercised past toy tables). The 2,000-merge vocabulary segments
    # the FULL enriched corpus through the broadcast path in one
    # Arrow-batched projection; correctness is gated three ways:
    #   (1) conservation — stripping spaces from the token stream
    #       reproduces the document's normalized characters exactly;
    #   (2) bounds — n_words <= n_bpe <= character count per doc;
    #   (3) cross-path — on a deterministic ~1/37 sample, a 256-merge
    #       PREFIX of the trained table (any prefix of a well-formed
    #       table is well-formed) encodes bit-identically through the
    #       expr path (256 chained replaces, the codegen comfort
    #       limit) and the broadcast path.
    from strategicai_visibility_loop_etl_spark.operators.bpe import (
        _clean_words,
        bpe_encode,
    )

    def _bpe_encode_2000():
        merges = trained["merges"]
        enc = bpe_encode(rich, merges, method="broadcast")
        chars = F.length(F.array_join(_clean_words("text"), ""))
        gate = (
            enc.join(rich, "doc_id")
            .select(
                (
                    F.replace(F.col("encoded"), F.lit(" "), F.lit(""))
                    != F.array_join(_clean_words("text"), "")
                ).alias("bad_conserve"),
                (
                    (F.col("n_bpe") < F.col("n_words"))
                    | (F.col("n_bpe") > chars)
                ).alias("bad_bounds"),
                "n_bpe",
                chars.alias("n_chars"),
            )
            .agg(
                F.count("*").alias("docs"),
                F.sum(F.col("bad_conserve").cast("int")).alias("bad_conserve"),
                F.sum(F.col("bad_bounds").cast("int")).alias("bad_bounds"),
                F.sum("n_bpe").alias("total_bpe"),
                F.sum("n_chars").alias("total_chars"),
            )
            .first()
        )
        assert gate["bad_conserve"] == 0, gate
        assert gate["bad_bounds"] == 0, gate
        # 2,000 merges trained on this corpus must actually compress
        assert gate["total_bpe"] < gate["total_chars"], gate

        sample = rich.filter(F.col("doc_id") % 37 == 0)
        m256 = merges[:256]
        a = bpe_encode(sample, m256, method="expr")
        b = bpe_encode(sample, m256, method="broadcast")
        mism = (
            a.alias("a")
            .join(b.alias("b"), "doc_id")
            .filter(
                (F.col("a.encoded") != F.col("b.encoded"))
                | (F.col("a.n_bpe") != F.col("b.n_bpe"))
                | (F.col("a.n_words") != F.col("b.n_words"))
            )
            .count()
        )
        n_sample = sample.count()
        assert mism == 0, f"{mism} cross-path mismatches"
        return {
            "docs": int(gate["docs"]),
            "total_bpe": int(gate["total_bpe"]),
            "total_chars": int(gate["total_chars"]),
            "compression": round(
                int(gate["total_bpe"]) / int(gate["total_chars"]), 4
            ),
            "xpath_sample": n_sample,
            "xpath_mismatch": mism,
        }

    timed("bpe_encode_2000", _bpe_encode_2000)

    # BM25 over the full corpus: the posting index is one explode+agg
    # (checkpointed); 200 queries score via broadcast — the corpus-sized
    # side must never re-shuffle per query batch.
    from strategicai_visibility_loop_etl_spark.operators.retrieval import (
        bm25_topk,
    )

    def _bm25():
        queries = corpus.filter(F.col("doc_id") % 350 == 0).select(
            F.col("doc_id").alias("query_id"),
            F.substring(F.col("text"), 1, 60).alias("query"),
        )
        out = bm25_topk(corpus, queries, k=10)
        agg = out.agg(
            F.count("*").alias("rows"),
            F.countDistinct("query_id").alias("qs"),
        ).first()
        assert agg["rows"] <= agg["qs"] * 10
        return {"result_rows": agg["rows"], "queries": agg["qs"]}

    timed("bm25", _bm25)


def _run_ann_family(spark, args, timed, report) -> None:
    from pyspark.sql import functions as F

    from strategicai_visibility_loop_etl_spark.operators.similarity import (
        ann_lsh_topk,
        embedding_neardup_pairs,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{args.sf_dir}/embeddings.parquet")
    vec_col = "embedding" if "embedding" in emb.columns else emb.columns[-1]
    id_col = "vec_id" if "vec_id" in emb.columns else emb.columns[0]
    rep = spark.range(args.emb_mult).select(F.col("id").alias("rep"))
    # Replicas perturb one coordinate per rep so they are near- but
    # not exact duplicates (exercises the verify stage for real).
    big_emb = (
        emb.crossJoin(F.broadcast(rep))
        .select(
            (F.col(id_col) + F.col("rep") * F.lit(10_000_000)).alias("vec_id"),
            F.transform(
                F.col(vec_col),
                lambda v, i: v + F.when(i == 0, F.col("rep") * 1e-4).otherwise(F.lit(0.0)),
            ).alias("embedding"),
        )
    )
    emb_path = os.path.join(args.stage, "emb")
    big_emb.write.mode("overwrite").parquet(emb_path)
    big = spark.read.parquet(emb_path)
    n_vec = big.count()
    report["n_vectors"] = n_vec
    qset = big.limit(20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    timed(
        "ann_lsh",
        lambda: {"rows": ann_lsh_topk(big, qset, k=10,
                                      stage_path=os.path.join(args.stage, "alsh")).count()},
    )
    timed(
        "ann_ivf",
        lambda: {"rows": ivf_topk(big, qset, k=10, n_centroids=64, n_probe=8,
                                  stage_path=os.path.join(args.stage, "ivf")).count()},
    )
    timed(
        "emb_neardup",
        lambda: {"pairs": embedding_neardup_pairs(
            big, threshold=0.999, max_bucket="auto",
            stage_path=os.path.join(args.stage, "end"),
        ).count()},
    )
    # Near-dup pairs must be O(n_vec * mult), never O(n_vec^2).
    assert report["emb_neardup"]["pairs"] < n_vec * args.emb_mult, report["emb_neardup"]

    # Full-corpus k-means assignment: one Lloyd pass + broadcast argmin
    # must cover every vector exactly once at 100k scale.
    from strategicai_visibility_loop_etl_spark.operators.similarity import (
        kmeans_assign,
    )

    timed(
        "kmeans_assign",
        lambda: {"rows": kmeans_assign(big, n_clusters=64, iters=1).count()},
    )
    assert report["kmeans_assign"]["rows"] == n_vec, report["kmeans_assign"]


if __name__ == "__main__":
    main()
