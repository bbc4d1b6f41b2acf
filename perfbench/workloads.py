"""The benchmark's workloads: one operation each, its output check, and
the traced operation plus layer probes that give per-layer numbers.

An operation is what one CLI invocation does after its session is up:
- vis_pages: ``run_visibility_pipeline`` on page-level exports with the
  CSV mirror and the slices on, i.e. every sink the pipeline has.
- corpus_neardup: ``run_corpus_pipeline`` with its default config (exact
  word-3-gram Jaccard near-dup + connected components), then the
  ``clean`` write, as the corpus CLI does.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

import gen
from tracing import EventLog, Tracer
from strategicai_visibility_loop_etl_spark.operators import aggregate, merge, scoring
from strategicai_visibility_loop_etl_spark.plans import corpus as corpus_plan
from strategicai_visibility_loop_etl_spark.plans import pipeline
from strategicai_visibility_loop_etl_spark.sources import loaders, readers
from strategicai_visibility_loop_etl_spark.sources.resolve import resolve_columns


def noop(df) -> None:
    """Execute the whole plan and keep nothing."""
    df.write.format("noop").mode("overwrite").save()


def _dir_stats(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def _groups(tracer: Tracer, spans: list[dict]) -> set[str]:
    out: set[str] = set()
    for s in spans:
        out |= tracer.subtree(s["id"])
    return out


def _jobs(log: EventLog, groups: set[str]) -> int:
    return sum(1 for j in log.jobs.values() if j["group"] in groups)


class VisPages:
    outputs = ("merged", "ctr_underperf", "ctr_debug", "schema_gaps")

    def __init__(self, spark, in_dir: str, truth: dict):
        self.spark = spark
        self.truth = truth
        self.paths = {s: os.path.join(in_dir, f"{s}.csv") for s in ("frog", "gsc", "ga4")}
        self.cfg = pipeline.default_config()
        self.cfg["output"].update(write_slices=True, csv_mirror=True)

    def op(self, out: str) -> None:
        pipeline.run_visibility_pipeline(
            self.spark, self.cfg, self.paths["frog"], self.paths["gsc"], self.paths["ga4"],
            out_dir=out,
        )

    def check(self, out: str) -> str | None:
        t = self.truth
        row = self.spark.read.parquet(os.path.join(out, "merged")).agg(
            F.count("*"), F.sum("clicks"), F.sum("impressions"), F.sum("sessions"),
            F.count("clicks"), F.count("sessions"),
        ).first()
        want = [t["merged_rows"], t["clicks"], t["impressions"], t["sessions"],
                t["match_gsc"], t["match_ga4"]]
        if list(row) != want:
            return f"merged (rows, clicks, impressions, sessions, gsc, ga4) {list(row)} != {want}"
        missing = [d for o in self.outputs for d in (o, f"{o}_csv")
                   if not os.path.exists(os.path.join(out, d, "_SUCCESS"))]
        return f"missing outputs {missing}" if missing else None

    def _load(self, src: str):
        fn = {"frog": loaders.load_frog, "gsc": loaders.load_gsc, "ga4": loaders.load_ga4}[src]
        return fn(self.spark, self.paths[src], gen.SITE)

    def traced_op(self, tracer: Tracer, out: str) -> dict:
        """One operation with every layer call spanned; returns the op span."""
        for attr in ("load_frog", "load_gsc", "load_ga4"):
            tracer.patch(pipeline, attr, f"sources.{attr}")
        tracer.patch(loaders, "load_table_any", "sources.load_table_any")
        for attr in ("agg_gsc", "agg_ga4"):
            tracer.patch(pipeline, attr, f"aggregate.{attr}")
        for attr in ("merge_visibility", "derive_metrics", "add_run_metadata"):
            tracer.patch(pipeline, attr, f"merge.{attr}")
        tracer.patch(pipeline, "score_expected_ctr", "scoring.score_expected_ctr")
        for attr in ("anomaly_ctr_underperf", "ctr_candidates", "schema_gaps"):
            tracer.patch(pipeline, attr, f"anomaly.{attr}")
        tracer.patch(pipeline, "format_csv_mirror", "pipeline.format_csv_mirror")
        tracer.patch(pipeline, "append_run_log", "governance.append_run_log")
        tracer.patch(DataFrameWriter, "parquet", "pipeline.write")
        tracer.patch(DataFrameWriter, "csv", "pipeline.write")
        try:
            with tracer.span("op", jvm=True) as op:
                self.op(out)
        finally:
            tracer.unpatch()
        return op

    def probes(self, tracer: Tracer) -> dict:
        """Each layer's output executed into a noop sink, inputs first, so a
        layer's self time is its probe minus the probes of its inputs."""
        t = {}
        for src, path in self.paths.items():
            _, t[f"read.{src}"] = tracer.timed(f"probe.read.{src}",
                                               lambda p=path: noop(readers.load_table_any(self.spark, p)))
            _, t[f"load.{src}"] = tracer.timed(f"probe.load.{src}", lambda s=src: noop(self._load(s)))
        _, t["agg.gsc"] = tracer.timed("probe.agg.gsc",
                                       lambda: noop(aggregate.agg_gsc(self._load("gsc"))))
        _, t["agg.ga4"] = tracer.timed("probe.agg.ga4",
                                       lambda: noop(aggregate.agg_ga4(self._load("ga4"))))

        def merged():
            return merge.derive_metrics(merge.merge_visibility(
                self._load("frog"), aggregate.agg_gsc(self._load("gsc")),
                aggregate.agg_ga4(self._load("ga4"))))

        # The pipeline builds its plan with constraint propagation off
        # (plans/pipeline.py); the merge and score probes must see the
        # same plan shape.
        key = "spark.sql.constraintPropagation.enabled"
        prev = self.spark.conf.get(key, "true")
        self.spark.conf.set(key, "false")
        try:
            _, t["merge"] = tracer.timed("probe.merge", lambda: noop(merged()))
            _, t["score"] = tracer.timed(
                "probe.score", lambda: noop(scoring.score_expected_ctr(merged(), self.cfg)))
        finally:
            self.spark.conf.set(key, prev)
        return t

    def trace(self, tracer: Tracer, out: str) -> dict:
        """Traced op, layer probes and row counts while the session is up;
        returns the op span. Figures that need the event log come later,
        from ``layers``."""
        op = self.traced_op(tracer, out)
        t = self.probes(tracer)
        read_s = sum(t[f"read.{s}"] for s in self.paths)
        load_s = sum(t[f"load.{s}"] for s in self.paths)
        with tracer.span("counts"):
            raw = [readers.load_table_any(self.spark, p) for p in self.paths.values()]
            urls = [df.select(F.col(resolve_columns(df, ["url"])["url"]).alias("u")) for df in raw]
            norm = [self._load(s).select(F.col("url").alias("u")) for s in self.paths]
            union = lambda dfs: dfs[0].unionByName(dfs[1]).unionByName(dfs[2])  # noqa: E731
            g, a = self._load("gsc"), self._load("ga4")
            m = self.spark.read.parquet(os.path.join(out, "merged")).agg(
                F.count("*"), F.count("clicks"), F.count("sessions")).first()
            size, files = _dir_stats(out)
            self.figures = {
                "sources.read_s": read_s,
                "sources.load_s": load_s,
                "sources.rows_in": sum(df.count() for df in raw),
                "functions.normalize_s": load_s - read_s,
                "functions.url_collapse_ratio":
                    union(norm).distinct().count() / union(urls).distinct().count(),
                "aggregate.s": (t["agg.gsc"] + t["agg.ga4"]) - (t["load.gsc"] + t["load.ga4"]),
                "aggregate.rows_in": g.count() + a.count(),
                "aggregate.rows_out": aggregate.agg_gsc(g).count() + aggregate.agg_ga4(a).count(),
                "merge.s": t["merge"] - (t["load.frog"] + t["agg.gsc"] + t["agg.ga4"]),
                "merge.match_gsc": m[1] / m[0],
                "merge.match_ga4": m[2] / m[0],
                "score.s": t["score"] - t["merge"],
                "anomaly.rows_out":
                    self.spark.read.parquet(os.path.join(out, "ctr_underperf")).count(),
                "pipeline.write_s": tracer.total_s("pipeline.write", op["id"]),
                "pipeline.bytes_written_mb": size / 2**20,
                "pipeline.write_amp": size / self.truth["input_bytes"],
                "pipeline.files_written": files,
            }
        return op

    def layers(self, tracer: Tracer, log: EventLog, op: dict) -> dict:
        loads = [s for a in ("load_frog", "load_gsc", "load_ga4")
                 for s in tracer.find(f"sources.{a}", op["id"])]
        # The first write is the _stage/merge barrier: it runs load ->
        # aggregate -> merge, so its shuffle is the merge plan's.
        stage = tracer.find("pipeline.write", op["id"])[:1]
        return {
            **self.figures,
            "sources.build_jobs": _jobs(log, _groups(tracer, loads)),
            "merge.shuffle_mb": log.summary(_groups(tracer, stage), 1, (op["start"], op["end"]))
            ["spark.shuffle_write_mb"],
        }


class CorpusNeardup:
    def __init__(self, spark, in_dir: str, truth: dict):
        self.spark = spark
        self.truth = truth
        self.path = os.path.join(in_dir, "docs.parquet")

    def op(self, out: str) -> None:
        outs = corpus_plan.run_corpus_pipeline(self.spark.read.parquet(self.path))
        outs["clean"].write.mode("overwrite").parquet(os.path.join(out, "clean"))

    def check(self, out: str) -> str | None:
        ids = sorted(r[0] for r in self.spark.read.parquet(os.path.join(out, "clean"))
                     .select("doc_id").collect())
        want = self.truth["clean_ids"]
        if ids != want:
            return f"clean ids differ: {len(ids)} kept, {len(want)} expected"
        return None

    def trace(self, tracer: Tracer, out: str) -> dict:
        """Traced op (the same calls as ``op``), probes and counts; returns
        the op span."""
        for attr, name in (("collapse_exact", "clusters.collapse_exact"),
                           ("ngram_jaccard_pairs", "dedup.ngram_jaccard_pairs"),
                           ("connected_components", "clusters.connected_components"),
                           ("cluster_representatives", "clusters.cluster_representatives")):
            tracer.patch(corpus_plan, attr, name)
        try:
            with tracer.span("op", jvm=True) as op:
                docs = self.spark.read.parquet(self.path)
                outs, _ = tracer.timed("corpus.run_corpus_pipeline",
                                       corpus_plan.run_corpus_pipeline, docs)
                tracer.timed("corpus.write_clean", lambda: outs["clean"].write.mode("overwrite")
                             .parquet(os.path.join(out, "clean")))
        finally:
            tracer.unpatch()
        pairs = tracer.results["dedup.ngram_jaccard_pairs"]
        comp = tracer.results["clusters.connected_components"]
        _, read_s = tracer.timed(
            "probe.read.docs", lambda: noop(readers.load_table_any(self.spark, self.path)))
        _, pairs_s = tracer.timed("probe.pairs", lambda: noop(pairs))
        _, annotate_s = tracer.timed("probe.annotate", lambda: noop(outs["annotated"]))
        with tracer.span("counts"):
            self.figures = {
                "sources.read_s": read_s,
                "sources.rows_in": self.spark.read.parquet(self.path).count(),
                "corpus.build_s": tracer.total_s("corpus.run_corpus_pipeline", op["id"]),
                "corpus.exec_s": tracer.total_s("corpus.write_clean", op["id"]),
                "dedup.pairs_s": pairs_s,
                "dedup.pairs_out": pairs.count(),
                "clusters.cc_s": tracer.total_s("clusters.connected_components", op["id"]),
                "clusters.components": comp.select("component").distinct().count(),
                "textprep.annotate_s": annotate_s,
            }
        return op

    def layers(self, tracer: Tracer, log: EventLog, op: dict) -> dict:
        probe = tracer.find("probe.pairs")
        # Shuffle records of the pair build = candidate volume before the
        # Jaccard filter.
        cand = log.summary(_groups(tracer, probe), 1, (op["start"], op["end"]))
        records = cand["spark.shuffle_records"]
        return {
            **self.figures,
            "corpus.build_jobs": _jobs(log, _groups(
                tracer, tracer.find("corpus.run_corpus_pipeline", op["id"]))),
            "dedup.shuffle_records": records,
            "dedup.keep_ratio": self.figures["dedup.pairs_out"] / records if records else 0.0,
            "clusters.cc_jobs": _jobs(log, _groups(
                tracer, tracer.find("clusters.connected_components", op["id"]))),
        }


WORKLOADS = {"vis_pages": (gen.gen_vis_pages, VisPages),
             "corpus_neardup": (gen.gen_corpus, CorpusNeardup)}
