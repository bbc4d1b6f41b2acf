"""Per-stage profile of registered queries (optimization rounds).

Runs each named query against $SPARK_GRAFT_SF_DIR with the noop sink
(bench methodology), then pulls stage-level metrics from the local
Spark UI REST API so the time can be attributed to scans / shuffles /
Python boundaries instead of guessed. Prints, per query:

    wall seconds, then each stage >= 50 ms: executorRunTime,
    executorCpuTime, shuffle read/write bytes, input bytes, task count
    and the stage's name line (which names the operator).

Usage:
    python tools/profile_query.py q42_dedup_clusters qx65_winnowing ...
    python tools/profile_query.py --reps 2 q23_minhash_lsh
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _api(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=10) as r:
        return json.load(r)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=1,
                    help="timed reps per query (stages shown for the last)")
    ns = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pyspark.sql import SparkSession

    from strategicai_visibility_loop_etl_spark.session import default_cpus, default_driver_mem

    cpus = default_cpus()
    # Own builder: the stage metrics come from the live UI REST API, which get_spark turns off.
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile-query")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", default_driver_mem())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    import __spark_entry__ as entrymod

    qs = dict(entrymod.queries())
    qs.update(entrymod.extra_queries())

    # Warmup (bench parity).
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("double")
    def _warm(x):
        return x.astype("float64")

    spark.range(0, 32_000, 1, cpus).select(_warm(col("id"))).write.format(
        "noop"
    ).mode("overwrite").save()

    app_id = spark.sparkContext.applicationId
    for name in ns.queries:
        fn = qs[name]
        best = None
        for _ in range(ns.reps):
            before = {s["stageId"] for s in _api(ui, f"/api/v1/applications/{app_id}/stages")}
            spark.sparkContext.setJobDescription(name)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            spark.sparkContext.setJobDescription(None)
            if best is None or dt < best:
                best = dt
        stages = [
            s for s in _api(ui, f"/api/v1/applications/{app_id}/stages")
            if s["stageId"] not in before and s["status"] in ("COMPLETE", "SKIPPED")
        ]
        stages.sort(key=lambda s: -(s.get("executorRunTime") or 0))
        print(f"\n=== {name}  wall={best:.2f}s  stages={len(stages)} "
              f"sum(executorRunTime)={sum(s.get('executorRunTime') or 0 for s in stages)/1000:.1f}s")
        for s in stages:
            rt = (s.get("executorRunTime") or 0) / 1000
            if rt < 0.05:
                continue
            cpu = (s.get("executorCpuTime") or 0) / 1e9
            line = s.get("name", "").splitlines()[0][:100]
            print(
                f"  stage {s['stageId']:>4} run={rt:7.2f}s cpu={cpu:7.2f}s "
                f"tasks={s.get('numCompleteTasks', 0):>3} "
                f"in={(s.get('inputBytes') or 0)/1e6:8.1f}MB "
                f"sr={(s.get('shuffleReadBytes') or 0)/1e6:8.1f}MB "
                f"sw={(s.get('shuffleWriteBytes') or 0)/1e6:8.1f}MB  {line}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
