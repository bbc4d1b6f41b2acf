"""Box-sized benchmark of the visibility and corpus pipelines.

    python3 perfbench/run.py --workload vis_pages --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout. Inputs are generated from ``--seed`` into
a scratch directory under ``.perfbench_work/`` (removed on exit); the
program sees only those files. Every workload is closed-loop with one
client: one operation at a time, the next starting when the previous one
has finished and been checked.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
sequence with Spark's event log on, then one traced operation and the
layer probes, and prints the per-layer metrics. The last line of stdout
is the result object; earlier lines describe the box and the samples.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# The package is imported before anything else so that a checkout
# without it fails fast, without a result line.
from strategicai_visibility_loop_etl_spark.session import get_spark  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402
import workloads as W  # noqa: E402
T_IMPORTED = time.perf_counter()

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
BUSY_LOAD_PER_CORE = 1.0


def box_info() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    nproc = len(os.sched_getaffinity(0))
    load1 = os.getloadavg()[0]
    return {"nproc": nproc, "ram_gib": round(mem_kb / 2**20, 2), "load_avg_1m": load1,
            "busy": load1 > BUSY_LOAD_PER_CORE * nproc}


def configure_env(work: str, box: dict, trace: bool) -> None:
    """Size the session from the box and keep every file the run writes
    (governance logs, Spark scratch, event log, warehouse) under ``work``."""
    tmp = os.path.join(work, "tmp")
    mem = f"{max(1, min(8, int(box['ram_gib'] // 6)))}g"
    for d in ("tmp", "spark-local", "logs", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    conf = ["spark.ui.showConsoleProgress=false"]
    if trace:
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir=file://{os.path.join(work, 'events')}",
                 "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"]
    submit = [a for c in conf for a in ("--conf", c)]
    submit += ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData", "pyspark-shell"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(box["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "SITE_BASE": gen.SITE,
        "ETL_RUN_LOG_PATH": os.path.join(work, "logs", "runs.csv"),
        "ETL_AUTODETECT_LOG_PATH": os.path.join(work, "logs", "etl_autodetect.csv"),
    })
    os.chdir(work)


def stop_spark(spark) -> None:
    """Stop the session, end its JVM and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    tracing.reap_descendants()


def run_ops(wl, work: str, seconds: float, stats: dict) -> list[float]:
    """Closed loop: operations back to back until ``seconds`` have passed
    (at least one). Each output is checked outside the timed region."""
    walls = []
    t_loop = time.perf_counter()
    while not walls or time.perf_counter() - t_loop < seconds:
        walls.append(one_op(wl, work, stats))
    return walls


def one_op(wl, work: str, stats: dict) -> float:
    out = os.path.join(work, f"out{stats['attempted']}")
    stats["attempted"] += 1
    cpu0 = tracing.tree_cpu_s()
    t = time.perf_counter()
    try:
        wl.op(out)
        wall = time.perf_counter() - t
        stats["cpu"].append(tracing.tree_cpu_s() - cpu0)
        err = wl.check(out)
    except Exception:  # a failed operation is counted, not fatal
        wall = time.perf_counter() - t
        err = traceback.format_exc()
    if err:
        stats["failed"] += 1
        print(f"operation {stats['attempted']} failed: {err}", file=sys.stderr)
    shutil.rmtree(out, ignore_errors=True)
    return wall


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(W.WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    box = box_info()
    print("box " + json.dumps(box), flush=True)
    if box["busy"]:
        print(f"warning: busy box at start (load_avg_1m {box['load_avg_1m']:.2f} on "
              f"{box['nproc']} cores); timings may be inflated", file=sys.stderr)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "in"))
    try:
        return measure(args, box, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass


def measure(args, box: dict, work: str) -> int:
    trace = bool(args.trace)
    steal0 = tracing.host_steal()
    generate, cls = W.WORKLOADS[args.workload]
    truth = generate(os.path.join(work, "in"), args.seed)
    print(f"input {args.workload} seed={args.seed} bytes={truth['input_bytes']}", flush=True)
    configure_env(work, box, trace)

    t = time.perf_counter()
    spark = get_spark()
    setup = (T_IMPORTED - T_START) + (time.perf_counter() - t)
    stats = {"attempted": 0, "failed": 0, "cpu": []}
    try:
        wl = cls(spark, os.path.join(work, "in"), truth)
        jvm = tracing.JvmCounters(spark)
        before = jvm.read()
        first = one_op(wl, work, stats)
        cold = jvm.delta(before)
        stats["cpu"].clear()
        walls = run_ops(wl, work, args.seconds, stats)
        peak_rss = (tracing.self_hwm_mb()
                    + tracing.vm_hwm_mb(spark.sparkContext._gateway.proc.pid))
        if trace:
            tracer = tracing.Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}", jvm)
            out = os.path.join(work, "traced")
            stats["attempted"] += 1
            op = wl.trace(tracer, out)
            err = wl.check(out)
            if err:
                stats["failed"] += 1
                print(f"traced operation failed: {err}", file=sys.stderr)
            heap_peak = jvm.heap_peak_mb()
    finally:
        stop_spark(spark)

    if trace:
        # The event log is complete only once the session has stopped.
        (log_file,) = os.listdir(os.path.join(work, "events"))
        log = tracing.EventLog(os.path.join(work, "events", log_file))
        values = {
            "session.start_s": setup,
            "codegen.compiles": cold["codegen.compiles"],
            "catalyst.rule_s": cold["catalyst.rule_s"],
            "codegen.compiles_warm": op["jvm"]["codegen.compiles"],
            "catalyst.rule_s_warm": op["jvm"]["catalyst.rule_s"],
            "jvm.jit_s": op["jvm"]["jvm.jit_s"],
            "jvm.gc_s": op["jvm"]["jvm.gc_s"],
            **log.summary(tracer.subtree(op["id"]), box["nproc"], (op["start"], op["end"])),
            **wl.layers(tracer, log, op),
            "jvm.heap_peak_mb": heap_peak,
            "trace.overhead_frac": (op["end"] - op["start"]) / statistics.median(walls) - 1.0,
        }
        names = [m["name"] for m in SPEC["per_layer"]]
        print(tracer.dump(), file=sys.stderr)
    else:
        values = {"setup_s": setup, "first_run_s": first,
                  "run_s": statistics.median(walls), "cpu_s": statistics.median(stats["cpu"]),
                  "peak_rss_mb": peak_rss}
        names = [m["name"] for m in SPEC["end_to_end"]]
    # A layer the workload never calls did no work: 0.
    metrics = {n: {"value": values.get(n, 0), "unit": UNITS[n]} for n in names}
    steal1 = tracing.host_steal()
    print("samples " + json.dumps({"setup_s": setup, "first_run_s": first, "run_s": walls,
                                   "cpu_s": stats["cpu"],
                                   "host_steal_frac": (steal1[0] - steal0[0]) / (steal1[1] - steal0[1]),
                                   "failed_frac": stats["failed"] / stats["attempted"]}))
    print(json.dumps({"correct": stats["failed"] == 0, "attempted": stats["attempted"],
                      "failed": stats["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
