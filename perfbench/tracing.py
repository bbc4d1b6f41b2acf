"""Measurement from outside the program: process counters from /proc,
spans around calls into the package, and Spark's own counters (event log,
codegen and Catalyst rule meters, JVM memory pools) read over py4j.

Nothing here changes package code. Spans wrap the package's public
functions by swapping the names a module imported, for the length of one
traced operation, and each span is a Spark job group so the event log
ties every job to the call that fired it.
"""

from __future__ import annotations

import json
import os
import resource
import signal
import time
from contextlib import contextmanager

_TCK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float, str]]:
    """pid -> (ppid, cpu seconds incl. reaped children, state)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                parts = fh.read().rsplit(b")", 1)[1].split()
        except OSError:
            continue
        cpu = sum(int(x) for x in parts[11:15]) / _TCK
        out[int(d)] = (int(parts[1]), cpu, parts[0].decode())
    return out


def host_steal() -> tuple[int, int]:
    """(stolen, total) CPU jiffies of the whole machine since boot: time a
    virtual CPU was ready but the host ran something else."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def descendants(root: int, table: dict) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], list(kids.get(root, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process and every live descendant: the Spark
    JVM and the Python workers it forks."""
    root = os.getpid()
    table = _proc_table()
    return sum(table[p][1] for p in [root, *descendants(root, table)] if p in table)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def self_hwm_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def reap_descendants(timeout: float = 20.0) -> None:
    """Terminate every process this one started (directly or not) and wait
    until each has ended."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        table = _proc_table()
        live = [p for p in descendants(me, table) if table[p][2] != "Z"]
        for p in descendants(me, table):
            if table[p][2] == "Z" and table[p][0] == me:
                os.waitpid(p, os.WNOHANG)
        if not live:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for p in live:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


class JvmCounters:
    """Cumulative JVM-side counters, read over py4j."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._rules = jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
        self._mf = jvm.java.lang.management.ManagementFactory

    def read(self) -> dict:
        return {
            "codegen.compiles": int(self._codegen.METRIC_COMPILATION_TIME().getCount()),
            "catalyst.rule_s": self._rules.getCurrentMetrics().time() / 1e9,
            "jvm.jit_s": self._mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0,
            "jvm.gc_s": sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans())
            / 1000.0,
        }

    def delta(self, before: dict) -> dict:
        return {k: v - before[k] for k, v in self.read().items()}

    def heap_peak_mb(self) -> float:
        return sum(
            p.getPeakUsage().getUsed()
            for p in self._mf.getMemoryPoolMXBeans()
            if str(p.getType()) == "Heap memory"
        ) / 2**20


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory; each span
    is the Spark job group of the jobs fired inside it."""

    def __init__(self, spark, run_id: str, jvm: JvmCounters):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.jvm = jvm
        self.spans: list[dict] = []
        self.results: dict[str, object] = {}
        self._stack: list[str] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, jvm: bool = False):
        """A span; with ``jvm`` it also records the JVM counters' change
        over its length in ``rec["jvm"]``."""
        sid = f"s{len(self.spans)}"
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "start": time.time()}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(sid, name)
        before = self.jvm.read() if jvm else None
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if jvm:
                rec["jvm"] = self.jvm.delta(before)
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent, "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def timed(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span; return (result, seconds)."""
        with self.span(name) as rec:
            out = fn(*args, **kwargs)
        return out, rec["end"] - rec["start"]

    def patch(self, owner, attr: str, name: str | None = None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until ``unpatch``;
        the wrapped call's last return value lands in ``results[name]``."""
        orig = getattr(owner, attr)
        label = name or attr

        def wrapper(*args, **kwargs):
            with self.span(label):
                out = orig(*args, **kwargs)
            self.results[label] = out
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def subtree(self, sid: str) -> set[str]:
        ids = {sid}
        for s in self.spans:  # children always follow their parent
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def find(self, name: str, within: str | None = None) -> list[dict]:
        scope = self.subtree(within) if within else None
        return [s for s in self.spans if s["name"] == name and (scope is None or s["id"] in scope)]

    def total_s(self, name: str, within: str | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.find(name, within))

    def dump(self) -> str:
        return json.dumps({"run": self.run_id, "spans": self.spans})


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class EventLog:
    """Jobs, stages and tasks from a Spark event log, keyed by job group."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    self.jobs[jid] = {
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        "start": e["Submission Time"] / 1000.0,
                        "end": None,
                        "tasks": [],
                    }
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(e["Stage ID"])
                    if jid is not None:
                        self.jobs[jid]["tasks"].append(_task(e))

    def summary(self, groups: set[str], slots: int, window: tuple[float, float]) -> dict:
        jobs = [j for j in self.jobs.values() if j["group"] in groups]
        tasks = [t for j in jobs for t in j["tasks"]]
        stages = {(t["stage"], t["attempt"]) for t in tasks}
        span = max(window[1] - window[0], 1e-9)
        busy = _union_len([(max(j["start"], window[0]), min(j["end"] or window[1], window[1]))
                           for j in jobs])
        task_wall = sum(t["wall_s"] for t in tasks)
        mb = 2.0**20
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": len(tasks),
            "spark.task_run_s": sum(t["run_s"] for t in tasks),
            "spark.task_cpu_s": sum(t["cpu_s"] for t in tasks),
            "spark.gc_s": sum(t["gc_s"] for t in tasks),
            "spark.shuffle_read_mb": sum(t["sh_read"] for t in tasks) / mb,
            "spark.shuffle_write_mb": sum(t["sh_write"] for t in tasks) / mb,
            "spark.shuffle_records": sum(t["sh_records"] for t in tasks),
            "spark.spill_mb": sum(t["spill"] for t in tasks) / mb,
            "spark.failed_tasks": sum(1 for t in tasks if t["failed"]),
            "spark.slot_idle_frac": 1.0 - task_wall / (slots * span),
            "driver.nojob_s": span - busy,
        }


def _task(e: dict) -> dict:
    info = e["Task Info"]
    tm = e.get("Task Metrics") or {}
    rd = tm.get("Shuffle Read Metrics") or {}
    wr = tm.get("Shuffle Write Metrics") or {}
    return {
        "stage": e["Stage ID"],
        "attempt": e.get("Stage Attempt ID", 0),
        "failed": bool(info.get("Failed")),
        "wall_s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
        "run_s": tm.get("Executor Run Time", 0) / 1000.0,
        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
        "sh_read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
        "sh_write": wr.get("Shuffle Bytes Written", 0),
        "sh_records": wr.get("Shuffle Records Written", 0),
        "spill": tm.get("Disk Bytes Spilled", 0),
    }
