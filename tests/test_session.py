"""The session factory is the only place a SparkSession is configured,
and its defaults are sized from the machine it runs on."""

from __future__ import annotations

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The one factory, plus the profiler, which needs the live UI that the
# factory turns off.
BUILDER_ALLOWED = {
    os.path.join("strategicai_visibility_loop_etl_spark", "session.py"),
    os.path.join("tools", "profile_query.py"),
}
_BUILDER = re.compile(r"SparkSession\s*\.\s*[Bb]uilder\b")


def test_only_the_factory_builds_a_session():
    offenders = []
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if not d.startswith(".") and d != "__pycache__"]
        for name in filenames:
            if not name.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, name), ROOT)
            if rel in BUILDER_ALLOWED:
                continue
            with open(os.path.join(ROOT, rel), encoding="utf-8") as fh:
                if _BUILDER.search(fh.read()):
                    offenders.append(rel)
    assert offenders == [], (
        "build the session with strategicai_visibility_loop_etl_spark.session.get_spark"
    )


def test_defaults_come_from_the_box(monkeypatch):
    from strategicai_visibility_loop_etl_spark.session import default_cpus, default_driver_mem

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    mem = default_driver_mem()
    with open("/proc/meminfo") as fh:
        total_kib = int(next(ln for ln in fh if ln.startswith("MemTotal:")).split()[1])
    assert mem.endswith("m") and int(mem[:-1]) == min(8192, total_kib // 2048)

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert default_cpus() == 3
    assert default_driver_mem() == "2g"
