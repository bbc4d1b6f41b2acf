"""The session factory is the only place a SparkSession is configured,
and its defaults are sized from the machine it runs on. Every
``localCheckpoint`` uses Spark's default, eager form."""

from __future__ import annotations

import ast
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


def _py_sources():
    """(repo-relative path, source) for every .py file in the repo."""
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if not d.startswith(".") and d != "__pycache__"]
        for name in filenames:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, ROOT), fh.read()


def test_only_the_factory_builds_a_session():
    offenders = [
        rel
        for rel, src in _py_sources()
        if rel not in BUILDER_ALLOWED and _BUILDER.search(src)
    ]
    assert offenders == [], (
        "build the session with strategicai_visibility_loop_etl_spark.session.get_spark"
    )


def test_every_local_checkpoint_is_eager():
    """One checkpoint policy: ``df.localCheckpoint()`` with no argument.
    A lazy checkpoint still runs the shuffle and broadcast stages beneath
    it when the frame is built, and a lazily checkpointed frame shared by
    a shuffle and a broadcast can deadlock the DAG scheduler."""
    offenders = [
        f"{rel}:{node.lineno}"
        for rel, src in _py_sources()
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "localCheckpoint"
        and (node.args or node.keywords)
    ]
    assert offenders == [], "call localCheckpoint() with no argument"


def test_registry_stages_only_what_an_oracle_reads():
    """A registry query writes a table to parquet only when an oracle's
    DuckDB SQL reads it back through ``read_parquet('{_SIG_STAGE}/…')``;
    every other barrier is the operator's own ``localCheckpoint()``."""
    with open(os.path.join(ROOT, "__spark_entry__.py"), encoding="utf-8") as fh:
        src = fh.read()
    read = set(re.findall(r"read_parquet\('\{_SIG_STAGE\}/([^/{']+)", src))
    offenders = [
        f"__spark_entry__.py:{src.count(chr(10), 0, m.start()) + 1} {m.group(1)}"
        for m in re.finditer(r'stage_path=f"\{_SIG_STAGE\}/([^/"]+)', src)
        if m.group(1) not in read
    ]
    assert offenders == [], "no oracle reads these staged tables"


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
