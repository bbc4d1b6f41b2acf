"""The session factory is the only place a SparkSession is configured,
and its defaults are sized from the machine it runs on. Every
``localCheckpoint`` uses Spark's default, eager form. When the factory
launches the driver JVM, it maps or dumps a class-data archive only
where that cannot change what the JVM loads; those decisions are
checked here without a JVM."""

from __future__ import annotations

import ast
import os
import re
from types import SimpleNamespace

import pytest

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


# -- the driver JVM's class-data archive (decided without a JVM) --------

_NO_CLASSPATH_ENV = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
_PKG = "strategicai_visibility_loop_etl_spark"


@pytest.fixture()
def fake_box(tmp_path, monkeypatch):
    """A Spark home whose conf dir holds only templates, a JDK and an
    empty cache home, all under ``tmp_path``."""
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    (home / "jars").mkdir()
    for name in ("a.jar", "b.jar"):
        (home / "jars" / name).write_bytes(b"jar")
    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_bytes(b"java")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in _NO_CLASSPATH_ENV:
        monkeypatch.delenv(var, raising=False)
    return SimpleNamespace(home=home, jdk=jdk, cds=tmp_path / "cache" / _PKG / "cds")


def _launch(monkeypatch):
    """Run ``get_spark`` against a builder that records, instead of
    launching a JVM, its conf and the environment it would launch
    under. Returns (conf, launch env, atexit registrations)."""
    from strategicai_visibility_loop_etl_spark import session

    seen = SimpleNamespace(conf={}, env=None, atexit=[])

    class Builder:
        def master(self, _):
            return self

        appName = master

        def config(self, key, value):
            seen.conf[key] = value
            return self

        def getOrCreate(self):
            seen.env = dict(os.environ)
            session.SparkContext._gateway = SimpleNamespace(proc="gateway proc")
            return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))

    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=Builder()))
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "atexit", SimpleNamespace(register=lambda *a: seen.atexit.append(a)))
    before = dict(os.environ)
    session.get_spark()
    assert dict(os.environ) == before  # the caller's environment is restored
    return seen


@pytest.mark.parametrize("blocker", ["conf_file", "hadoop_conf_dir"])
def test_archive_skipped_when_something_joins_the_classpath(fake_box, monkeypatch, blocker):
    from strategicai_visibility_loop_etl_spark.session import _class_data_archive

    if blocker == "conf_file":
        (fake_box.home / "conf" / "spark-defaults.conf").write_text("spark.a 1\n")
    else:
        monkeypatch.setenv("HADOOP_CONF_DIR", str(fake_box.home / "conf"))
    assert _class_data_archive() is None
    seen = _launch(monkeypatch)
    assert "spark.driver.defaultJavaOptions" not in seen.conf
    assert seen.env == dict(os.environ) and seen.atexit == []
    assert not fake_box.cds.exists()


def test_archive_fresh_cache_dumps_to_a_per_pid_temp(fake_box, monkeypatch):
    from strategicai_visibility_loop_etl_spark.session import _class_data_archive, _publish_archive

    archive = _class_data_archive()
    assert archive.dump_to == f"{archive.path[:-len('.jsa')]}.{os.getpid()}.tmp"
    assert os.path.dirname(archive.path) == str(fake_box.cds)
    assert os.stat(fake_box.cds).st_mode & 0o777 == 0o700
    assert os.listdir(archive.conf_dir) == []
    assert archive.java_options == (
        f"-XX:ArchiveClassesAtExit={archive.dump_to} -Xlog:cds=off -Xlog:cds+dynamic=off"
    )
    seen = _launch(monkeypatch)
    assert seen.conf["spark.driver.defaultJavaOptions"] == archive.java_options
    assert seen.env["SPARK_CONF_DIR"] == archive.conf_dir
    assert seen.atexit == [(_publish_archive, "gateway proc", archive)]


def test_archive_published_is_mapped(fake_box, monkeypatch):
    from strategicai_visibility_loop_etl_spark.session import _class_data_archive

    path = _class_data_archive().path
    with open(path, "wb") as fh:
        fh.write(b"archive")
    archive = _class_data_archive()
    assert archive.path == path and archive.dump_to is None
    assert archive.java_options == f"-XX:SharedArchiveFile={path} -Xlog:cds=off -Xlog:cds+dynamic=off"
    seen = _launch(monkeypatch)
    assert seen.conf["spark.driver.defaultJavaOptions"] == archive.java_options
    assert seen.env["SPARK_CONF_DIR"] == archive.conf_dir
    assert seen.atexit == []  # nothing to publish


@pytest.mark.parametrize("touched", ["jars/b.jar", "jdk/bin/java", "cache"])
def test_archive_key_follows_jdk_jars_and_cache_path(fake_box, tmp_path, monkeypatch, touched):
    from strategicai_visibility_loop_etl_spark.session import _class_data_archive

    before = os.path.basename(_class_data_archive().path)
    if touched == "cache":
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "moved"))
    else:
        path = (fake_box.home if touched.startswith("jars") else fake_box.jdk.parent) / touched
        st = os.stat(path)
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert os.path.basename(_class_data_archive().path) != before


def test_archive_skipped_when_cache_is_blocked(fake_box, tmp_path, monkeypatch):
    from strategicai_visibility_loop_etl_spark.session import _class_data_archive

    blocked = tmp_path / "plain_file"
    blocked.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocked))
    assert _class_data_archive() is None
    seen = _launch(monkeypatch)
    assert "spark.driver.defaultJavaOptions" not in seen.conf
    assert seen.env == dict(os.environ) and seen.atexit == []


@pytest.mark.parametrize("exit_code", [0, 1])
def test_archive_published_only_after_a_clean_exit(fake_box, exit_code):
    """The publish hook ends the gateway (EOF on its stdin), waits for
    it, renames its temp only on exit 0, and removes other keys'
    archives and temps whose owner is gone; a live owner's temp stays."""
    import subprocess
    import sys

    from strategicai_visibility_loop_etl_spark.session import _class_data_archive, _publish_archive

    archive = _class_data_archive()
    cds = fake_box.cds
    dead = subprocess.Popen([sys.executable, "-c", ""])
    dead.wait(timeout=60)
    (cds / "0123456789abcdef.jsa").write_bytes(b"old key")
    (cds / f"0123456789abcdef.{dead.pid}.tmp").write_bytes(b"dead owner")
    (cds / f"0123456789abcdef.{os.getppid()}.tmp").write_bytes(b"live owner")
    # stands in for the gateway JVM: it writes its archive once its
    # parent closes stdin
    gateway = subprocess.Popen(
        [sys.executable, "-c",
         "import sys; sys.stdin.read(); open(sys.argv[1], 'wb').write(b'jsa'); "
         "sys.exit(int(sys.argv[2]))", archive.dump_to, str(exit_code)],
        stdin=subprocess.PIPE,
    )
    _publish_archive(gateway, archive)
    assert gateway.returncode == exit_code
    left = sorted(os.listdir(cds))
    published = [os.path.basename(archive.path)] if exit_code == 0 else []
    assert left == sorted(["conf", f"0123456789abcdef.{os.getppid()}.tmp", *published])
