"""SparkSession factory tuned for this engine — the one every entry
point (CLI, bench, tests, oracle harness, tools) builds its session
through.

Local-mode defaults mirror what we'd set fleet-wide on a real cluster:
AQE on (runtime re-planning, skew-join handling, partition coalescing),
shuffle partitions sized to cores rather than the 200 default, Arrow on
for the few pandas-UDF boundaries, UTC session timezone so results are
comparable against UTC-naive oracles.

Cores and driver memory are sized from the machine unless
``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` override them. The
generated-class cache holds 1,000 classes instead of Spark's 100, and
whole-stage class names carry no stage id, so a repeated operation
reuses the classes it compiled.

When ``get_spark`` launches the driver JVM itself, it starts it from a
JDK dynamic class-data (AppCDS) archive, which cuts JVM start and
class loading. The archive lives in
``${XDG_CACHE_HOME:-~/.cache}/strategicai_visibility_loop_etl_spark/cds/``
and is keyed by the ``java`` binary and the jars in ``$SPARK_HOME/jars``
(path, size and mtime; no content hashing) and by the cache path. The
first session on a box asks its JVM to write the archive at exit; an
``atexit`` hook ends that JVM, waits for it and publishes the archive
only if it exited cleanly, so no session maps a partly written file.
The published name records the file's size, and a file whose size no
longer matches (truncated since) counts as absent: that session dumps
a fresh one instead of crashing its JVM on it. Every later session
maps it. If a driver JVM that maps a published archive still fails to
start (the file was damaged in place), that archive is deleted and the
launch is retried once as a first session would, dumping a fresh one.
The archive is skipped, and the launch is exactly as without it, when
the Spark conf dir holds anything but ``*.template`` files, when
``HADOOP_CONF_DIR``/``YARN_CONF_DIR``/``SPARK_DIST_CLASSPATH`` add to
the classpath, or when the cache dir cannot be created. Delete the
cache dir to reset it.

The same launch gives the driver JVM two JIT compiler threads (one C1,
one C2) instead of HotSpot's three on a 4-core box: the compilers
otherwise take CPU from the task threads on every fresh JVM, which a
one-shot CLI pays on every call. A launch left to Spark keeps Spark's
own options, this one included.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shlex
import shutil
import subprocess
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# A rejected archive would otherwise print a [warning][cds,dynamic]
# line to the JVM's stdout, which is the CLI's stdout.
_CDS_QUIET = ("-Xlog:cds=off", "-Xlog:cds+dynamic=off")
# One C1 and one C2 compiler thread, the fewest tiered compilation
# allows. On 4 cores HotSpot starts 3 (1 C1 + 2 C2), which compete with
# the local[4] task threads: the two C2 threads burned 5-7 s of CPU in
# each warm visibility operation of 10-14 s process CPU. With one, 2.5-4
# s; `vis_pages` cpu_s fell 27% and peak RSS 24% (compiler arenas), and
# run_s 9%. A long session warms up more slowly (tests/test_oracle.py
# +8%). C1 alone (TieredStopAtLevel=1) cut CPU ~30% but made warm
# operations ~15% slower. A caller's --driver-java-options comes after
# these and can override it.
_JIT_THREADS = "-XX:CICompilerCount=2"
# Spark's launcher puts each of these on the driver classpath.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
# A published archive is ``<key>.<size>.jsa``, its size in bytes at
# publish; a dumping JVM writes ``<key>.<pid>.tmp``.
_ARCHIVE_NAME = re.compile(r"([0-9a-f]{16})\.(\d+)\.jsa")
_TEMP_NAME = re.compile(r"([0-9a-f]{16})\.(\d+)\.tmp")
# Generated classes are cached by source text. Spark keeps 100 by
# default, fewer than one corpus operation uses (about 103), so every
# warm operation recompiled about half of them; a visibility run's cold
# operation compiles 82. Whole-stage class names drop the stage id,
# which follows the order adaptive execution plans a query's stages in,
# so the same code no longer compiles again under another name.
_CODEGEN_CACHE_ENTRIES = 1000


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPU affinity mask (``nproc``)."""
    env = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or "0")
    if env:
        return env
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 4


def default_driver_mem() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half of physical RAM capped at 8g."""
    half_mib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**21
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{min(8192, half_mib)}m"


class _Archive(NamedTuple):
    """Where a launched driver JVM maps or dumps its class-data archive."""

    conf_dir: str  # empty dir that stands in for SPARK_CONF_DIR at launch
    path: str | None  # the published archive to map, ``<key>.<size>.jsa``
    dump_to: str | None  # ``<key>.<pid>.tmp`` when there is none to map

    @property
    def java_options(self) -> str:
        use = (f"-XX:ArchiveClassesAtExit={self.dump_to}" if self.dump_to
               else f"-XX:SharedArchiveFile={self.path}")
        return " ".join(shlex.quote(o) for o in (use, *_CDS_QUIET, _JIT_THREADS))


def _class_data_archive() -> _Archive | None:
    """The archive for a driver JVM launched now, or None to launch it
    exactly as Spark would without one.

    The JDK maps an archive only under the classpath it was dumped
    with, and refuses to dump one while a non-empty directory is on it.
    Spark's conf dir is on the driver classpath, so the JVM is launched
    with an empty stand-in, which is equivalent only while the real
    conf dir holds nothing but templates and the stand-in stays empty.
    Creating the cache dir here also creates that stand-in.
    """
    if any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return None
    home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    if os.path.isdir(conf) and not all(n.endswith(".template") for n in os.listdir(conf)):
        return None
    # the java binary spark-class runs
    java = os.environ.get("JAVA_HOME")
    java = os.path.join(java, "bin", "java") if java else shutil.which("java")
    if java is None:
        return None
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache"),
        "strategicai_visibility_loop_etl_spark", "cds",
    )
    if os.pathsep in cache:  # it would split the classpath entry
        return None
    conf_dir = os.path.join(cache, "conf")
    try:
        st = os.stat(java)
        # The stand-in's path is on the recorded classpath too: a cache
        # reached under another path gets its own key, not a rejected archive.
        stats = [conf_dir, (os.path.realpath(java), st.st_size, st.st_mtime_ns)]
        with os.scandir(os.path.join(home, "jars")) as it:
            stats += sorted((e.name, e.stat().st_size, e.stat().st_mtime_ns)
                            for e in it if e.name.endswith(".jar"))
        os.makedirs(cache, mode=0o700, exist_ok=True)
        os.makedirs(conf_dir, mode=0o700, exist_ok=True)
        if os.listdir(conf_dir):
            return None
    except OSError:
        return None
    key = hashlib.sha256(repr(stats).encode()).hexdigest()[:16]
    try:
        for name in os.listdir(cache):
            m = _ARCHIVE_NAME.fullmatch(name)
            # A file cut short since its publish (the JVM would crash
            # mapping it) counts as absent.
            if m and m.group(1) == key:
                path = os.path.join(cache, name)
                if os.path.getsize(path) == int(m.group(2)):
                    return _Archive(conf_dir, path, None)
    except OSError:
        pass
    return _Archive(conf_dir, None, os.path.join(cache, f"{key}.{os.getpid()}.tmp"))


def _pid_gone(pid: int) -> bool:
    if pid == os.getpid():  # this process is exiting
        return True
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return True
    except PermissionError:
        pass
    return False


def _publish_archive(proc: subprocess.Popen, archive: _Archive) -> None:
    """At exit: end the gateway JVM (it exits on EOF from its parent)
    and wait while it writes its archive, publish the archive under its
    size only if the JVM exited cleanly, then delete other keys'
    archives, this key's other ones once one is published, and temps
    whose owner process is gone. Files not named as this module names
    them are left alone."""
    if proc.poll() is None:
        proc.stdin.close()
        try:
            proc.wait(timeout=120)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    cache, temp = os.path.split(archive.dump_to)
    key = _TEMP_NAME.fullmatch(temp).group(1)
    published = None
    try:
        if proc.returncode == 0 and os.path.isfile(archive.dump_to):
            published = f"{key}.{os.path.getsize(archive.dump_to)}.jsa"
            os.replace(archive.dump_to, os.path.join(cache, published))
        names = os.listdir(cache)
    except OSError:  # the cache dir was deleted meanwhile
        return
    for name in names:
        jsa, tmp = _ARCHIVE_NAME.fullmatch(name), _TEMP_NAME.fullmatch(name)
        superseded = published is not None and name != published
        stale = (
            jsa is not None and (jsa.group(1) != key or superseded)
            or tmp is not None and _pid_gone(int(tmp.group(2)))
        )
        if stale:
            try:
                os.remove(os.path.join(cache, name))
            except OSError:
                pass


def _launch_with_archive(builder: SparkSession.Builder, archive: _Archive) -> SparkSession:
    # Appended to any --driver-java-options, not in place of them.
    builder = builder.config("spark.driver.defaultJavaOptions", archive.java_options)
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = archive.conf_dir
    try:
        return builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def get_spark(app_name: str = "strategicai_visibility_loop_etl_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The testdata's events.parquet carries TIMESTAMP(NANOS), which
        # Spark rejects unless nanos are read as long.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", default_driver_mem())
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    archive = _class_data_archive() if launches else None
    if archive is None:
        spark = builder.getOrCreate()
    else:
        try:
            spark = _launch_with_archive(builder, archive)
        except PySparkRuntimeError as e:
            if archive.dump_to is not None or e.getCondition() != "JAVA_GATEWAY_EXITED":
                raise
            # A published archive the JVM cannot map crashes it at
            # start; drop it and launch as a first session would.
            try:
                os.remove(archive.path)
            except FileNotFoundError:
                pass
            archive = _class_data_archive()
            if archive is None:
                raise
            spark = _launch_with_archive(builder, archive)
        if archive.dump_to is not None:
            atexit.register(_publish_archive, SparkContext._gateway.proc, archive)
    spark.sparkContext.setLogLevel("ERROR")
    return spark
