"""Robust tabular ingest: CSV / Excel / Parquet / JSON → string-typed DataFrame.

Spark-first counterpart of reference etl_merge.py:88-108
(``load_table_any``) and :579-601 (GA4-robust CSV reader). Everything
is read as strings (like the reference's ``dtype=str``) so downstream
normalization is predictable; coercion happens explicitly later.

CSV strategy: Spark's CSV datasource in PERMISSIVE mode with header,
comment='#' (GA4 exports carry '# ---' preamble lines), quoting and
escaping on. Delimiter sniffing — pandas' ``sep=None`` trick — has no
distributed equivalent, so we sniff on a driver-side sample of the
first file block (bounded read, not a collect of the dataset).

Path handling goes through the Hadoop FileSystem API, not ``os.path``:
existence checks, directory listing, and the sniff head-read resolve
against whatever filesystem the path's scheme names (local, hdfs://,
s3a://, …), so behavior on a real cluster matches local runs instead
of silently falling back when the driver's POSIX view can't see the
data. An unresolvable scheme raises loudly rather than defaulting.

Excel: Spark has no xlsx datasource; the bundled zip+XML reader
(``sources/xlsx.py``) parses the workbook on the driver and the rows
enter via ``spark.createDataFrame``. Excel exports are small
config-ish files in practice; the 100 TB path is CSV/parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CANDIDATE_SEPS = [",", "\t", ";", "|"]


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for whatever scheme ``path`` carries."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def _fs_read_head(spark: SparkSession, path: str, nbytes: int = 65536) -> bytes | None:
    """First ``nbytes`` of ``path`` (first non-hidden member if a
    directory) via the Hadoop FS API — works for any scheme the cluster
    has a filesystem for. Returns None when the path does not exist
    (the datasource read will surface the canonical error); any other
    failure (unknown scheme, permissions) raises loudly."""
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    if fs.getFileStatus(hpath).isDirectory():
        members = sorted(
            (st.getPath() for st in fs.listStatus(hpath)),
            key=lambda p: p.getName(),
        )
        members = [p for p in members if not p.getName().startswith((".", "_"))]
        if not members:
            return None
        hpath = members[0]
    stream = fs.open(hpath)
    try:
        return bytes(stream.readNBytes(nbytes))
    finally:
        stream.close()


def _sniff_sep(spark: SparkSession, path: str, default: str = ",") -> str:
    """Pick the delimiter that yields the most fields on the header line.

    Driver-side read of the first ~64 KiB of one file — O(1) regardless
    of dataset size, and scheme-agnostic (Hadoop FS, not ``open()``).
    """
    head_bytes = _fs_read_head(spark, path)
    if head_bytes is None:
        return default
    head = head_bytes.decode("utf-8", errors="replace")
    lines = [ln for ln in head.splitlines() if ln.strip() and not ln.startswith("#")]
    if not lines:
        return default
    header = lines[0]
    best, best_n = default, 0
    for sep in _CANDIDATE_SEPS:
        n = header.count(sep)
        if n > best_n:
            best, best_n = sep, n
    return best


def _read_csv(spark: SparkSession, path: str, sep: str | None = None) -> DataFrame:
    # multiLine (quoted embedded newlines) makes each file a single split —
    # no read parallelism. Default OFF (4× faster on a single node, and
    # the difference between parallel and serial scans on a cluster);
    # exports with embedded newlines can opt in via ETL_CSV_MULTILINE=1.
    multiline = os.getenv("ETL_CSV_MULTILINE", "").strip().lower() in {"1", "true", "yes"}
    sep = sep or _sniff_sep(spark, path)
    return (
        spark.read.option("header", True)
        .option("sep", sep)
        .option("comment", "#")
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", multiline)
        .option("mode", "PERMISSIVE")
        .option("ignoreLeadingWhiteSpace", True)
        .option("ignoreTrailingWhiteSpace", True)
        .csv(path)
    )


def _read_excel(spark: SparkSession, path: str) -> DataFrame:
    """xlsx → string-typed DataFrame (reference etl_merge.py:88-108),
    parsed by the bundled zip+XML reader (sources/xlsx.py)."""
    import io  # noqa: PLC0415

    # Whole-file fetch through the Hadoop FS API: xlsx exports are
    # small config-ish files by contract, and this makes the path
    # scheme-agnostic (an s3a:// xlsx reads the same as a local one).
    fs, hpath = _hadoop_fs(spark, path)
    stream = fs.open(hpath)
    try:
        buf = io.BytesIO(bytes(stream.readAllBytes()))
    finally:
        stream.close()
    from pyspark.sql.types import StringType, StructField, StructType  # noqa: PLC0415

    from .xlsx import read_xlsx_rows  # noqa: PLC0415

    rows = read_xlsx_rows(buf)
    if not rows:
        raise ValueError(f"xlsx has no rows: {path}")
    header = [("" if h is None else str(h)).strip() for h in rows[0]]
    width = len(header)
    schema = StructType(
        [StructField(h or f"_c{i}", StringType(), True) for i, h in enumerate(header)]
    )
    body = [tuple((r + [None] * width)[:width]) for r in rows[1:]]
    return spark.createDataFrame(body, schema)


def resolve_sibling_extension(path: str, spark: SparkSession) -> str:
    """csv↔xlsx extension fallback (reference etl_merge.py:717-731):
    when the configured file is missing but a sibling with the paired
    extension exists, use the sibling. Existence resolves through the
    Hadoop FS API, so object-store paths behave like local ones.
    """
    if _fs_exists(spark, path):
        return path
    stem, ext = os.path.splitext(path)
    swaps = {".csv": (".xlsx", ".xls"), ".xlsx": (".csv",), ".xls": (".csv",)}
    for alt in swaps.get(ext.lower(), ()):
        candidate = stem + alt
        if _fs_exists(spark, candidate):
            return candidate
    return path


def load_table_any(spark: SparkSession, path: str) -> DataFrame:
    """Load CSV/Excel/Parquet/ORC/JSON by extension; columns as strings.

    Headers are whitespace-trimmed (reference strips them per-loader).
    """
    path = resolve_sibling_extension(path, spark)
    ext = os.path.splitext(path.rstrip("/"))[1].lower()
    if ext in {".xlsx", ".xls"}:
        df = _read_excel(spark, path)
    elif ext == ".parquet":
        df = spark.read.parquet(path)
    elif ext == ".orc":
        df = spark.read.orc(path)
    elif ext in {".json", ".jsonl", ".ndjson"}:
        df = spark.read.json(path)
    else:
        df = _read_csv(spark, path)
        # Single-garbage-column fallback (reference etl_merge.py:589-594):
        # retry with sniffed separators when the header collapsed.
        if len(df.columns) == 1:
            for sep in _CANDIDATE_SEPS:
                retry = _read_csv(spark, path, sep=sep)
                if len(retry.columns) > 1:
                    df = retry
                    break
    renames = {c: c.strip() for c in df.columns if c != c.strip()}
    for old, new in renames.items():
        df = df.withColumnRenamed(old, new)
    # Canonical string typing for CSV/Excel-born frames.
    if ext not in {".parquet", ".orc", ".json", ".jsonl", ".ndjson"}:
        df = df.select([F.col(c).cast("string").alias(c) for c in df.columns])
    return df
