"""Robust tabular ingest: CSV / Excel / Parquet / JSON → string-typed DataFrame.

Spark-first counterpart of reference etl_merge.py:88-108
(``load_table_any``) and :579-601 (GA4-robust CSV reader). Everything
is read as strings (like the reference's ``dtype=str``) so downstream
normalization is predictable; coercion happens explicitly later.

CSV strategy: Spark's CSV datasource in PERMISSIVE mode with header,
comment='#' (GA4 exports carry '# ---' preamble lines), quoting and
escaping on. Delimiter sniffing — pandas' ``sep=None`` trick — has no
distributed equivalent, so we sniff on a driver-side sample of the
first file block (bounded read, not a collect of the dataset). The
header is parsed from that same sample, as Spark would parse it, and
passed as an all-string schema, so building the frame runs no
header-inference job.

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

import csv
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

_CANDIDATE_SEPS = [",", "\t", ";", "|"]
_HEAD_BYTES = 65536
# Every char up to ' ', which Spark (Scala ``trim``) and its CSV parser
# treat as whitespace.
_BLANK = "".join(map(chr, range(33)))


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for whatever scheme ``path`` carries."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def _fs_read_head(spark: SparkSession, path: str, nbytes: int = _HEAD_BYTES) -> bytes | None:
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


def _safe_header(fields: list[str]) -> list[str]:
    """Column names as Spark's ``CSVUtils.makeSafeHeader`` makes them
    from a header record (case-insensitive analysis): an empty name
    becomes ``_c<i>``, a name that repeats ignoring case ``<name><i>``."""
    lower = [f.lower() for f in fields]
    dups = {f for f in lower if lower.count(f) > 1}
    return [
        f"_c{i}" if not f else f"{f}{i}" if f.lower() in dups else f
        for i, f in enumerate(fields)
    ]


def _sniff_header(head: bytes | None, multiline: bool) -> tuple[str, list[str] | None]:
    """(separator, column names) from the first bytes of a CSV file.

    The header is the first line that is neither blank nor a ``#``
    comment (Spark's ``filterCommentAndEmpty``), parsed with the reader's
    quote, escape and trim rules; the separator is the candidate that
    parses it into the most fields. The names are None when the head
    holds no header, or when the head fills its whole read and the
    header could run past its end: Spark then reads the header itself.
    """
    if head is None:
        return ",", None
    # Spark drops a UTF-8 byte-order mark and splits lines at \n, \r
    # and \r\n; it trims every char up to ' ' when testing for blanks.
    lines = re.split(r"\r\n?|\n", head.decode("utf-8-sig", errors="replace"))
    start = next((i for i, ln in enumerate(lines) if ln.strip(_BLANK) and not ln.startswith("#")), None)
    if start is None:
        return ",", None
    # A multiLine read lets a quoted header run on past its line.
    rest = [ln + "\n" for ln in lines[start:]] if multiline else lines[start:start + 1]
    best, best_fields, best_lines = ",", [], 0
    for sep in _CANDIDATE_SEPS:
        reader = csv.reader(rest, delimiter=sep, quotechar='"', doublequote=True,
                            skipinitialspace=True, strict=False)
        fields = next(reader, [])
        if len(fields) > len(best_fields):
            best, best_fields, best_lines = sep, fields, reader.line_num
    if len(head) == _HEAD_BYTES and start + best_lines >= len(lines):
        return best, None
    return best, _safe_header([f.strip(_BLANK) for f in best_fields])


def _read_csv(spark: SparkSession, path: str) -> DataFrame:
    """The CSV at ``path`` with every column a string, its header
    parsed on the driver from the head it already reads to pick the
    separator, so building the frame runs no Spark job."""
    # multiLine (quoted embedded newlines) makes each file a single split —
    # no read parallelism. Default OFF (4× faster on a single node, and
    # the difference between parallel and serial scans on a cluster);
    # exports with embedded newlines can opt in via ETL_CSV_MULTILINE=1.
    multiline = os.getenv("ETL_CSV_MULTILINE", "").strip().lower() in {"1", "true", "yes"}
    sep, names = _sniff_header(_fs_read_head(spark, path), multiline)
    reader = (
        spark.read.option("header", True)
        .option("sep", sep)
        .option("comment", "#")
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", multiline)
        .option("mode", "PERMISSIVE")
        .option("ignoreLeadingWhiteSpace", True)
        .option("ignoreTrailingWhiteSpace", True)
    )
    if names is not None:
        reader = reader.schema(StructType([StructField(n, StringType()) for n in names]))
    return reader.csv(path)


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
        # The separator that parses the header into the most fields,
        # which subsumes the reference's single-garbage-column retry
        # (etl_merge.py:589-594).
        df = _read_csv(spark, path)
    renames = {c: c.strip() for c in df.columns if c != c.strip()}
    for old, new in renames.items():
        df = df.withColumnRenamed(old, new)
    # Canonical string typing for CSV/Excel-born frames.
    if ext not in {".parquet", ".orc", ".json", ".jsonl", ".ndjson"}:
        df = df.select([F.col(c).cast("string").alias(c) for c in df.columns])
    return df
