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


def read_jsonl_robust(
    spark: SparkSession,
    path: str,
    schema: str,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """Schema'd JSONL read that quarantines malformed lines instead of
    failing the job or silently nulling them: returns
    ``(good, corrupt)`` frames.

    Web-scale JSONL exports always contain some broken lines; FAILFAST
    kills a 100-TB job on the first one, and plain PERMISSIVE leaves
    nulled rows indistinguishable from legitimately-null data. This
    reads PERMISSIVE with an explicit corrupt-record column (explicit
    ``schema`` — no inference pass over the corpus), splits on its
    nullness, and returns the quarantine frame for the dead-letter
    sink. ``good`` drops the marker column; ``corrupt`` carries the
    raw offending line.
    """
    full_schema = f"{schema}, {corrupt_col} string"
    df = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
        # Spark requires materializing via cache/checkpoint-free plans
        # when filtering on the corrupt column alone; referencing the
        # full row keeps the plan legal.
        .cache()
    )
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    corrupt = df.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    return good, corrupt


def read_warc_lite(spark: SparkSession, path: str) -> DataFrame:
    """Raw crawl-record ingest: WARC-shaped record streams → one row
    per record with parsed headers and payload.

    Training corpora start life as WARC dumps (Common Crawl et al.).
    This reads the WARC-lite subset — records delimited by a
    ``WARC/1.0`` version line, ``Key: Value`` header block, blank
    line, then the payload — using Spark's text datasource with a
    custom record delimiter, so splitting happens at the Hadoop input
    layer: a 100 TB dump fans out by HDFS block, no driver-side
    parsing and no whole-file reads (gzipped members are the usual
    non-splittable exception — one task per .gz file). Header parsing
    is a pure-expression regex pass over each record's header block.

    Columns: ``warc_type``, ``target_uri``, ``warc_date``,
    ``content_length`` (long, NULL if absent/garbled), ``headers``
    (map<string,string>, FIRST occurrence per key — WARC legally
    repeats keys such as ``WARC-Concurrent-To``, and later values of
    a repeated key are dropped; use ``read_warc_gz`` for full
    multi-value header structs), ``payload``.

    Real WARC adds gzip member framing and digest/continuation
    semantics; this reader deliberately stops at the record/header/
    payload shape (the part Spark should own) — wire a real warcio
    pass through ``mapInPandas`` if byte-exact WARC is needed.
    """
    raw = spark.read.option("lineSep", "WARC/1.0").text(path)
    rec = F.col("value")
    # Every record: optional leading CRLF remnants, header block,
    # blank line, payload (may itself contain blank lines).
    parts = F.split(rec, r"\r?\n\r?\n", 2)
    hb = F.trim(F.element_at(parts, 1))
    payload = F.element_at(parts, 2)
    keys = F.regexp_extract_all(hb, F.lit(r"(?m)^([\w-]+):[^\n]*$"), 1)
    vals = F.transform(
        F.regexp_extract_all(hb, F.lit(r"(?m)^[\w-]+:([^\n]*)$"), 1),
        lambda v: F.trim(v),
    )
    # WARC legally repeats header keys (e.g. WARC-Concurrent-To), but
    # Spark's default mapKeyDedupPolicy=EXCEPTION would fail the whole
    # read on a duplicate — keep the FIRST occurrence of each key
    # (header blocks are tiny, the O(n²) array_position is fine).
    ents = F.zip_with(keys, vals, lambda k, v: F.struct(k.alias("key"), v.alias("value")))
    first = F.filter(
        ents, lambda e, i: F.array_position(keys, e["key"]) == i + F.lit(1)
    )
    hdrs = F.map_from_entries(first)
    return (
        raw.filter(F.length(F.trim(rec)) > 0)
        .select(hdrs.alias("headers"), payload.alias("payload"))
        .select(
            F.col("headers")["WARC-Type"].alias("warc_type"),
            F.col("headers")["WARC-Target-URI"].alias("target_uri"),
            F.col("headers")["WARC-Date"].alias("warc_date"),
            F.col("headers")["Content-Length"]
            .try_cast("long")
            .alias("content_length"),
            "headers",
            F.coalesce(F.col("payload"), F.lit("")).alias("payload"),
        )
    )


WARC_GZ_SCHEMA = (
    "src_file string, warc_type string, target_uri string, "
    "warc_date string, content_length long, "
    "headers array<struct<key:string,value:string>>, "
    "payload binary, digest_ok boolean"
)


def _iter_warc_records(raw: bytes):
    """Yield (version, header_pairs, payload) from a (possibly
    multi-member) gzip WARC byte stream. Pure-Python, executor-side."""
    import zlib

    d = zlib.decompressobj(47)  # gzip wrapper, auto header detect
    buf = bytearray()
    data = raw
    while data:
        buf += d.decompress(data)
        data = d.unused_data
        if data and d.eof:
            d = zlib.decompressobj(47)  # next gzip member
        elif not d.eof:
            break  # truncated member: parse what we have
    mv = bytes(buf)
    pos = 0
    n = len(mv)
    while pos < n:
        # skip inter-record CRLF padding
        while pos < n and mv[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            break
        hdr_end = mv.find(b"\r\n\r\n", pos)
        sep_len = 4
        if hdr_end < 0:
            hdr_end = mv.find(b"\n\n", pos)
            sep_len = 2
        if hdr_end < 0:
            break  # garbled tail
        block = mv[pos:hdr_end].decode("utf-8", errors="replace")
        lines = block.replace("\r\n", "\n").split("\n")
        version = lines[0].strip()
        pairs = []
        for ln in lines[1:]:
            if ":" in ln:
                k, v = ln.split(":", 1)
                pairs.append((k.strip(), v.strip()))
        clen = 0
        for k, v in pairs:
            if k.lower() == "content-length":
                try:
                    clen = int(v)
                except ValueError:
                    clen = 0
                break
        body_start = hdr_end + sep_len
        payload = mv[body_start : body_start + clen]
        yield version, pairs, payload
        pos = body_start + clen


def read_warc_gz(spark: SparkSession, path: str) -> DataFrame:
    """Real WARC ingest: per-record gzip-member ``.warc.gz`` dumps
    (the Common Crawl wire format) → one row per record with FULL
    multi-value headers, binary payload and block-digest verification.

    This is the documented ``mapInPandas`` escape hatch of
    :func:`read_warc_lite` made real. Scale shape: gzip members are
    not block-splittable, so the parallel unit is the FILE — exactly
    how Common Crawl ships (tens of thousands of ~1 GiB segment
    files): ``binaryFile`` lists and distributes whole files, one
    Arrow-batched Python task decompresses member-by-member
    (``zlib.decompressobj`` over ``unused_data``, no third-party
    deps) and walks records by the WARC framing (version line, header
    block, blank line, ``Content-Length`` bytes of payload). Nothing
    ever collects to the driver; per-file memory is one decompressed
    segment.

    Differences from ``read_warc_lite`` (the splittable text-mode
    subset): headers come back as ``array<struct<key,value>>``
    preserving EVERY occurrence of legally-repeated keys
    (``WARC-Concurrent-To``); the payload is ``binary`` (HTTP bodies
    are not UTF-8); and ``digest_ok`` verifies the record's
    ``WARC-Block-Digest`` (``sha1:BASE32`` per the WARC 1.0/1.1 spec)
    against the payload — NULL when the record carries no digest,
    False on corruption.
    """
    import base64
    import hashlib

    files = spark.read.format("binaryFile").load(path)

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, file_row in pdf.iterrows():
                src = file_row["path"]
                for version, pairs, payload in _iter_warc_records(
                    bytes(file_row["content"])
                ):
                    if not version.startswith("WARC/"):
                        continue
                    hmap = {}
                    for k, v in pairs:
                        hmap.setdefault(k.lower(), v)
                    digest_ok = None
                    dig = hmap.get("warc-block-digest")
                    if dig and dig.lower().startswith("sha1:"):
                        want = dig.split(":", 1)[1].strip().upper()
                        got = base64.b32encode(
                            hashlib.sha1(payload).digest()
                        ).decode("ascii")
                        digest_ok = got == want
                    clen = None
                    if "content-length" in hmap:
                        try:
                            clen = int(hmap["content-length"])
                        except ValueError:
                            clen = None
                    rows.append(
                        {
                            "src_file": src,
                            "warc_type": hmap.get("warc-type"),
                            "target_uri": hmap.get("warc-target-uri"),
                            "warc_date": hmap.get("warc-date"),
                            "content_length": clen,
                            "headers": [
                                {"key": k, "value": v} for k, v in pairs
                            ],
                            "payload": payload,
                            "digest_ok": digest_ok,
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "src_file", "warc_type", "target_uri", "warc_date",
                    "content_length", "headers", "payload", "digest_ok",
                ],
            )

    return files.select("path", "content").mapInPandas(
        parse, WARC_GZ_SCHEMA
    )
