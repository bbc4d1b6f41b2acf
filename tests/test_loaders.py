"""Loader tests on reference-shaped CSV fixtures (SURVEY §5b): synonym
headers, percent CTR, GA4 junk/preamble rows, path-only URLs,
delimiter sniffing, and a CSV header parsed on the driver exactly as
Spark's header inference would parse it."""

from __future__ import annotations

import textwrap

import pytest
from pyspark.sql import functions as F

from strategicai_visibility_loop_etl_spark.sources.loaders import load_frog, load_ga4, load_gsc
from strategicai_visibility_loop_etl_spark.sources.readers import _HEAD_BYTES, _read_csv, load_table_any
from strategicai_visibility_loop_etl_spark.sources.resolve import (
    autodetect_url_column,
    resolve_columns,
)


def _write(tmp_path, name, content):
    p = tmp_path / name
    p.write_text(textwrap.dedent(content).lstrip())
    return str(p)


def test_load_frog_synonym_headers(spark, tmp_path):
    path = _write(
        tmp_path,
        "frog.csv",
        """
        Address,Status Code,Title 1,Meta Description 1,Crawl Depth,Inlinks,Word Count,Structured Data
        https://example.com/a/,200,A,da,1,"1,200",500,Article
        https://example.com/b?utm_source=x,301,B,db,2,3,250,
        """,
    )
    out = load_frog(spark, path).collect()
    rows = {r["url"]: r for r in out}
    assert "https://example.com/a" in rows
    assert rows["https://example.com/a"]["status_code"] == 200
    assert rows["https://example.com/a"]["inlinks"] == 1200  # comma-tolerant
    assert "https://example.com/b" in rows  # utm stripped


def test_load_gsc_percent_ctr_and_path_urls(spark, tmp_path):
    path = _write(
        tmp_path,
        "gsc.csv",
        """
        Top pages,Clicks,Impressions,CTR,Position
        /a/,100,1000,10%,1.2
        /b,50,2000,2.5%,3.4
        not-a-url,1,10,1%,9.9
        """,
    )
    out = load_gsc(spark, path, site_base="https://example.com").collect()
    rows = {r["url"]: r for r in out}
    assert set(rows) == {"https://example.com/a", "https://example.com/b"}  # junk filtered
    assert rows["https://example.com/a"]["ctr"] == 0.10
    assert rows["https://example.com/b"]["ctr"] == 0.025


def test_load_ga4_junk_rows_and_preamble(spark, tmp_path):
    path = _write(
        tmp_path,
        "ga4.csv",
        """
        # GA4 export
        # date range: something
        Page path and screen class,Active users,Sessions,Engaged sessions,Average engagement time
        /a,10,20,15,33.5
        (not set),5,5,5,1
        /b,1,2,1,8
        """,
    )
    out = load_ga4(spark, path, site_base="https://example.com").collect()
    urls = {r["url"] for r in out}
    assert urls == {"https://example.com/a", "https://example.com/b"}
    row_a = next(r for r in out if r["url"].endswith("/a"))
    assert row_a["sessions"] == 20.0 and row_a["engaged_sessions"] == 15.0


def test_delimiter_sniffing_tsv(spark, tmp_path):
    path = _write(
        tmp_path,
        "data.csv",
        "url\tclicks\nhttps://e.com/x\t5\n",
    )
    df = load_table_any(spark, path)
    assert df.columns == ["url", "clicks"]
    assert df.first()["clicks"] == "5"


_HEADER_FIXTURES = {
    "duplicates": "a,b,a,c\n1,2,3,4\n",
    "case_duplicates": "Url,url,URL,x\n1,2,3,4\n",
    "empty_name": "a,,c,\n1,2,3,4\n",
    "quoted_separator": '"a,b";c;"d;e"\n1;2;3\n',
    "doubled_quote": '"say ""hi""",b\n1,2\n',
    "whitespace": '  a , b ,"c"  ,\t d\t\n1, 2 ,3,4\n',
    "preamble": "# GA4 export\n\n   \n# range\nPage,Users\n/a,1\n",
    "tab": "url\tclicks\tx,y\n/u\t5\t1\n",
    "crlf": "a;b;c\r\n1;2;3\r\n",
    "bom": "\ufeffAddress,Status\nx,1\n",
    "header_only": "a,b,c\n",
    "long_header": ",".join(f"col{i:06d}" for i in range(_HEAD_BYTES // 8)) + "\nv\n",
    "directory": "url|clicks\n/a|1\n",
}


@pytest.mark.parametrize("name", sorted(_HEADER_FIXTURES))
def test_csv_header_matches_spark_inference(spark, tmp_path, name):
    """The loader's CSV frame has the schema and rows that Spark's own
    header inference gives with the same options, and building it runs
    no job unless the header runs past the head the driver reads."""
    body = _HEADER_FIXTURES[name]
    path = tmp_path / "in.csv"
    if name == "directory":
        path.mkdir()
        for part in ("part-0", "part-1"):
            (path / f"{part}.csv").write_text(body + "/b|2\n" * (part == "part-1"))
        (path / "_SUCCESS").write_text("")
    else:
        path.write_bytes(body.encode())
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    sc.setJobGroup(f"csv_header_{name}", "load")
    try:
        ours = _read_csv(spark, str(path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(f"csv_header_{name}"))
    assert jobs == (1 if name == "long_header" else 0)
    sep = {"quoted_separator": ";", "crlf": ";", "tab": "\t", "directory": "|"}.get(name, ",")
    theirs = (
        spark.read.option("sep", sep).option("comment", "#").option("escape", '"')
        .option("ignoreLeadingWhiteSpace", True).option("ignoreTrailingWhiteSpace", True)
        .csv(str(path), header=True)
    )
    assert ours.schema == theirs.schema
    assert sorted(ours.collect()) == sorted(theirs.collect())


def test_resolve_columns_slug_match(spark):
    df = spark.createDataFrame([("u", "1")], ["Landing Page", "Total Clicks"])
    mapping = resolve_columns(df, ["url", "clicks", "position"])
    assert mapping["url"] == "Landing Page"
    assert mapping["clicks"] == "Total Clicks"
    assert mapping["position"] is None


def test_autodetect_url_column(spark):
    df = spark.createDataFrame(
        [("x%d" % i, "https://e.com/p%d" % i, str(i)) for i in range(20)],
        ["name", "weird_header", "n"],
    )
    assert autodetect_url_column(df) == "weird_header"


def test_csv_xlsx_extension_fallback(spark, tmp_path):
    (tmp_path / "export.csv").write_text("url,clicks\nhttps://e.com/a,1\n")
    # Configured as .xlsx but only the .csv sibling exists -> falls back.
    df = load_table_any(spark, str(tmp_path / "export.xlsx"))
    assert df.columns == ["url", "clicks"]


_XLSX_PARTS = {
    "[Content_Types].xml": (
        '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
        "</Types>"
    ),
    "_rels/.rels": (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    ),
    "xl/workbook.xml": (
        '<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
        ' xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Export" sheetId="1" r:id="rId7"/></sheets></workbook>'
    ),
    "xl/_rels/workbook.xml.rels": (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId7" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    ),
    # Header via shared strings, incl. a rich-text run ("Struct"+"ured Data").
    "xl/sharedStrings.xml": (
        '<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">'
        "<si><t>Address</t></si><si><t>Status Code</t></si>"
        "<si><r><t>Struct</t></r><r><t>ured Data</t></r></si></sst>"
    ),
    # Row 2: inline string, raw number, inline string. Row 3 skips B3
    # (gap -> None) and carries a boolean in C3.
    "xl/worksheets/sheet1.xml": (
        '<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c></row>'
        '<row r="2"><c r="A2" t="inlineStr"><is><t>https://e.com/a/</t></is></c><c r="B2"><v>200</v></c>'
        '<c r="C2" t="inlineStr"><is><t>Article</t></is></c></row>'
        '<row r="3"><c r="A3" t="inlineStr"><is><t>https://e.com/b</t></is></c><c r="C3" t="b"><v>1</v></c></row>'
        "</sheetData></worksheet>"
    ),
}


def _make_xlsx(path):
    import zipfile

    with zipfile.ZipFile(path, "w") as zf:
        for member, xml in _XLSX_PARTS.items():
            zf.writestr(member, xml)


def test_xlsx_ingest_executes(spark, tmp_path):
    """A real .xlsx loads without optional engines: shared strings,
    rich-text headers, inline strings, raw numerics, gap cells, and
    booleans all surface as strings (reference parity:
    etl_merge.py:88-108 reads xlsx string-typed via pandas)."""
    xlsx = tmp_path / "export.xlsx"
    _make_xlsx(str(xlsx))
    df = load_table_any(spark, str(xlsx))
    assert df.columns == ["Address", "Status Code", "Structured Data"]
    rows = df.collect()
    assert [tuple(r) for r in rows] == [
        ("https://e.com/a/", "200", "Article"),
        ("https://e.com/b", None, "TRUE"),
    ]


def test_xlsx_through_frog_loader(spark, tmp_path):
    """The full loader path (synonym resolution + URL normalization)
    works over an .xlsx input end-to-end."""
    xlsx = tmp_path / "frog.xlsx"
    _make_xlsx(str(xlsx))
    out = {r["url"]: r for r in load_frog(spark, str(xlsx)).collect()}
    assert set(out) == {"https://e.com/a", "https://e.com/b"}
    assert out["https://e.com/a"]["status_code"] == 200


def test_remote_scheme_fails_loudly(spark, tmp_path):
    """Path helpers must not silently default on object-store paths:
    an unresolvable scheme raises (on a configured cluster the same
    call would resolve through the real filesystem), and governance
    logs reject remote paths by contract."""
    import pytest as _pytest

    from strategicai_visibility_loop_etl_spark.operators.governance import _append_csv
    from strategicai_visibility_loop_etl_spark.sources.readers import (
        resolve_sibling_extension,
    )

    with _pytest.raises(Exception, match="(?i)s3|filesystem|scheme|class"):
        resolve_sibling_extension("s3a://bucket/export.csv", spark)
    with _pytest.raises(ValueError, match="driver-local"):
        _append_csv("s3a://bucket/runs.csv", ["a"], ["1"])
    # file:// is explicitly local and stays accepted.
    local = tmp_path / "runs.csv"
    _append_csv(f"file://{local}", ["a"], ["1"])
    assert local.read_text().splitlines() == ["a", "1"]


def test_sibling_fallback_via_hadoop_fs(spark, tmp_path):
    """Existence resolves through the Hadoop FS API: a configured .xlsx
    falls back to its csv sibling, an existing path is kept."""
    from strategicai_visibility_loop_etl_spark.sources.readers import (
        resolve_sibling_extension,
    )

    csv_path = tmp_path / "export.csv"
    csv_path.write_text("url,clicks\nhttps://e.com/a,1\n")
    assert resolve_sibling_extension(str(tmp_path / "export.xlsx"), spark) == str(csv_path)
    assert resolve_sibling_extension(str(csv_path), spark) == str(csv_path)


def test_xlsx_corrupt_file_raises(spark, tmp_path):
    import pytest as _pytest

    xlsx = tmp_path / "only.xlsx"
    xlsx.write_bytes(b"PK\x03\x04 not really an xlsx")
    with _pytest.raises(Exception):  # noqa: B017 (zip/engine error, just not silence)
        load_table_any(spark, str(xlsx))


def test_load_table_any_orc_roundtrip(spark, tmp_path):
    """ORC rides the same extension dispatch as parquet: typed columns
    survive (no string coercion) and values round-trip."""
    src = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    path = str(tmp_path / "region.orc")
    src.write.mode("overwrite").orc(path)
    df = load_table_any(spark, path)
    assert df.schema == src.schema
    assert sorted(df.collect()) == sorted(src.collect())


def test_write_partitioned_replaces_snapshot(spark, tmp_path):
    """A partitioned write is a complete snapshot: re-writing the root
    drops partitions the new data left empty, even when the session
    asks for dynamic overwrite, and the session flag is left as it
    was; partition filters prune at the file listing."""
    from strategicai_visibility_loop_etl_spark.sources.sinks import write_partitioned

    path = str(tmp_path / "days")
    full = spark.createDataFrame(
        [(1, "d1", 10.0), (2, "d1", 20.0), (3, "d2", 30.0), (4, "d3", 40.0)],
        "id long, day string, v double",
    )
    write_partitioned(full, path, ["day"])
    assert spark.read.parquet(path).count() == 4

    # Partition pruning reaches the listing, not just the row filter.
    plan = (
        spark.read.parquet(path).filter(F.col("day") == "d1")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(day" in plan

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "dynamic")
    try:
        fixed_d2 = spark.createDataFrame(
            [(3, "d2", 99.0)], "id long, day string, v double"
        )
        write_partitioned(fixed_d2, path, ["day"])
        assert spark.conf.get(key) == "dynamic"
    finally:
        spark.conf.unset(key)
    got = {(r["id"], r["day"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {(3, "d2", 99.0)}


def test_partitioned_write_prunes_partitions(spark, tmp_path, sf_dir):
    """A filter on the partition column must prune at planning time —
    the scan's PartitionFilters carry the predicate and only matching
    directories are read, and each partition value is written by one
    task: one file per partition directory."""
    import glob

    from strategicai_visibility_loop_etl_spark.sources.sinks import write_partitioned

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    path = str(tmp_path / "ord_part")
    write_partitioned(orders, path, ["o_orderpriority"])
    df = spark.read.parquet(path).filter(F.col("o_orderpriority") == "1-URGENT")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_orderpriority" in plan.split("PartitionFilters")[1][:200], plan[:1500]
    expected = orders.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert df.count() == expected > 0
    dirs = glob.glob(f"{path}/o_orderpriority=*")
    assert len(dirs) == orders.select("o_orderpriority").distinct().count()
    assert all(len(glob.glob(f"{d}/*.parquet")) == 1 for d in dirs)
