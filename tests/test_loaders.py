"""Loader tests on reference-shaped CSV fixtures (SURVEY §5b): synonym
headers, percent CTR, GA4 junk/preamble rows, path-only URLs,
delimiter sniffing, single-column fallback."""

from __future__ import annotations

import textwrap

from pyspark.sql import functions as F

from strategicai_visibility_loop_etl_spark.sources.loaders import load_frog, load_ga4, load_gsc
from strategicai_visibility_loop_etl_spark.sources.readers import load_table_any
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


def test_bucketed_write_join_without_shuffle(spark, tmp_path, sf_dir):
    """Two tables bucketed on the join key join with no Exchange."""
    from strategicai_visibility_loop_etl_spark.sources.sinks import read_table, write_bucketed

    spark.sql("DROP TABLE IF EXISTS t_li_b")
    spark.sql("DROP TABLE IF EXISTS t_ord_b")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_quantity")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "t_li_b", ["l_orderkey"], num_buckets=8,
                   path=str(tmp_path / "li_b"))
    write_bucketed(orders.withColumnRenamed("o_orderkey", "l_orderkey"),
                   "t_ord_b", ["l_orderkey"], num_buckets=8,
                   path=str(tmp_path / "ord_b"))
    a = read_table(spark, "t_li_b")
    b = read_table(spark, "t_ord_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # Force the non-broadcast path: the point of bucketing is that
        # the SHUFFLE for a sort-merge join disappears.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = a.join(b, "l_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:800]
        assert "Exchange hashpartitioning" not in plan, plan[:800]
        assert joined.count() == li.join(
            orders, li.l_orderkey == orders.o_orderkey
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS t_li_b")
    spark.sql("DROP TABLE IF EXISTS t_ord_b")


def test_partitioned_write_prunes_partitions(spark, tmp_path, sf_dir):
    """A filter on the partition column must prune at planning time —
    the scan's PartitionFilters carry the predicate and only matching
    directories are read."""
    from strategicai_visibility_loop_etl_spark.sources.sinks import write_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    spark.sql("DROP TABLE IF EXISTS t_ord_part")
    write_bucketed(
        orders, "t_ord_part", ["o_orderkey"], num_buckets=4,
        partition_cols=["o_orderpriority"], path=str(tmp_path / "ord_part"),
    )
    df = spark.table("t_ord_part").filter(F.col("o_orderpriority") == "1-URGENT")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_orderpriority" in plan.split("PartitionFilters")[1][:200], plan[:1500]
    expected = orders.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert df.count() == expected
    spark.sql("DROP TABLE IF EXISTS t_ord_part")


def test_register_views_sql_front_door(spark, sf_dir):
    from strategicai_visibility_loop_etl_spark.session import register_views

    names = register_views(spark, sf_dir)
    assert {"lineitem", "orders", "documents"} <= set(names)
    got = spark.sql(
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1"
    ).collect()
    assert [r["l_returnflag"] for r in got] == ["A", "N", "R"]
    assert sum(r["n"] for r in got) == spark.table("lineitem").count()


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from strategicai_visibility_loop_etl_spark.sources.sinks import compact_parquet

    src = str(tmp_path / "many")
    dst = str(tmp_path / "compacted")
    # 64 tiny files of the same schema.
    spark.range(0, 6400).repartition(64).write.parquet(src)
    n_out = compact_parquet(spark, src, dst, target_mb=256)
    assert n_out == 1  # a few KB total -> one output file
    a = sorted(r["id"] for r in spark.read.parquet(src).collect())
    b = sorted(r["id"] for r in spark.read.parquet(dst).collect())
    assert a == b  # content-preserving


def test_zorder_write_shrinks_per_file_ranges(spark, tmp_path, sf_dir):
    """Z-order clustering must shrink per-file min/max spans on BOTH
    clustered dimensions vs an unclustered multi-file write — that
    span ratio IS the expected stats-based scan pruning."""
    import pyarrow.parquet as pq

    from strategicai_visibility_loop_etl_spark.sources.sinks import write_zordered

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    plain = str(tmp_path / "plain")
    li.repartition(8).write.parquet(plain)
    zpath = str(tmp_path / "zordered")
    write_zordered(li, zpath, ["l_orderkey", "l_partkey"], num_files=8)

    def mean_span(path, col):
        import glob as g

        spans, lo_all, hi_all = [], None, None
        for f in g.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                cols = {md.row_group(rg).column(i).path_in_schema: i
                        for i in range(md.row_group(rg).num_columns)}
                st = md.row_group(rg).column(cols[col]).statistics
                spans.append(st.max - st.min)
                lo_all = st.min if lo_all is None else min(lo_all, st.min)
                hi_all = st.max if hi_all is None else max(hi_all, st.max)
        return sum(spans) / len(spans), hi_all - lo_all

    for col in ("l_orderkey", "l_partkey"):
        z_span, full = mean_span(zpath, col)
        p_span, _ = mean_span(plain, col)
        # Random placement gives per-file span ≈ full range; Z-order
        # over 8 files must cut the mean span on each dimension.
        assert p_span > full * 0.8, (col, p_span, full)
        assert z_span < p_span * 0.6, (col, z_span, p_span)

    # Same rows, just relocated.
    assert spark.read.parquet(zpath).count() == li.count()


def test_read_jsonl_robust_quarantines_bad_lines(spark, tmp_path):
    from strategicai_visibility_loop_etl_spark.sources.readers import (
        read_jsonl_robust,
    )

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"id": 1, "text": "ok one"}\n'
        "this is not json at all\n"
        '{"id": 2, "text": "ok two"}\n'
        '{"id": broken json}\n'
        '{"id": 3, "text": null}\n'   # legitimate null, NOT corrupt
    )
    good, corrupt = read_jsonl_robust(spark, str(p), "id long, text string")
    g = {r["id"]: r["text"] for r in good.collect()}
    assert g == {1: "ok one", 2: "ok two", 3: None}
    bad = [r["raw_line"] for r in corrupt.collect()]
    assert len(bad) == 2
    assert "not json" in bad[0] or "not json" in bad[1]


def test_load_table_any_orc_roundtrip(spark, tmp_path):
    """ORC rides the same extension dispatch as parquet: typed columns
    survive (no string coercion) and values round-trip."""
    src = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    path = str(tmp_path / "region.orc")
    src.write.mode("overwrite").orc(path)
    df = load_table_any(spark, path)
    assert df.schema == src.schema
    assert sorted(df.collect()) == sorted(src.collect())


def test_read_warc_lite(spark, tmp_path):
    """WARC-lite record streams parse to (type, uri, date, length,
    headers, payload) with record splitting at the input layer."""
    from strategicai_visibility_loop_etl_spark.sources.readers import (
        read_warc_lite,
    )

    warc = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        "WARC-Target-URI: https://example.com/a\r\n"
        "WARC-Date: 2026-08-14T00:00:00Z\r\n"
        "Content-Length: 11\r\n"
        "\r\n"
        "hello world\r\n"
        "WARC/1.0\r\n"
        "WARC-Type: request\r\n"
        "WARC-Target-URI: https://example.com/b\r\n"
        "\r\n"
        "GET /b HTTP/1.1\n\nHost: example.com\r\n"
        "WARC/1.0\r\n"
        "WARC-Type: metadata\r\n"
        "Content-Length: not-a-number\r\n"
        "\r\n"
        "x\n"
    )
    p = tmp_path / "crawl.warc"
    p.write_text(warc, encoding="utf-8")
    rows = {
        r["warc_type"]: r
        for r in read_warc_lite(spark, str(p)).collect()
    }
    assert set(rows) == {"response", "request", "metadata"}
    resp = rows["response"]
    assert resp["target_uri"] == "https://example.com/a"
    assert resp["warc_date"] == "2026-08-14T00:00:00Z"
    assert resp["content_length"] == 11
    assert resp["payload"].strip() == "hello world"
    assert resp["headers"]["WARC-Type"] == "response"
    # payload keeps its own blank lines (only the first blank splits)
    assert "\n\n" in rows["request"]["payload"]
    assert rows["request"]["content_length"] is None
    # ANSI-safe garbled length -> NULL, not a throw
    assert rows["metadata"]["content_length"] is None


def test_read_warc_lite_duplicate_header_keys(spark, tmp_path):
    """WARC legally repeats header keys (WARC-Concurrent-To); the read
    must keep the first occurrence rather than throw under Spark's
    default mapKeyDedupPolicy=EXCEPTION (ADVICE r7)."""
    from strategicai_visibility_loop_etl_spark.sources.readers import (
        read_warc_lite,
    )

    warc = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        "WARC-Target-URI: https://example.com/dup\r\n"
        "WARC-Concurrent-To: <urn:uuid:1>\r\n"
        "WARC-Concurrent-To: <urn:uuid:2>\r\n"
        "Content-Length: 2\r\n"
        "\r\n"
        "ok\n"
    )
    p = tmp_path / "dup.warc"
    p.write_text(warc, encoding="utf-8")
    rows = read_warc_lite(spark, str(p)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["target_uri"] == "https://example.com/dup"
    assert r["headers"]["WARC-Concurrent-To"] == "<urn:uuid:1>"  # first wins
    assert r["content_length"] == 2


def _warc_record(headers: list[tuple[str, str]], payload: bytes,
                 digest: bool = True, corrupt_digest: bool = False):
    """One spec-shaped WARC/1.0 record as bytes (CRLF framing,
    Content-Length + optional sha1 block digest)."""
    import base64
    import hashlib

    hs = list(headers)
    hs.append(("Content-Length", str(len(payload))))
    if digest:
        h = hashlib.sha1(payload if not corrupt_digest else payload + b"X")
        hs.append(
            ("WARC-Block-Digest",
             "sha1:" + base64.b32encode(h.digest()).decode("ascii"))
        )
    head = b"WARC/1.0\r\n" + b"".join(
        f"{k}: {v}\r\n".encode() for k, v in hs
    )
    return head + b"\r\n" + payload + b"\r\n\r\n"


def test_read_warc_gz_multi_member_digests_and_repeated_headers(
    spark, tmp_path
):
    """Real-WARC gzip ingest: per-record gzip members, sha1 block
    digest verification, EVERY occurrence of repeated headers
    preserved, binary payloads intact."""
    import gzip

    from strategicai_visibility_loop_etl_spark.sources.readers import (
        read_warc_gz,
    )

    r1 = _warc_record(
        [("WARC-Type", "response"),
         ("WARC-Target-URI", "http://a.example/x"),
         ("WARC-Date", "2026-01-01T00:00:00Z"),
         ("WARC-Concurrent-To", "<urn:uuid:1111>"),
         ("WARC-Concurrent-To", "<urn:uuid:2222>")],
        b"HTTP/1.1 200 OK\r\n\r\nhello \xff\xfe binary body",
    )
    r2 = _warc_record(
        [("WARC-Type", "request"),
         ("WARC-Target-URI", "http://a.example/x"),
         ("WARC-Date", "2026-01-01T00:00:01Z")],
        b"GET /x HTTP/1.1",
        corrupt_digest=True,
    )
    r3 = _warc_record(
        [("WARC-Type", "metadata"),
         ("WARC-Target-URI", "http://b.example/y"),
         ("WARC-Date", "2026-01-01T00:00:02Z")],
        b"no digest here",
        digest=False,
    )
    # each record its own gzip member (the CC wire format), two files
    f1 = tmp_path / "seg-00000.warc.gz"
    f1.write_bytes(gzip.compress(r1) + gzip.compress(r2))
    f2 = tmp_path / "seg-00001.warc.gz"
    f2.write_bytes(gzip.compress(r3))

    out = read_warc_gz(spark, str(tmp_path / "*.warc.gz"))
    rows = {r["warc_type"]: r for r in out.collect()}
    assert set(rows) == {"response", "request", "metadata"}

    resp = rows["response"]
    assert resp["digest_ok"] is True
    assert bytes(resp["payload"]).endswith(b"binary body")
    assert b"\xff\xfe" in bytes(resp["payload"])
    cc = [h["value"] for h in resp["headers"]
          if h["key"] == "WARC-Concurrent-To"]
    assert cc == ["<urn:uuid:1111>", "<urn:uuid:2222>"], cc
    assert resp["content_length"] == len(
        b"HTTP/1.1 200 OK\r\n\r\nhello \xff\xfe binary body"
    )

    assert rows["request"]["digest_ok"] is False   # corrupted digest
    assert rows["metadata"]["digest_ok"] is None   # no digest header
    assert rows["metadata"]["src_file"].endswith("seg-00001.warc.gz")

    # plan: Arrow-batched mapInPandas over whole files, never
    # row-at-a-time Python
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_read_warc_gz_truncated_member_keeps_complete_records(
    spark, tmp_path
):
    """A truncated final gzip member (killed crawler mid-write) must
    not poison the file: complete records still parse."""
    import gzip

    from strategicai_visibility_loop_etl_spark.sources.readers import (
        read_warc_gz,
    )

    good = _warc_record(
        [("WARC-Type", "response"),
         ("WARC-Target-URI", "http://ok.example/")],
        b"intact payload",
    )
    bad = gzip.compress(
        _warc_record([("WARC-Type", "response")], b"lost payload")
    )
    f = tmp_path / "trunc.warc.gz"
    f.write_bytes(gzip.compress(good) + bad[: len(bad) // 2])

    rows = read_warc_gz(spark, str(f)).collect()
    uris = [r["target_uri"] for r in rows]
    assert "http://ok.example/" in uris
    for r in rows:
        if r["target_uri"] == "http://ok.example/":
            assert bytes(r["payload"]) == b"intact payload"
            assert r["digest_ok"] is True


def test_write_partitioned_dynamic_overwrite(spark, tmp_path):
    """Dynamic partition overwrite (capability row 141): re-writing
    one day's partition replaces only that partition; static mode
    truncates the root; the session flag is restored afterward;
    partition filters prune at the file listing."""
    from pyspark.sql import functions as F

    from strategicai_visibility_loop_etl_spark.sources.sinks import write_partitioned

    path = str(tmp_path / "days")
    full = spark.createDataFrame(
        [(1, "d1", 10.0), (2, "d1", 20.0), (3, "d2", 30.0), (4, "d3", 40.0)],
        "id long, day string, v double",
    )
    write_partitioned(full, path, ["day"])
    assert spark.read.parquet(path).count() == 4

    # Re-load ONLY d2 with corrected data: d1/d3 must survive.
    fixed_d2 = spark.createDataFrame([(3, "d2", 99.0)], "id long, day string, v double")
    write_partitioned(fixed_d2, path, ["day"])
    got = {(r["id"], r["day"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "d1", 10.0), (2, "d1", 20.0), (3, "d2", 99.0), (4, "d3", 40.0)}

    # Session flag restored (not left 'dynamic' for other writers).
    assert spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "STATIC"
    ).lower() == "static"

    # Partition pruning reaches the listing, not just the row filter.
    plan = (
        spark.read.parquet(path).filter(F.col("day") == "d1")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(day" in plan

    # Static mode is the explicit truncate-everything opt-in.
    write_partitioned(fixed_d2, path, ["day"], dynamic_overwrite=False)
    assert spark.read.parquet(path).count() == 1


def _py_xy2d(n, x, y):
    rx = ry = 0
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_value_matches_reference_and_adjacency(spark):
    from pyspark.sql import functions as F

    from strategicai_visibility_loop_etl_spark.sources.sinks import hilbert_value

    # bits=3: all 64 grid cells. The index must (a) equal the classic
    # xy2d reference cell-for-cell, (b) be a bijection onto 0..63,
    # (c) have TRUE adjacency: consecutive curve positions are grid
    # neighbors (|dx|+|dy| == 1) — the property Z-order lacks.
    grid = spark.range(64).select(
        (F.col("id") % 8).alias("x"), (F.col("id") / 8).cast("long").alias("y")
    )
    rows = grid.withColumn("d", hilbert_value(F.col("x"), F.col("y"), bits=3)).collect()
    got = {(r["x"], r["y"]): r["d"] for r in rows}
    for (x, y), d in got.items():
        assert d == _py_xy2d(8, x, y), (x, y, d)
    assert sorted(got.values()) == list(range(64))
    path = sorted(got, key=got.get)
    for (x0, y0), (x1, y1) in zip(path, path[1:]):
        assert abs(x0 - x1) + abs(y0 - y1) == 1, ((x0, y0), (x1, y1))


def test_hilbert_write_beats_plain_and_zorder_spans(spark, tmp_path, sf_dir):
    """Hilbert clustering shrinks per-file min/max spans on BOTH
    dimensions vs an unclustered write, and its COMBINED normalized
    span is no worse than Z-order's at equal file counts (per-dim
    spans trade off between the curves; combined is the honest
    locality metric)."""
    import glob as g

    import pyarrow.parquet as pq

    from strategicai_visibility_loop_etl_spark.sources.sinks import (
        write_hilbert,
        write_zordered,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    plain = str(tmp_path / "plain")
    li.repartition(8).write.parquet(plain)
    hpath = str(tmp_path / "hilbert")
    write_hilbert(li, hpath, ["l_orderkey", "l_partkey"], num_files=8)
    zpath = str(tmp_path / "zordered")
    write_zordered(li, zpath, ["l_orderkey", "l_partkey"], num_files=8)

    def mean_span(path, col):
        spans = []
        for f in g.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                cols = {md.row_group(rg).column(i).path_in_schema: i
                        for i in range(md.row_group(rg).num_columns)}
                st = md.row_group(rg).column(cols[col]).statistics
                spans.append(st.max - st.min)
        return sum(spans) / len(spans)

    h_comb = z_comb = 0.0
    for col in ("l_orderkey", "l_partkey"):
        h, z, p = mean_span(hpath, col), mean_span(zpath, col), mean_span(plain, col)
        assert h < p * 0.6, (col, h, p)
        h_comb += h / p
        z_comb += z / p
    # Per-dimension spans trade off between the two curves; the
    # locality claim is COMBINED: normalized spans summed over both
    # dimensions, Hilbert no worse than Z-order (5% slack).
    assert h_comb <= z_comb * 1.05, (h_comb, z_comb)
    assert spark.read.parquet(hpath).count() == li.count()
