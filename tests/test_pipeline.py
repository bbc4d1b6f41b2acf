"""End-to-end pipeline parity vs a pandas-computed oracle on
reference-shaped fixtures, plus governance-log assertions (SURVEY §5c).

The reference-parity and CLI end-to-end runs are ``sweep``; the
concurrency contract of ``run_visibility_pipeline`` (job group, job
count, error path, governance appends) runs in the fast tier."""

from __future__ import annotations

import csv
import os
import textwrap
import threading

import pandas as pd
import pytest

from strategicai_visibility_loop_etl_spark.plans.pipeline import (
    default_config,
    run_visibility_pipeline,
)

sweep = pytest.mark.sweep  # reference-parity pipeline + CLI end-to-end

FROG = """
Address,Status Code,Title 1,Word Count,Structured Data
https://e.com/a/,200,A,500,Article
https://e.com/b,200,B,300,
https://e.com/c?utm_source=x,301,C,100,Product
https://e.com/a,200,A-dup,501,Article
"""

GSC = """
Top pages,Clicks,Impressions,CTR,Position
/a/,100,1000,10%,1
/a,20,1000,2%,3
/b,50,2000,2.5%,2
"""

GA4 = """
Page path and screen class,Active users,Sessions,Engaged sessions
/a,10,20,15
/b,4,8,2
(not set),5,5,5
"""


@pytest.fixture()
def fixture_paths(tmp_path):
    paths = {}
    for name, content in (("frog.csv", FROG), ("gsc.csv", GSC), ("ga4.csv", GA4)):
        p = tmp_path / name
        p.write_text(textwrap.dedent(content).lstrip())
        paths[name.split(".")[0]] = str(p)
    return paths


def _vis_cfg(fixture_paths: dict) -> dict:
    cfg = default_config()
    cfg["inputs"] = {
        "screaming_frog": fixture_paths["frog"],
        "gsc": fixture_paths["gsc"],
        "ga4": fixture_paths["ga4"],
    }
    cfg["output"].update(csv_mirror=True, write_slices=True)
    return cfg


def _drain_listener_bus(spark) -> None:
    """Wait until the status store has seen every posted job event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


@sweep
def test_pipeline_parity_with_pandas_oracle(spark, fixture_paths, tmp_path, monkeypatch):
    monkeypatch.setenv("SITE_BASE", "https://e.com")
    monkeypatch.setenv("ETL_RUN_LOG", "0")
    monkeypatch.setenv("ETL_AUTODETECT_LOG", "0")
    cfg = default_config()
    cfg["inputs"] = {
        "screaming_frog": fixture_paths["frog"],
        "gsc": fixture_paths["gsc"],
        "ga4": fixture_paths["ga4"],
    }
    outs = run_visibility_pipeline(spark, cfg, out_dir=str(tmp_path / "out"))
    merged = {r["url"]: r for r in outs["merged"].collect()}

    # Spine dedup: /a kept once (4 frog rows -> 3 urls).
    assert set(merged) == {"https://e.com/a", "https://e.com/b", "https://e.com/c"}

    # GSC aggregation oracle (pandas-computed semantics):
    # /a: clicks 120, impressions 2000, weighted pos (1*1000+3*1000)/2000 = 2.0
    a = merged["https://e.com/a"]
    assert a["clicks"] == 120.0
    assert a["impressions"] == 2000.0
    assert a["position"] == 2.0
    assert a["ctr"] == round(120.0 / 2000.0, 4)

    # GA4 joined: sessions/engaged -> engagement_rate 15/20
    assert a["sessions"] == 20.0
    assert a["engagement_rate"] == 0.75

    # click_share: /a 120 of 170 total
    assert a["click_share"] == round(120.0 / 170.0, 6)

    # Position-1 bucket expectations from default config: pos 2.0 -> bucket "2"
    assert a["expected_ctr_bucket"] == "2"
    assert a["expected_ctr"] == 0.2
    # deficit = 0.2 - 0.06 - 0.002 margin
    assert a["ctr_deficit"] == round(0.2 - 0.06 - 0.002, 4)
    assert a["missed_clicks"] == round((0.2 - 0.06 - 0.002) * 2000, 3)

    # /c has no GSC/GA4 data -> nulls, no crash
    c = merged["https://e.com/c"]
    assert c["clicks"] is None and c["sessions"] is None
    # ... and scoring NULL-PROPAGATES for the unjoined row, exactly
    # like pandas' NaN arithmetic (reference :820-843): Spark's
    # greatest() ignores nulls, so a naive greatest(diff, 0) would
    # score the row 0.0 instead of missing (r14 parity-drive find)
    assert c["ctr_deficit"] is None
    assert c["missed_clicks"] is None and c["missed_clicks_eff"] is None

    # anomaly slice ranked by missed clicks
    under = outs["ctr_underperf"].collect()
    assert [r["priority_rank"] for r in under] == list(range(1, len(under) + 1))
    assert under[0]["missed_clicks"] == max(r["missed_clicks"] for r in under)

    # schema gaps: /b has blank structured data
    gaps = {r["url"] for r in outs["schema_gaps"].collect()}
    assert gaps == {"https://e.com/b"}


@sweep
def test_pipeline_governance_logs(spark, fixture_paths, tmp_path, monkeypatch):
    run_log = tmp_path / "logs" / "runs.csv"
    auto_log = tmp_path / "logs" / "auto.csv"
    monkeypatch.setenv("SITE_BASE", "https://e.com")
    monkeypatch.setenv("ETL_RUN_LOG", "1")
    monkeypatch.setenv("ETL_RUN_LOG_PATH", str(run_log))
    monkeypatch.setenv("ETL_AUTODETECT_LOG", "1")
    monkeypatch.setenv("ETL_AUTODETECT_LOG_PATH", str(auto_log))
    monkeypatch.setenv("RUN_ID", "testrun_1")
    cfg = default_config()
    cfg["inputs"] = {
        "screaming_frog_csv": fixture_paths["frog"],  # reference-style key names
        "gsc_csv": fixture_paths["gsc"],
        "ga4_csv": fixture_paths["ga4"],
    }
    run_visibility_pipeline(spark, cfg, out_dir=str(tmp_path / "out"))

    with open(run_log) as fh:
        rows = list(csv.DictReader(fh))
    assert len(rows) == 1
    assert rows[0]["run_id"] == "testrun_1"
    assert rows[0]["rows_merged"] == "3"
    assert rows[0]["frog_csv"] == "frog.csv"

    with open(auto_log) as fh:
        auto_rows = list(csv.DictReader(fh))
    # One whole row per source, though the loaders append concurrently.
    assert sorted(r["source"] for r in auto_rows) == ["ga4", "gsc", "screaming_frog"]
    assert all(None not in r and None not in r.values() for r in auto_rows)
    gsc_row = next(r for r in auto_rows if r["source"] == "gsc")
    assert "url" in gsc_row["mapped_fields"].split(";")

    # parquet outputs written
    assert os.path.isdir(tmp_path / "out" / "merged")
    merged_back = pd.read_parquet(tmp_path / "out" / "merged")
    assert len(merged_back) == 3


@sweep
def test_pipeline_csv_mirror(spark, fixture_paths, tmp_path, monkeypatch):
    """output.csv_mirror writes header'd CSV directories alongside
    parquet for the reference's downstream consumers."""
    monkeypatch.setenv("SITE_BASE", "https://e.com")
    cfg = default_config()
    cfg["inputs"] = {
        "screaming_frog": fixture_paths["frog"],
        "gsc": fixture_paths["gsc"],
        "ga4": fixture_paths["ga4"],
    }
    cfg["output"]["csv_mirror"] = True
    out = tmp_path / "out"
    run_visibility_pipeline(spark, cfg, out_dir=str(out))
    for name in ("merged", "ctr_underperf", "schema_gaps"):
        assert os.path.isdir(out / f"{name}_csv"), name
    back = spark.read.option("header", True).csv(str(out / "merged_csv"))
    assert back.count() == 3
    assert "url" in back.columns and "missed_clicks" in back.columns


@sweep
def test_cli_entrypoint_runs_pipeline(spark, fixture_paths, tmp_path, monkeypatch, capsys):
    """`python -m strategicai_visibility_loop_etl_spark` front door: flags resolve
    inputs, the pipeline runs, parquet outputs land under --out."""
    from strategicai_visibility_loop_etl_spark.__main__ import main

    monkeypatch.setenv("SITE_BASE", "https://e.com")
    monkeypatch.setenv("ETL_RUN_LOG", "0")
    monkeypatch.setenv("ETL_AUTODETECT_LOG", "0")
    out = tmp_path / "cli_out"
    rc = main(
        [
            "--frog", fixture_paths["frog"],
            "--gsc", fixture_paths["gsc"],
            "--ga4", fixture_paths["ga4"],
            "--out", str(out),
            "--csv-mirror",
        ],
        spark=spark,
    )
    assert rc == 0
    assert os.path.isdir(out / "merged")
    assert os.path.isdir(out / "merged_csv")
    merged_back = pd.read_parquet(out / "merged")
    assert set(merged_back["url"]) == {
        "https://e.com/a", "https://e.com/b", "https://e.com/c",
    }
    assert "Merged rows: 3" in capsys.readouterr().out


@sweep
def test_cli_out_holds_only_outputs(spark, fixture_paths, tmp_path, monkeypatch):
    """--out receives the outputs and nothing else: no staging dir."""
    from strategicai_visibility_loop_etl_spark.__main__ import main

    monkeypatch.setenv("SITE_BASE", "https://e.com")
    monkeypatch.setenv("ETL_RUN_LOG", "0")
    monkeypatch.setenv("ETL_AUTODETECT_LOG", "0")
    out = tmp_path / "cli_out"
    rc = main(
        [
            "--frog", fixture_paths["frog"],
            "--gsc", fixture_paths["gsc"],
            "--ga4", fixture_paths["ga4"],
            "--out", str(out),
        ],
        spark=spark,
    )
    assert rc == 0
    assert sorted(os.listdir(out)) == ["ctr_underperf", "merged", "schema_gaps"]


@sweep
def test_cli_env_precedence_and_missing_file(spark, fixture_paths, tmp_path, monkeypatch, capsys):
    """Env vars beat config (reference resolve_input_path precedence);
    a missing input is a clean [ERROR] + exit 1, like the reference."""
    from strategicai_visibility_loop_etl_spark.__main__ import main

    monkeypatch.setenv("SITE_BASE", "https://e.com")
    monkeypatch.setenv("ETL_RUN_LOG", "0")
    monkeypatch.setenv("ETL_AUTODETECT_LOG", "0")
    monkeypatch.setenv("FROG_CSV_PATH", fixture_paths["frog"])
    monkeypatch.setenv("GSC_CSV_PATH", fixture_paths["gsc"])
    monkeypatch.setenv("GA4_CSV_PATH", fixture_paths["ga4"])
    out = tmp_path / "env_out"
    rc = main(["--out", str(out)], spark=spark)
    assert rc == 0
    assert os.path.isdir(out / "merged")

    monkeypatch.setenv("FROG_CSV_PATH", str(tmp_path / "nope.csv"))
    rc = main(["--out", str(tmp_path / "x")], spark=spark)
    assert rc == 1
    assert "[ERROR] File not found for Screaming Frog" in capsys.readouterr().err


@sweep
def test_cli_xlsx_flag_falls_back_to_csv_sibling(spark, fixture_paths, tmp_path, monkeypatch, capsys):
    """--frog x.xlsx with only x.csv on disk runs on the csv, as the
    library loaders and the reference's resolve_input_path do."""
    from strategicai_visibility_loop_etl_spark.__main__ import main

    monkeypatch.setenv("SITE_BASE", "https://e.com")
    monkeypatch.setenv("ETL_RUN_LOG", "0")
    monkeypatch.setenv("ETL_AUTODETECT_LOG", "0")
    frog_xlsx = fixture_paths["frog"][: -len(".csv")] + ".xlsx"
    rc = main(
        [
            "--frog", frog_xlsx,
            "--gsc", fixture_paths["gsc"],
            "--ga4", fixture_paths["ga4"],
            "--out", str(tmp_path / "xlsx_out"),
        ],
        spark=spark,
    )
    io = capsys.readouterr()
    assert rc == 0, io.err
    assert f"Frog: {fixture_paths['frog']} " in io.out
    assert "Merged rows: 3" in io.out


@sweep
def test_cli_accepts_file_uri_inputs(spark, fixture_paths, tmp_path, monkeypatch, capsys):
    """Input existence resolves through the Hadoop FS API, like the
    loaders: file:// URIs the loaders read are not 'File not found'."""
    from pathlib import Path

    from strategicai_visibility_loop_etl_spark.__main__ import main

    monkeypatch.setenv("SITE_BASE", "https://e.com")
    monkeypatch.setenv("ETL_RUN_LOG", "0")
    monkeypatch.setenv("ETL_AUTODETECT_LOG", "0")
    uri = {k: Path(v).as_uri() for k, v in fixture_paths.items()}
    rc = main(
        [
            "--frog", uri["frog"],
            "--gsc", uri["gsc"],
            "--ga4", uri["ga4"],
            "--out", str(tmp_path / "uri_out"),
        ],
        spark=spark,
    )
    io = capsys.readouterr()
    assert rc == 0, io.err
    assert "Merged rows: 3" in io.out


@sweep
def test_cli_corpus_subcommand(spark, tmp_path, sf_dir):
    """`python -m strategicai_visibility_loop_etl_spark corpus` cleans a parquet
    documents table end-to-end."""
    from strategicai_visibility_loop_etl_spark.__main__ import main

    out = tmp_path / "corpus_out"
    rc = main(
        [
            "corpus",
            "--input", f"{sf_dir}/documents.parquet",
            "--out", str(out),
            "--min-tokens", "4",
            "--shards", "2",
        ],
        spark=spark,
    )
    assert rc == 0
    clean = pd.read_parquet(out / "clean")
    assert 0 < len(clean)
    assert {"lang", "quality", "n_tokens"} <= set(clean.columns)
    shards = pd.read_parquet(out / "shards")
    assert set(shards["shard"]) <= {0, 1}


@sweep
def test_csv_mirror_bytes_match_pandas_rendering(spark, fixture_paths, tmp_path, monkeypatch):
    """Every mirror must be byte-identical (modulo row order) to the
    reference's rendering mechanism — pandas ``to_csv(index=False,
    float_format="%.6f")`` over the same data with the reference's
    dtype contract: ratio/config columns float by construction, crawl
    ints Int64 by construction, raw metric sums inferred int64 when
    fully populated and integral. The reference renders each slice as
    a row subset of its merged frame, so a slice keeps merged's dtypes
    even where its own rows happen to be integral."""
    import glob
    import io

    import pandas as pd

    monkeypatch.setenv("SITE_BASE", "https://e.com")
    monkeypatch.setenv("ETL_RUN_LOG", "0")
    monkeypatch.setenv("ETL_AUTODETECT_LOG", "0")
    out = tmp_path / "out"
    run_visibility_pipeline(spark, _vis_cfg(fixture_paths), out_dir=str(out))

    float_by_construction = {
        "ctr", "ctr_pct", "position", "expected_ctr", "expected_ctr_uplift",
        "ctr_deficit", "intent_multiplier", "missed_clicks", "missed_clicks_eff",
        "engagement_rate", "engagement_rate_pct", "click_share",
    }
    int_by_construction = {
        "status_code", "click_depth", "inlinks", "word_count",
        "avg_engagement_time", "run_timestamp",
    }
    pdf = pd.read_parquet(out / "merged")
    for c in pdf.columns:
        if c in int_by_construction:
            pdf[c] = pd.to_numeric(pdf[c], errors="coerce").astype("Int64")
        elif pdf[c].dtype.kind == "f" and c not in float_by_construction:
            # pandas' own inference: to_numeric yields int64 only for
            # fully-populated integral columns.
            if pdf[c].notna().all() and (pdf[c] % 1 == 0).all():
                pdf[c] = pdf[c].astype("int64")

    def expected(frame):
        buf = io.StringIO()
        frame.to_csv(buf, index=False, float_format="%.6f")
        header, *rows = buf.getvalue().splitlines()
        return header, sorted(rows)

    def got(name):
        header, rows = None, []
        for part in glob.glob(str(out / f"{name}_csv" / "part-*")):
            with open(part) as fh:
                lines = fh.read().splitlines()
            if lines:
                header = lines[0]
                rows += lines[1:]
        return header, sorted(rows)

    assert got("merged") == expected(pdf)
    for name in ("ctr_underperf", "ctr_debug", "schema_gaps"):
        part = pd.read_parquet(out / name)
        assert len(part) > 0, name
        # The slice's own columns (priority_rank, intent_note) come from
        # its parquet; every merged column from the merged frame.
        own = [c for c in part.columns if c not in pdf.columns]
        subset = pdf[pdf["url"].isin(part["url"])].merge(part[["url", *own]], on="url")
        assert got(name) == expected(subset[list(part.columns)]), name


def test_pipeline_jobs_carry_caller_job_group(spark, fixture_paths, tmp_path, monkeypatch):
    """Every job the call fires, on the caller's thread or a pool
    thread, carries the caller's job group; the job count on this
    fixture is pinned."""
    monkeypatch.setenv("SITE_BASE", "https://e.com")
    monkeypatch.setenv("ETL_RUN_LOG", "0")
    monkeypatch.setenv("ETL_AUTODETECT_LOG", "0")
    monkeypatch.delenv("ETL_AUTODETECT_LOG_COUNT", raising=False)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    _drain_listener_bus(spark)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("g", "visibility pipeline")
    try:
        run_visibility_pipeline(spark, _vis_cfg(fixture_paths), out_dir=str(tmp_path / "out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    _drain_listener_bus(spark)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    # 36 when every CSV mirror ran its own dtype aggregate and the run
    # log its own count; the merged write now observes both. 27 while
    # the merge barrier was a parquet write and read-back, 26 while each
    # of the three CSV loads ran a header-inference job.
    assert len(tracker.getJobIdsForGroup("g")) == 23


def test_pipeline_sink_error_raised_after_siblings_end(spark, fixture_paths, tmp_path, monkeypatch):
    """A failing sink write is raised only after every sibling job has
    ended; the call's pool threads are joined and the constraint-
    propagation conf is restored."""
    monkeypatch.setenv("SITE_BASE", "https://e.com")
    monkeypatch.setenv("ETL_RUN_LOG", "0")
    monkeypatch.setenv("ETL_AUTODETECT_LOG", "0")
    out = tmp_path / "out"
    out.mkdir()
    # A self-referencing symlink where the ctr_debug directory goes:
    # overwrite cannot clear it and every task fails to create its
    # attempt directory. (A plain file would just be deleted.)
    os.symlink("ctr_debug", out / "ctr_debug")
    key = "spark.sql.constraintPropagation.enabled"
    spark.conf.set(key, "true")
    before = set(threading.enumerate())
    with pytest.raises(Exception, match="ctr_debug"):
        run_visibility_pipeline(spark, _vis_cfg(fixture_paths), out_dir=str(out))
    _drain_listener_bus(spark)
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    leaked = [t.name for t in threading.enumerate()
              if t not in before and t.name.startswith("ThreadPoolExecutor")]
    assert leaked == []
    assert spark.conf.get(key) == "true"
    # Every sibling sink ran to its end.
    for name in ("ctr_underperf", "schema_gaps", *(f"{n}_csv" for n in
                 ("merged", "ctr_underperf", "ctr_debug", "schema_gaps"))):
        assert os.path.exists(out / name / "_SUCCESS"), name


def test_governance_append_is_thread_safe(tmp_path, monkeypatch):
    """N threads appending at once leave one header and N whole rows.
    The row writer is slowed to two flushed halves with a thread switch
    between them, so appends that are not serialized interleave."""
    import io
    import time
    import types

    from strategicai_visibility_loop_etl_spark.operators import governance

    class HalvingWriter:
        def __init__(self, fh):
            self.fh = fh

        def writerow(self, row):
            buf = io.StringIO()
            csv.writer(buf).writerow(row)
            line = buf.getvalue()
            for half in (line[: len(line) // 2], line[len(line) // 2:]):
                self.fh.write(half)
                self.fh.flush()
                time.sleep(0.001)

    monkeypatch.setattr(governance, "csv", types.SimpleNamespace(writer=HalvingWriter))
    path = str(tmp_path / "log.csv")
    header = ["i", "payload"]
    n = 8
    start = threading.Barrier(n)

    def append(i: int) -> None:
        start.wait()
        governance._append_csv(path, header, [i, f"row-{i}"])

    threads = [threading.Thread(target=append, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    with open(path, newline="") as fh:
        rows = list(csv.reader(fh))
    assert rows[0] == header
    assert sorted(rows[1:], key=lambda r: int(r[0])) == [[str(i), f"row-{i}"] for i in range(n)]


# Runs the CLI, then (before exiting) records which class-data archives
# the still-running gateway JVM has mapped. The run clock is fixed so two
# runs' outputs can be compared byte for byte.
_CLI_RECORDING_MAPS = """
import json, sys, types
from pyspark import SparkContext
from strategicai_visibility_loop_etl_spark.__main__ import main
from strategicai_visibility_loop_etl_spark.plans import pipeline
pipeline.time = types.SimpleNamespace(time=lambda: 1700000000)
rc = main(sys.argv[2:])
pid = SparkContext._gateway.proc.pid
with open(f"/proc/{pid}/maps") as fh:
    maps = sorted({ln.split()[-1] for ln in fh if ln.rstrip().endswith(".jsa")})
with open(sys.argv[1], "w") as fh:
    json.dump({"rc": rc, "jvm_pid": pid, "jsa_maps": maps}, fh)
"""


@sweep
def test_cli_same_with_and_without_class_data_archive(fixture_paths, tmp_path):
    """With a fresh cache the first CLI run dumps the driver JVM's
    class-data archive and publishes it before its process exits; the
    second run's JVM maps it. A third run finds that archive truncated:
    its size no longer matches its name, so the run never maps it; it
    launches a dumping JVM and publishes a whole archive in its place.
    All runs print the same stdout (no JVM CDS log line, no fatal-error
    banner) and write the same outputs, and no run leaves a JVM crash
    log (``hs_err_pid*.log``) in its cwd."""
    import json
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cds = tmp_path / "cache" / "strategicai_visibility_loop_etl_spark" / "cds"
    env = dict(
        os.environ, XDG_CACHE_HOME=str(tmp_path / "cache"), SITE_BASE="https://e.com",
        ETL_RUN_LOG="0", ETL_AUTODETECT_LOG="0", RUN_ID="archive_check",
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
    )
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        env.pop(var, None)
    runs = []
    truncated = 5 * 2**20
    for i in (1, 2, 3):
        cwd = tmp_path / f"run{i}"
        cwd.mkdir()
        if i == 3:
            (jsa,) = cds.glob("*.jsa")
            jsa.chmod(0o600)
            os.truncate(jsa, truncated)
        res = subprocess.run(
            [sys.executable, "-c", _CLI_RECORDING_MAPS, str(cwd / "report.json"),
             "--frog", fixture_paths["frog"], "--gsc", fixture_paths["gsc"],
             "--ga4", fixture_paths["ga4"], "--out", "out", "--csv-mirror", "--write-slices"],
            cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
        )
        assert res.returncode == 0, res.stderr[-3000:]
        report = json.loads((cwd / "report.json").read_text())
        assert report["rc"] == 0
        names = set(os.listdir(cds))
        assert len(names) == 2 and "conf" in names, names  # no temp is left behind
        (name,) = names - {"conf"}
        assert name.endswith(".jsa"), name
        archive = str(cds / name)
        if i == 2:
            assert archive in report["jsa_maps"]
        else:
            assert archive not in report["jsa_maps"]  # this run dumped it
            assert not os.path.exists(f"/proc/{report['jvm_pid']}")  # and its JVM is gone
        if i == 3:
            assert os.path.getsize(archive) > truncated  # the truncated file is gone
        assert not list(cwd.glob("hs_err_pid*.log"))
        runs.append((res.stdout, cwd / "out"))

    (out1, dir1), *later = runs
    assert "Merged rows: 3" in out1
    assert "[cds" not in out1 and "[warning]" not in out1
    outputs = sorted(os.listdir(dir1))
    assert "merged_csv" in outputs
    for out, d2 in later:
        assert out == out1
        assert sorted(os.listdir(d2)) == outputs
        for name in outputs:
            if name.endswith("_csv"):
                parts = [sorted(p.read_bytes() for p in (d / name).glob("part-*"))
                         for d in (dir1, d2)]
                assert parts[0] == parts[1], name
            else:
                a, b = (pd.read_parquet(d / name) for d in (dir1, d2))
                key = list(a.columns)
                assert a.sort_values(key).reset_index(drop=True).equals(
                    b.sort_values(key).reset_index(drop=True)), name
