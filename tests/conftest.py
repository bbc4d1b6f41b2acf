from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session", autouse=True)
def governance_logs_outside_repo(tmp_path_factory):
    """The governance logs default to a cwd-relative ``logs/`` (the CLI's
    reference parity); point them at a tmp dir so a test run never
    rewrites the tracked copies. Per-test ``monkeypatch.setenv`` wins."""
    logs = tmp_path_factory.mktemp("governance_logs")
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("ETL_RUN_LOG_PATH", str(logs / "runs.csv"))
        mp.setenv("ETL_AUTODETECT_LOG_PATH", str(logs / "etl_autodetect.csv"))
        yield


@pytest.fixture(scope="session")
def spark():
    from strategicai_visibility_loop_etl_spark.session import get_spark

    spark = get_spark("strategicai-visibility-loop-etl-spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
