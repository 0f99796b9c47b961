"""Shared pytest fixtures: one SparkSession per test run, testdata paths."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

# Colon-separated scale-factor grid: every test taking ``sf_dir`` runs once
# per entry, so one pytest invocation can attest multiple SFs, e.g.
#   SPARK_GRAFT_TEST_SF_GRID=/root/testdata/sf0.001:/root/testdata/sf0.01
# Defaults to the single smoke SF to keep the routine suite fast.
SF_GRID = [
    p
    for p in os.environ.get("SPARK_GRAFT_TEST_SF_GRID", SF_SMOKE).split(":")
    if p
]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from project_bigdata_spark.session import get_spark

    wh = str(tmp_path_factory.mktemp("warehouse"))
    s = get_spark(
        app_name="project_bigdata_spark-tests",
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield s


@pytest.fixture(scope="session", params=SF_GRID, ids=lambda p: Path(p).name)
def sf_dir(request) -> str:
    return request.param


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with the driver's table views pre-registered over
    the active ``sf_dir`` (one connection per grid entry)."""
    from tools import parity

    return parity.connect(sf_dir)
