"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over :mod:`project_bigdata_spark.plans.catalog` — the engine's
named query registry. Each catalog entry carries both the Spark builder and
its DuckDB oracle SQL, defined side-by-side (often generated from the same
Python data, e.g. the AQI breakpoint table) so they cannot drift.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from project_bigdata_spark.plans.catalog import load_all  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: per-cohort stats over the hourly Gold
    aggregate (the reference's clickhouse_queries.sql:94-105 analytic run
    end-to-end through bronze -> silver -> gold)."""
    specs = load_all()
    return specs["gold_cohort_stats"].builder(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.builder for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every catalog entry."""
    return {name: spec.oracle for name, spec in load_all().items()}
