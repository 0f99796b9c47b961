"""SparkSession factory tuned for columnar OLAP.

Replaces the reference's session builders (``spark/batch_processor.py:48-77``,
``spark/stream_processor.py:48-69``) with one factory that keeps the good
settings (AQE, coalescing, shuffle sizing) and fixes the defects noted in
SURVEY.md §4.3:

- ``spark.local.dir`` is left on local disk (the reference pointed it at an
  S3A URI — ``spark/batch_processor.py:52,63`` — which is ineffective for
  shuffle/spill).
- dynamic partition overwrite instead of overwrite-the-world
  (``spark/batch_processor.py:126``).
- session timezone pinned to UTC so event-time semantics are stable across
  deployments (and comparable against external oracles).

Scale notes (100 TB / 1000-executor mindset):

- AQE re-plans at runtime: coalesces small post-shuffle partitions, splits
  skewed ones, and converts sort-merge joins to broadcast when the built
  side turns out small. All enabled here.
- ``shuffle.partitions`` defaults to 2x cores locally; on a real cluster it
  is the *initial* partition count only — AQE coalescing makes the exact
  value non-critical as long as it is high enough to split the largest
  shuffle stage.
- Arrow execution is on so any pandas-UDF fallback path transfers columns
  in batches, never row-at-a-time pickling.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# Local-mode core count: SPARK_GRAFT_CPUS, else the cores this process may
# run on. Every entry point (bench, tests, tools) uses it unless told otherwise.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

# Runtime-settable SQL confs the catalog depends on. get_spark builds with
# them; sources.registry.ensure_runtime_confs re-asserts them on any session
# (all are runtime-scoped SQLConf entries, safe to set on a live session).
RUNTIME_CONFS = {
    # TIMESTAMP(NANOS) parquet (events.ts) is unreadable otherwise; the
    # source registry converts those longs to TimestampType (µs) explicitly
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # µs-no-tz parquet must load as TIMESTAMP, not TIMESTAMP_NTZ: the
    # session tz is pinned UTC (below) so the instant is identical, and
    # every unix_micros()/window call site requires TIMESTAMP
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # event-time determinism + oracle comparability
    "spark.sql.session.timeZone": "UTC",
    # map_from_entries over sorted (k,v) pairs: last wins = the max value
    # per key (gold's type_values semantics)
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    # adaptive execution: runtime re-planning (coalesce/skew) on any session
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # partitioned overwrites replace only touched partitions; in STATIC
    # mode upsert_partitioned would silently drop every untouched
    # partition on a caller-provided bare session
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
}


def get_spark(
    app_name: str = "project_bigdata_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Local mode is a single JVM; on a cluster the same conf applies per
    executor. Nothing here is local-only except ``master``.
    """
    cpus = cpus or DEFAULT_CPUS
    # Python workers (pandas UDF / mapInPandas) must be able to import this
    # package regardless of the driver's cwd; they inherit the process env.
    repo_root = str(Path(__file__).resolve().parent.parent)
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # --- shuffle sizing: 2x cores initial, AQE coalesces down ---
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        # --- Arrow for any pandas-UDF path ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- quiet, non-interactive ---
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- local single-JVM heap: the 1g default starves broadcast
        #     builds past ~1M rows; only read at JVM launch (a no-op on
        #     an already-running session, e.g. one the driver owns) ---
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
    )
    for key, value in {**RUNTIME_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
