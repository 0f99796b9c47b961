"""Source / sink registry.

Invariant: the ten catalog tables are *declared* here (:data:`SCHEMAS`) and
never inferred. :func:`load_table` hands Spark the declared schema, so a
load lists no files, reads no footer and starts no Spark job; the parquet
files must match the declaration, and ``tests/test_schema_sentinel.py``
fails loudly, naming the column, when a footer drifts from it. The one
footer read left is ``events.ts``'s time unit, on the driver (pyarrow, no
JVM call), because no single declared type reads both TIMESTAMP(NANOS) and
µs timestamps.

Maps the reference's I/O surface (SURVEY.md §2.1) onto Spark built-ins:

- S3/S4 parquet scans        -> :func:`load_table` (declared schemas, as
  the reference's ``spark/batch_processor.py:31-45``; glob + parallel read
  are native, unlike its per-file s3fs loop at
  ``load_to_clickhouse.py:62-76``).
- S7 partitioned parquet sink -> :func:`write_partitioned_parquet` with
  *dynamic* partition overwrite (fixes the overwrite-the-world write at
  ``spark/batch_processor.py:125-129``).
- S10 CSV export              -> :func:`write_csv`.
- S1/S2/S6 Kafka scan/sink    -> :func:`read_kafka_batch` /
  :func:`kafka_sink_frame`; gated because the test image carries no Kafka
  broker or connector jar. The JSON envelope transform is pure DataFrame
  code and is tested without a broker.

Scale notes: parquet scans get predicate pushdown, column pruning, and
Hive-style partition pruning from Catalyst for free; keep filters and
``select`` lists on top of the raw scan so they reach the reader.
"""

from __future__ import annotations

import json
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from project_bigdata_spark.session import RUNTIME_CONFS


def _columns(*cols: tuple[str, DataType]) -> StructType:
    return StructType([StructField(name, dtype) for name, dtype in cols])


_INT, _LONG, _DOUBLE = IntegerType(), LongType(), DoubleType()
_STR, _TS = StringType(), TimestampType()

# Table name -> its columns, in file order. Built once per process as
# StructTypes (no JVM call); every load hands Spark one of these.
SCHEMAS: dict[str, StructType] = {
    "region": _columns(("r_regionkey", _INT), ("r_name", _STR)),
    "nation": _columns(
        ("n_nationkey", _INT), ("n_name", _STR), ("n_regionkey", _INT)
    ),
    "customer": _columns(
        ("c_custkey", _LONG), ("c_name", _STR), ("c_nationkey", _INT),
        ("c_acctbal", _DOUBLE), ("c_mktsegment", _STR),
    ),
    "supplier": _columns(
        ("s_suppkey", _LONG), ("s_name", _STR), ("s_nationkey", _INT),
        ("s_acctbal", _DOUBLE),
    ),
    "part": _columns(
        ("p_partkey", _LONG), ("p_name", _STR), ("p_brand", _STR),
        ("p_type", _STR), ("p_size", _INT), ("p_retailprice", _DOUBLE),
    ),
    "orders": _columns(
        ("o_orderkey", _LONG), ("o_custkey", _LONG), ("o_orderstatus", _STR),
        ("o_totalprice", _DOUBLE), ("o_orderdate", _TS),
        ("o_orderpriority", _STR),
    ),
    "lineitem": _columns(
        ("l_orderkey", _LONG), ("l_partkey", _LONG), ("l_suppkey", _LONG),
        ("l_linenumber", _INT), ("l_quantity", _DOUBLE),
        ("l_extendedprice", _DOUBLE), ("l_discount", _DOUBLE),
        ("l_tax", _DOUBLE), ("l_returnflag", _STR), ("l_linestatus", _STR),
        ("l_shipdate", _TS),
    ),
    "events": _columns(
        ("event_id", _LONG), ("ts", _TS), ("user_id", _LONG),
        ("event_type", _STR), ("value", _DOUBLE), ("props", _STR),
    ),
    "documents": _columns(
        ("doc_id", _LONG), ("text", _STR), ("lang", _STR), ("source", _STR),
        ("n_chars", _LONG),
    ),
    "embeddings": _columns(
        ("vec_id", _LONG), ("embedding", ArrayType(FloatType())),
        ("label", _INT),
    ),
}

TABLES = list(SCHEMAS)

# events whose ``ts`` is an INT64 of nanoseconds: TIMESTAMP(NANOS), which
# surfaces as the raw long (``nanosAsLong``), or a plain INT64 that Spark
# wrote back from such a long. A declared ``timestamp`` fails on both at
# execution.
_EVENTS_NANOS = StructType([
    StructField("ts", _LONG) if f.name == "ts" else f
    for f in SCHEMAS["events"].fields
])


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Assert :data:`RUNTIME_CONFS` on ``spark``. The driver may hand over a
    bare SparkSession (it owns the session, not ``get_spark``), so every
    entry point calls this; the confs are runtime-scoped and idempotent."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - a static conf on some build
            pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one of the declared tables (S3/S4).

    Reads ``{sf_dir}/{name}.parquet`` with ``SCHEMAS[name]``; nothing is
    inferred, so the call runs no Spark job. The file must match the
    declaration (``tests/test_schema_sentinel.py`` checks every footer).

    ``events.ts`` loads as ``timestamp`` whatever its parquet encoding. Its
    unit comes from the footer, read on the driver: an INT64 ``ts`` that is
    not a MICROS or MILLIS timestamp (TIMESTAMP(NANOS), read as a long under
    ``spark.sql.legacy.parquet.nanosAsLong``, asserted here so ANY session
    works; or an unannotated INT64 of ns) is declared ``bigint`` and
    converted ns -> µs with integer ``div``.
    """
    return _read_declared(spark, f"{sf_dir}/{name}.parquet", name)


def _read_declared(spark: SparkSession, path: str, name: str) -> DataFrame:
    ensure_runtime_confs(spark)
    schema = declared_schema(path, name)
    df = spark.read.schema(schema).parquet(path)
    if schema is _EVENTS_NANOS:
        df = df.withColumn("ts", _micros_from_nanos("ts"))
    return df


def declared_schema(path: str, name: str) -> StructType:
    """The schema :func:`load_table` reads table ``name`` at ``path`` with:
    ``SCHEMAS[name]``, except ``ts bigint`` for an events file whose ``ts``
    holds nanoseconds."""
    if name == "events" and _ts_is_nanos(path):
        return _EVENTS_NANOS
    return SCHEMAS[name]


def _ts_is_nanos(path: str) -> bool:
    """Whether the ``ts`` column of the parquet file (or of the first data
    file of a Spark-written directory) at ``path`` holds nanoseconds: an
    INT64 that is not a MICROS or MILLIS timestamp. That is TIMESTAMP(NANOS)
    and also a plain INT64, which is what Spark writes when it saves a NANOS
    ``ts`` it read as a long. Read from the parquet types, not the Arrow
    schema: pyarrow reports INT96 timestamps as ns too, and Spark reads
    those as ``timestamp``."""
    p = Path(path)
    if p.is_dir():
        p = min(p.glob("*.parquet"))
    schema = pq.read_metadata(p).schema
    col = schema.column(schema.names.index("ts"))
    unit = json.loads(col.logical_type.to_json()).get("timeUnit")
    return col.physical_type == "INT64" and unit not in (
        "microseconds", "milliseconds"
    )


def _micros_from_nanos(ts_col: str) -> Column:
    # integer div: a double division loses precision above 2^53 ns
    return F.timestamp_micros(F.expr(f"{ts_col} div 1000"))


def normalize_event_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Coerce ``ts_col`` to TimestampType regardless of parquet encoding:

    - TIMESTAMP(NANOS) surfaced as bigint (``nanosAsLong``) -> integer
      ``div 1000`` to µs (double division loses precision above 2^53 ns).
    - ``timestamp_ntz`` (µs-no-tz parquet read before the inferTimestampNTZ
      conf landed, e.g. a frame cached by a caller) -> plain cast; session
      tz is pinned UTC so the cast is value-preserving.
    - TimestampType -> passthrough.
    """
    dtype = dict(df.dtypes).get(ts_col)
    if dtype == "bigint":
        df = df.withColumn(ts_col, _micros_from_nanos(ts_col))
    elif dtype == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """Events parquet at any ``path`` (a file, or a directory of part
    files), for jobs and the CLI: read like :func:`load_table`'s
    ``events``, with the declared schema, so nothing is inferred and the
    call starts no Spark job; ``ts`` loads as ``timestamp`` whatever its
    parquet encoding."""
    return _read_declared(spark, path, "events")


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Partitioned parquet sink (S7).

    With ``spark.sql.sources.partitionOverwriteMode=dynamic`` (asserted
    here so a caller-provided vanilla session can't run STATIC and wipe
    untouched partitions) an overwrite only replaces partitions present
    in ``df`` — at 100 TB a daily run touches one ``year/month/day``
    leaf, not the whole table.
    """
    ensure_runtime_confs(df.sparkSession)
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV export (S10; reference: ``clickhouse_queries.sql:167-183``)."""
    df.write.mode(mode).option("header", True).csv(path)


def kafka_sink_frame(df: DataFrame) -> DataFrame:
    """JSON-envelope a DataFrame for a Kafka sink (S6).

    Reference serializes dicts driver-side (``collect_data.py:180-186``);
    here it is a single JVM expression, executor-side.
    """
    return df.select(F.to_json(F.struct(*df.columns)).alias("value"))


# Kafka source schema as the connector emits it (the "wire frame") —
# what read_kafka_batch/stream .load() returns, and what recorded-frame
# contract tests construct by hand so the parse path runs broker-free.
KAFKA_WIRE_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp timestamp, timestampType int"
)


def kafka_batch_options(bootstrap: str, topic: str) -> dict[str, str]:
    """Option set for a full-topic batch scan (S1; reference
    ``spark/batch_processor.py:85-92``). Pure, so the contract is
    assertable without a broker."""
    return {
        "kafka.bootstrap.servers": bootstrap,
        "subscribe": topic,
        "startingOffsets": "earliest",
        "endingOffsets": "latest",
    }


def kafka_stream_options(bootstrap: str, topic: str) -> dict[str, str]:
    """Option set for an unbounded scan (S2/T7; reference
    ``spark/stream_processor.py:244-251``). ``failOnDataLoss=false``
    keeps the query alive across retention-expired offsets."""
    return {
        "kafka.bootstrap.servers": bootstrap,
        "subscribe": topic,
        "failOnDataLoss": "false",
    }


def parse_kafka_frame(raw: DataFrame, value_schema: str) -> DataFrame:
    """Kafka wire frame -> typed rows: JSON-decode ``value``, keep the
    broker metadata the medallion layer audits (event-time vs broker
    ``timestamp``, exactly-once bookkeeping off (partition, offset)).

    Works identically on the connector's output and on a recorded frame
    built with :data:`KAFKA_WIRE_SCHEMA` — the broker-free contract test.
    """
    return raw.select(
        F.from_json(F.col("value").cast("string"), value_schema).alias("m"),
        F.col("key").cast("string").alias("kafka_key"),
        F.col("topic").alias("kafka_topic"),
        F.col("partition").alias("kafka_partition"),
        F.col("offset").alias("kafka_offset"),
        F.col("timestamp").alias("kafka_ts"),
    ).select("m.*", *[c for c in ["kafka_key", "kafka_topic",
                                  "kafka_partition", "kafka_offset",
                                  "kafka_ts"]])


def read_kafka_batch(
    spark: SparkSession, bootstrap: str, topic: str
) -> DataFrame:  # pragma: no cover - needs a broker + connector jar
    """Full-topic batch scan (S1; reference ``spark/batch_processor.py:85-92``)."""
    reader = spark.read.format("kafka")
    for k, v in kafka_batch_options(bootstrap, topic).items():
        reader = reader.option(k, v)
    return reader.load()


def read_kafka_stream(
    spark: SparkSession, bootstrap: str, topic: str
) -> DataFrame:  # pragma: no cover - needs a broker + connector jar
    """Unbounded scan (S2; reference ``spark/stream_processor.py:244-251``)."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_stream_options(bootstrap, topic).items():
        reader = reader.option(k, v)
    return reader.load()


def write_olap_table(
    df: DataFrame,
    name: str,
    string_fill: str = "",
    numeric_fill: float = 0.0,
    mode: str = "overwrite",
) -> None:
    """S9: OLAP-serving sink with non-nullable-column fill semantics.

    The reference exports parquet to ClickHouse through a pandas loader
    that fills NULLs per MergeTree's non-nullable columns — strings to '',
    numerics to 0, arrays to [] (``load_to_clickhouse.py:87-96,145-156,
    201-227``). Here the fill is a pair of expressions and the "OLAP
    store" is a saved Spark table on columnar parquet — same engine, no
    export hop.
    """
    filled = df.na.fill(string_fill).na.fill(numeric_fill)
    for col, dtype in filled.dtypes:
        if dtype.startswith("array"):
            filled = filled.withColumn(
                col, F.coalesce(F.col(col), F.array().cast(dtype))
            )
    filled.write.mode(mode).format("parquet").saveAsTable(name)


def write_bucketed_table(
    df: DataFrame, name: str, bucket_col: str, n_buckets: int = 8,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: pre-shuffled storage layout so later joins
    and aggregations on ``bucket_col`` are exchange-free — the storage-side
    co-location strategy for repeated big-big joins at scale.
    """
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(name)
    )


def write_clustered_parquet(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet layout: ``repartitionByRange`` assigns
    disjoint key ranges to files, ``sortWithinPartitions`` orders rows
    inside each, so every file and row group carries tight, mostly
    non-overlapping min/max footer stats on ``cluster_cols``.

    That is what makes predicate pushdown *skip* at scale: a selective
    range filter on the cluster key touches ~1/``n_files`` of a table
    instead of scanning every file to filter row-by-row. The single-
    dimension cousin of Z-ordering; use the leading cluster col as the
    dominant query predicate.
    """
    (
        df.repartitionByRange(n_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode(mode)
        .parquet(path)
    )


def table_bytes(spark: SparkSession, path: str) -> int:
    """Sum of data-file sizes under ``path`` via the Hadoop FileSystem API
    (works for any supported scheme — local, HDFS, s3a)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(hpath, True)
    total = 0
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if not name.startswith("_") and not name.startswith("."):
            total += f.getLen()
    return total


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
    cluster_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(bytes / target_file_bytes)`` right-sized files; returns the new
    file count.

    Streaming appends and per-epoch upserts fragment a table into
    thousands of small files, and at 100 TB scan cost becomes dominated
    by file-open/footer overhead and tiny row groups. Periodic bin-
    packing to ~128 MB (HDFS-block-ish) restores scan efficiency. With
    ``cluster_cols`` the rewrite also range-clusters (see
    :func:`write_clustered_parquet`), so compaction doubles as layout
    maintenance. The rewrite lands in a sibling temp dir first and is
    swapped in with two FileSystem renames — readers never observe a
    half-written table (rename is atomic per directory on HDFS-like
    stores; on S3A use a committer-backed overwrite instead).
    """
    n = max(1, -(-table_bytes(spark, path) // target_file_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compacting"
    old = path.rstrip("/") + "__pre_compact"
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    p_tmp = jvm.org.apache.hadoop.fs.Path(tmp)
    p_old = jvm.org.apache.hadoop.fs.Path(old)
    # clear leftovers of a previously crashed compaction — a stale dir
    # would make the renames below fail
    for stale in (p_tmp, p_old):
        if fs.exists(stale):
            fs.delete(stale, True)
    if cluster_cols:
        (
            df.repartitionByRange(n, *[F.col(c) for c in cluster_cols])
            .sortWithinPartitions(*cluster_cols)
            .write.mode("overwrite")
            .parquet(tmp)
        )
    else:
        df.repartition(n).write.mode("overwrite").parquet(tmp)
    if not fs.rename(p, p_old):
        raise IOError(f"compaction swap failed: cannot move {path} aside")
    if not fs.rename(p_tmp, p):
        fs.rename(p_old, p)  # roll back; table was never unavailable
        raise IOError(f"compaction swap failed: cannot move {tmp} into place")
    fs.delete(p_old, True)
    return n


def read_evolving_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution-tolerant parquet read: ``mergeSchema`` unions the
    footers of every file, so older files simply carry NULL for columns
    added later — the standard lake pattern when a producer gains fields.

    Costs one footer read per file at planning time (why it is opt-in
    here rather than the default ``load_table`` path: a stable-schema
    table should not pay it on every query).
    """
    ensure_runtime_confs(spark)
    return spark.read.option("mergeSchema", "true").parquet(path)


def read_tolerant_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Corrupt-file-tolerant read: skip unreadable files instead of
    failing the job — at 100 TB a single torn file from a dead writer
    must not kill a scan. Scoped to this reader (per-read option, not a
    session-wide conf), so default paths still fail loudly on corruption.
    """
    ensure_runtime_confs(spark)
    return spark.read.option("ignoreCorruptFiles", "true").parquet(path)
