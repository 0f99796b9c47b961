"""Dataset shard publishing: the last step of a training-data pipeline —
freeze a curated corpus into N deterministic shards a data loader can
consume, with a manifest of per-shard statistics.

The reference ends at a ClickHouse load (``load_to_clickhouse.py``); a
training pipeline instead ends at sharded files + manifest: loaders map
shards to workers, resume by shard, and validate against the manifest's
counts before a run burns accelerator time.

Scale notes (100 TB):

- Shard assignment is an engine-neutral md5 bucket of the document id —
  a narrow map (no shuffle); the partitioned write is the only exchange,
  and documents keep their shard across corpus refreshes (append-only
  publishing stays incremental).
- The manifest aggregation is ``n_shards`` rows — the single driver-side
  materialization, bounded by the shard count, never by the corpus.
- :func:`read_shard` filters on the Hive partition column, so a loader
  reading one shard triggers partition PRUNING — it lists one directory
  of the lake, not the corpus (pinned by a plan test).
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from project_bigdata_spark.operators.dedup import words_col


def shard_id_col(id_col: Column, n_shards: int) -> Column:
    """Deterministic engine-neutral shard: first two md5 nibbles of the
    id (0..255) mod ``n_shards`` — the same idiom as hash_split, so the
    DuckDB oracle replays identical buckets."""
    bucket = F.conv(
        F.substring(F.md5(id_col.cast("string")), 1, 2), 16, 10
    ).cast("int")
    return (bucket % n_shards).cast("int")


def assign_shards(
    df: DataFrame, id_col: str = "doc_id", n_shards: int = 16
) -> DataFrame:
    return df.withColumn("shard_id", shard_id_col(F.col(id_col), n_shards))


def shard_manifest_frame(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 16,
) -> DataFrame:
    """Per-shard statistics frame: docs, chars, whitespace tokens — the
    numbers a loader checks before training. Stays distributed; callers
    decide whether its ``n_shards`` rows ever reach the driver."""
    s = assign_shards(df, id_col, n_shards)
    return s.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length(text_col)).alias("n_chars"),
        F.sum(F.size(words_col(F.col(text_col)))).alias("n_tokens"),
    )


def publish_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 16,
) -> dict:
    """Write ``df`` hash-sharded under ``path`` (Hive layout
    ``shard_id=K/``) and a ``_manifest.json`` beside the data; returns
    the manifest. The manifest is the one driver-side collect — exactly
    ``n_shards`` aggregate rows."""
    s = assign_shards(df, id_col, n_shards)
    s.write.mode("overwrite").partitionBy("shard_id").parquet(path)
    rows = sorted(
        (r.asDict() for r in shard_manifest_frame(
            df, id_col, text_col, n_shards
        ).collect()),
        key=lambda r: r["shard_id"],
    )
    manifest = {
        "n_shards": n_shards,
        "id_col": id_col,
        "total_docs": sum(r["n_docs"] for r in rows),
        "shards": rows,
    }
    spark = df.sparkSession
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/_manifest.json")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(p, True)
    out.write(bytearray(json.dumps(manifest, indent=1).encode()))
    out.close()
    return manifest


def read_manifest(spark: SparkSession, path: str) -> dict:
    """Manifest read via the Hadoop FileSystem API (the ``_`` prefix
    keeps the manifest invisible to Spark's dataset readers — including
    ``spark.read.text`` — so the raw stream is read JVM-side instead)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/_manifest.json")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(p)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return json.loads(bytes(data).decode())


def read_shard(spark: SparkSession, path: str, shard_id: int) -> DataFrame:
    """One-shard read for a loader worker: the equality filter on the
    partition column prunes every other shard directory at planning
    time."""
    return spark.read.parquet(path).where(F.col("shard_id") == shard_id)


def epoch_order(
    df: DataFrame,
    epoch: int = 0,
    n_shards: int = 16,
    out_col: str = "epoch_pos",
) -> DataFrame:
    """Deterministic per-epoch shuffle order WITHIN each shard: position
    = rank of ``md5(doc_id || '-e' || epoch)``, so every epoch visits a shard
    in a different but reproducible order (resume mid-epoch = seek to a
    position), and changing the epoch reshuffles without touching data.

    Ranks are per-shard on purpose — a global row_number would serialize
    the corpus through one partition; loaders consume shards
    independently, so shard-local order is the contract that scales.
    """
    from pyspark.sql import Window

    s = assign_shards(df, "doc_id", n_shards)
    key = F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit(f"-e{epoch}"))
    )
    w = Window.partitionBy("shard_id").orderBy(key, F.col("doc_id"))
    return s.withColumn(out_col, F.row_number().over(w))


def assign_global_ids(df: DataFrame, n_shards: int = 16) -> DataFrame:
    """Deterministic dense-ish ``global_id`` int64 ids without global
    coordination: ``shard_id << 40 | rank within shard`` (rank ordered by
    the natural key ``doc_id``). The standard scale pattern replacing
    ``monotonically_increasing_id()``, whose values depend on partition
    COUNT and task scheduling — they change when the cluster size does,
    which silently breaks any join keyed on them across runs. These ids
    are a pure function of the data: stable across runs, clusters, and
    AQE decisions; per-shard ranks are a shard-local window (no single
    global sort), capacity 2^40 rows per shard.
    """
    from pyspark.sql import Window

    s = assign_shards(df, "doc_id", n_shards)
    w = Window.partitionBy("shard_id").orderBy(F.col("doc_id"))
    return s.withColumn(
        "global_id",
        (
            F.col("shard_id").cast("bigint") * F.lit(1 << 40)
            + F.row_number().over(w)
        ).cast("bigint"),
    )
