"""Join operators (SURVEY.md §2.4 / build-plan M4).

The reference implements ZERO joins — it denormalizes dimensions into every
fact at ingest (``collect_data.py:220-234``) and carries metadata through
group keys (``spark/batch_processor.py:193-203``). This module provides the
idiomatic-Spark join surface those idioms replace, plus the idioms
themselves, so a reference user can run either form.

Scale notes (100 TB):

- :func:`dim_enrich` broadcasts the dimension — the fact side never
  shuffles. This is exactly the reference's denormalize-at-ingest, executed
  lazily by the engine instead of baked into storage.
- Fact-fact joins go through AQE: sort-merge by default, runtime-converted
  to broadcast if a side is small, skew-split if a key is hot
  (``spark.sql.adaptive.skewJoin.enabled``).
- For repeated co-located joins on one key, pre-``repartition`` both sides
  on the key (or bucket the tables) so only one shuffle is paid across the
  pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dim_enrich(fact: DataFrame, dim: DataFrame, on: str | list[str]) -> DataFrame:
    """Broadcast hash join fact x small dimension.

    The Spark-native replacement for ingest-time denormalization
    (collect_data.py:220-234): same output columns, but the dimension stays
    normalized in storage and is broadcast at query time.
    """
    return fact.join(F.broadcast(dim), on=on, how="inner")


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """EXISTS: rows of ``left`` with a match in ``right`` (left columns only)."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """NOT EXISTS: rows of ``left`` without a match in ``right``."""
    return left.join(right, on=on, how="left_anti")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-resistant inner equi-join: explode the small side over a salt
    space.

    Manual fallback for when AQE skew handling is unavailable (e.g. the key
    skew lives in an aggregation upstream of the join). ``left`` gets a
    random-ish but deterministic salt from a hash of its row; ``right`` is
    replicated ``salt_buckets`` times.
    """
    salt = (F.abs(F.xxhash64(*left.columns)) % salt_buckets).alias("__salt")
    l_salted = left.withColumn("__salt", salt)
    r_salted = right.crossJoin(
        F.broadcast(
            left.sparkSession.range(salt_buckets).select(
                F.col("id").cast("bigint").alias("__salt")
            )
        )
    )
    out = l_salted.join(r_salted, on=[key, "__salt"], how="inner")
    return out.drop("__salt")


def order_items(li: DataFrame) -> DataFrame:
    """Distinct (l_orderkey, l_partkey) pairs, fanned out on l_orderkey.

    Shared first step of every co-purchase graph entry (and of
    copurchase_affinity). The explicit l_orderkey repartition (a no-op
    when the scan already has enough splits — i.e. always at scale) lets
    the distinct run WITHOUT its own exchange (subset-key partitioning
    satisfies the (orderkey, partkey) clustered distribution) and keeps
    the order-local self-join that follows at full parallelism instead of
    the single task a one-split parquet scan would pin it to (guide §2.5
    input skew).
    """
    from project_bigdata_spark.operators.dedup import fan_out_by_key

    return fan_out_by_key(
        li.select("l_orderkey", "l_partkey"), "l_orderkey"
    ).distinct()
