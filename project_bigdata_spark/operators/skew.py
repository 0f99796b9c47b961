"""Skew-resistant aggregation (complements AQE's skew-JOIN handling).

AQE splits skewed join partitions but a skewed GROUP BY key still lands
on one reducer when the aggregation has no partial-combine benefit (e.g.
``collect_list``: partial aggregation doesn't shrink data). The classic
fix is two-stage salted aggregation:

1. group by (key, salt) — the hot key fans out over ``buckets`` reducers;
2. re-aggregate per key, merging the partial states.

Provided for the mergeable aggregates the medallion pipeline uses (count,
sum, max, min, collect_list-of-struct). For algebraic aggregates with
map-side combine (sum/count over many groups), plain groupBy is already
optimal — use this only when one key dominates AND the aggregate carries
payload (lists) or the key count is tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from project_bigdata_spark.functions import arrays as A


def salted_hourly_gold(
    df: DataFrame,
    buckets: int = 16,
    max_pairs: int | None = None,
    salt_col: str | None = None,
) -> DataFrame:
    """Gold hourly aggregation with a salted first stage.

    Semantically identical to ``medallion.gold_hourly``'s core aggregate
    (per ``user_id`` and hour of ``ts``: max/count of ``value`` + sorted
    ``(event_type, value)`` pairs); physically the hot (entity, hour) groups
    fan out over ``buckets`` partial groups first, so one pathological
    station cannot serialize a reducer.

    ``max_pairs`` bounds the per-group pairs payload — the part salting
    alone CANNOT fix: an unbounded collect_list output row grows linearly
    with the hot key no matter how the partials are distributed. With a
    cap, each salt bucket keeps only its smallest ``max_pairs`` pairs (by
    the struct sort order) and the merge keeps the smallest ``max_pairs``
    of the at most ``buckets * max_pairs`` survivors — EXACT global
    top-k, since every globally-smallest pair is necessarily among its
    own bucket's smallest. max/count stay exact over all rows. This is
    the bounded-output contract a 100 TB hot key requires; leave it None
    only when group sizes are known-bounded.
    """
    hour = F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    # Salt on a row-unique column when one exists: hashing ts alone sends
    # an exact-duplicate burst (same entity, same timestamp — sensor
    # replays, default values) into ONE bucket, silently un-salting the
    # hottest case. Deterministic (hash of data, not rand()) so task
    # retries re-derive identical salts.
    salt = (F.abs(F.xxhash64(F.col(salt_col or "ts"))) % buckets).alias("_salt")
    pairs_partial = A.collect_sorted_pairs(F.col("event_type"), F.col("value"))
    if max_pairs is not None:
        pairs_partial = F.slice(pairs_partial, 1, max_pairs)
    partial = (
        df.groupBy(F.col("user_id"), hour, salt)
        .agg(
            F.max("value").alias("_max"),
            F.count(F.lit(1)).alias("_n"),
            pairs_partial.alias("_pairs"),
        )
    )
    pairs_merged = F.sort_array(F.flatten(F.collect_list("_pairs")))
    if max_pairs is not None:
        pairs_merged = F.slice(pairs_merged, 1, max_pairs)
    merged = (
        partial.groupBy("user_id", "hour_ts")
        .agg(
            F.max("_max").alias("max_value"),
            F.sum("_n").alias("n_events"),
            pairs_merged.alias("pairs"),
        )
        .withColumn("event_types", A.pairs_keys(F.col("pairs")))
        .withColumn("values", A.pairs_values(F.col("pairs")))
        .drop("pairs")
    )
    return merged
