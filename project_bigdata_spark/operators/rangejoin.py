"""Range join — bounded time-interval join without the cross-product.

``range_join(left, right, key, lo, hi)``: pair each left row with right
rows of the same key whose timestamp falls in ``[left.ts + lo, left.ts +
hi]``. Spark has no native range join; a naive non-equi join degenerates
to a per-key cross product. The scale-safe construction:

1. bucketize time on both sides at ``hi - lo`` granularity;
2. explode the left side to the (at most 2) buckets its window overlaps;
3. equi-join on (key, bucket) — a plain shuffled hash join;
4. filter the exact range predicate.

Cost: one shuffle on (key, bucket); each row is matched only against
rows in overlapping buckets, so work scales with actual temporal
neighborhood density, not |L|x|R| per key. (DuckDB plans the same query
as an IEJoin — that is the differential oracle.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    lo_seconds: int,
    hi_seconds: int,
) -> DataFrame:
    """Inner range join: right.ts in [left.ts + lo, left.ts + hi].

    Column collisions: right's columns are kept as-is except its ts,
    exposed as ``r_ts``; callers project/alias before joining if needed.
    """
    width = hi_seconds - lo_seconds
    if width <= 0:
        raise ValueError("hi_seconds must exceed lo_seconds")

    l_us = F.unix_micros(F.col("ts"))
    width_us = width * 1_000_000

    # left's window [ts+lo, ts+hi] overlaps buckets floor((ts+lo)/w) and
    # floor((ts+hi)/w) — at most 2 since the window is exactly w wide
    lo_bucket = ((l_us + lo_seconds * 1_000_000) / width_us).cast("long")
    hi_bucket = ((l_us + hi_seconds * 1_000_000) / width_us).cast("long")
    l_b = left.withColumn(
        "_bucket",
        F.explode(F.array_distinct(F.array(lo_bucket, hi_bucket))),
    ).withColumn("_l_us", l_us)

    r_b = right.withColumnRenamed("ts", "r_ts").withColumn(
        "_bucket", (F.unix_micros(F.col("r_ts")) / width_us).cast("long")
    ).withColumn("_r_us", F.unix_micros(F.col("r_ts")))

    joined = l_b.join(r_b, on=[key, "_bucket"])
    exact = joined.filter(
        (F.col("_r_us") >= F.col("_l_us") + lo_seconds * 1_000_000)
        & (F.col("_r_us") <= F.col("_l_us") + hi_seconds * 1_000_000)
    )
    return exact.drop("_bucket", "_l_us", "_r_us")
