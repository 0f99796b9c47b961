"""Time-part / date scalar helpers (SURVEY.md §2.7 F4, F9; §2.2 P5-P7).

The reference derives these in pandas driver-side (``ml_training/
data_loader.py:134-138``) or ClickHouse SQL (``clickhouse_queries.sql:133``).
Here they are Spark built-ins, with the one semantic trap pinned:

- pandas ``dt.dayofweek`` is Monday=0..Sunday=6; Spark ``dayofweek`` is
  Sunday=1..Saturday=7. :func:`day_of_week_pandas` converts so the feature
  frame (SURVEY.md §1.2 "ML feature frame") matches the reference exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def day_of_week_pandas(ts: Column) -> Column:
    """Monday=0 .. Sunday=6, matching pandas ``dt.dayofweek``."""
    return ((F.dayofweek(ts) + F.lit(5)) % F.lit(7)).cast("int")


def is_weekend(ts: Column) -> Column:
    """Saturday/Sunday flag (data_loader.py:138: ``dayofweek >= 5``)."""
    return (day_of_week_pandas(ts) >= F.lit(5)).cast("boolean")


def time_parts(ts: Column) -> dict[str, Column]:
    """The 5 time features of the reference frame (data_loader.py:134-138)."""
    return {
        "hour": F.hour(ts).cast("int"),
        "day_of_week": day_of_week_pandas(ts),
        "month": F.month(ts).cast("int"),
        "day_of_year": F.dayofyear(ts).cast("int"),
        "is_weekend": is_weekend(ts),
    }


def with_partition_cols(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """P6: Hive-style partition columns year/month/day from the event time
    (reference ``spark/batch_processor.py:118-120``).

    At 100 TB these columns ARE the pruning index: a date-range predicate
    on them skips whole directories before any parquet footer is read.
    """
    ts = F.col(ts_col)
    return (
        df.withColumn("year", F.year(ts).cast("int"))
        .withColumn("month", F.month(ts).cast("int"))
        .withColumn("day", F.dayofmonth(ts).cast("int"))
    )
