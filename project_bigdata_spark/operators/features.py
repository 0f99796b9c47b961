"""Window-based feature engine (SURVEY.md §2.5 W1-W4/W7-W8, §2.7 F4/F7).

The reference computes every time-series feature driver-side in pandas
(``ml_training/data_loader.py:121-194``) — the single biggest scalability
defect of its design (SURVEY.md §3.3-3). Here each feature is a Spark
Window expression: distributed, shuffle-once-per-partitioning, no driver
materialization.

Pinned parity semantics (SURVEY.md §7.4):

- lag/lead are ROW-offset (pandas ``shift``) — bug-compatible with the
  reference, which ignores gaps in the hourly series. The time-correct
  variant is :func:`gap_fill_hourly` + row lag, matching "k hours ago"
  exactly.
- rolling stats use ``rowsBetween(-(k-1), 0)``, which matches pandas
  ``rolling(k, min_periods=1)`` (partial head windows included).
- std is sample-std (ddof=1, pandas default) -> ``stddev_samp``; a
  single-row window yields NULL, matching pandas NaN.
- ``day_of_week`` is pandas Monday=0 (see functions/timeparts.py).

Scale notes: all windows partition by the entity key — one shuffle total
if the frame is already hash-partitioned by entity (reuse across every
window since Spark chains same-partitioning window specs without
re-exchange). Skewed entities (one hot station) are bounded by the row
frame (720 rows max state), so no OOM; AQE handles partition-size skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from project_bigdata_spark.functions.timeparts import time_parts


def add_time_features(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """F4: the 5 time features (data_loader.py:134-138)."""
    for name, col in time_parts(F.col(ts_col)).items():
        df = df.withColumn(name, col)
    return df


def _order_cols(order_by: list[str]) -> list[Column]:
    return [F.col(c) for c in order_by]


def add_lag_features(
    df: DataFrame,
    value_col: str,
    order_by: list[str] | None = None,
    lags: tuple[int, ...] = (1, 24, 168),
) -> DataFrame:
    """W1: row-offset lags per ``user_id`` (pandas ``groupby().shift(k)``,
    data_loader.py:141-143)."""
    w = Window.partitionBy("user_id").orderBy(*_order_cols(order_by or ["ts"]))
    for k in lags:
        df = df.withColumn(f"{value_col}_lag_{k}", F.lag(value_col, k).over(w))
    return df


def add_target_lead(
    df: DataFrame,
    value_col: str,
    order_by: list[str] | None = None,
    target_name: str | None = None,
) -> DataFrame:
    """W2: next-step target per ``user_id`` (pandas ``shift(-1)``,
    train_lightgbm.py:167-171)."""
    w = Window.partitionBy("user_id").orderBy(*_order_cols(order_by or ["ts"]))
    name = target_name or f"{value_col}_next"
    return df.withColumn(name, F.lead(value_col, 1).over(w))


def add_rolling_features(
    df: DataFrame,
    value_col: str,
    order_by: list[str] | None = None,
    window_rows: int = 168,
    long_window_rows: int = 720,
) -> DataFrame:
    """W3+W4: rolling mean/std/max/min per ``user_id`` over the short
    window and mean over the long window (pandas
    ``rolling(k, min_periods=1)``, data_loader.py:146-160), as columns
    ``<value_col>_<stat>_<rows>``.

    Exact-decimal sum/sum-of-squares forms keep the results engine-neutral
    and summation-order-free (see plans/_norm.py rationale); max/min are
    order-free natively.
    """
    from project_bigdata_spark.plans import _norm as N

    p = value_col
    w = Window.partitionBy("user_id").orderBy(*_order_cols(order_by or ["ts"]))
    short = w.rowsBetween(-(window_rows - 1), 0)
    long = w.rowsBetween(-(long_window_rows - 1), 0)

    c = N.cents(value_col)
    cnt_s = F.count(F.lit(1)).over(short).cast("double")
    sum_s = F.sum(c).over(short).cast("double") / F.lit(100.0)
    sq_s = F.sum(c * c).over(short).cast("double") / F.lit(1.0e4)
    var_s = F.greatest((sq_s - sum_s * sum_s / cnt_s) / (cnt_s - 1), F.lit(0.0))

    return (
        df.withColumn(f"{p}_mean_{window_rows}", sum_s / cnt_s)
        .withColumn(
            f"{p}_std_{window_rows}",
            F.when(cnt_s <= 1, F.lit(None).cast("double")).otherwise(F.sqrt(var_s)),
        )
        .withColumn(f"{p}_max_{window_rows}", F.max(value_col).over(short))
        .withColumn(f"{p}_min_{window_rows}", F.min(value_col).over(short))
        .withColumn(
            f"{p}_mean_{long_window_rows}",
            F.sum(c).over(long).cast("double")
            / F.lit(100.0)
            / F.count(F.lit(1)).over(long),
        )
    )


def gap_fill_hourly(
    df: DataFrame,
    entity_col: str = "user_id",
    hour_col: str = "hour_ts",
) -> DataFrame:
    """Densify an hourly series: one row per (entity, hour) between each
    entity's min and max hour; missing hours carry NULL values.

    This is the prerequisite for *time-correct* lags (SURVEY.md §4.3-5):
    after gap-fill, ``lag(24)`` means "24 hours ago", not "24 records ago".
    ``sequence()`` + ``explode`` is executor-side generation — the hour
    spine never exists on the driver.
    """
    spine = (
        df.groupBy(entity_col)
        .agg(F.min(hour_col).alias("_h0"), F.max(hour_col).alias("_h1"))
        .select(
            entity_col,
            F.explode(
                F.sequence("_h0", "_h1", F.expr("INTERVAL 1 HOUR"))
            ).alias(hour_col),
        )
    )
    return spine.join(df, on=[entity_col, hour_col], how="left")


def time_split(
    df: DataFrame,
    ts_col: str = "ts",
    train_end: str = "2023-12-31 23:59:59",
    val_end: str = "2024-12-31 23:59:59",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """W7: time-based train/val/test split (data_loader.py:196-225)."""
    ts = F.col(ts_col)
    train = df.filter(ts <= F.lit(train_end).cast("timestamp"))
    val = df.filter(
        (ts > F.lit(train_end).cast("timestamp"))
        & (ts <= F.lit(val_end).cast("timestamp"))
    )
    test = df.filter(ts > F.lit(val_end).cast("timestamp"))
    return train, val, test


def label_encode(
    df: DataFrame,
    col: str,
    out_col: str | None = None,
    dictionary: DataFrame | None = None,
) -> DataFrame:
    """F7: dense integer codes in lexicographic order — exactly sklearn's
    ``LabelEncoder`` (data_loader.py:163), without collecting the
    dictionary to the driver.

    Scales to high-cardinality columns (entity ids, not just country
    codes) with a two-phase distributed rank: range-partition the
    distinct values, ``row_number`` WITHIN each sorted range (a
    partitioned window — no single-partition global sort), then add each
    range's cumulative start offset (a 32-row broadcast: 32 ranges).
    ``repartitionByRange`` assigns ascending key ranges to ascending
    partition ids, so offset(p) + local_rank reproduces the global dense
    code exactly (values are distinct, so row_number ≡ dense_rank). The
    final code join is left to AQE: broadcast when the dictionary is
    small, shuffle join when it is not.

    ``dictionary``: optional cheaper source of the SAME value set (e.g.
    the pre-aggregation table when ``df`` sits on top of an expensive
    aggregate — distinct user_ids are identical before and after a
    groupBy on user_id, but the pre-agg scan skips the aggregation).
    The caller owns the equality guarantee; codes are computed from
    ``dictionary`` and joined onto ``df``.
    """
    out = out_col or f"{col}_encoded"
    # persist BEFORE repartitionByRange: its range-boundary sampling is an
    # extra job that would otherwise re-execute the whole upstream plan
    dict_src = dictionary if dictionary is not None else df
    distinct_vals = dict_src.select(col).distinct().persist()
    dv = distinct_vals.repartitionByRange(32, F.col(col)).withColumn(
        "_p", F.spark_partition_id()
    )
    local = dv.withColumn(
        "_lr", F.row_number().over(Window.partitionBy("_p").orderBy(col))
    )
    # partitionBy(_p % 1): same single-partition execution over this
    # 32-row aggregate, but with an explicit partition spec so the
    # global-window WARN stays reserved for real unpartitioned windows.
    # (A bare lit(0) is constant-folded OUT of the partition spec before
    # WindowExec checks it, so the WARN would still fire; _p % 1 is
    # non-foldable yet constant-valued.)
    off_w = (
        Window.partitionBy(F.col("_p") % 1)
        .orderBy("_p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        dv.groupBy("_p")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_off", F.coalesce(F.sum("_n").over(off_w), F.lit(0)))
        .select("_p", "_off")
    )
    codes = local.join(F.broadcast(offsets), on="_p").select(
        col, (F.col("_lr") + F.col("_off") - 1).alias(out)
    )
    return df.join(codes, on=col, how="left")


def hash_split_assign(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic hash-based train/val/test ``split`` column (the
    sibling of :func:`time_split` for non-temporal corpora): bucket = the
    first two hex nibbles of ``md5(id)`` (0..255); buckets below 204 are
    train, the next 26 val, the rest test (≈ 80/10/10).

    Hashing the id decorrelates the split from ingest order — an id
    modulo leaks collection time into the split. A narrow map, no
    shuffle, and stable across corpus refreshes: a document keeps its
    split forever, so val/test never bleed into train between versions.
    """
    bucket = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 2), 16, 10
    ).cast("int")
    split = (
        F.when(bucket < 204, F.lit("train"))
        .when(bucket < 204 + 26, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("split", split)


def feature_scaling(df: DataFrame) -> DataFrame:
    """Per-group feature scaling: z-score and min-max normalize
    ``value`` within each ``event_type`` — the standard numeric-feature
    prep pass before model training (the reference scales features
    driver-side in pandas, ``ml_training/train_lightgbm.py``).

    The stats frame is #groups rows built with one partial-aggregated
    shuffle, then BROADCAST back against the big side — the corpus itself
    never reshuffles. Mean/stddev are computed with exact DECIMAL sums
    (order-free) and rounded to 4 decimals BEFORE the scale
    arithmetic, so the scaled outputs are bit-identical on any engine and
    any partitioning.
    """
    from project_bigdata_spark.plans import _norm as N

    c = F.col("value")
    stats = df.groupBy("event_type").agg(
        N.avg_exact("value", 4).alias("_mean"),
        N.stddev_exact("value", 4).alias("_sd"),
        F.min(c).alias("_mn"),
        F.max(c).alias("_mx"),
    )
    out = df.join(F.broadcast(stats), on="event_type", how="inner")
    return (
        out.withColumn(
            "_zscore", (c - F.col("_mean")) / F.nullif(F.col("_sd"), F.lit(0.0))
        )
        .withColumn(
            "_minmax",
            (c - F.col("_mn")) / F.nullif(F.col("_mx") - F.col("_mn"), F.lit(0.0)),
        )
    )
