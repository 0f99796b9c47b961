#!/usr/bin/env python
"""A/B experiment: scan-parallelism variants for single-split inputs.

Times, with the noop sink (guide §1.4), three shapes per subject query:
  base  — catalog plan as-is (single-task scan feeds the first exchange)
  rr    — fan_out (round-robin repartition to defaultParallelism) after scan
  key   — explicit repartition(defaultParallelism, <entity key>) after scan
          (absorbs the downstream keyed exchange: subset-key satisfies the
          ClusteredDistribution, and an explicit REPARTITION_BY_NUM is not
          AQE-coalesced, so windows/aggs run wide)

Usage: python tools/exp_parallel.py [--runs N]
"""
from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from project_bigdata_spark.operators import features as FE
from project_bigdata_spark.operators import medallion as M
from project_bigdata_spark.plans import _norm as N
from project_bigdata_spark.session import get_spark
from project_bigdata_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.1"
RUNS = 5
for a in sys.argv[1:]:
    if a.startswith("--runs="):
        RUNS = int(a.split("=")[1])

spark = get_spark(app_name="exp_parallel")
spark.range(1000).write.format("noop").mode("overwrite").save()
P = spark.sparkContext.defaultParallelism


def t(label, df_fn):
    times = []
    for _ in range(RUNS):
        spark.sparkContext.setJobDescription(f"exp:{label}")
        t0 = time.perf_counter()
        df_fn().write.format("noop").mode("overwrite").save()
        times.append(round(time.perf_counter() - t0, 3))
    print(f"{label:34s} best={min(times):.3f} runs={times}")


# ---- q1_pricing_summary shapes ----
from project_bigdata_spark.plans.relational_queries import _revenue, _sum_dbl


def q1_shape(tweak):
    l = load_table(spark, SF_DIR, "lineitem")
    l = tweak(l)
    cnt = F.count(F.lit(1))
    revenue = _revenue()
    qty_c, ep_c, disc_c = (
        N.cents("l_quantity"),
        N.cents("l_extendedprice"),
        N.cents("l_discount"),
    )
    charge = revenue * (F.lit(100) + N.cents("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(_sum_dbl(qty_c, 1e2), 2).alias("sum_qty"),
            F.round(_sum_dbl(ep_c, 1e2), 2).alias("sum_base_price"),
            F.round(_sum_dbl(revenue, 1e4), 2).alias("sum_disc_price"),
            F.round(_sum_dbl(charge, 1e6), 2).alias("sum_charge"),
            F.round(_sum_dbl(qty_c, 1e2) / cnt, 4).alias("avg_qty"),
            F.round(_sum_dbl(ep_c, 1e2) / cnt, 4).alias("avg_price"),
            F.round(_sum_dbl(disc_c, 1e2) / cnt, 4).alias("avg_disc"),
            cnt.cast("bigint").alias("count_order"),
        )
    )


t("q1 base", lambda: q1_shape(lambda l: l))
t("q1 rr", lambda: q1_shape(lambda l: l.repartition(P)))

# ---- gold_cohort_stats shapes ----


def cohort_shape(tweak):
    e = load_table(spark, SF_DIR, "events")
    e = tweak(e)
    g = M.gold_hourly(M.silver(M.bronze(e)))
    return (
        g.groupBy((F.col("user_id") % 10).cast("bigint").alias("cohort"))
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            N.avg_exact("max_value").alias("avg_max_value"),
            N.rnd(F.max("max_value")).alias("peak_value"),
            N.rnd(F.min("max_value")).alias("low_value"),
            N.stddev_exact("max_value", pop=True).alias("stddev_value"),
        )
        .orderBy(F.desc("avg_max_value"))
    )


t("cohort base", lambda: cohort_shape(lambda e: e))
t("cohort rr", lambda: cohort_shape(lambda e: e.repartition(P)))
t("cohort key", lambda: cohort_shape(lambda e: e.repartition(P, "user_id")))

# ---- gold_hourly shapes ----


def gh_shape(tweak):
    e = tweak(load_table(spark, SF_DIR, "events"))
    g = M.gold_hourly(M.silver(M.bronze(e)))
    return g.select(
        N.big("user_id").alias("user_id"),
        N.ts_str("hour_ts").alias("hour_ts"),
        N.rnd("max_value").alias("max_value"),
        N.rnd("avg_value").alias("avg_value"),
        N.big("n_events").alias("n_events"),
        N.arr_str("event_types").alias("event_types"),
        F.concat_ws(
            ",", F.transform(F.col("values"), lambda v: F.round(v, 2).cast("string"))
        ).alias("values"),
        "category",
    )


t("gold_hourly base", lambda: gh_shape(lambda e: e))
t("gold_hourly rr", lambda: gh_shape(lambda e: e.repartition(P)))
t("gold_hourly key", lambda: gh_shape(lambda e: e.repartition(P, "user_id")))

# ---- rolling_features shapes ----


def roll_shape(tweak):
    e = tweak(load_table(spark, SF_DIR, "events"))
    e = FE.add_rolling_features(
        e, "value", order_by=["ts", "event_id"], window_rows=7, long_window_rows=30
    )
    return e.select(
        N.big("event_id").alias("event_id"),
        N.big("user_id").alias("user_id"),
        N.rnd("value_mean_7").alias("value_mean_7"),
        N.rnd("value_std_7").alias("value_std_7"),
        N.rnd("value_max_7").alias("value_max_7"),
        N.rnd("value_min_7").alias("value_min_7"),
        N.rnd("value_mean_30").alias("value_mean_30"),
    )


t("rolling base", lambda: roll_shape(lambda e: e))
t("rolling key", lambda: roll_shape(lambda e: e.repartition(P, "user_id")))

# ---- sessionize shapes ----
from pyspark.sql.window import Window


def sess_shape(tweak):
    e = tweak(load_table(spark, SF_DIR, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_session = F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0)
    sess = e.withColumn(
        "session_idx",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy(
        N.big("user_id").alias("user_id"),
        N.big("session_idx").alias("session_idx"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        N.ts_str(F.min("ts"), micros=True).alias("session_start"),
        N.ts_str(F.max("ts"), micros=True).alias("session_end"),
    )


t("sessionize base", lambda: sess_shape(lambda e: e))
t("sessionize key", lambda: sess_shape(lambda e: e.repartition(P, "user_id")))
