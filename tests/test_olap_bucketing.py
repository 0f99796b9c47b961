"""S9 OLAP sink fill semantics + bucketed co-located joins."""

from __future__ import annotations

from pyspark.sql import functions as F

from project_bigdata_spark.functions.aqi import aqi_recommendation
from project_bigdata_spark.sources import registry as R
from tools.plan_doctor import formatted_plan


def test_olap_table_null_fill(spark):
    df = spark.createDataFrame(
        [(1, None, None, None), (2, "x", 5.0, ["a"])],
        "id long, s string, v double, arr array<string>",
    )
    R.write_olap_table(df, "olap_t")
    try:
        got = {r.id: r for r in spark.table("olap_t").collect()}
        assert got[1].s == "" and got[1].v == 0.0 and got[1].arr == []
        assert got[2].s == "x" and got[2].arr == ["a"]
    finally:
        spark.sql("DROP TABLE IF EXISTS olap_t")


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    """Two tables bucketed on the join key: the join plan has no shuffle
    on either side — the storage-side co-location strategy for repeated
    big-big joins."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    R.write_bucketed_table(o, "orders_b", "o_orderkey", 8)
    R.write_bucketed_table(
        l.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b",
        "o_orderkey", 8,
    )
    try:
        # disable AQE broadcast conversion so the bucketed SMJ is visible
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("lineitem_b").join(
            spark.table("orders_b"), "o_orderkey"
        )
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # co-located: no shuffle
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_aqi_recommendation_struct(spark):
    df = spark.createDataFrame(
        [("Good",), ("Hazardous",), ("nope",)], ["cat"]
    )
    rows = {r.cat: r.rec for r in df.select(
        "cat", aqi_recommendation(F.col("cat")).alias("rec")).collect()}
    assert rows["Good"].color == "#00e400"
    assert rows["Hazardous"].icon == "danger"
    assert rows["nope"] is None
