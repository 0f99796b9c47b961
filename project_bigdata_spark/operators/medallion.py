"""Medallion (Bronze -> Silver -> Gold) ETL operators.

Re-expresses the reference's batch pipeline (``spark/batch_processor.py``,
SURVEY.md §3.1) as pure DataFrame->DataFrame functions over the driver's
``events`` stream table, which plays the measurement-fact role:

    events(event_id, ts, user_id, event_type, value, props)
      ≙ measurement(ingest_id, datetime, location_id, parameter, value, raw-json)

Fixed defects relative to the reference (SURVEY.md §4.3):

- counts come from ``observe()`` metrics on the writes (``jobs/batch.run``),
  not a post-write ``count()`` that recomputes the lineage
  (batch_processor.py:131,177,220);
- Gold's parallel arrays are built from ONE sorted ``collect_list(struct)``
  (deterministic) instead of two independent ``collect_list`` calls
  (batch_processor.py:206-207);
- the hour-group category derives from ``max(value)`` post-agg, not a
  lexicographic ``max(category)`` (batch_processor.py:208).

Scale notes: Bronze/Silver are narrow (no shuffle — filter/project only, so
they pipeline inside one whole-stage-codegen span per input split). Gold is
the single shuffle of the pipeline: a partial/final hash aggregate keyed on
(entity, hour). Its key cardinality grows with data, so it parallelizes
arbitrarily; AQE coalesces the post-shuffle side. Nothing touches the
driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from project_bigdata_spark.functions import arrays as A
from project_bigdata_spark.functions.aqi import aqi_category
from project_bigdata_spark.functions.timeparts import with_partition_cols
from project_bigdata_spark.plans import _norm as N

# Declared envelope schema (never inferred), mirroring the reference's
# KAFKA_MESSAGE_SCHEMA discipline (batch_processor.py:31-45).
PROPS_SCHEMA = "struct<k: int>"


def bronze(raw: DataFrame) -> DataFrame:
    """P1+P2+P5+P6: shred the JSON envelope, null-gate, derive partition cols.

    Reference lifecycle: ``process_kafka_to_bronze`` (batch_processor.py:80-133).
    ``props`` stands in for the raw Kafka JSON payload.
    """
    parsed = raw.withColumn("props_k", F.from_json(F.col("props"), PROPS_SCHEMA)["k"])
    gated = parsed.filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    return with_partition_cols(gated, "ts")


def silver(bronze_df: DataFrame) -> DataFrame:
    """P3+P4: validation filter + prune/rename.

    Reference: ``process_bronze_to_silver`` (batch_processor.py:136-179) —
    keeps value NOT NULL, >= 0, non-NaN; drops raw payload columns.
    """
    return bronze_df.filter(
        F.col("value").isNotNull() & ~F.isnan("value") & (F.col("value") >= 0)
    ).select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        "props_k",
        "year",
        "month",
        "day",
    )


def gold_hourly(silver_df: DataFrame) -> DataFrame:
    """A1, the flagship aggregation: one row per (entity, hour).

    Reference: ``process_silver_to_gold`` (batch_processor.py:182-222).
    Emits max/avg/count plus the deterministic parallel arrays AND their
    map-typed companion (SURVEY.md §1.4 table).
    """
    hour = F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    pairs = A.collect_sorted_pairs(F.col("event_type"), F.col("value"))
    agg = (
        silver_df.groupBy(F.col("user_id"), hour, "year", "month", "day")
        .agg(
            F.max("value").alias("max_value"),
            # exact integer-cents sum / count: order-free, engine-neutral,
            # no double->DECIMAL cast (see plans/_norm.py cents rationale)
            (
                F.sum(N.cents("value")).cast("double")
                / F.lit(100.0)
                / F.count(F.lit(1))
            ).alias("avg_value"),
            F.count(F.lit(1)).alias("n_events"),
            pairs.alias("pairs"),
        )
        .withColumn("event_types", A.pairs_keys(F.col("pairs")))
        .withColumn("values", A.pairs_values(F.col("pairs")))
        .withColumn("type_values", A.pairs_to_map(F.col("pairs")))
        .withColumn("category", aqi_category(F.col("max_value")))
        .drop("pairs")
    )
    return agg
