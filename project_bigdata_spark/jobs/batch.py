"""Batch medallion job — the engine's ``spark-submit`` entry point.

CLI parity with the reference's ``spark/batch_processor.py`` (§3.1:
``--layer {bronze|silver|gold|all}``), minus two of its defects: counts
come from ``observe()``, not post-write recomputation, and partitioned
writes use dynamic partition overwrite. Every layer reads its input from
files, so ``--layer all`` runs three lineages, not one: it writes bronze
from the input, re-reads the bronze files to write silver, then re-reads
the silver files to write gold.

    python -m project_bigdata_spark.jobs.batch \
        --input /root/testdata/sf0.01/events.parquet \
        --output /tmp/medallion --layer all

Each layer can therefore also run on its own against the previous
layer's files — useful when layers run on different schedules.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from project_bigdata_spark.operators import medallion as M
from project_bigdata_spark.session import get_spark


def run(
    spark: SparkSession, input_path: str, output_dir: str, layer: str
) -> dict[str, int]:
    counts: dict[str, int] = {}

    def write(df, name, obs):
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).partitionBy("year", "month", "day").parquet(f"{output_dir}/{name}")
        counts[name] = obs.get["rows"]

    if layer in ("bronze", "all"):
        from project_bigdata_spark.sources.registry import read_events

        raw = read_events(spark, input_path)
        write(M.bronze(raw), "bronze", Observation("bronze"))
    if layer in ("silver", "all"):
        bronze = spark.read.parquet(f"{output_dir}/bronze")
        write(M.silver(bronze), "silver", Observation("silver"))
    if layer in ("gold", "all"):
        silver = spark.read.parquet(f"{output_dir}/silver")
        gold = M.gold_hourly(silver).drop("type_values")
        write(gold, "gold", Observation("gold"))
    return counts


def main(argv: list[str] | None = None) -> dict[str, int]:
    parser = argparse.ArgumentParser(description="batch medallion ETL")
    parser.add_argument("--input", required=True, help="events parquet path")
    parser.add_argument("--output", required=True, help="medallion output dir")
    parser.add_argument(
        "--layer", choices=["bronze", "silver", "gold", "all"], default="all"
    )
    args = parser.parse_args(argv)
    spark = get_spark(app_name="medallion-batch")
    counts = run(spark, args.input, args.output, args.layer)
    print(json.dumps({"layers": counts}))
    return counts


if __name__ == "__main__":
    main()
