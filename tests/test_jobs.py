"""CLI job entry points (reference batch_processor.py --layer parity)."""

from __future__ import annotations

from project_bigdata_spark.jobs import batch as B


def test_batch_job_all_layers(spark, tmp_path):
    out = str(tmp_path / "med")
    counts = B.run(
        spark, "/root/testdata/sf0.001/events.parquet", out, "all"
    )
    assert counts["bronze"] == 1000
    assert counts["silver"] == 1000
    assert 0 < counts["gold"] < 1000
    gold = spark.read.parquet(f"{out}/gold")
    assert {"user_id", "hour_ts", "max_value", "event_types"} <= set(gold.columns)
    # partition columns materialized as Hive-style dirs
    assert (tmp_path / "med" / "gold" / "year=2024" / "month=1").exists()


def test_batch_job_incremental_layers(spark, tmp_path):
    """Layers runnable independently against the previous layer's files
    (the reference's storage-coupled topology, §3.1-6)."""
    out = str(tmp_path / "med2")
    B.run(spark, "/root/testdata/sf0.001/events.parquet", out, "bronze")
    B.run(spark, "", out, "silver")
    c = B.run(spark, "", out, "gold")
    assert c["gold"] > 0
