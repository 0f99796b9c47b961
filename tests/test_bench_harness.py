"""The bench harness at sf0.001: ``tools/synth.replicate`` doubles the fact
tables with unique keys, ``bench.py`` prints one JSON line per data dir with
builder times and fan-out gates, and a bad input stops it before any Spark
job."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import bench
from project_bigdata_spark.sources import TABLES, load_table
from tools import synth

SF = "/root/testdata/sf0.001"
_, _, SHIFTS, MUTATE = synth.PRESETS["sf1"]
BENCH_KEYS = {
    "metric", "value", "unit", "queries", "sf", "runs", "raw_runs",
    "loadavg_before", "loadavg_after", "cpus", "build_s", "gates",
}


@pytest.fixture(scope="module")
def replica(spark, tmp_path_factory) -> str:
    dst = str(tmp_path_factory.mktemp("synth") / "sf0.002")
    synth.replicate(SF, dst, 2, SHIFTS, MUTATE)
    return dst


def test_replicate_doubles_facts_with_unique_keys(spark, replica):
    for name in TABLES:
        src_rows = load_table(spark, SF, name).count()
        df = load_table(spark, replica, name)
        factor = 2 if name in SHIFTS else 1
        assert df.count() == factor * src_rows, name
    # the copies' shifted keys collide with no key of another copy
    for name, cols in SHIFTS.items():
        src, df = load_table(spark, SF, name), load_table(spark, replica, name)
        for col in cols:
            n_src = src.select(col).distinct().count()
            assert df.select(col).distinct().count() == 2 * n_src, (name, col)
    # lineitem and orders shift together, so every lineitem still joins
    li = load_table(spark, replica, "lineitem")
    orders = load_table(spark, replica, "orders")
    assert li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"),
                   "left_anti").count() == 0


def test_bench_prints_one_line_per_dir(spark, replica, monkeypatch, capsys):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", f"{SF}:{replica}")
    monkeypatch.setenv("SPARK_GRAFT_RUNS", "1")
    names = ["gold_hourly", "q6_forecast_revenue"]
    bench.main(names)
    out, err = capsys.readouterr()
    lines = [json.loads(line) for line in out.splitlines()]
    assert [r["sf"] for r in lines] == [0.001, 0.002]
    for r in lines:
        assert set(r) == BENCH_KEYS
        assert list(r["queries"]) == names
        assert set(r["build_s"]) == set(names)
        assert r["gates"]["gold_hourly"], "gold_hourly fans out by key"
        assert r["gates"]["gold_hourly"][0]["helper"] == "fan_out_by_key"
    rows = [line for line in err.splitlines() if line.startswith("| `")]
    assert [row.split("`")[1] for row in rows] == names


@pytest.mark.parametrize(
    "argv, sf_dir, runs",
    [
        (["no_such_entry"], SF, "1"),
        (["gold_hourly"], str(Path(SF).parent), "1"),
        (["gold_hourly"], "/nonexistent/sf1", "1"),
        (["gold_hourly"], SF, "0"),
    ],
    ids=["unknown-name", "dir-not-sfN", "missing-dir", "zero-runs"],
)
def test_bad_input_exits_before_any_job(spark, monkeypatch, argv, sf_dir, runs):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_RUNS", runs)
    sc = spark.sparkContext
    group = "bench-bad-input"
    sc.setJobGroup(group, "bench.py input check")
    try:
        with pytest.raises(SystemExit) as exc:
            bench.main(argv)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert "bench.py:" in str(exc.value.code)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
