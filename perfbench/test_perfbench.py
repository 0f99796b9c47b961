"""Tests of the benchmark's own helpers, and a short end-to-end smoke run.

    python3 -m pytest perfbench -q

The smoke runs start a local Spark and take under a minute each.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import eventlog  # noqa: E402
import spans  # noqa: E402
from stats import self_time, tail, union_length  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("n, pct, rank", [(11, 9, 1), (12, 16, 2), (24, 58, 14), (50, 80, 40), (100, 90, 90)])
def test_tail_leaves_ten_samples_beyond(n, pct, rank):
    values = [float(v) for v in range(n, 0, -1)]  # unsorted on purpose
    value, got_pct = tail(values)
    assert got_pct == pct
    assert value == float(rank)
    assert sum(v > value for v in values) >= 10


def test_tail_falls_back_to_median_when_too_few_samples():
    assert tail([3.0, 1.0, 2.0]) == (2.0, 50)


def test_union_counts_overlaps_once():
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_union_of_children_inside_span():
    # children overlap each other and stick out of the span on both sides
    children = [(1, 3), (2, 5), (8, 12), (-1, 0.5)]
    assert self_time((0, 10), children) == pytest.approx(10 - (4 + 2 + 0.5))
    assert self_time((0, 10), []) == 10
    assert self_time((0, 10), [(0, 10)]) == 0


def test_layer_self_times_partition_the_operation():
    op = spans.OpSpan(group="0:q", start=0.0, built=4.0, end=10.0,
                      reads=[(0.5, 1.5, "a"), (2.0, 2.5, "a")])
    # one job inside a read, one inside the builder, one in the action
    stats = eventlog.GroupStats(jobs=[(1.0, 1.2), (3.0, 3.5), (5.0, 9.0)], tasks=3, run_s=6.0)
    t = spans.layer_totals([op], {"0:q": stats})
    assert t["sources.read_s"] == pytest.approx(1.5 - 0.2)
    assert t["plans.build_self_s"] == pytest.approx(4.0 - 1.5 - 0.5)
    assert t["spark.job_wall_s"] == pytest.approx(0.2 + 0.5 + 4.0)
    assert t["driver.gap_s"] == pytest.approx(6.0 - 4.0)
    total = t["sources.read_s"] + t["plans.build_self_s"] + t["spark.job_wall_s"] + t["driver.gap_s"]
    assert total == pytest.approx(10.0)
    assert t["spark.jobs_in_builder"] == 2
    assert t["sources.reread_ratio"] == 2.0


def test_eventlog_parser_on_recorded_log():
    with open(HERE / "testdata" / "eventlog_small.jsonl", encoding="utf-8") as fh:
        groups = eventlog.parse(fh)
    shuffle, retry = groups["shuffle"], groups["retry"]
    assert len(shuffle.jobs) == 1 and shuffle.stages == 2
    assert shuffle.tasks == 4 and shuffle.failed_tasks == 0
    assert shuffle.shuffle_write_bytes > 0
    assert shuffle.shuffle_read_bytes == shuffle.shuffle_write_bytes
    assert retry.tasks == 3 and retry.failed_tasks == 1
    for stats in groups.values():
        assert all(end >= start for start, end in stats.jobs)
        assert stats.run_s >= 0 and stats.cpu_s >= 0


def test_metric_names_match_benchmark_json():
    import workloads

    per_layer = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert per_layer == workloads.LAYER_UNITS
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)


@pytest.mark.parametrize("trace, key", [(0, "end_to_end"), (1, "per_layer")])
def test_smoke_run_prints_every_metric_with_its_unit(trace, key):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "catalog_sf0.001",
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[key]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
