#!/usr/bin/env python
"""sf1 scaling bench (round-11 verdict ask #1): 15 headliners + top-10
tail entries at a REAL multi-split scale factor, with fan-out gate state
logged per entry.

Why: the driver's sf0.1 inputs are one parquet file / one row group per
table, so every scan is a single task and the bench is scheduling-bound —
8 cores beat 32 and the scale-gate (`scan partitions < defaultParallelism`)
always ENGAGES. Synthesizing sf1 (10x key-shifted replication, the
bench_sf1.py machinery) yields multi-split inputs, so this bench can show
(a) 32 cores beating 8 (scaling ratio > 1 where sf0.1 showed <= 1.13), and
(b) the fan-out gates DISENGAGING on natural splits — the receipt that the
keyed fan-outs are a no-op at 100 TB.

Usage (one core count per process so every run is a cold JVM, exactly the
driver's methodology):

    SPARK_GRAFT_CPUS=32 python tools/bench_sf1_scaling.py --keep
    SPARK_GRAFT_CPUS=8  python tools/bench_sf1_scaling.py --keep --reuse

Prints ONE JSON line with per-query best-of-3, raw runs, loadavg, and the
gate log (helper, input partitions, target, engaged) captured at plan-build
time against BOTH sf0.1 and the synthetic sf1.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from project_bigdata_spark.operators import dedup as DD  # noqa: E402
from project_bigdata_spark.plans.catalog import load_all  # noqa: E402
from project_bigdata_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402
from tools.bench_sf1 import DST, SRC, synthesize  # noqa: E402

RUNS = int(os.environ.get("SPARK_GRAFT_RUNS", "3"))

# the most expensive non-headline entries per the r11/r12 warm sweeps —
# the "top-10 tail" the round-11 verdict asks to include
TAIL = [
    "hits_hubs_authorities",
    "connected_components_minlabel",
    "tfidf_cosine_pairs",
    "mmr_rerank",
    "pca_power_iteration",
    "label_propagation",
    "dedup_clusters",
    "golden_record_survivorship",
    "triangle_count",
    "pagerank_parts",
]


def gate_state(builder, spark, sf_dir: str) -> list[dict]:
    DD.GATE_LOG.clear()
    builder(spark, sf_dir)  # plan build only — gates decide at build time
    out = [
        {"helper": h, "in_parts": n, "target": t, "engaged": e}
        for h, n, t, e in DD.GATE_LOG
    ]
    DD.GATE_LOG.clear()
    return out


def main() -> None:
    keep = "--keep" in sys.argv
    reuse = "--reuse" in sys.argv and Path(DST).exists()
    spark = get_spark(app_name=f"bench-sf1-scaling-c{DEFAULT_CPUS}")
    synth_sec = None
    if not reuse:
        t0 = time.time()
        synthesize(spark)
        synth_sec = round(time.time() - t0, 1)
        print(f"synthesized sf1 -> {DST} in {synth_sec}s", file=sys.stderr)

    specs = load_all()
    names = [s.name for s in specs.values() if s.headline] + TAIL
    gates: dict[str, dict] = {}
    timings: dict[str, float] = {}
    raw: dict[str, list[float]] = {}
    la0 = os.getloadavg()
    for name in names:
        b = specs[name].builder
        gates[name] = {
            "sf0.1": gate_state(b, spark, SRC),
            "sf1": gate_state(b, spark, DST),
        }
        b(spark, DST).limit(1).write.format("noop").mode("overwrite").save()
        runs: list[float] = []
        for _ in range(RUNS):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            b(spark, DST).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        raw[name] = runs
        timings[name] = min(runs)
        print(f"{name}: {timings[name]:.2f}s {runs}", file=sys.stderr)
    la1 = os.getloadavg()

    print(
        json.dumps(
            {
                "metric": "sf1_scaling_bench",
                "sf": 1.0,
                "synthetic": True,
                "cpus": DEFAULT_CPUS,
                "runs": RUNS,
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "raw_runs": raw,
                "synth_sec": synth_sec,
                "loadavg_before": [round(x, 2) for x in la0],
                "loadavg_after": [round(x, 2) for x in la1],
                "gates": gates,
            }
        )
    )
    if not keep:
        shutil.rmtree(DST, ignore_errors=True)


if __name__ == "__main__":
    main()
