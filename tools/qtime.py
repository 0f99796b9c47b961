#!/usr/bin/env python
"""Time one catalog query: plan-build time + N noop executions.

Usage: python tools/qtime.py name [name...] [--runs N] [--cpus N]
"""
from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from project_bigdata_spark.plans.catalog import load_all
from project_bigdata_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 5
    cpus: int | None = None
    conf: dict[str, str] = {}
    for a in sys.argv[1:]:
        if a.startswith("--runs="):
            runs = int(a.split("=")[1])
        if a.startswith("--cpus="):
            cpus = int(a.split("=")[1])
        if a.startswith("--conf="):
            k, v = a[len("--conf=") :].split("=", 1)
            conf[k] = v
    specs = load_all()
    spark = get_spark(app_name="qtime", cpus=cpus, extra_conf=conf)
    # warm-up session
    spark.range(1000).write.format("noop").mode("overwrite").save()
    for name in args:
        s = specs[name]
        t0 = time.perf_counter()
        df = s.builder(spark, SF_DIR)
        df.schema  # force analysis
        t_build = time.perf_counter() - t0
        times = []
        for _ in range(runs):
            spark.sparkContext.setJobDescription(f"qtime:{name}")
            t0 = time.perf_counter()
            s.builder(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
        print(f"{name:28s} build={t_build:.3f}s runs={times} best={min(times):.3f}")


if __name__ == "__main__":
    main()
