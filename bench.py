#!/usr/bin/env python
"""Benchmark harness: time catalog entries end-to-end.

Usage: python bench.py [NAME ...]
       (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_RUNS, SPARK_GRAFT_CPUS)

NAMEs are catalog entries; with none, the headliners run.
SPARK_GRAFT_SF_DIR is a colon-separated list of data dirs, each named
``sf<N>`` (default ``DEFAULT_SF_DIR``, the sf0.1 testdata; ``python
tools/synth.py`` writes larger ones). Every input is checked before Spark starts: a missing or
misnamed dir, an unknown name or a run count below 1 exits with a
one-line message.

Prints ONE JSON line per dir:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"<name>": sec, ...}, "sf": <N>, "runs": ..., "raw_runs": ...,
   "loadavg_before": [...], "loadavg_after": [...], "cpus": ...,
   "build_s": {"<name>": sec, ...}, "gates": {"<name>": [...], ...}}

Each query is forced through a full execution with the noop sink (no
collect — results never hit the driver), timed after a warm-up of every
entry so JVM startup is excluded. Reported time is the BEST of
SPARK_GRAFT_RUNS (default 3) back-to-back runs per query: single-run
wall-clock on a shared VM jitters by 20-40%, and best-of-n isolates the
engine's cost from the neighbors' noise. ``build_s`` is the fastest
builder call among those runs; ``gates`` lists the fan-out gate decisions
(``operators/dedup.GATE_LOG``) made while the warm-up built the plan.

With more than one dir, stderr also gets one markdown row per entry: the
best time at each dir, then the last dir's time over the one before (the
BENCH_SCALING.md table format).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from project_bigdata_spark.operators import dedup as DD  # noqa: E402
from project_bigdata_spark.plans.catalog import load_all  # noqa: E402
from project_bigdata_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402

DEFAULT_SF_DIR = "/root/testdata/sf0.1"
GATE_FIELDS = ("helper", "in_parts", "target", "engaged")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _inputs(names: list[str]) -> tuple[dict, list[str], list[tuple[str, float]], int]:
    """(catalog, entry names, [(dir, sf)], runs); exits on any bad input."""
    specs = load_all()
    names = names or [n for n, s in specs.items() if s.headline]
    for n in names:
        if n not in specs:
            sys.exit(f"bench.py: unknown catalog entry {n!r}")
    dirs = []
    for d in os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR).split(":"):
        m = re.fullmatch(r"sf(\d+(?:\.\d+)?)", Path(d).name)
        if not (m and Path(d).is_dir()):
            sys.exit(f"bench.py: {d!r} is not an existing dir named sf<number>")
        dirs.append((d, float(m[1])))
    runs = os.environ.get("SPARK_GRAFT_RUNS", "3")
    if not (runs.isdigit() and int(runs) > 0):
        sys.exit(f"bench.py: SPARK_GRAFT_RUNS={runs!r} is not a positive integer")
    return specs, names, dirs, int(runs)


def bench_dir(
    spark, specs, names: list[str], sf_dir: str, sf: float, runs: int
) -> dict:
    # warm-up: touch every input file once (parquet footer + JVM JIT); the
    # fan-out gates decide while the builder runs, so log them here
    gates: dict[str, list[dict]] = {}
    for name in names:
        DD.GATE_LOG.clear()
        df = specs[name].builder(spark, sf_dir)
        gates[name] = [dict(zip(GATE_FIELDS, g)) for g in DD.GATE_LOG]
        _noop(df.limit(1))

    load_before = os.getloadavg()
    timings: dict[str, float] = {}
    builds: dict[str, float] = {}
    raw: dict[str, list[float]] = {}
    for name in names:
        walls: list[float] = []
        build: list[float] = []
        for _ in range(runs):
            # drop frames an earlier run persisted, so every run computes
            # from scratch instead of reading Spark's CacheManager
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = specs[name].builder(spark, sf_dir)
            t1 = time.perf_counter()
            _noop(df)
            walls.append(round(time.perf_counter() - t0, 3))
            build.append(round(t1 - t0, 3))
        raw[name] = walls
        timings[name] = min(walls)
        builds[name] = min(build)
    load_after = os.getloadavg()

    return {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # machine-state receipt: raw wall times, run count and 1/5/15-min
        # loadavg before and after, so any two artifacts are directly
        # comparable and an idle claim is checkable from the JSON alone
        "runs": runs,
        "raw_runs": raw,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        "cpus": DEFAULT_CPUS,
        "build_s": builds,
        "gates": gates,
    }


def main(argv: list[str] | None = None) -> None:
    specs, names, dirs, runs = _inputs(sys.argv[1:] if argv is None else argv)
    spark = get_spark(app_name="bench")

    results = []
    for sf_dir, sf in dirs:
        results.append(bench_dir(spark, specs, names, sf_dir, sf, runs))
        print(json.dumps(results[-1]), flush=True)

    if len(dirs) > 1:
        labels = [Path(d).name for d, _ in dirs]
        print(f"| query | {' | '.join(labels)} | {labels[-1]}/{labels[-2]} |",
              file=sys.stderr)
        print("|---" * (len(labels) + 2) + "|", file=sys.stderr)
        for name in names:
            t = [r["queries"][name] for r in results]
            cells = " | ".join(f"{x:.2f}s" for x in t)
            print(f"| `{name}` | {cells} | {t[-1] / t[-2]:.1f}x |",
                  file=sys.stderr)


if __name__ == "__main__":
    main()
