"""Benchmark of the project_bigdata_spark engine, driven from outside.

    python3 perfbench/run.py --workload catalog_sf0.001 --seed 1 --seconds 25 --trace 0

Run it from the root of a checkout. One client in one process drives a
closed loop: one catalog query, or one medallion pass, at a time, on a
local Spark with ``SPARK_GRAFT_CPUS`` cores (else every core this process
may use). Inputs are generated from ``--seed`` under ``.perfbench/`` in the
checkout and removed at exit.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of ``BENCHMARK.json``; with ``--trace 1``
the event log and the reader/py4j spans are on and the metrics are the
per-layer ones. The line before it is a receipt: core count, loadavg,
CPU steal while measuring, versions, seed and every raw sample.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from stats import median, tail  # noqa: E402
from workloads import WORKLOADS, make_workload  # noqa: E402

# Runs of the set-up (input generation plus session start); the median is
# reported, so the first one, which also launches the JVM, does not decide it.
SETUPS = 3
# A traced run spends this share of --seconds untraced, to report the
# tracing overhead against numbers from the same process and inputs.
UNTRACED_SHARE = 0.5


def cpu_count() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU time of the machine so far, in clock ticks; steal
    is time the hypervisor gave to other guests. (0, 0) off Linux."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    return ticks[7], sum(ticks)


class Engine:
    """The run's one JVM, with a SparkSession that can be restarted in it."""

    def __init__(self, work: Path, cpus: int):
        self.work = work
        self.cpus = cpus
        self.spark = None
        for sub in ("tmp", "local", "warehouse"):
            (work / sub).mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(work / "tmp")
        # no hsperfdata files in the system temp dir, from the launcher JVM
        # or the driver JVM: a run writes only inside its checkout
        tool_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
        os.environ["JAVA_TOOL_OPTIONS"] = f"{tool_opts} -XX:-UsePerfData".strip()
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    def start(self, event_log: Path | None = None):
        from project_bigdata_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        # C1 JIT only: a run lasts about a minute in a fresh JVM, less than
        # C2 needs to settle, so with C2 the pass times of a run kept
        # falling and differed by ~20% between runs. Even with C1 the
        # catalog passes kept falling for ~25 s, as rarely called planner
        # code crossed the compile thresholds; a twentieth of them ends
        # that within the warm-up, and compiles more code than the 48 MB
        # default code cache holds.
        java_opts = " ".join([
            "-XX:TieredStopAtLevel=1",
            "-XX:CompileThresholdScaling=0.05",
            "-XX:ReservedCodeCacheSize=256m",
            f"-Djava.io.tmpdir={self.work / 'tmp'}",
        ])
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
        }
        if not os.environ.get("SPARK_LOCAL_DIRS"):
            conf["spark.local.dir"] = str(self.work / "local")
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(app_name="perfbench", cpus=self.cpus, extra_conf=conf)
        return self.spark

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                self.spark.stop()
        except Exception:  # the JVM is gone or failing: it is ended below
            pass
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        try:
            gateway.shutdown()
        except Exception:
            pass
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(workload_name: str, seed: int, seconds: float, traced: bool, root: Path):
    work = root / ".perfbench" / f"{workload_name}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    engine = Engine(work, cpu_count())
    loadavg_before = os.getloadavg()
    phase_s: dict[str, float] = {}
    workload = make_workload(workload_name, seed, work, engine)
    try:
        setup_s = []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            workload.setup(i)
            setup_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        workload.check()
        phase_s["check"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        runs = [workload.warm_up()]
        phase_s["warm_up"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        ticks0 = cpu_ticks()
        if traced:
            untraced = workload.measure(seconds * UNTRACED_SHARE)
            runs.append(untraced)
            engine.start(event_log=work / "eventlog")
            traced_result = workload.measure(seconds * (1 - UNTRACED_SHARE), trace_on=True)
            app_id = engine.spark.sparkContext.applicationId
            engine.spark.stop()
            engine.spark = None
            metrics = workload.layers(traced_result, work / "eventlog" / app_id)
            metrics["trace.overhead_s"] = (
                traced_result.mix_wall_s() - untraced.mix_wall_s(), "s")
            result = traced_result
            runs.append(result)
        else:
            result = workload.measure(seconds)
            runs.append(result)
            metrics = {
                "setup_s": (median(setup_s), "s"),
                "mix_wall_s": (result.mix_wall_s(), "s"),
            }
        phase_s["measure"] = time.perf_counter() - t0
        steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    finally:
        try:
            engine.stop()
        finally:  # also when the JVM died and stopping it raised
            shutil.rmtree(work, ignore_errors=True)
            try:
                work.parent.rmdir()
            except OSError:  # another run still uses it
                pass
    import duckdb
    import pyspark

    attempted = workload.checks + sum(r.attempted for r in runs)
    failed = workload.check_failures + sum(r.failed for r in runs)
    receipt = {
        "workload": workload_name,
        "seed": seed,
        "seconds": seconds,
        "trace": int(traced),
        "cpus": engine.cpus,
        "loadavg_before": list(loadavg_before),
        "loadavg_after": list(os.getloadavg()),
        "measure_steal_share": steal / total if total else None,
        "versions": {
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "duckdb": duckdb.__version__,
        },
        "setup_s": setup_s,
        "phase_s": phase_s,
        "passes": result.passes,
        "op_ms": result.op_ms,
        # per-operation latency: a medallion run has too few samples
        # (8-12 micro-batches) for a bounded metric, so it is recorded here
        "op_p50_ms": median(result.op_ms),
        "op_tail_ms": dict(zip(("value", "percentile"), tail(result.op_ms))),
        "samples": len(result.op_ms),
        "check_failures": workload.failure_notes,
        "layer_coverage": workload.layer_coverage,
    }
    print(json.dumps({"receipt": receipt}))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = Path.cwd()
    if not (root / "project_bigdata_spark" / "__init__.py").is_file():
        print(f"no project_bigdata_spark package under {root}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), root)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
