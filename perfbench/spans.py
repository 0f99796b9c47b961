"""Spans recorded from outside the engine, and the per-layer figures they give.

The traced run wraps three public boundaries for the length of each
operation and never touches the package itself:

- ``DataFrameReader.parquet`` (the ``sources`` layer): one span per call,
  with the path read;
- the py4j client's ``send_command`` (the plan-building layer): calls
  counted while a builder runs;
- Spark's event log, tagged by ``setJobGroup`` before each builder call, so
  the jobs a builder runs eagerly are credited to its own operation.

Layer self times partition an operation's wall time exactly:
``read_s + build_self_s + job_wall_s + gap_s`` equals the operation span,
up to the event log's millisecond clock.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.readwriter import DataFrameReader

import eventlog
from stats import clip, self_time, union_length


@dataclass
class OpSpan:
    """One traced operation: ``[start, end]`` with the builder part
    ``[start, built]``; times are ``time.time()`` seconds."""

    group: str
    start: float
    built: float
    end: float
    reads: list[tuple[float, float, str]] = field(default_factory=list)
    py4j_calls: int = 0
    catalyst_ms: dict[str, float] = field(default_factory=dict)


class Recorder:
    """Collects spans while installed; one per traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.current: OpSpan | None = None
        self.ops: list[OpSpan] = []
        self._client = spark.sparkContext._gateway._gateway_client

    @contextmanager
    def installed(self):
        recorder = self
        orig_parquet = DataFrameReader.parquet
        orig_send = self._client.send_command

        def parquet(reader, *paths, **options):
            t0 = time.time()
            try:
                return orig_parquet(reader, *paths, **options)
            finally:
                if recorder.current is not None:
                    recorder.current.reads.append((t0, time.time(), ",".join(map(str, paths))))

        def send_command(*args, **kwargs):
            op = recorder.current
            if op is not None and op.built == 0.0:
                op.py4j_calls += 1
            return orig_send(*args, **kwargs)

        DataFrameReader.parquet = parquet
        self._client.send_command = send_command
        try:
            yield self
        finally:
            DataFrameReader.parquet = orig_parquet
            del self._client.send_command

    def begin(self, group: str) -> OpSpan:
        """Tag the jobs that follow with ``group`` and open its span."""
        self.spark.sparkContext.setJobGroup(group, group)
        self.current = OpSpan(group=group, start=time.time(), built=0.0, end=0.0)
        return self.current

    def mark_built(self) -> None:
        self.current.built = time.time()

    def end(self) -> OpSpan:
        """Close the span; later jobs (such as a Catalyst probe) go untagged."""
        op, self.current = self.current, None
        op.end = time.time()
        self.spark.sparkContext.setJobGroup("untimed", "untimed")
        if op.built == 0.0:
            op.built = op.end
        self.ops.append(op)
        return op


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning time of ``df``'s own
    QueryExecution, in ms. The timed action runs a separate write
    command, so this plans ``df`` again after the span has closed."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def layer_totals(ops: list[OpSpan], groups: dict[str, eventlog.GroupStats],
                 extra_groups: dict[str, str] | None = None) -> dict[str, float]:
    """Sum the layer figures of ``ops``. ``extra_groups`` maps further job
    groups (for example a streaming query's run id) onto an op's group."""
    merged: dict[str, eventlog.GroupStats] = {}
    for gid, stats in groups.items():
        key = (extra_groups or {}).get(gid, gid)
        acc = merged.setdefault(key, eventlog.GroupStats())
        acc.jobs += stats.jobs
        for f in ("stages", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            setattr(acc, f, getattr(acc, f) + getattr(stats, f))
    t: dict[str, float] = defaultdict(float)
    distinct_reads = 0
    for op in ops:
        g = merged.get(op.group, eventlog.GroupStats())
        span = (op.start, op.end)
        build = (op.start, op.built)
        jobs = clip(g.jobs, *span)
        reads = [(a, b) for a, b, _ in op.reads]
        read_jobs = [j for r in reads for j in clip(jobs, *r)]
        t["sources.parquet_reads"] += len(op.reads)
        distinct_reads += len({p for _, _, p in op.reads})
        t["sources.read_s"] += union_length(reads) - union_length(read_jobs)
        t["plans.build_self_s"] += self_time(build, reads + jobs)
        t["plans.py4j_calls"] += op.py4j_calls
        for k, v in op.catalyst_ms.items():
            t[f"catalyst.{k}_ms"] += v
        t["spark.jobs"] += len(g.jobs)
        t["spark.jobs_in_builder"] += sum(1 for a, _ in g.jobs if a < op.built)
        t["spark.job_wall_s"] += union_length(jobs)
        t["driver.gap_s"] += self_time(span, [build] + reads + jobs)
        t["spark.stages"] += g.stages
        t["spark.tasks"] += g.tasks
        t["executor.failed_tasks"] += g.failed_tasks
        t["executor.run_s"] += g.run_s
        t["executor.cpu_s"] += g.cpu_s
        t["executor.gc_s"] += g.gc_s
        t["executor.shuffle_read_bytes"] += g.shuffle_read_bytes
        t["executor.shuffle_write_bytes"] += g.shuffle_write_bytes
        t["executor.spill_bytes"] += g.spill_bytes
    t["sources.reread_ratio"] = (
        t["sources.parquet_reads"] / distinct_reads if distinct_reads else 1.0
    )
    return t
