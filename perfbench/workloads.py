"""The benchmark's workloads: catalog query sets and the medallion pipeline.

Each workload is set up from the seed, checked once against its oracle
outside the timed region (the check doubles as the untimed warm-up pass),
then measured in a closed loop of whole passes for a given number of
seconds.
"""

from __future__ import annotations

import math
import random
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import datagen
import eventlog
import spans
from stats import median

WORKLOADS = ("catalog_sf0.001", "medallion_etl")

# Plan-building bound entries: drawn at random from the 93 catalog entries
# (headliners and iterative chains left out) that ran in under 0.35 s on
# sf0.001 tables at 4 cores. A fixed list, so that a change to the catalog
# does not change the workload.
CATALOG = (
    "doc_fingerprints",
    "stratified_fixed_n",
    "session_window_native",
    "union_distinct_keys",
    "value_histogram",
    "orders_running_total",
    "state_merge_audit",
    "hod_uniformity_test",
    "pivot_type_avg",
    "embedding_norms",
)

MEDALLION_EVENTS = 40_000
MEDALLION_FILES = 4

# streaming progress durations -> per-layer metric names
STREAM_KEYS = {
    "addBatch": "add_batch",
    "latestOffset": "latest_offset",
    "walCommit": "wal_commit",
    "commitOffsets": "commit_offsets",
    "queryPlanning": "query_planning",
}

# Every per-layer metric and its unit; a traced run prints all of them,
# with 0 for a layer the workload does not run.
LAYER_UNITS = {
    "sources.parquet_reads": "count",
    "sources.read_s": "s",
    "sources.reread_ratio": "ratio",
    "plans.build_self_s": "s",
    "plans.py4j_calls": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.jobs_in_builder": "count",
    "spark.job_wall_s": "s",
    "driver.gap_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.shuffle_read_bytes": "bytes",
    "executor.shuffle_write_bytes": "bytes",
    "executor.spill_bytes": "bytes",
    "executor.failed_tasks": "count",
    "executor.busy_ratio": "ratio",
    **{f"medallion.{layer}_{m}": unit
       for layer in ("bronze", "silver", "gold")
       for m, unit in (("s", "s"), ("rows", "count"), ("bytes", "bytes"), ("files", "count"))},
    "medallion.etl_rows_per_s": "1/s",
    "medallion.write_amp": "ratio",
    "stream.batches": "count",
    "stream.add_batch_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.rows_per_batch": "count",
    "stream.rows_per_s": "1/s",
    "trace.overhead_s": "s",
}


@dataclass
class Measurement:
    """What one measured stretch produced."""

    passes: list[dict] = field(default_factory=list)  # per pass: wall and samples
    op_ms: list[float] = field(default_factory=list)  # latency of every operation
    attempted: int = 0
    failed: int = 0
    spans: list[list] = field(default_factory=list)  # traced: OpSpans per pass

    def mix_wall_s(self) -> float:
        return median([p["wall_s"] for p in self.passes])


def _canon(v):
    """Value rendering of tests/test_oracle_parity.py's multiset check."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _multiset(rows) -> list[str]:
    return sorted("|".join(_canon(v) for v in row) for row in rows)


def _dir_stats(path: Path) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


class Workload:
    """Shared set-up and bookkeeping; subclasses define the operations."""

    # untimed passes, as measured, between the check and the measurement
    warmup_passes = 0

    def __init__(self, seed: int, work: Path, engine):
        self.seed = seed
        self.work = work
        self.engine = engine
        self.rng = random.Random(seed)
        self.inputs: Path | None = None
        self.checks = 0
        self.check_failures = 0
        self.failure_notes: list[str] = []
        self.wrong: set[str] = set()
        # traced passes: (read + build self + job wall + gap) / wall
        self.layer_coverage: list[float] = []

    def setup(self, i: int) -> None:
        """Generate the inputs afresh and start a session on them."""
        inputs = self.work / f"inputs{i}"
        self.generate(inputs)
        self.engine.start()
        if self.inputs is not None:
            shutil.rmtree(self.inputs)
        self.inputs = inputs

    def fail_check(self, what: str, note: str) -> None:
        self.check_failures += 1
        self.wrong.add(what)
        self.failure_notes.append(f"{what}: {note}"[:300])

    def warm_up(self) -> Measurement:
        m = Measurement()
        for _ in range(self.warmup_passes):
            m.passes.append(self.one_pass(self.engine.spark, m, None))
        return m

    def measure(self, seconds: float, trace_on: bool = False) -> Measurement:
        """Whole passes, back to back, for about ``seconds``: at least one,
        and another only while it would end nearer the deadline than
        stopping now, judged by the median pass so far."""
        spark = self.engine.spark
        m = Measurement()
        recorder = spans.Recorder(spark) if trace_on else None
        deadline = time.perf_counter() + seconds
        while not m.passes or deadline - time.perf_counter() > m.mix_wall_s() / 2:
            if recorder is None:
                m.passes.append(self.one_pass(spark, m, None))
                continue
            with recorder.installed():
                m.passes.append(self.one_pass(spark, m, recorder))
            m.spans.append(recorder.ops)
            recorder.ops = []
        return m

    def layers(self, m: Measurement, log: Path) -> dict:
        """Per-layer metrics of a traced measurement: medians over passes."""
        with open(log, encoding="utf-8") as fh:
            groups = eventlog.parse(fh)
        per_pass = [self.pass_layers(ops, p, groups) for ops, p in zip(m.spans, m.passes)]
        self.layer_coverage = [
            (t["sources.read_s"] + t["plans.build_self_s"] + t["spark.job_wall_s"]
             + t["driver.gap_s"]) / t["wall_s"]
            for t in per_pass
        ]
        out = {}
        for key, unit in LAYER_UNITS.items():
            if key != "trace.overhead_s":
                out[key] = (median([p.get(key, 0.0) for p in per_pass]), unit)
        return out

    def pass_layers(self, ops, p: dict, groups) -> dict:
        t = spans.layer_totals(ops, groups, self.extra_groups(p))
        t["wall_s"] = sum(op.end - op.start for op in ops)
        t["executor.busy_ratio"] = t["executor.run_s"] / (self.engine.cpus * t["wall_s"])
        return t

    def extra_groups(self, p: dict) -> dict[str, str]:
        return {}


class QueryWorkload(Workload):
    """A fixed set of catalog entries over generated tables at one scale."""

    # The check runs each entry once through ``collect``; the passes of a
    # run still fell by ~20% over the next two, which run it as measured.
    warmup_passes = 2

    def __init__(self, seed, work, engine, sf: float, names: tuple[str, ...]):
        super().__init__(seed, work, engine)
        from project_bigdata_spark.plans.catalog import load_all

        self.sf = sf
        specs = load_all()
        self.specs = {name: specs[name] for name in names}

    def generate(self, inputs: Path) -> None:
        datagen.generate(inputs, self.sf, self.seed)

    def check(self) -> None:
        """Each entry once against its DuckDB oracle (the warm-up pass)."""
        import duckdb

        from project_bigdata_spark.sources import TABLES

        spark = self.engine.spark
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.inputs}/{t}.parquet'")
        for name, spec in self.specs.items():
            self.checks += 1
            spark.catalog.clearCache()
            try:
                df = spec.builder(spark, str(self.inputs))
                rows = [tuple(r) for r in df.collect()]
                cols = df.columns
                if spec.oracle is None:
                    spark.catalog.clearCache()
                    again = spec.builder(spark, str(self.inputs)).count()
                    if again != len(rows):
                        self.fail_check(name, f"row count {len(rows)} then {again}")
                    continue
                rel = con.execute(spec.oracle)
                duck_cols = [d[0] for d in rel.description]
                duck_rows = rel.fetchall()
            except Exception as exc:  # a failing entry is a result, not a crash
                self.fail_check(name, f"{type(exc).__name__}: {exc}")
                continue
            if sorted(cols) != sorted(duck_cols):
                self.fail_check(name, f"columns {cols} vs {duck_cols}")
                continue
            idx = [duck_cols.index(c) for c in cols]
            duck_rows = [tuple(r[i] for i in idx) for r in duck_rows]
            if len(rows) != len(duck_rows) or _multiset(rows) != _multiset(duck_rows):
                self.fail_check(name, f"differs from oracle ({len(rows)} vs {len(duck_rows)} rows)")
        con.close()

    def one_pass(self, spark, m: Measurement, recorder) -> dict:
        order = list(self.specs)
        self.rng.shuffle(order)
        samples = {}
        t_pass = time.perf_counter()
        for name in order:
            spark.catalog.clearCache()
            m.attempted += 1
            t0 = time.perf_counter()
            if recorder is not None:
                recorder.begin(f"{len(m.passes)}:{name}")
            try:
                df = self.specs[name].builder(spark, str(self.inputs))
                if recorder is not None:
                    recorder.mark_built()
                df.write.format("noop").mode("overwrite").save()
                ok = name not in self.wrong
            except Exception:  # counted as failed; the loop goes on
                ok = False
            ms = (time.perf_counter() - t0) * 1000.0
            if recorder is not None:
                op = recorder.end()
                if ok:
                    op.catalyst_ms = spans.catalyst_phases(df)
            m.failed += not ok
            m.op_ms.append(ms)
            samples[name] = ms
        wall = time.perf_counter() - t_pass
        return {"wall_s": wall, "op_ms": samples}


class MedallionWorkload(Workload):
    """Batch Bronze -> Silver -> Gold via ``jobs.batch.run``, then the same
    events drained through ``foreach_batch_fanout``, one file per trigger."""

    expected: dict[str, int] | None = None  # batch counts of the checked pass
    # after the checked (cold) pass, the first measured pass still ran
    # 5-20% slower than the next ones
    warmup_passes = 1

    def generate(self, inputs: Path) -> None:
        rng = np.random.default_rng(self.seed)
        table = datagen.events(rng, MEDALLION_EVENTS)
        src = inputs / "events"
        src.mkdir(parents=True)
        step = -(-table.num_rows // MEDALLION_FILES)
        for i in range(MEDALLION_FILES):
            pq.write_table(table.slice(i * step, step), src / f"part-{i:05d}.parquet")
        self.input_rows = table.num_rows
        self.input_bytes = _dir_stats(src)[0]

    def check(self) -> None:
        """Warm-up pass, then: Bronze and Silver row counts agree between
        batch and stream, and batch Gold equals a DuckDB count of distinct
        (user, hour) over the batch Silver output."""
        import duckdb

        spark = self.engine.spark
        m = Measurement()
        p = self.one_pass(spark, m, None, keep=True)
        self.expected = p["counts"]
        out = self.work / "out"
        checks = [("checked pass", m.failed, 0)]
        try:
            for layer in ("bronze", "silver"):
                got = spark.read.parquet(str(out / "stream" / layer)).count()
                checks.append((f"stream {layer}", got, self.expected.get(layer)))
            silver = out / "batch" / "silver"
            with duckdb.connect() as con:
                gold = con.execute(
                    "SELECT count(*) FROM (SELECT DISTINCT user_id, date_trunc('hour', ts) "
                    f"FROM read_parquet('{silver}/**/*.parquet'))"
                ).fetchone()[0]
            checks.append(("gold vs duckdb recount", self.expected.get("gold"), gold))
        except Exception as exc:  # missing or unreadable output fails the check
            checks.append(("medallion outputs", type(exc).__name__, "readable"))
        for what, got, want in checks:
            self.checks += 1
            if got != want:
                self.fail_check(what, f"{got} != {want}")
        shutil.rmtree(out)

    def one_pass(self, spark, m: Measurement, recorder, keep: bool = False) -> dict:
        from project_bigdata_spark.jobs import batch
        from project_bigdata_spark.streaming import pipeline as SP

        out = self.work / "out"
        shutil.rmtree(out, ignore_errors=True)
        src = str(self.inputs / "events")
        counts: dict[str, int] = {}
        layer_s: dict[str, float] = {}
        t_pass = time.perf_counter()
        for layer in ("bronze", "silver", "gold"):
            spark.catalog.clearCache()
            m.attempted += 1
            t0 = time.perf_counter()
            if recorder is not None:
                recorder.begin(f"{len(m.passes)}:{layer}")
                recorder.mark_built()  # one public call plans and writes
            try:
                counts.update(batch.run(spark, src, str(out / "batch"), layer))
            except Exception:  # counted as failed; the pass goes on
                m.failed += 1
            if recorder is not None:
                recorder.end()
            layer_s[layer] = time.perf_counter() - t0
        batch_s = time.perf_counter() - t_pass
        if self.expected is not None and counts != self.expected:
            m.failed += 1

        spark.catalog.clearCache()
        m.attempted += 1
        t0 = time.perf_counter()
        if recorder is not None:
            recorder.begin(f"{len(m.passes)}:stream")
            recorder.mark_built()
        progress, run_id = [], ""
        try:
            raw = (
                spark.readStream.schema(SP.EVENT_SCHEMA)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            q = SP.foreach_batch_fanout(raw, str(out / "stream"), trigger_secs=0)
            try:
                q.processAllAvailable()
                progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
                run_id = str(q.runId)
            finally:
                q.stop()
        except Exception:  # counted as failed (no rows below); the pass goes on
            pass
        if recorder is not None:
            recorder.end()
        stream_s = time.perf_counter() - t0
        wall = time.perf_counter() - t_pass
        batch_ms = [float(p["durationMs"]["triggerExecution"]) for p in progress]
        m.op_ms.extend(batch_ms)
        if sum(p["numInputRows"] for p in progress) != self.input_rows:
            m.failed += 1
        layer_bytes = {
            layer: _dir_stats(out / "batch" / layer) for layer in ("bronze", "silver", "gold")
        }
        if not keep:
            shutil.rmtree(out)
        return {
            "index": len(m.passes),
            "wall_s": wall,
            "batch_s": batch_s,
            "stream_s": stream_s,
            "layer_s": layer_s,
            "counts": counts,
            "layer_bytes": layer_bytes,
            "batch_ms": batch_ms,
            "run_id": run_id,
            "progress": [
                {"rows": p["numInputRows"], **{k: p["durationMs"].get(k, 0) for k in STREAM_KEYS}}
                for p in progress
            ],
        }

    def extra_groups(self, p: dict) -> dict[str, str]:
        return {p["run_id"]: f"{p['index']}:stream"}

    def pass_layers(self, ops, p: dict, groups) -> dict:
        t = super().pass_layers(ops, p, groups)
        written = 0
        for layer in ("bronze", "silver", "gold"):
            nbytes, nfiles = p["layer_bytes"][layer]
            written += nbytes
            t[f"medallion.{layer}_s"] = p["layer_s"][layer]
            t[f"medallion.{layer}_rows"] = p["counts"].get(layer, 0)
            t[f"medallion.{layer}_bytes"] = nbytes
            t[f"medallion.{layer}_files"] = nfiles
        t["medallion.etl_rows_per_s"] = self.input_rows / p["batch_s"]
        t["medallion.write_amp"] = written / self.input_bytes
        prog = p["progress"]
        t["stream.batches"] = len(prog)
        for key, name in STREAM_KEYS.items():
            t[f"stream.{name}_ms"] = median([float(x[key]) for x in prog])
        t["stream.rows_per_batch"] = median([float(x["rows"]) for x in prog])
        t["stream.rows_per_s"] = self.input_rows / p["stream_s"]
        return t


def make_workload(name: str, seed: int, work: Path, engine) -> Workload:
    if name == "catalog_sf0.001":
        return QueryWorkload(seed, work, engine, 0.001, CATALOG)
    if name == "medallion_etl":
        return MedallionWorkload(seed, work, engine)
    raise ValueError(f"unknown workload {name!r}")
