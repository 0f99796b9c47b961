"""Custom connector seam: a PySpark-4 Python DataSource (S-family).

The reference's only extensibility point is "another Kafka topic"; a real
engine needs a way to mount NEW sources without JVM code. Spark 4's
Python DataSource API is that seam: ``DataSource`` declares name/schema,
``DataSourceReader.partitions()`` plans the parallel split, ``read()``
produces each split executor-side. This module ships a deterministic
synthetic-events source as the reference implementation — the same shape
a REST-paginator or object-store-listing connector would take, with the
pagination plan in ``partitions()``.

Row math is hash-based and engine-neutral on purpose (md5 of the row id,
same formulas expressible in SQL), so the source is differentially
attestable against a DuckDB oracle like every other catalog entry —
a custom CONNECTOR goes through the same correctness gate as a query.

Scale notes: splits are planned once on the driver (cheap integer
ranges); each split generates independently, so parallelism = number of
partitions, no shuffle, no driver data path. A production connector
swaps ``_row`` for an HTTP page fetch / file decode with the identical
contract.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from project_bigdata_spark.sources.registry import SCHEMAS

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
BASE_TS = datetime(2024, 1, 1, tzinfo=timezone.utc)

SCHEMA = SCHEMAS["events"]


def _h32(event_id: int) -> int:
    """First 32 bits of md5(str(id)) — the one hash every derived field
    keys off, chosen because both Spark SQL and DuckDB can reproduce it
    (``conv(substring(md5(x),1,8),16,10)`` / ``('0x'||...)::BIGINT``)."""
    return int(hashlib.md5(str(event_id).encode()).hexdigest()[:8], 16)


def _row(event_id: int) -> tuple:
    h = _h32(event_id)
    return (
        event_id,
        (BASE_TS + timedelta(minutes=event_id)).replace(tzinfo=None),
        h % 1000,
        EVENT_TYPES[h % 5],
        ((h // 5) % 100_000) / 100.0,
        '{"k":%d}' % (event_id % 10),
    )


class _Split(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n_rows = int(options.get("n_rows", 1000))
        self.n_partitions = int(options.get("n_partitions", 8))

    def partitions(self):
        n, p = self.n_rows, max(1, self.n_partitions)
        step = -(-n // p)
        return [_Split(i, min(i + step, n)) for i in range(0, n, step)]

    def read(self, partition: _Split):
        for event_id in range(partition.start, partition.end):
            yield _row(event_id)


class SyntheticEventsDataSource(DataSource):
    """``spark.read.format("synthetic_events").option("n_rows", N)``."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> SyntheticEventsReader:
        return SyntheticEventsReader(self.options)

    def simpleStreamReader(self, schema) -> "SyntheticEventsStreamReader":
        return SyntheticEventsStreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration of every Python data source this engine
    ships (call once per session; re-registering is harmless).

    The module is registered with cloudpickle for BY-VALUE serialization
    first: the JVM spawns fresh Python workers both to instantiate the
    DataSource at plan time (``create_data_source`` worker) and to run
    ``read()`` on executors, and those processes inherit only
    PYTHONPATH — not the driver's ``sys.path`` — so a by-REFERENCE
    pickle (the cloudpickle default for importable classes) dies with
    ModuleNotFoundError whenever the driver wasn't launched from the
    repo root. By-value shipping makes the connector self-contained the
    same way the engine's mapInPandas closures are; the classes reference
    only stdlib, pyspark and the declared events ``StructType``, so the
    by-value closure is small.
    """
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(SyntheticEventsDataSource)
    spark.dataSource.register(JsonlSinkDataSource)


class SyntheticEventsStreamReader(SimpleDataSourceStreamReader):
    """Streaming face of the same connector: offset = rows emitted so
    far; each micro-batch advances it by ``rows_per_batch`` until
    ``n_rows`` (a capped replay — an unbounded feed just never hits the
    cap). Exactly-once comes from the offset contract: the engine
    checkpoints {"offset": N}, replays ``readBetweenOffsets`` on
    recovery, and the deterministic row math makes every replay
    byte-identical — the property a real queue connector has to earn
    with broker offsets, here by construction.
    """

    def __init__(self, options: dict):
        self.n_rows = int(options.get("n_rows", 1000))
        self.batch = int(options.get("rows_per_batch", 100))

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def read(self, start: dict):
        lo = int(start["offset"])
        hi = min(lo + self.batch, self.n_rows)
        return iter([_row(i) for i in range(lo, hi)]), {"offset": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter([_row(i) for i in range(int(start["offset"]),
                                            int(end["offset"]))])


class _JsonlCommit(WriterCommitMessage):
    def __init__(self, path: str, n: int):
        self.path = path
        self.n = n


class JsonlSinkWriter(DataSourceWriter):
    """Per-partition JSONL shard writer (executor-side Python file IO —
    a Python SINK is inherently Python-on-the-data-path; this is the
    sink seam, policy-equivalent to the media seam). Tasks write to
    uniquely-named temp shards and ``commit`` promotes them — the
    standard task-commit protocol, so a retried/speculative task never
    double-publishes."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pyjsonl sink requires option 'path'")

    def write(self, iterator):
        import json
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        shard = os.path.join(self.path, f"_tmp-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(shard, "w", encoding="utf-8") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _JsonlCommit(shard, n)

    def commit(self, messages):
        import glob
        import os

        committed = set()
        for m in messages:
            # rename only the BASENAME prefix — a parent dir containing
            # "_tmp-" must not be rewritten (os.replace would then fail)
            d, base = os.path.dirname(m.path), os.path.basename(m.path)
            final = os.path.join(d, "part-" + base.removeprefix("_tmp-"))
            os.replace(m.path, final)
            committed.add(m.path)
        # losing speculative/retried task shards never get a commit
        # message; sweep them so success runs don't accumulate temp files
        for stale in glob.glob(os.path.join(self.path, "_tmp-*.jsonl")):
            if stale not in committed:
                try:
                    os.remove(stale)
                except OSError:
                    pass

    def abort(self, messages):
        import os

        for m in messages:
            try:
                os.remove(m.path)
            except OSError:
                pass


class JsonlSinkDataSource(DataSource):
    """``df.write.format("pyjsonl").option("path", ...)`` — the WRITER
    face of the Python DataSource seam (the reader face is
    SyntheticEventsDataSource)."""

    @classmethod
    def name(cls) -> str:
        return "pyjsonl"

    def writer(self, schema, overwrite: bool) -> JsonlSinkWriter:
        if overwrite:
            import glob
            import os

            for f in glob.glob(
                os.path.join(self.options.get("path", ""), "part-*.jsonl")
            ):
                os.remove(f)
        return JsonlSinkWriter(self.options)
