"""Streaming tests (SURVEY.md §5-4): file-source micro-batches driven
synchronously; watermark late-data semantics verified batch by batch."""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

import pandas as pd
import pytest

from project_bigdata_spark.streaming import pipeline as SP


def _write_batch(spark, path, rows, batch_id):
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    spark.createDataFrame(pdf, schema=SP.EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _rows(hour, n, uid=1, base_id=0, value=10.0):
    t0 = dt.datetime(2024, 3, 1, hour)
    return [
        (base_id + i, t0 + dt.timedelta(minutes=5 * i), uid, "click", value, None)
        for i in range(n)
    ]


@pytest.fixture()
def stream_env(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    _write_batch(spark, src, _rows(hour=1, n=3, base_id=0), 0)
    raw = (
        spark.readStream.schema(SP.EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    return raw, src, out


def test_gold_watermark_append_finalization(spark, stream_env):
    raw, src, out = stream_env
    gold = SP.gold_stream(SP.silver_stream(SP.bronze_stream(SP.parse_stream(raw))))
    q = (
        gold.writeStream.format("memory")
        .queryName("gold_mem")
        .outputMode("append")
        .option("checkpointLocation", f"{out}/_chk/gold_mem")
        .start()
    )
    try:
        q.processAllAvailable()
        # watermark = max(event) - 1h is still inside hour 1: nothing final
        assert spark.sql("SELECT * FROM gold_mem").count() == 0

        # batch 2: events at hour 4 push the watermark past hour 1's end
        _write_batch(spark, src, _rows(hour=4, n=2, base_id=100, value=50.0), 1)
        q.processAllAvailable()
        # batch 3: any batch after the watermark update emits hour 1
        _write_batch(spark, src, _rows(hour=4, n=1, base_id=200, value=60.0), 2)
        q.processAllAvailable()
        done = {r.hour_ts.hour: r for r in spark.sql("SELECT * FROM gold_mem").collect()}
        assert 1 in done
        assert done[1].n_events == 3
        assert done[1].max_value == 10.0
        assert done[1].event_types == ["click", "click", "click"]

        # batch 4: a LATE event for hour 1 (older than the watermark) must
        # NOT re-emit or alter the finalized group
        _write_batch(spark, src, _rows(hour=1, n=1, base_id=300, value=99.0), 3)
        q.processAllAvailable()
        rows_h1 = [
            r for r in spark.sql("SELECT * FROM gold_mem").collect()
            if r.hour_ts.hour == 1
        ]
        assert len(rows_h1) == 1 and rows_h1[0].max_value == 10.0
    finally:
        q.stop()


def test_foreach_batch_fanout_single_parse(spark, stream_env):
    raw, src, out = stream_env
    q = SP.foreach_batch_fanout(raw, out, trigger_secs=1)
    try:
        q.processAllAvailable()
        _write_batch(spark, src, _rows(hour=2, n=2, base_id=50, value=-1.0), 1)
        q.processAllAvailable()
        bronze = spark.read.parquet(f"{out}/bronze")
        silver = spark.read.parquet(f"{out}/silver")
        gold = spark.read.parquet(f"{out}/gold_increments")
        assert bronze.count() == 5          # 3 + 2
        assert silver.count() == 3          # negatives dropped
        assert gold.count() == 1            # one (uid, hour) group from valid rows
    finally:
        q.stop()


def test_foreach_batch_fanout_jobs_in_query_group(spark, stream_env):
    """The three concurrent sink writes inherit the stream thread's job
    group (the query's ``runId``), so ``stop()`` cancels them and a trace
    credits them to the query: at least one job per write per batch."""
    raw, src, out = stream_env
    q = SP.foreach_batch_fanout(raw, out, trigger_secs=1)
    try:
        q.processAllAvailable()
        _write_batch(spark, src, _rows(hour=2, n=2, base_id=50), 1)
        q.processAllAvailable()
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    finally:
        q.stop()
    assert len(batches) == 2
    assert len(jobs) >= 3 * len(batches), jobs


def _threads_not_py4j() -> set[threading.Thread]:
    """Live threads, less py4j's: its callback server starts on the first
    foreachBatch call, and the JVM opens one callback connection, served
    by one Python thread, per stream thread and keeps it after the query
    ends."""
    return {
        t for t in threading.enumerate()
        if not type(
            getattr(getattr(t, "_target", None), "__self__", None)
        ).__module__.startswith("py4j.")
    }


def test_foreach_batch_fanout_write_failure_fails_query(spark, stream_env):
    """One failing write (its output path is a plain file) fails the
    micro-batch and the query, after the other writes have ended: no sink
    thread outlives the query."""
    from pyspark.errors import StreamingQueryException

    raw, src, out = stream_env
    os.makedirs(out)
    with open(f"{out}/silver", "w") as fh:
        fh.write("not a directory")
    threads_before = _threads_not_py4j()
    q = SP.foreach_batch_fanout(raw, out, trigger_secs=1)
    try:
        with pytest.raises(StreamingQueryException, match="silver"):
            q.processAllAvailable()
    finally:
        q.stop()
    assert q.exception() is not None
    assert not _threads_not_py4j() - threads_before, "a sink thread outlived the query"


def test_multi_sink_topology(spark, stream_env):
    raw, src, out = stream_env
    queries = SP.start_multi_sink(raw, out, trigger_secs=1, gold_trigger_secs=1)
    try:
        deadline = time.time() + 60
        for q in queries:
            q.processAllAvailable()
        bronze = spark.read.parquet(f"{out}/bronze")
        assert bronze.count() == 3
        assert "processed_at" in bronze.columns  # T: P8 audit stamp
        silver = spark.read.parquet(f"{out}/silver")
        assert silver.count() == 3
        assert time.time() < deadline
    finally:
        for q in queries:
            q.stop()


def test_stateful_record_breaker_across_batches(spark, tmp_path):
    """applyInPandasWithState: running-max state survives micro-batches."""
    from project_bigdata_spark.streaming import stateful as ST

    src = str(tmp_path / "src2")
    out = str(tmp_path / "out2")
    # batch 1: values 10, 5 (10 is a record; 5 is not)
    _write_batch(spark, src, [
        (1, dt.datetime(2024, 3, 1, 1, 0), 7, "click", 10.0, None),
        (2, dt.datetime(2024, 3, 1, 1, 5), 7, "click", 5.0, None),
    ], 0)
    raw = (
        spark.readStream.schema(SP.EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        ST.record_breaker_stream(raw.select("user_id", "ts", "value"))
        .writeStream.format("memory")
        .queryName("records_mem")
        .outputMode("append")
        .option("checkpointLocation", f"{out}/_chk")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: 8 (no record), 12 (new record; prev must be 10 from batch 1)
        _write_batch(spark, src, [
            (3, dt.datetime(2024, 3, 1, 2, 0), 7, "click", 8.0, None),
            (4, dt.datetime(2024, 3, 1, 2, 5), 7, "click", 12.0, None),
        ], 1)
        q.processAllAvailable()
        rows = sorted(
            spark.sql("SELECT * FROM records_mem").collect(), key=lambda r: r.ts
        )
        assert [(r.value, r.prev_record) for r in rows] == [
            (10.0, None), (12.0, 10.0)
        ]
    finally:
        q.stop()


def test_streaming_dedup_with_watermark(spark, tmp_path):
    """Streaming exact dedup: dropDuplicates keyed on event_id within the
    watermark horizon — the streaming face of the dedup suite."""
    src = str(tmp_path / "src3")
    out = str(tmp_path / "out3")
    _write_batch(spark, src, _rows(hour=1, n=3, base_id=0), 0)
    raw = (
        spark.readStream.schema(SP.EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    deduped = (
        SP.parse_stream(raw)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_mem")
        .outputMode("append")
        .option("checkpointLocation", f"{out}/_chk")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2 replays the same event_ids (duplicate delivery)
        _write_batch(spark, src, _rows(hour=1, n=3, base_id=0), 1)
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM dedup_mem").count() == 3
    finally:
        q.stop()


def test_stream_static_join(spark, tmp_path):
    """Stream-static broadcast enrichment: streaming events joined to a
    static dimension (absent from the reference — SURVEY.md §2.8 'no
    stream-static joins')."""
    src = str(tmp_path / "src4")
    out = str(tmp_path / "out4")
    _write_batch(spark, src, _rows(hour=1, n=3, base_id=0, uid=1)
                 + _rows(hour=1, n=1, base_id=10, uid=2), 0)
    dim = spark.createDataFrame([(1, "gold"), (2, "basic")], ["user_id", "tier"])
    raw = spark.readStream.schema(SP.EVENT_SCHEMA).parquet(src)
    enriched = SP.parse_stream(raw).join(dim, on="user_id", how="left")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_mem")
        .outputMode("append")
        .option("checkpointLocation", f"{out}/_chk")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM enrich_mem").collect()
        tiers = {r.user_id: r.tier for r in rows}
        assert tiers == {1: "gold", 2: "basic"}
        assert len(rows) == 4
    finally:
        q.stop()


def test_stream_increments_upserted_into_consolidated_gold(spark, tmp_path):
    """End-to-end: streaming foreachBatch gold increments -> MERGE-style
    upsert into the consolidated partitioned gold table. The incremental
    maintenance story: streaming appends per-epoch partials; a periodic
    batch job folds them into the canonical hourly table rewriting only
    touched partitions."""
    from project_bigdata_spark.operators import medallion as M
    from project_bigdata_spark.operators.upsert import upsert_partitioned

    src = str(tmp_path / "src5")
    out = str(tmp_path / "out5")
    gold_path = str(tmp_path / "gold_consolidated")

    # seed the consolidated table from a first batch
    _write_batch(spark, src, _rows(hour=1, n=2, base_id=0, value=10.0), 0)
    seed = M.gold_hourly(M.silver(M.bronze(
        spark.read.parquet(src)))).drop("type_values")
    seed.write.partitionBy("year", "month", "day").parquet(gold_path)
    assert spark.read.parquet(gold_path).count() == 1

    # stream a second batch: same hour gains an event (group must be
    # REPLACED, not duplicated) and a new hour appears
    _write_batch(spark, src, _rows(hour=1, n=1, base_id=50, value=99.0)
                 + _rows(hour=2, n=1, base_id=60, value=7.0), 1)
    full = M.gold_hourly(M.silver(M.bronze(
        spark.read.parquet(src)))).drop("type_values")
    upsert_partitioned(
        spark, gold_path, full, key_cols=["user_id", "hour_ts"],
        partition_cols=["year", "month", "day"],
    )
    got = {r.hour_ts.hour: r for r in spark.read.parquet(gold_path).collect()}
    assert set(got) == {1, 2}
    assert got[1].max_value == 99.0 and got[1].n_events == 3
    assert got[2].n_events == 1


def test_session_window_stream(spark, tmp_path):
    """Dynamic-gap session windows: 3 events 5 min apart form ONE session;
    a later batch pushes the watermark past its end and append mode emits
    it exactly once."""
    src = str(tmp_path / "src_sess")
    out = str(tmp_path / "out_sess")
    _write_batch(spark, src, _rows(hour=1, n=3, base_id=0), 0)
    raw = (
        spark.readStream.schema(SP.EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sess = SP.session_stream(SP.parse_stream(raw), gap="15 minutes")
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_mem")
        .outputMode("append")
        .option("checkpointLocation", f"{out}/_chk")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM sess_mem").count() == 0  # still open
        _write_batch(spark, src, _rows(hour=6, n=1, base_id=100), 1)
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM sess_mem ORDER BY session_start"
        ).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r.n_events == 3 and r.session_value == 30.0
        # gap semantics: end = last event + gap
        assert (r.session_end - r.session_start).total_seconds() == 25 * 60
    finally:
        q.stop()


def test_sliding_window_stream(spark, tmp_path):
    """2h-size / 1h-slide windows: each event lands in two overlapping
    windows; both finalize once the watermark passes their ends."""
    src = str(tmp_path / "src_slide")
    out = str(tmp_path / "out_slide")
    _write_batch(spark, src, _rows(hour=1, n=3, base_id=0), 0)
    raw = (
        spark.readStream.schema(SP.EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sl = SP.sliding_stream(SP.parse_stream(raw))
    q = (
        sl.writeStream.format("memory")
        .queryName("slide_mem")
        .outputMode("append")
        .option("checkpointLocation", f"{out}/_chk")
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(spark, src, _rows(hour=8, n=1, base_id=100), 1)
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM slide_mem WHERE user_id = 1 ORDER BY window_start"
        ).collect()
        assert [(r.window_start.hour, r.n_events) for r in rows] == [
            (0, 3),
            (1, 3),
        ]
    finally:
        q.stop()


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream inner join with an event-time bound: purchases match
    clicks by the same user within the preceding hour; a too-late purchase
    does not match."""
    clicks_src = str(tmp_path / "src_clicks")
    buys_src = str(tmp_path / "src_buys")
    out = str(tmp_path / "out_ssj")
    t0 = dt.datetime(2024, 3, 1, 1)
    _write_batch(spark, clicks_src, [(1, t0, 1, "click", 1.0, None)], 0)
    _write_batch(
        spark,
        buys_src,
        [
            (50, t0 + dt.timedelta(minutes=30), 1, "purchase", 99.0, None),
            (51, t0 + dt.timedelta(hours=3), 1, "purchase", 5.0, None),
            (52, t0 + dt.timedelta(minutes=30), 2, "purchase", 7.0, None),
        ],
        0,
    )
    clicks = spark.readStream.schema(SP.EVENT_SCHEMA).parquet(clicks_src)
    buys = spark.readStream.schema(SP.EVENT_SCHEMA).parquet(buys_src)
    joined = SP.stream_stream_conversion_join(
        SP.parse_stream(clicks), SP.parse_stream(buys)
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_mem")
        .outputMode("append")
        .option("checkpointLocation", f"{out}/_chk")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM ssj_mem").collect()
        assert [(r.click_id, r.purchase_id, r.purchase_value) for r in rows] == [
            (1, 50, 99.0)
        ]
    finally:
        q.stop()


def test_streaming_incremental_dedup_against_static_corpus(spark, tmp_path):
    """Continuous-ingestion screening: micro-batches of new docs are
    LSH-matched against a static corpus signature table; dups of corpus
    docs are flagged, novel docs pass."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from project_bigdata_spark.operators import dedup as DD

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, base), (2, "an entirely different corpus document about spark")],
        ["doc_id", "text"],
    )
    corpus_sigs = DD.minhash_signatures(corpus, "doc_id", "text").persist()
    corpus_sigs.count()  # materialize the static side once

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]
    )
    src = str(tmp_path / "docs_src")
    out = str(tmp_path / "docs_out")
    chk = str(tmp_path / "docs_chk")
    spark.createDataFrame([(10, base)], schema).write.mode("append").parquet(src)

    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = SP.incremental_dedup_stream(raw, corpus_sigs, out, chk)
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            [(11, "totally novel words never seen before in any shape")], schema
        ).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert rows[10].is_novel is False and rows[10].n_corpus_matches >= 1
    assert rows[11].is_novel is True and rows[11].n_corpus_matches == 0
    corpus_sigs.unpersist()


def test_incremental_dedup_stream_end_to_end(spark, tmp_path):
    """Continuous-ingestion dedup executes end-to-end: micro-batches of
    incoming docs are screened against a static corpus signature table via
    foreachBatch, and the parquet verdict log marks corpus duplicates
    non-novel and fresh text novel, per batch."""
    from project_bigdata_spark.operators import dedup as DD

    corpus_rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "large scale data processing engines shuffle partitioned columnar batches"),
    ]
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    corpus_sigs = DD.minhash_signatures(corpus, "doc_id", "text").persist()

    src = str(tmp_path / "docs_src")
    out = str(tmp_path / "verdicts")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    # batch 1: an exact copy of corpus doc 1 + a novel doc
    spark.createDataFrame(
        [(101, corpus_rows[0][1]), (102, "completely unrelated sentence about alpine meadow flora")],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = SP.incremental_dedup_stream(stream, corpus_sigs, out, ckpt)
    try:
        q.processAllAvailable()
        # batch 2: a copy of corpus doc 2 arrives later
        spark.createDataFrame(
            [(201, corpus_rows[1][1])], schema
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    corpus_sigs.unpersist()

    verdicts = {
        r.doc_id: r for r in spark.read.parquet(out).collect()
    }
    assert set(verdicts) == {101, 102, 201}
    assert not verdicts[101].is_novel and verdicts[101].n_corpus_matches >= 1
    assert verdicts[102].is_novel and verdicts[102].n_corpus_matches == 0
    assert not verdicts[201].is_novel
    # batches were processed separately through the checkpointed query
    assert verdicts[101].batch_id != verdicts[201].batch_id


def test_dedup_stream_watermarked(spark, tmp_path):
    """dropDuplicatesWithinWatermark suppresses replays arriving within
    the watermark horizon: three deliveries of event 1 (two in batch 1,
    one replayed in batch 2) emit exactly one row."""
    src = str(tmp_path / "dd_src")
    out_tbl = "dedup_stream_sink"
    _write_batch(
        spark,
        src,
        _rows(10, 3, base_id=0) + _rows(10, 1, base_id=0),  # id 0 twice
        1,
    )
    stream = (
        spark.readStream.schema(SP.EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        SP.dedup_stream(stream, key_cols=("event_id",), watermark="2 hours")
        .writeStream.format("memory")
        .queryName(out_tbl)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(spark, src, _rows(10, 1, base_id=0), 2)  # replay id 0
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(f"SELECT event_id FROM {out_tbl}").collect()
    ids = [r.event_id for r in got]
    assert sorted(ids) == sorted(set(ids)), "duplicate escaped the dedup"
    assert ids.count(0) == 1


def test_bloom_screen_stream_end_to_end(spark, tmp_path):
    """Exact incremental dedup stream: the persisted corpus bloom prunes
    each micro-batch; exact copies are flagged, novel text is not, and
    the answer is exact despite the probabilistic prefilter."""
    from pyspark.sql import functions as F

    from project_bigdata_spark.operators import dedup as DD

    corpus_rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "columnar engines vectorize aggregation pipelines"),
    ]
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    digests = corpus.select(F.md5("text").alias("digest")).distinct().persist()
    bloom = DD.bloom_build(digests, "digest").persist()
    bloom.count()

    src, out, ckpt = (
        str(tmp_path / p) for p in ("bs_src", "bs_out", "bs_ckpt")
    )
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(11, corpus_rows[0][1]), (12, "novel alpine meadow flora survey")],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = SP.bloom_screen_stream(stream, digests, bloom, out, ckpt)
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            [(21, corpus_rows[1][1])], schema
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {11, 12, 21}
    assert got[11].is_corpus_dup and got[21].is_corpus_dup
    assert not got[12].is_corpus_dup
    assert got[11].batch_id != got[21].batch_id


def test_python_datasource_stream(spark, tmp_path):
    """Custom Python DataSource streaming face: the synthetic_events
    connector's SimpleDataSourceStreamReader feeds micro-batches through
    an aggregation into a memory sink; the capped offset walk drains to
    exactly n_rows with no duplicates (the offset contract is the
    exactly-once mechanism a queue connector earns from broker offsets)."""
    from pyspark.sql import functions as F

    from project_bigdata_spark.sources import pysource

    pysource.register(spark)
    stream = (
        spark.readStream.format("synthetic_events")
        .option("n_rows", 350)
        .option("rows_per_batch", 100)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("pysource_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        sunk = spark.sql("select * from pysource_stream")
        # offset walk drains to exactly n_rows, each id exactly once
        assert sunk.count() == 350
        assert sunk.select("event_id").distinct().count() == 350
        # micro-batched rows equal the batch source bit-for-bit
        batch = (
            spark.read.format("synthetic_events").option("n_rows", 350).load()
        )
        assert sorted(map(tuple, sunk.collect())) == sorted(
            map(tuple, batch.collect())
        )
    finally:
        q.stop()


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = v


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema):
        self.states[name] = _FakeValueState()
        return self.states[name]


def test_cdc_processor_semantics_without_runtime():
    """CdcLatestProcessor merge semantics driven directly (the TWS Python
    worker needs protobuf, absent here — same gating as Kafka): state
    survives batches, latest (ts, event_id) wins, tombstones surface as
    is_deleted instead of vanishing, re-insert after delete resurrects."""
    import pandas as pd

    from project_bigdata_spark.streaming import stateful as ST

    proc = ST.CdcLatestProcessor()
    proc.init(_FakeHandle())
    t = dt.datetime

    def batch(rows):
        pdf = pd.DataFrame(
            rows, columns=["ts", "event_id", "value", "op"]
        )
        (out,) = list(proc.handleInputRows((7,), [pdf], None))
        return out.iloc[0].to_dict()

    r1 = batch([(t(2024, 3, 1, 1), 1, 10.0, "U"), (t(2024, 3, 1, 2), 2, 4.0, "U")])
    assert (r1["value"], r1["is_deleted"]) == (4.0, False)
    # batch 2: older event must NOT displace state from batch 1
    r2 = batch([(t(2024, 3, 1, 0), 0, 99.0, "U")])
    assert (r2["value"], r2["is_deleted"]) == (4.0, False)
    # tombstone wins and is surfaced, not dropped
    r3 = batch([(t(2024, 3, 1, 3), 3, 0.0, "D")])
    assert r3["is_deleted"] is True or r3["is_deleted"] == True  # noqa: E712
    # re-insert after delete resurrects
    r4 = batch([(t(2024, 3, 1, 4), 4, 7.0, "U")])
    assert (r4["value"], r4["is_deleted"]) == (7.0, False)
    # same-ts tie broken by event_id (total order parity with batch op)
    r5 = batch([(t(2024, 3, 1, 4), 6, 8.0, "U"), (t(2024, 3, 1, 4), 5, 9.0, "U")])
    assert r5["value"] == 8.0


def test_cdc_stream_plan_construction(spark):
    """transformWithStateInPandas wiring builds an unresolved streaming
    plan (full execution needs protobuf; see module note)."""
    from project_bigdata_spark.streaming import stateful as ST

    raw = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .selectExpr(
            "value AS event_id",
            "value % 5 AS user_id",
            "timestamp AS ts",
            "CAST(value AS DOUBLE) AS value",
            "CASE WHEN value % 7 = 0 THEN 'D' ELSE 'U' END AS op",
        )
    )
    out = ST.cdc_state_stream(raw)
    assert out.isStreaming
    assert [f.name for f in out.schema.fields] == [
        "user_id", "ts", "value", "is_deleted",
    ]


def test_cdc_stream_end_to_end_when_runtime_available(spark, tmp_path):
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState Python worker needs protobuf",
    )
    import pandas as pd  # noqa: F401

    from project_bigdata_spark.streaming import stateful as ST

    src = str(tmp_path / "cdc_src")
    schema = "event_id long, user_id long, ts timestamp, value double, op string"
    spark.createDataFrame(
        [(1, 7, dt.datetime(2024, 3, 1, 1), 10.0, "U")], schema
    ).coalesce(1).write.parquet(f"{src}/b0")
    raw = spark.readStream.schema(schema).parquet(f"{src}/b*")
    q = (
        ST.cdc_state_stream(raw)
        .writeStream.format("memory")
        .queryName("cdc_tws_mem")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM cdc_tws_mem").count() >= 1
    finally:
        q.stop()


def test_drift_monitor_stream_flags_shifted_batch(spark, tmp_path):
    """Per-batch PSI vs a static baseline: a batch drawn from the
    baseline distribution scores low, a shifted batch scores high."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "drift_src")
    out = str(tmp_path / "drift_metrics")
    base_vals = [float(v % 100) for v in range(400)]
    baseline = (
        spark.createDataFrame([(v,) for v in base_vals], "value double")
        .select(F.floor(F.col("value") / 25.0).cast("bigint").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # batch 0: same distribution; batch 1: shifted by +200
    _write_batch(spark, src, [
        (i, dt.datetime(2024, 3, 1, 1, 0, i % 60), 1, "click",
         float(i % 100), None)
        for i in range(200)
    ], 0)
    raw = (
        spark.readStream.schema(SP.EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = SP.drift_monitor_stream(
        raw, baseline, out, f"{out}/_chk"
    )
    try:
        q.processAllAvailable()
        _write_batch(spark, src, [
            (1000 + i, dt.datetime(2024, 3, 1, 2, 0, i % 60), 1, "click",
             200.0 + float(i % 100), None)
            for i in range(200)
        ], 1)
        q.processAllAvailable()
        rows = {r["batch_id"]: r for r in spark.read.parquet(out).collect()}
        assert rows[0]["psi"] < 0.1, rows
        assert rows[1]["psi"] > 0.25, rows
        assert rows[0]["n_rows"] == 200 and rows[1]["n_rows"] == 200
    finally:
        q.stop()
