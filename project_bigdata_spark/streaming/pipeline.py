"""Structured Streaming medallion pipeline (SURVEY.md §2.8 T1-T7, §3.2).

Re-expresses the reference's ``spark/stream_processor.py`` with its defects
fixed (SURVEY.md §4.3-2):

- the source is parsed ONCE and fanned out, instead of three independent
  queries re-parsing the same Kafka payload (stream_processor.py:77,123,172);
- the batch and streaming pipelines share the SAME transform functions
  (operators/medallion.py) — bronze/silver/gold semantics cannot drift
  between modes;
- gold's hour aggregation uses a 1-hour watermark + append mode exactly as
  the reference (T1/T2/T4), with the deterministic-array fix.

Two fan-out strategies:

- :func:`start_multi_sink` — one ``writeStream`` per layer (three
  concurrent queries, independent triggers/checkpoints: the reference's
  topology, minus the triple parse since Silver derives from the parsed
  stream, not the raw source).
- :func:`foreach_batch_fanout` — ONE query; each micro-batch is parsed
  once (Bronze, persisted for the batch's lifetime) and written to all
  three layers by three concurrent writes that inherit the query's job
  group, so ``stop()`` cancels them; the batch, and with it the query,
  fails if any write fails. Fewer state stores, one source offset log;
  the right default when sinks share cadence.

Scale notes: the streaming gold agg keeps state per (entity, hour) in the
state store; the 1-hour watermark bounds state to ~2h × |entities| rows.
Checkpoint/state-store I/O is per-micro-batch and scales with updated keys
only. ``failOnDataLoss=false`` (T7) tolerates source truncation.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from project_bigdata_spark.operators import medallion as M
from project_bigdata_spark.sources.registry import SCHEMAS

EVENT_SCHEMA = SCHEMAS["events"]


def parse_stream(raw: DataFrame) -> DataFrame:
    """P1 on a stream: Kafka-envelope value -> typed columns, or pass
    through an already-typed stream. Called ONCE per pipeline."""
    if "value" in raw.columns and dict(raw.dtypes).get("value") == "binary":
        return raw.select(
            F.from_json(F.col("value").cast("string"), EVENT_SCHEMA).alias("m")
        ).select("m.*")
    return raw


def bronze_stream(parsed: DataFrame) -> DataFrame:
    """Bronze with processing-time audit stamp (T: P8)."""
    return M.bronze(parsed).withColumn("processed_at", F.current_timestamp())


def silver_stream(bronze_df: DataFrame) -> DataFrame:
    return M.silver(bronze_df.drop("processed_at"))


def gold_stream(silver_df: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """T1+T2: watermarked tumbling-hour aggregation in append mode.

    A 1-hour tumbling ``window()`` ≡ the reference's ``date_trunc('hour')``
    group key (stream_processor.py:200-215) — but only ``window()``
    carries the event-time metadata append mode needs (Spark 4 rejects a
    trunc-derived key as an unwatermarked aggregation). The watermark
    finalizes an hour-group once event time passes hour_end + 1h, at which
    point append mode emits it exactly once.
    """
    return (
        silver_df.withWatermark("ts", watermark)
        .groupBy(
            F.col("user_id"),
            F.window(F.col("ts"), "1 hour").alias("_w"),
        )
        .agg(
            F.max("value").alias("max_value"),
            F.count(F.lit(1)).alias("n_events"),
            F.sort_array(
                F.collect_list(F.struct(F.col("event_type").alias("k"),
                                        F.col("value").alias("v")))
            ).alias("pairs"),
        )
        .withColumn("event_types", F.transform("pairs", lambda p: p["k"]))
        .withColumn("values", F.transform("pairs", lambda p: p["v"]))
        .withColumn("hour_ts", F.col("_w.start"))
        .drop("pairs", "_w")
    )


def start_multi_sink(
    raw: DataFrame,
    out_dir: str,
    trigger_secs: int = 10,
    gold_trigger_secs: int = 60,
    fmt: str = "parquet",
) -> list[StreamingQuery]:
    """T3-T6: three concurrent queries off one parsed stream, each with its
    own checkpoint and processing-time trigger (10 s / 10 s / 60 s cadence
    like the reference)."""
    parsed = parse_stream(raw)
    b, s = bronze_stream(parsed), silver_stream(bronze_stream(parsed))
    g = gold_stream(silver_stream(bronze_stream(parsed)))
    queries = []
    for name, df, mode, secs in [
        ("bronze", b, "append", trigger_secs),
        ("silver", s, "append", trigger_secs),
        ("gold", g, "append", gold_trigger_secs),
    ]:
        queries.append(
            df.writeStream.format(fmt)
            .outputMode(mode)
            .option("path", f"{out_dir}/{name}")
            .option("checkpointLocation", f"{out_dir}/_chk/{name}")
            .trigger(processingTime=f"{secs} seconds")
            .start()
        )
    return queries


def foreach_batch_fanout(
    raw: DataFrame, out_dir: str, trigger_secs: int = 10
) -> StreamingQuery:
    """T5 fixed: ONE streaming query; each micro-batch fans out to all
    three layers. Gold here is per-epoch incremental (no cross-batch
    state) — the batch gold job provides the consolidated hourly view;
    this sink feeds it fresh partitions.

    Invariant per micro-batch: the input is read and parsed once (Bronze
    is persisted until all three writes end); the Bronze, Silver and
    Gold-increment frames are built and written at the same time, each on
    its own thread that inherits the stream thread's local properties, so
    every job is in the query's job group (``runId``) and ``stop()``
    cancels it; the batch fails with the first write's error, in sink
    order, once all three have ended. One micro-batch file is one task per
    stage, so run one after another the writes would leave all but one
    core idle.

    Jobs: four per batch when sequential (Bronze, Silver, Gold's map and
    result stages), five concurrently. Gold's plan has a shuffle, so AQE
    reads the cache through a table-cache stage, which starts one job to
    fill the cache when Bronze has not filled it yet. That job's task and
    Bronze's ask for the same cached block: one computes it, the other
    waits for it, so the input is still read once."""
    parsed = parse_stream(raw)

    def append(df: DataFrame, layer: str) -> None:
        df.write.mode("append").parquet(f"{out_dir}/{layer}")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        b = M.bronze(batch_df)
        b.persist()
        try:
            _run_concurrently(batch_df.sparkSession, [
                lambda: append(b, "bronze"),
                lambda: append(M.silver(b), "silver"),
                lambda: append(
                    M.gold_hourly(M.silver(b)).drop("type_values"), "gold_increments"
                ),
            ])
        finally:
            b.unpersist()

    return (
        parsed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{out_dir}/_chk/fanout")
        .trigger(processingTime=f"{trigger_secs} seconds")
        .start()
    )


def _run_concurrently(spark: SparkSession, calls: list[Callable[[], None]]) -> None:
    """Run every call at once, one thread each, and return when all have
    ended, raising the first failure in ``calls`` order. Each thread gets
    its own copy of the caller's local properties (one wrapper per call):
    a shared copy would let one write's ``spark.sql.execution.id`` leak
    into another's jobs."""
    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(c)) for c in calls]
    for future in futures:
        future.result()


def session_stream(
    parsed: DataFrame, gap: str = "15 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming sessionization with dynamic-gap session windows.

    ``session_window`` merges consecutive events per user that arrive
    < ``gap`` apart into one growing window; the watermark closes a
    session once event time passes its end + watermark, at which point
    append mode emits it exactly once. The streaming face of the batch
    ``sessionize_events`` query (which uses the lag > gap cumulative-sum
    idiom); absent from the reference (SURVEY.md §2.8: 'no
    sliding/session windows').

    State per (user, open session) only — bounded by active users, not
    history.
    """
    return (
        parsed.withWatermark("ts", watermark)
        .groupBy(F.session_window(F.col("ts"), gap).alias("_s"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("_s.start").alias("session_start"),
            F.col("_s.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def sliding_stream(
    parsed: DataFrame,
    size: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding-window aggregation: each event lands in size/slide
    overlapping windows (here 2). Append mode emits a window when the
    watermark passes its end. Absent from the reference (tumbling only)."""
    return (
        parsed.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), size, slide).alias("_w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("value").alias("max_value"))
        .select(
            "user_id",
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            "n_events",
            "max_value",
        )
    )


def stream_stream_conversion_join(
    clicks: DataFrame, purchases: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join with an event-time interval bound: each
    purchase matches clicks by the same user within the preceding
    ``horizon``. Both sides are watermarked so the state store can evict
    rows that can no longer match (state is bounded by watermark +
    interval, the canonical Structured Streaming interval-join recipe).
    Absent from the reference (SURVEY.md §2.8: 'no stream-stream joins').
    """
    c = (
        clicks.withWatermark("ts", horizon)
        .select(
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    p = (
        purchases.withWatermark("ts", horizon)
        .select(
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
    )
    return c.join(
        p,
        [
            c["user_id"] == p["user_id"],
            p["purchase_ts"] >= c["click_ts"],
            p["purchase_ts"] <= c["click_ts"] + F.expr(f"INTERVAL {horizon}"),
        ],
        "inner",
    ).select(
        c["user_id"].alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def incremental_dedup_stream(
    new_docs: DataFrame,
    corpus_sigs: DataFrame,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Continuous-ingestion dedup: screen each micro-batch of incoming
    documents against a STATIC corpus signature table (built once by
    :func:`~project_bigdata_spark.operators.dedup.minhash_signatures`
    and persisted) and append a per-doc novelty verdict to ``out_path``.

    Runs through ``foreachBatch`` so the BATCH incremental-dedup operator
    executes verbatim per micro-batch — the two-sided LSH banding needs a
    ``distinct`` and per-side bucket-cap windows, neither of which is
    append-streamable, and foreachBatch is the canonical escape hatch
    that keeps batch/stream semantics identical. State stays bounded:
    the corpus side never grows within the query (refresh it by
    restarting with a new signature snapshot), and each batch's
    signatures are persisted only for the batch's own lifetime.
    """
    from pyspark.sql import functions as _F

    from project_bigdata_spark.operators import dedup as DD

    def _screen(batch_df: DataFrame, batch_id: int) -> None:
        sigs_new = DD.minhash_signatures(batch_df, id_col, text_col).persist()
        pairs = DD.minhash_incremental_pairs(sigs_new, corpus_sigs, id_col)
        ver = DD.jaccard_verify(
            pairs, sigs_new.unionByName(corpus_sigs), id_col, threshold
        )
        m = ver.groupBy("id_a").agg(_F.count(_F.lit(1)).alias("n_matches"))
        out = (
            batch_df.select(id_col)
            .join(m.withColumnRenamed("id_a", id_col), on=id_col, how="left")
            .select(
                _F.col(id_col),
                _F.coalesce("n_matches", _F.lit(0))
                .cast("int")
                .alias("n_corpus_matches"),
                _F.col("n_matches").isNull().alias("is_novel"),
                _F.lit(batch_id).alias("batch_id"),
            )
        )
        out.write.mode("append").parquet(out_path)
        sigs_new.unpersist()

    return (
        new_docs.writeStream.foreachBatch(_screen)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def dedup_stream(
    parsed: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Exactly-once-per-key streaming dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps one state row per key only
    until the watermark passes the row's event time, then evicts it —
    the native way to absorb at-least-once upstreams (a replaying Kafka
    producer, a retried ingest job) without unbounded keys-seen state.

    Contrast: plain ``dropDuplicates`` on a stream retains EVERY key
    forever (OOM at corpus scale); the watermarked variant trades that
    for a bounded guarantee — duplicates arriving within the watermark
    horizon are suppressed, later replays are not (by then the upstream
    retry window has passed). State size ~ keys per watermark window.
    """
    return parsed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def bloom_screen_stream(
    new_docs: DataFrame,
    corpus_digests: DataFrame,
    bloom: DataFrame,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Continuous EXACT incremental dedup: screen each micro-batch of
    incoming documents against a static corpus digest table, with the
    corpus's Bloom bitmap (built once by
    :func:`~project_bigdata_spark.operators.dedup.bloom_build` and
    persisted, like the MinHash signature table in
    :func:`incremental_dedup_stream`) pruning the batch before the exact
    confirm join. Appends a per-doc ``(id, is_corpus_dup, batch_id)``
    verdict log to ``out_path``.

    Per batch, the screen cost tracks the CANDIDATE fraction: the probe
    is a zero-shuffle map pass, and only bitmap hits (true dups + FPR)
    reach the join — the steady-state shape for at-least-once ingest in
    front of a 10^9-document corpus.
    """
    from pyspark.sql import functions as _F

    from project_bigdata_spark.operators import dedup as DD

    def _screen(batch_df: DataFrame, batch_id: int) -> None:
        digest = _F.md5(_F.col(text_col))
        probed = DD.bloom_probe(
            batch_df.select(_F.col(id_col), digest.alias("digest")),
            bloom,
            _F.col("digest"),
        )
        confirmed = (
            probed.filter(_F.col("bloom_hit"))
            .join(corpus_digests, on="digest", how="left_semi")
            .select(id_col)
            .withColumn("is_corpus_dup", _F.lit(True))
        )
        out = (
            batch_df.select(id_col)
            .join(confirmed, on=id_col, how="left")
            .select(
                _F.col(id_col),
                _F.coalesce("is_corpus_dup", _F.lit(False)).alias(
                    "is_corpus_dup"
                ),
                _F.lit(batch_id).alias("batch_id"),
            )
        )
        out.write.mode("append").parquet(out_path)

    return (
        new_docs.writeStream.foreachBatch(_screen)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def drift_monitor_stream(
    parsed: DataFrame,
    baseline_counts: DataFrame,
    out_path: str,
    checkpoint: str,
    value_col: str = "value",
    bin_width: float = 25.0,
):
    """Streaming drift monitor: every micro-batch's value distribution is
    PSI-scored against a static baseline histogram (the training
    snapshot), and one (batch_id, n_rows, psi) row is appended to a
    metrics table — the alarm wire for "serving data stopped looking
    like training data", evaluated continuously instead of at the next
    retrain.

    The baseline is a broadcast (bin, n_base) frame; per batch the only
    work is one tiny bin aggregation + the PSI fold (Laplace-smoothed,
    as operators/quality.psi_drift). foreachBatch because the metric is
    a cross-batch side OUTPUT, not stream state: each batch's PSI is
    independent, so no state store is needed at all.
    """
    base = baseline_counts.select(
        F.col("bin").cast("bigint").alias("bin"),
        F.col("n").cast("bigint").alias("n_base"),
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        counts = (
            batch_df.select(
                F.floor(F.col(value_col) / F.lit(bin_width))
                .cast("bigint")
                .alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n_cur"))
        )
        j = (
            counts.join(F.broadcast(base), "bin", "full_outer")
            .na.fill({"n_cur": 0, "n_base": 0})
        )
        tot = j.agg(
            F.sum("n_cur").alias("t_cur"),
            F.sum("n_base").alias("t_base"),
            F.count(F.lit(1)).alias("n_bins"),
        )
        p = (F.col("n_base") + 0.5) / (F.col("t_base") + 0.5 * F.col("n_bins"))
        q = (F.col("n_cur") + 0.5) / (F.col("t_cur") + 0.5 * F.col("n_bins"))
        term = F.round((p - q) * F.log(p / q), 6).cast("decimal(18,6)")
        (
            j.crossJoin(F.broadcast(tot))
            .agg(
                F.first("t_cur").cast("bigint").alias("n_rows"),
                F.sum(term).cast("double").alias("psi"),
            )
            .withColumn("batch_id", F.lit(batch_id).cast("bigint"))
            .write.mode("append")
            .parquet(out_path)
        )

    return (
        parsed.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )
