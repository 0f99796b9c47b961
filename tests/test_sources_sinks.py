"""Source/sink + join-helper coverage (SURVEY.md §2.1 S6/S7/S10, §2.4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from project_bigdata_spark.operators import joins as J
from project_bigdata_spark.sources import registry as R
from tools.plan_doctor import formatted_plan


def test_kafka_envelope_roundtrip(spark):
    """S6/F13: the JSON envelope transform is lossless (tested without a
    broker — the envelope is pure DataFrame code)."""
    df = spark.createDataFrame(
        [(1, "click", 2.5), (2, None, None)], ["id", "etype", "value"]
    )
    enveloped = R.kafka_sink_frame(df)
    assert enveloped.columns == ["value"]
    back = enveloped.select(
        F.from_json("value", "id long, etype string, value double").alias("m")
    ).select("m.*")
    orig = {r.id: r for r in df.collect()}
    rt = {r.id: r for r in back.collect()}
    for i in orig:
        assert (orig[i].etype, orig[i].value) == (rt[i].etype, rt[i].value)


def test_kafka_recorded_frame_contract(spark):
    """S1/S2 broker-free contract: a recorded Kafka wire frame (the exact
    shape the connector's .load() emits) parses into typed rows with
    broker metadata preserved; only the socket itself stays untested."""
    import datetime as dt

    envelope = R.kafka_sink_frame(
        spark.createDataFrame([(7, "click", 1.5)], ["id", "etype", "value"])
    ).collect()[0].value.encode()
    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    recorded = spark.createDataFrame(
        [(b"k7", envelope, "events", 3, 42, ts, 0)],
        schema=R.KAFKA_WIRE_SCHEMA,
    )
    out = R.parse_kafka_frame(
        recorded, "id long, etype string, value double"
    ).collect()[0]
    assert (out.id, out.etype, out.value) == (7, "click", 1.5)
    assert (out.kafka_key, out.kafka_topic) == ("k7", "events")
    assert (out.kafka_partition, out.kafka_offset, out.kafka_ts) == (3, 42, ts)


def test_kafka_option_contracts():
    """Option-building for S1/S2 matches the reference's read contract
    (batch_processor.py:85-92, stream_processor.py:244-251)."""
    b = R.kafka_batch_options("broker:9092", "events")
    assert b["startingOffsets"] == "earliest"
    assert b["endingOffsets"] == "latest"
    assert b["subscribe"] == "events"
    s = R.kafka_stream_options("broker:9092", "events")
    assert s["failOnDataLoss"] == "false"  # T7 data-loss tolerance
    assert "endingOffsets" not in s  # unbounded


def test_partitioned_parquet_dynamic_overwrite(spark, tmp_path):
    """S7: dynamic partition overwrite only rewrites touched partitions."""
    p = str(tmp_path / "t")
    d1 = spark.createDataFrame([(1, 2024, 1), (2, 2024, 2)], ["v", "year", "month"])
    R.write_partitioned_parquet(d1, p, ["year", "month"])
    # overwrite only month=2
    d2 = spark.createDataFrame([(99, 2024, 2)], ["v", "year", "month"])
    R.write_partitioned_parquet(d2, p, ["year", "month"])
    got = {(r.year, r.month): r.v for r in spark.read.parquet(p).collect()}
    assert got == {(2024, 1): 1, (2024, 2): 99}  # month=1 untouched


def test_csv_export_roundtrip(spark, tmp_path):
    """S10: CSV export with header (clickhouse_queries.sql:167-183)."""
    p = str(tmp_path / "csv")
    df = spark.createDataFrame([("KH", 61.33), ("VN", 55.0)], ["country", "avg_aqi"])
    R.write_csv(df, p)
    back = spark.read.option("header", True).csv(p)
    assert back.columns == ["country", "avg_aqi"]
    assert back.count() == 2


def test_salted_join_matches_plain_join(spark):
    """Skew-salted join is semantics-preserving."""
    left = spark.createDataFrame(
        [(k, i) for k in ["hot", "cold"] for i in range(50 if k == "hot" else 2)],
        ["k", "li"],
    )
    right = spark.createDataFrame([("hot", "H"), ("cold", "C")], ["k", "rv"])
    plain = {(r.k, r.li, r.rv) for r in left.join(right, "k").collect()}
    salted = {
        (r.k, r.li, r.rv)
        for r in J.salted_join(left, right, "k", salt_buckets=4).collect()
    }
    assert salted == plain


def test_partition_pruning_on_partitioned_table(spark, tmp_path):
    """Hive-layout partition pruning: a year/month predicate must prune
    directories, visible as a partition filter in the scan plan."""
    p = str(tmp_path / "pp")
    df = spark.createDataFrame(
        [(i, 2024, m) for m in (1, 2, 3) for i in range(10)],
        ["v", "year", "month"],
    )
    R.write_partitioned_parquet(df, p, ["year", "month"])
    q = spark.read.parquet(p).filter("month = 2").select("v")
    plan = formatted_plan(q)
    assert "PartitionFilters" in plan and "month" in plan
    assert q.count() == 10


def test_clustered_parquet_disjoint_file_ranges(spark, sf_dir, tmp_path):
    """Range-clustered layout: every output file must carry a disjoint
    min/max range on the cluster key in its parquet footer — the property
    file- and row-group-skipping needs to prune a selective range scan to
    ~1/n_files of the table."""
    import glob

    import pyarrow.parquet as pq

    from project_bigdata_spark.sources.registry import write_clustered_parquet

    df = R.load_table(spark, sf_dir, "events").select("event_id", "value")
    out = str(tmp_path / "clustered")
    write_clustered_parquet(df, out, ["value"], n_files=4)
    files = sorted(glob.glob(out + "/*.parquet"))
    assert len(files) == 4
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = [md.schema.column(i).name for i in range(md.num_columns)].index(
            "value"
        )
        stats = [
            md.row_group(rg).column(idx).statistics
            for rg in range(md.num_row_groups)
        ]
        ranges.append(
            (min(s.min for s in stats), max(s.max for s in stats))
        )
    ranges.sort()
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, ranges


def test_compact_parquet_bin_packs_small_files(spark, sf_dir, tmp_path):
    """Compaction folds a fragmented table into right-sized files with
    identical contents, atomically (no leftover temp dirs)."""
    import glob
    import os

    from project_bigdata_spark.sources.registry import (
        compact_parquet,
        table_bytes,
    )

    out = str(tmp_path / "frag")
    df = R.load_table(spark, sf_dir, "events").select("event_id", "value")
    df.repartition(20).write.parquet(out)
    assert len(glob.glob(out + "/*.parquet")) == 20
    before = spark.read.parquet(out)
    n_rows = before.count()
    id_sum, val_sum = before.agg(F.sum("event_id"), F.sum("value")).collect()[0]

    total = table_bytes(spark, out)
    n = compact_parquet(spark, out, target_file_bytes=total // 2)
    files = glob.glob(out + "/*.parquet")
    assert len(files) == n <= 3
    after = spark.read.parquet(out)
    assert after.count() == n_rows
    id_sum2, val_sum2 = after.agg(F.sum("event_id"), F.sum("value")).collect()[0]
    assert id_sum2 == id_sum
    # double sum is summation-order-dependent across layouts
    assert abs(val_sum2 - val_sum) < 1e-6 * max(1.0, abs(val_sum))
    assert not os.path.exists(out + "__compacting")
    assert not os.path.exists(out + "__pre_compact")


def test_read_evolving_parquet_merges_schemas(spark, tmp_path):
    """Files written before a column existed read back as NULL for it."""
    p = str(tmp_path / "evolve")
    spark.createDataFrame([(1, 10.0)], ["id", "value"]).write.parquet(
        p + "/batch=0"
    )
    spark.createDataFrame(
        [(2, 20.0, "eu")], ["id", "value", "region"]
    ).write.parquet(p + "/batch=1")
    df = R.read_evolving_parquet(spark, p)
    rows = {r.id: (r.value, r.region) for r in df.collect()}
    assert rows == {1: (10.0, None), 2: (20.0, "eu")}


def test_read_tolerant_parquet_skips_corrupt_file(spark, tmp_path):
    p = str(tmp_path / "tolerant")
    spark.createDataFrame([(i,) for i in range(5)], ["id"]).coalesce(
        1
    ).write.parquet(p)
    with open(p + "/part-corrupt.parquet", "wb") as fh:
        fh.write(b"PAR1 this is not a real parquet file")
    import pytest as _pytest

    with _pytest.raises(Exception):
        spark.read.parquet(p).count()
    assert R.read_tolerant_parquet(spark, p).count() == 5


def test_parquet_timestamp_encoding_matrix(spark, tmp_path):
    """The engine must be invariant to how the testdata's ``events.ts``
    happens to be parquet-encoded — the driver regenerated it as µs-no-tz
    between rounds 1 and 2 and every ``unix_micros`` call site broke
    (TIMESTAMP_NTZ). Write the same rows as TIMESTAMP(NANOS), µs-NTZ, and
    µs-UTC; ``load_table`` must surface plain ``timestamp`` for all three
    and ``sessionize_events`` must return identical output."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from project_bigdata_spark.plans.catalog import load_all

    src = pa.parquet.read_table(
        "/root/testdata/sf0.001/events.parquet"
    ).select(["event_id", "ts", "user_id", "event_type", "value", "props"])
    encodings = {
        "nanos": src.set_column(
            1, "ts", src.column("ts").cast(pa.timestamp("ns"))
        ),
        "us_ntz": src.set_column(
            1, "ts", src.column("ts").cast(pa.timestamp("us"))
        ),
        "us_utc": src.set_column(
            1, "ts", src.column("ts").cast(pa.timestamp("us", tz="UTC"))
        ),
    }
    sessionize = load_all()["sessionize_events"].builder
    results = {}
    for label, table in encodings.items():
        sf = tmp_path / label
        sf.mkdir()
        pq.write_table(table, sf / "events.parquet", version="2.6")
        df = R.load_table(spark, str(sf), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", (
            f"{label}: ts surfaced as {dict(df.dtypes)['ts']}"
        )
        results[label] = sorted(
            tuple(r) for r in sessionize(spark, str(sf)).collect()
        )
    assert results["nanos"] == results["us_ntz"] == results["us_utc"]
    assert len(results["nanos"]) > 0


def test_python_datasource_partitions_and_determinism(spark):
    from project_bigdata_spark.sources import pysource

    pysource.register(spark)
    read = (
        spark.read.format("synthetic_events")
        .option("n_rows", 257)
        .option("n_partitions", 4)
        .load()
    )
    # partition planning honored (257 rows over 4 splits of 65)
    assert read.rdd.getNumPartitions() == 4
    assert read.count() == 257
    # deterministic: two independent reads produce identical rows
    a = sorted(map(tuple, read.collect()))
    b = sorted(map(tuple, (
        spark.read.format("synthetic_events")
        .option("n_rows", 257).option("n_partitions", 4).load().collect()
    )))
    assert a == b
    # generated ids are the contiguous range, exactly once each
    assert [r[0] for r in a] == list(range(257))


def test_python_datasource_composes_with_engine_operators(spark):
    from project_bigdata_spark.operators import medallion as M
    from project_bigdata_spark.sources import pysource

    pysource.register(spark)
    events = (
        spark.read.format("synthetic_events").option("n_rows", 500).load()
    )
    gold = M.gold_hourly(M.silver(M.bronze(events)))
    # 500 minutes -> 9 distinct hours; every (user, hour) group non-empty
    hours = {r.hour_ts for r in gold.select("hour_ts").distinct().collect()}
    assert len(hours) == 9
    assert gold.filter("n_events < 1").count() == 0


def test_load_table_runs_no_spark_job(spark, tmp_path):
    """Declared schemas: loading any table, and ``events`` in each of the
    three ``ts`` encodings (and as a Spark-written directory of part
    files), lists no files and reads no footer in Spark, so no job starts.
    Schema inference ran one job per call. ``read_events`` (the batch
    medallion job's reader of any events path) reads the same way, also
    on a directory of pyarrow part files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = pq.read_table("/root/testdata/sf0.001/events.parquet")
    labels = {
        "nanos": pa.timestamp("ns"),
        "us_ntz": pa.timestamp("us"),
        "us_utc": pa.timestamp("us", tz="UTC"),
    }
    for label, ts_type in labels.items():
        path = tmp_path / label / "events.parquet"
        path.parent.mkdir()
        table = src.set_column(1, "ts", src.column("ts").cast(ts_type))
        pq.write_table(table, path, version="2.6")
    # a NANOS file read back through Spark (``ts`` as bigint) and written
    # again: ``ts`` is a plain INT64 with no timestamp annotation
    R.ensure_runtime_confs(spark)
    nanos_file = str(tmp_path / "nanos" / "events.parquet")
    spark.read.parquet(nanos_file).write.parquet(
        str(tmp_path / "spark_dir" / "events.parquet")
    )
    labels = [*labels, "spark_dir"]
    parts = tmp_path / "parts"
    parts.mkdir()
    step = -(-src.num_rows // 3)
    for i in range(3):
        pq.write_table(src.slice(i * step, step), parts / f"part-{i:05d}.parquet")
    sc = spark.sparkContext
    group = "load_table_job_count"
    sc.setJobGroup(group, group)
    try:
        frames = [
            R.load_table(spark, "/root/testdata/sf0.001", t) for t in R.TABLES
        ] + [
            R.load_table(spark, str(tmp_path / label), "events")
            for label in labels
        ]
        reads = {
            label: R.read_events(spark, str(tmp_path / label / "events.parquet"))
            for label in labels
        }
        reads["parts"] = R.read_events(spark, str(parts))
        # resolving each schema runs no job either
        assert [
            dict(df.dtypes).get("ts") for df in [*frames[-4:], *reads.values()]
        ] == ["timestamp"] * 9
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == [], f"load_table or read_events started Spark jobs {jobs}"
    # every encoding, the Spark-written directory included, loads the same
    # instants as the testdata file
    events = frames[R.TABLES.index("events")]
    want = sorted(events.select("event_id", "ts").collect())
    for label, df in zip(labels, frames[-4:]):
        got = sorted(df.select("event_id", "ts").collect())
        assert got == want, f"{label}: ts differs from the single-file load"
    for label, df in reads.items():
        got = sorted(df.select("event_id", "ts").collect())
        assert got == want, f"read_events {label}: rows differ"
