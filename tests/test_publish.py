"""Dataset shard publishing (operators/publish.py): manifest totals,
shard determinism, partition-pruned single-shard reads."""

from __future__ import annotations

from pyspark.sql import functions as F

from project_bigdata_spark.operators import publish as PB
from project_bigdata_spark.sources import load_table
from tools.plan_doctor import formatted_plan

SF = "/root/testdata/sf0.001"
N_SHARDS = 8


def test_publish_roundtrip_manifest_and_completeness(spark, tmp_path):
    d = load_table(spark, SF, "documents")
    path = str(tmp_path / "shards")
    manifest = PB.publish_shards(
        d, path, id_col="doc_id", text_col="text", n_shards=N_SHARDS
    )
    total = d.count()
    assert manifest["total_docs"] == total
    assert manifest["n_shards"] == N_SHARDS
    assert sum(s["n_docs"] for s in manifest["shards"]) == total

    # the written data is complete and disjoint across shard dirs
    back = spark.read.parquet(path)
    assert back.count() == total
    assert back.select("doc_id").distinct().count() == total

    # manifest re-read from disk equals the returned one
    assert PB.read_manifest(spark, path) == manifest

    # per-shard file contents match the manifest rows
    by_shard = {
        r["shard_id"]: r["n_docs"]
        for r in back.groupBy("shard_id").count()
        .withColumnRenamed("count", "n_docs").collect()
    }
    assert by_shard == {s["shard_id"]: s["n_docs"] for s in manifest["shards"]}


def test_shard_assignment_stable_across_refreshes(spark):
    """A document keeps its shard when the corpus is re-published —
    append-only publishing stays incremental."""
    d = load_table(spark, SF, "documents")
    a = PB.assign_shards(d, n_shards=N_SHARDS).select("doc_id", "shard_id")
    b = PB.assign_shards(d.orderBy(F.rand(7)), n_shards=N_SHARDS).select(
        "doc_id", F.col("shard_id").alias("shard_id_b")
    )
    diff = a.join(b, "doc_id").where(
        F.col("shard_id") != F.col("shard_id_b")
    )
    assert diff.count() == 0


def test_read_shard_prunes_partitions(spark, tmp_path):
    d = load_table(spark, SF, "documents")
    path = str(tmp_path / "shards_prune")
    PB.publish_shards(d, path, n_shards=N_SHARDS)

    one = PB.read_shard(spark, path, 3)
    rows = one.collect()
    assert rows and all(r["shard_id"] == 3 for r in rows)

    # partition PRUNING: the shard filter must appear as a partition
    # filter at the scan, and the scan must touch ~1/N of the files
    plan = formatted_plan(one)
    assert "PartitionFilters" in plan
    assert "shard_id" in plan.split("PartitionFilters", 1)[1].splitlines()[0]


def test_epoch_order_reproducible_and_decorrelated(spark):
    d = load_table(spark, SF, "documents").select("doc_id")
    a = PB.epoch_order(d, epoch=0, out_col="p").collect()
    b = PB.epoch_order(d, epoch=0, out_col="p").collect()
    assert {(r.doc_id, r.p) for r in a} == {(r.doc_id, r.p) for r in b}
    # positions are a permutation of 1..n within each shard
    per_shard: dict[int, list[int]] = {}
    for r in a:
        per_shard.setdefault(r.shard_id, []).append(r.p)
    for ps in per_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    # a different epoch visits shards in a different order
    e1 = {r.doc_id: r.p for r in PB.epoch_order(d, epoch=1, out_col="p").collect()}
    e0 = {r.doc_id: r.p for r in a}
    moved = sum(1 for k in e0 if e0[k] != e1[k])
    assert moved > len(e0) * 0.8
