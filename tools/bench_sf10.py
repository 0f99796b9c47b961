"""THIRD-decade spot probe for the vector/sketch tier: synthesize ~sf10
embeddings (500k vectors) and events (10M rows) by 10x key-shifting the
kept synthetic sf1 (run ``python tools/bench_sf1.py <anything> --keep``
first), then time the adaptive-guard and estimator entries at sf1 vs
sf10.

Why only this tier: the document entries' third decade is dominated by
HONEST output growth on the near-copy stress corpus (quantified in
BENCH_SCALING.md), while the embedding guards' scaling claims — the
round-7 codebook cap and 24-plane ceiling — are about exactly this
regime and deserve a direct measurement. Usage:

    python tools/bench_sf1.py gold_hourly --keep   # leaves /tmp sf1
    python tools/bench_sf10.py
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from project_bigdata_spark.plans.catalog import load_all  # noqa: E402
from project_bigdata_spark.session import get_spark  # noqa: E402

SRC = "/tmp/spark_graft_sf1"
DST = "/tmp/spark_graft_sf10"
COPIES = 10

QUERIES = [
    "embedding_near_dups",
    "ann_recall_audit",
    "kcenter_maximin_init",
    "ivf_search",
    "knn_brute_force",
    "hll_distinct_audit",
    "event_order_inversions",
]


def synthesize(spark) -> None:
    dst = Path(DST)
    if dst.exists():
        shutil.rmtree(dst)
    dst.mkdir(parents=True)

    def replicate(name: str, shifts: dict[str, int]):
        df = spark.read.parquet(f"{SRC}/{name}.parquet")
        parts = []
        for i in range(COPIES):
            part = df
            for col, stride in shifts.items():
                part = part.withColumn(col, F.col(col) + F.lit(i * stride))
            parts.append(part)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{DST}/{name}.parquet")

    replicate("embeddings", {"vec_id": 10**9})
    replicate("events", {"event_id": 10**11, "user_id": 10**8})
    for t in ["documents", "orders", "lineitem", "region", "nation",
              "customer", "supplier", "part"]:
        src = Path(f"{SRC}/{t}.parquet")
        if src.is_dir():  # spark-written tables are directories
            shutil.copytree(src, f"{DST}/{t}.parquet")
        else:
            shutil.copy(src, f"{DST}/{t}.parquet")


def main() -> None:
    if not Path(SRC).exists():
        sys.exit(f"{SRC} missing — run tools/bench_sf1.py <q> --keep first")
    spark = get_spark(app_name="bench-sf10")
    t0 = time.time()
    synthesize(spark)
    print(f"synthesized sf10 -> {DST} in {time.time() - t0:.1f}s",
          file=sys.stderr)
    specs = load_all()
    rows = []
    for name in QUERIES:
        s = specs[name]
        for d in (SRC, DST):
            s.builder(spark, d).limit(1).write.format("noop").mode(
                "overwrite"
            ).save()
        times = {}
        for label, d in (("sf1", SRC), ("sf10", DST)):
            best = float("inf")
            for _ in range(2):
                t = time.perf_counter()
                s.builder(spark, d).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t)
            times[label] = best
        rows.append((name, times["sf1"], times["sf10"],
                     times["sf10"] / times["sf1"]))
        print(f"{name}: {times['sf1']:.2f}s -> {times['sf10']:.2f}s "
              f"({times['sf10'] / times['sf1']:.1f}x)", flush=True)
    print(json.dumps({"probe": "sf10_vector_tier", "queries": {
        n: {"sf1": round(a, 3), "sf10": round(b, 3), "slope": round(sl, 2)}
        for n, a, b, sl in rows}}))
    shutil.rmtree(DST, ignore_errors=True)


if __name__ == "__main__":
    main()
