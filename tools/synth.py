#!/usr/bin/env python
"""Synthetic scale factors: key-shifted replication of a data dir.

Usage: python tools/synth.py {sf1,sf1-organic,sf10}

Writes the preset's output dir (see PRESETS), named ``sf<N>`` so that
``bench.py`` reads its scale factor from the name: list it after the
source dir in ``SPARK_GRAFT_SF_DIR`` to time both (README, "Running").

An output dir stays on disk until someone deletes it; a preset whose dir
exists is not rebuilt.

Replication semantics (each copy shifts its keys past the previous one):

- events: event_id and user_id shifted (horizontal user growth over the
  same time range, so sessions per user stay constant).
- orders/lineitem: orderkey shifted in lockstep so the join keys still
  match; custkey kept, so the dimensions fan out (dimensions are not
  scaled, as in production star schemas) and are copied as they are.
- documents: doc_id shifted and the text suffixed with a per-copy token,
  so copies are NEAR-duplicates: a deliberate stress of the banded-LSH and
  shingle caps.
- embeddings: vec_id shifted, vectors unchanged (semantic-duplicate stress).

``sf1-organic`` also shifts ``l_partkey`` (TPC-H scales the part count
with SF), so the co-purchase graph grows as same-density components
instead of densifying on a constant part vocabulary. ``sf10`` replicates
sf1's embeddings and events only: the third decade of the vector/sketch
tier.
"""

from __future__ import annotations

import shutil
import sys
import time
from pathlib import Path
from typing import Callable

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from project_bigdata_spark.session import get_spark  # noqa: E402
from project_bigdata_spark.sources import TABLES, load_table  # noqa: E402

Mutate = Callable[[DataFrame, int], DataFrame]


def replicate(
    src: str,
    dst: str,
    copies: int,
    shifts: dict[str, dict[str, int]],
    mutate: dict[str, Mutate] | None = None,
) -> None:
    """Write ``copies`` copies of every table in ``shifts`` from ``src``
    into ``dst``: copy ``i`` adds ``i * stride`` to each ``{column: stride}``
    of its table, then applies ``mutate[table](df, i)`` if given. Tables not
    in ``shifts`` are copied unchanged."""
    spark = get_spark(app_name="synth")
    Path(dst).mkdir(parents=True, exist_ok=True)
    for name in TABLES:
        if name not in shifts:
            path = Path(src, f"{name}.parquet")
            copy = shutil.copytree if path.is_dir() else shutil.copy
            copy(path, Path(dst, path.name))
            continue
        df = load_table(spark, src, name)
        out = None
        for i in range(copies):
            part = df.withColumns(
                {c: F.col(c) + F.lit(i * stride) for c, stride in shifts[name].items()}
            )
            if mutate and name in mutate:
                part = mutate[name](part, i)
            out = part if out is None else out.unionByName(part)
        out.write.mode("overwrite").parquet(f"{dst}/{name}.parquet")


def _near_copy(df: DataFrame, i: int) -> DataFrame:
    return df.withColumn("text", F.concat(F.col("text"), F.lit(f" copyvariant{i}")))


_SF1_SHIFTS = {
    "events": {"event_id": 10**9, "user_id": 10**6},
    "orders": {"o_orderkey": 10**8},
    "lineitem": {"l_orderkey": 10**8},
    "documents": {"doc_id": 10**7},
    "embeddings": {"vec_id": 10**7},
}
TESTDATA = "/root/testdata"
OUT = "/tmp/spark_graft"

# preset -> (source dir, output dir, shifts, mutate); 10 copies each
PRESETS: dict[str, tuple[str, str, dict, dict | None]] = {
    "sf1": (f"{TESTDATA}/sf0.1", f"{OUT}/sf1", _SF1_SHIFTS,
            {"documents": _near_copy}),
    "sf1-organic": (
        f"{TESTDATA}/sf0.1", f"{OUT}/organic/sf1",
        {**_SF1_SHIFTS, "lineitem": {"l_orderkey": 10**8, "l_partkey": 10**7}},
        {"documents": _near_copy},
    ),
    "sf10": (f"{OUT}/sf1", f"{OUT}/sf10",
             {"embeddings": {"vec_id": 10**9},
              "events": {"event_id": 10**11, "user_id": 10**8}},
             None),
}


def main(argv: list[str]) -> None:
    if len(argv) != 1 or argv[0] not in PRESETS:
        sys.exit(f"usage: python tools/synth.py {{{','.join(PRESETS)}}}")
    src, dst, shifts, mutate = PRESETS[argv[0]]
    if Path(dst).exists():
        print(f"{dst} exists; delete it to rebuild", file=sys.stderr)
        return
    if not Path(src).is_dir():
        sys.exit(f"{src} missing: sf10 replicates sf1, so run "
                 "`python tools/synth.py sf1` first")
    # write aside and rename, so an interrupted run leaves no dir that a
    # later run would take as finished
    partial = f"{dst}.partial"
    shutil.rmtree(partial, ignore_errors=True)
    t0 = time.time()
    replicate(src, partial, 10, shifts, mutate)
    Path(partial).rename(dst)
    print(f"synthesized {dst} in {time.time() - t0:.1f}s", file=sys.stderr)


if __name__ == "__main__":
    main(sys.argv[1:])
