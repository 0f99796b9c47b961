"""One-off full-catalog soak against the synthetic sf1 (/tmp/spark_graft_sf1,
left by ``bench_sf1.py --keep``): best-of-2 at sf0.1 vs synthetic sf1 for
every catalog entry that is neither side-effectful nor already in the
published decade-probe list — the dragnet that caught semantic_dedup /
edit_distance_linkage / ngram_jaccard_block / embedding_near_dups in
round 6. Prints one ``SOAK name: a -> b (sx)`` line per entry."""

from __future__ import annotations

import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from project_bigdata_spark.plans.catalog import load_all  # noqa: E402
from project_bigdata_spark.session import get_spark  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
SF01 = "/root/testdata/sf0.1"
SF1 = "/tmp/spark_graft_sf1"


def _listed(path: str, anchor: str) -> set[str]:
    src = (ROOT / path).read_text()
    block = src.split(anchor)[1]
    block = block[: block.index("]")]
    return set(re.findall(r'"([a-z0-9_]+)"', block))


def main() -> None:
    skip = _listed("tools/plan_doctor.py", "SIDE_EFFECTFUL = {")
    # keep brace-matching simple: SIDE_EFFECTFUL ends at '}', re-read
    src = (ROOT / "tools/plan_doctor.py").read_text()
    block = src.split("SIDE_EFFECTFUL = {")[1]
    skip = set(re.findall(r'"([a-z0-9_]+)"', block[: block.index("}")]))
    probed = _listed("tools/bench_sf1.py", "QUERIES = [")

    spark = get_spark(app_name="soak-all")
    reg = load_all()
    todo = [n for n in reg if n not in skip and n not in probed]
    print(f"soaking {len(todo)} entries", file=sys.stderr)
    for n in todo:
        s = reg[n]
        try:
            ts = {}
            for d in (SF01, SF1):
                s.builder(spark, d).limit(1).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = float("inf")
                for _ in range(2):
                    t0 = time.perf_counter()
                    s.builder(spark, d).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    best = min(best, time.perf_counter() - t0)
                ts[d] = best
            a, b = ts[SF01], ts[SF1]
            print(f"\nSOAK {n}: {a:.2f}s -> {b:.2f}s ({b / a:.1f}x)",
                  flush=True)
        except Exception as ex:  # noqa: BLE001 - report and continue
            print(f"\nSOAK {n} ERROR {type(ex).__name__}: {str(ex)[:100]}",
                  flush=True)


if __name__ == "__main__":
    main()
