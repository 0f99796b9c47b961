#!/usr/bin/env python
"""Capture .explain('formatted') for catalog queries into plans/<dir>/.

Usage: python tools/capture_plans.py <suffix> [name ...]
       PLANS_DIR=r12 python tools/capture_plans.py before gold_hourly
Writes plans/<dir>/<query>_<suffix>.txt for each headliner (or the named
subset). PLANS_DIR defaults to r12.

r12 (round-11 verdict ask #8): entries that `localCheckpoint` mid-plan used
to produce non-evidentiary dumps — the final plan's lineage is truncated to
`Scan ExistingRDD`, so before/after files differed only in RDD ids. The
tool now intercepts every localCheckpoint call made while building the
DataFrame and appends each checkpointed subtree's formatted plan to the
dump as a PRE-CHECKPOINT FRAGMENT section, in call order, so the structural
diff (exchange placement, join strategy, fan-out REPARTITION_BY_NUM) of the
checkpointed stages is on file too.
"""
from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

try:  # Spark 4: the concrete class overrides the abstract base's method,
    # so the monkeypatch must land on the classic implementation
    from pyspark.sql.classic.dataframe import DataFrame
except ImportError:  # Spark 3.x
    from pyspark.sql import DataFrame

from project_bigdata_spark.plans.catalog import load_all
from project_bigdata_spark.session import get_spark
from tools.plan_doctor import formatted_plan

SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    specs = load_all()
    # Name order, not catalog order: expression ids are JVM-wide counters,
    # so the dumps must not depend on the attestation order, which moves
    # with every committed CORRECTNESS report.
    targets = [
        specs[n] for n in sorted(specs) if (n in names if names else specs[n].headline)
    ]
    spark = get_spark(app_name="capture_plans")
    plans_dir = os.environ.get("PLANS_DIR", "r12")
    out_dir = Path(__file__).resolve().parents[1] / "plans" / plans_dir
    out_dir.mkdir(parents=True, exist_ok=True)

    fragments: list[str] = []
    orig_ckpt = DataFrame.localCheckpoint

    def recording_ckpt(self: DataFrame, *args, **kwargs) -> DataFrame:
        fragments.append(formatted_plan(self))
        return orig_ckpt(self, *args, **kwargs)

    DataFrame.localCheckpoint = recording_ckpt  # type: ignore[method-assign]
    try:
        for s in targets:
            fragments.clear()
            df = s.builder(spark, SF_DIR)
            parts = [formatted_plan(df)]
            for i, frag in enumerate(fragments, 1):
                parts.append(
                    f"\n==== PRE-CHECKPOINT FRAGMENT {i}/{len(fragments)} "
                    "(subtree fed to localCheckpoint, in call order) ====\n"
                    + frag
                )
            plan = "".join(parts)
            (out_dir / f"{s.name}_{suffix}.txt").write_text(plan)
            print(
                f"wrote {plans_dir}/{s.name}_{suffix}.txt "
                f"({plan.count('Exchange')} Exchange refs, "
                f"{len(fragments)} ckpt fragments)"
            )
    finally:
        DataFrame.localCheckpoint = orig_ckpt  # type: ignore[method-assign]


if __name__ == "__main__":
    main()
