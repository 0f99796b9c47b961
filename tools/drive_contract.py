"""Simulate the driver: hand ``__spark_entry__`` a bare SparkSession, smoke
``entry()``, then compare catalog entries with their DuckDB oracles through
``tools/parity.py``.

Usage: python tools/drive_contract.py [NAME ...]
       (env: SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.01)

NAMEs are catalog entries; with none, every entry is compared. The session
is what the driver hands over: ``local[DEFAULT_CPUS]`` with Spark's
defaults and nothing from ``session.get_spark``, so each entry must assert
the confs it needs itself. An unknown name or a missing dir exits with a
one-line message before Spark starts. The sweep goes on past an entry that
raises or mismatches; the exit status is 1 if any did.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as contract  # noqa: E402
from project_bigdata_spark.session import DEFAULT_CPUS  # noqa: E402
from tools import parity  # noqa: E402

DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def main(argv: list[str]) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    builders, oracles = contract.queries(), contract.oracle_sql()
    names = argv or list(builders)
    for n in names:
        if n not in builders:
            sys.exit(f"drive_contract.py: unknown catalog entry {n!r}")
    if not Path(sf_dir).is_dir():
        sys.exit(f"drive_contract.py: {sf_dir!r} is not an existing dir")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{DEFAULT_CPUS}]")
        .appName("drive-contract")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    t0 = time.time()
    print(f"entry(): {len(contract.entry(spark).collect())} rows "
          f"{time.time() - t0:.1f}s", flush=True)

    con = parity.connect(sf_dir)
    failed = []
    for i, name in enumerate(names, 1):
        t0 = time.time()
        try:
            parity.check(name, builders[name](spark, sf_dir), con, oracles[name])
            status = "OK"
        except AssertionError as exc:
            failed.append(name)
            status = f"FAIL {exc}"
        except Exception as exc:  # keep sweeping; the traceback goes to stderr
            failed.append(name)
            traceback.print_exc()
            status = f"FAIL {type(exc).__name__}: {str(exc)[:200]}"
        print(f"[{i}/{len(names)}] {name} {time.time() - t0:.1f}s {status}",
              flush=True)
    verdict = f"{len(failed)} FAILED {failed}" if failed else "ALL OK"
    print(f"RESULT: {verdict} ({len(names)} compared at {sf_dir})")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
