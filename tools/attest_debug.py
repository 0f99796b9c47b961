"""Value-canon forensic tool (round-5 verdict ask #5): localize a driver
CORRECTNESS hash mismatch to a COLUMN in one run.

For each named catalog entry this runs the Spark builder and the DuckDB
oracle at the given SF and prints, per column, an md5 sub-hash of the
sorted canonical value multiset from BOTH engines plus the first
diverging values — so a future hash-only red points at the exact column
(and sample values) instead of costing a round of replication guesswork.

Usage:
    python tools/attest_debug.py [--sf /root/testdata/sf0.01] name [name...]

Output per entry: one line per column,
    <entry>.<column>  spark=<md5:8>  duck=<md5:8>  MATCH|DIFF
and for DIFF columns the first 3 values unique to each side.
"""

import argparse
import hashlib
import math
import sys

sys.path.insert(0, "/root/repo")

import duckdb  # noqa: E402

import __spark_entry__ as e  # noqa: E402
from project_bigdata_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v) -> str:
    """Mirror of the drive-contract value canonicalization."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    return str(v)


def col_hash(vals: list[str]) -> str:
    h = hashlib.md5()
    for v in sorted(vals):
        h.update(v.encode())
        h.update(b"\x00")
    return h.hexdigest()[:8]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    spark = get_spark(app_name="attest-debug")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    qs, os_ = e.queries(), e.oracle_sql()
    rc = 0
    for name in args.names:
        if name not in qs:
            print(f"{name}: UNKNOWN catalog entry")
            rc = 2
            continue
        sdf = qs[name](spark, args.sf)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        if name not in os_:
            print(f"{name}: no oracle (rows-only entry), spark={len(srows)}")
            continue
        rel = con.execute(os_[name])
        dcols = [d[0] for d in rel.description]
        drows = rel.fetchall()
        print(
            f"{name}: spark_rows={len(srows)} duck_rows={len(drows)} "
            f"schema_ok={sorted(scols) == sorted(dcols)}"
        )
        for ci, c in enumerate(scols):
            if c not in dcols:
                print(f"  {name}.{c}: MISSING in oracle columns {dcols}")
                rc = 1
                continue
            di = dcols.index(c)
            sv = [canon(r[ci]) for r in srows]
            dv = [canon(r[di]) for r in drows]
            hs, hd = col_hash(sv), col_hash(dv)
            status = "MATCH" if hs == hd else "DIFF"
            print(f"  {name}.{c:<24} spark={hs} duck={hd} {status}")
            if hs != hd:
                rc = 1
                ds, dd = set(dv), set(sv)
                print(f"    spark-only: {[v for v in sv if v not in ds][:3]}")
                print(f"    duck-only:  {[v for v in dv if v not in dd][:3]}")
    print("RESULT:", "ALL COLUMNS MATCH" if rc == 0 else f"rc={rc}")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
