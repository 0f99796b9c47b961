"""Simulate the driver: import __spark_entry__, smoke entry(), then run every
queries() entry at sf0.01 and compare to oracle_sql() via DuckDB (row count +
schema + order-insensitive value multiset)."""
import os, sys, time, math
sys.path.insert(0, "/root/repo")
import duckdb
import __spark_entry__ as e
from project_bigdata_spark.session import get_spark
from project_bigdata_spark.sources import TABLES

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
spark = get_spark(app_name="verify-drive")

t0 = time.time()
df = e.entry(spark)
rows = df.collect()
print(f"entry(): {len(rows)} rows, schema={df.columns}, {time.time()-t0:.1f}s")
assert len(rows) >= 0

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

def canon(v):
    if v is None: return "NULL"
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        if v == int(v) and abs(v) < 1e15: return str(int(v))
        return repr(v)
    return str(v)

qs, os_ = e.queries(), e.oracle_sql()
only = set(sys.argv[1:])
fail = 0
for name, builder in qs.items():
    if only and name not in only:
        continue
    if name not in os_:
        srows = builder(spark, SF).collect()
        print(f"OK  {name}: rows-only check, spark={len(srows)} (no oracle)")
        continue
    t0 = time.time()
    sdf = builder(spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    rel = con.execute(os_[name])
    dcols = [d[0] for d in rel.description]
    drows = rel.fetchall()
    idx = [dcols.index(c) for c in scols]
    drows = [tuple(r[i] for i in idx) for r in drows]
    ok_schema = sorted(scols) == sorted(dcols)
    ms_s = sorted("|".join(canon(v) for v in r) for r in srows)
    ms_d = sorted("|".join(canon(v) for v in r) for r in drows)
    ok = ok_schema and ms_s == ms_d
    fail += (not ok)
    print(f"{'OK ' if ok else 'MISMATCH'} {name}: spark={len(srows)} duck={len(drows)} schema_ok={ok_schema} {time.time()-t0:.1f}s")
    if not ok and ms_s != ms_d:
        only_s = [r for r in ms_s if r not in set(ms_d)][:2]
        only_d = [r for r in ms_d if r not in set(ms_s)][:2]
        print("  spark-only:", only_s, "\n  duck-only:", only_d)
print("RESULT:", "ALL OK" if fail == 0 else f"{fail} MISMATCHES")
