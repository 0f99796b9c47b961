"""The differential rule: a catalog entry returns the same rows as its DuckDB
oracle, compared as an order-insensitive multiset of rendered rows.

This is the one copy of the rule. ``tests/conftest.duck``, the parity,
degenerate and guard-active tests and ``tools/drive_contract.py`` all call
it. The rule, in order:

1. the Spark and DuckDB column sets are equal (DuckDB's columns are then
   aligned to Spark's order);
2. the row counts are equal;
3. the multisets of rendered rows are equal. A value renders as ``NULL``,
   ``NaN``, an integral float as its int, a bool as ``0``/``1``, anything
   else as ``str``.

A failure raises ``AssertionError`` naming the entry. On a value mismatch
it also names each column whose value multiset differs, with up to 3
values found only on each side; that report is computed only on failure.
"""

from __future__ import annotations

import math
from collections import Counter
from pathlib import Path

import duckdb

from project_bigdata_spark.sources import TABLES

SAMPLE = 3  # values (or rows) shown from each side of a mismatch


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with a view for each catalog table whose parquet
    file is in ``data_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        path = Path(data_dir) / f"{t}.parquet"
        if path.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def render(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v.is_integer() and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def row_key(row) -> str:
    return "|".join(render(v) for v in row)


def _only(a: Counter, b: Counter) -> list[str]:
    return sorted((a - b).elements())[:SAMPLE]


def compare(name: str, spark_cols, spark_rows, duck_cols, duck_rows) -> None:
    """Raise ``AssertionError`` unless the two results agree under the rule."""
    spark_cols, duck_cols = list(spark_cols), list(duck_cols)
    # explicit raises, not assert statements: ``python -O`` must not pass
    if sorted(spark_cols) != sorted(duck_cols):
        raise AssertionError(f"{name}: column mismatch {spark_cols} vs {duck_cols}")
    if len(spark_rows) != len(duck_rows):
        raise AssertionError(
            f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
        )
    idx = [duck_cols.index(c) for c in spark_cols]
    duck_rows = [tuple(r[i] for i in idx) for r in duck_rows]
    ms_s = Counter(map(row_key, spark_rows))
    ms_d = Counter(map(row_key, duck_rows))
    if ms_s == ms_d:
        return
    lines = [
        f"{name}: value mismatch",
        f"  spark-only rows: {_only(ms_s, ms_d)}",
        f"  duck-only rows:  {_only(ms_d, ms_s)}",
    ]
    for i, c in enumerate(spark_cols):
        vs = Counter(render(r[i]) for r in spark_rows)
        vd = Counter(render(r[i]) for r in duck_rows)
        if vs != vd:
            lines.append(
                f"  column {c}: spark-only {_only(vs, vd)} "
                f"duck-only {_only(vd, vs)}"
            )
    raise AssertionError("\n".join(lines))


def check(name: str, df, con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple]:
    """Collect ``df``, run the oracle ``sql`` on ``con`` and :func:`compare`
    them; returns the Spark rows."""
    rows = [tuple(r) for r in df.collect()]
    rel = con.execute(sql)
    compare(name, df.columns, rows, [d[0] for d in rel.description], rel.fetchall())
    return rows
