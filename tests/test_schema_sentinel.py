"""Schema-drift sentinel: pin the post-``load_table`` dtype of every
column of every registered table.

The driver regenerates ``/root/testdata`` between rounds, and round 2
went red when ``events.ts`` silently changed parquet encoding
(TIMESTAMP(NANOS) -> µs-no-tz) under a subset check. The encoding-matrix
test (test_sources_sinks.py) defends the ts path specifically; this test
is the broad tripwire — any dtype drift in ANY table fails here first,
naming the exact column, instead of surfacing as a cryptic
DATATYPE_MISMATCH deep inside a query.

A failure means: decide whether the new encoding needs its own read path
in ``sources/registry.py`` (like the ``events.ts`` unit check in
``declared_schema``), then update the pin.

``load_table`` reads with the schemas declared in ``registry.SCHEMAS``, so
the post-load pins alone would pass by construction. The footer sweep
below closes that gap: it compares every declared schema with the schema
Spark infers from the parquet footers of every table in each testdata
scale factor and in the degenerate fixture, and fails naming each column
whose type changed or that was added, dropped or renamed.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from project_bigdata_spark.sources import TABLES, load_table
from project_bigdata_spark.sources import registry as R

EXPECTED = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp",
    },
    "events": {
        # MUST load as plain timestamp whatever the parquet encoding —
        # registry.declared_schema + RUNTIME_CONFS own this contract
        "event_id": "bigint",
        "ts": "timestamp",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}


@pytest.mark.parametrize("table", TABLES)
def test_post_load_schema_pinned(spark, sf_dir, table):
    actual = dict(load_table(spark, sf_dir, table).dtypes)
    expected = EXPECTED[table]
    drift = {
        c: (expected.get(c), actual.get(c))
        for c in set(expected) | set(actual)
        if expected.get(c) != actual.get(c)
    }
    assert not drift, (
        f"{table}: testdata schema drifted (expected, actual): {drift} — "
        "if the driver re-encoded the table, add a normalization branch "
        "in sources/registry.py, then update this pin"
    )


# Money-ish columns the oracles sum on the exact integer-cents grid
# (_norm.cents: floor(x*100+0.5), round-5 hardening). The grid function
# itself is deterministic for ANY double, but the catalog's SEMANTICS
# assume these columns are 2-decimal values — if a testdata regeneration
# ever widens the precision, quantizing to cents would silently change
# what the queries compute. This sentinel fails first, naming the column.
TWO_DECIMAL_COLS = {
    "events": ["value"],
    "orders": ["o_totalprice"],
    "customer": ["c_acctbal"],
    "supplier": ["s_acctbal"],
    "part": ["p_retailprice"],
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
}


@pytest.mark.parametrize(
    "table,col",
    [(t, c) for t, cols in TWO_DECIMAL_COLS.items() for c in cols],
    ids=lambda v: str(v),
)
def test_money_columns_are_two_decimal(spark, sf_dir, table, col):
    from pyspark.sql import functions as F

    df = load_table(spark, sf_dir, table)
    off = df.where(
        F.col(col).isNotNull() & (F.round(F.col(col), 2) != F.col(col))
    ).count()
    assert off == 0, (
        f"{table}.{col}: {off} values are not exact 2-decimal — the "
        "integer-cents grid (_norm.cents) would quantize them; re-pin "
        "the grid scale in the affected oracles"
    )


def test_embedding_dim_pinned(spark, sf_dir):
    """similarity.DIM (LSH planes, IVF folds, PQ sub-spaces) is compiled
    into plans against this dimensionality; a regeneration that changes
    it must fail HERE, not as a wrong-length zip deep inside a fold."""
    from pyspark.sql import functions as F

    from project_bigdata_spark.operators.similarity import DIM

    df = load_table(spark, sf_dir, "embeddings")
    dims = [r[0] for r in df.select(F.size("embedding")).distinct().collect()]
    assert dims == [DIM], f"embedding dim drifted: {dims} != [{DIM}]"


def schema_drift(declared, inferred) -> list[str]:
    """One line per column on which two StructTypes disagree (type, or
    present in one only); a pure reorder is reported as such."""
    want = {f.name: f.dataType.simpleString() for f in declared.fields}
    got = {f.name: f.dataType.simpleString() for f in inferred.fields}
    drift = [
        f"{c}: declared {want.get(c)}, file {got.get(c)}"
        for c in sorted(want.keys() | got.keys())
        if want.get(c) != got.get(c)
    ]
    if not drift and list(want) != list(got):
        drift = [f"column order: declared {list(want)}, file {list(got)}"]
    return drift


def assert_footers_match_declared(spark, table_dir: str) -> None:
    # infer under the confs load_table reads with (µs timestamps as
    # TIMESTAMP, NANOS as bigint), whatever ran before on this session
    R.ensure_runtime_confs(spark)
    drift = {}
    for table in TABLES:
        path = f"{table_dir}/{table}.parquet"
        inferred = spark.read.parquet(path).schema
        lines = schema_drift(R.declared_schema(path, table), inferred)
        if lines:
            drift[table] = lines
    assert not drift, (
        f"{table_dir}: parquet footers drifted from registry.SCHEMAS: "
        f"{drift} — load_table reads with the declared schema, so update "
        "SCHEMAS (and the EXPECTED pins) to the new files"
    )


@pytest.fixture(scope="module")
def degenerate_dir(tmp_path_factory):
    from tools.degenerate_data import build_degenerate_dir

    d = tmp_path_factory.mktemp("degenerate_sf")
    build_degenerate_dir(str(d))
    return str(d)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1", "degenerate"])
def test_declared_schemas_match_footers(spark, sf, degenerate_dir):
    assert_footers_match_declared(
        spark, degenerate_dir if sf == "degenerate" else f"/root/testdata/{sf}"
    )


@pytest.mark.parametrize(
    "mutation,column",
    [
        ("widen", "n_nationkey"),
        ("add", "n_comment"),
        ("drop", "n_name"),
        ("rename", "n_regionkey"),
    ],
)
def test_footer_drift_fails_naming_the_column(
    spark, tmp_path, mutation, column
):
    """Each kind of drift in one table's file fails the sweep, and the
    message names the column."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = Path("/root/testdata/sf0.001")
    for table in TABLES:
        shutil.copy(src / f"{table}.parquet", tmp_path / f"{table}.parquet")
    nation = pq.read_table(src / "nation.parquet")
    nation = {
        "widen": lambda t: t.set_column(
            0, "n_nationkey", t.column("n_nationkey").cast(pa.int64())
        ),
        "add": lambda t: t.append_column(
            "n_comment", pa.array(["x"] * t.num_rows)
        ),
        "drop": lambda t: t.drop_columns(["n_name"]),
        "rename": lambda t: t.rename_columns(
            ["n_nationkey", "n_name", "n_region"]
        ),
    }[mutation](nation)
    pq.write_table(nation, tmp_path / "nation.parquet")
    with pytest.raises(AssertionError, match=rf"'{column}: declared"):
        assert_footers_match_declared(spark, str(tmp_path))
