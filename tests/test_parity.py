"""The differential rule of ``tools/parity.py`` itself, on hand-built rows
(no Spark)."""

from __future__ import annotations

import pytest

from tools.parity import compare

COLS = ["k", "v"]


def test_null_and_nan_differ():
    with pytest.raises(AssertionError, match="column v"):
        compare("e", COLS, [(1, None)], COLS, [(1, float("nan"))])


@pytest.mark.parametrize(
    "spark, duck", [(1.0, 1), (True, 1), (False, 0), (2.5, 2.5)]
)
def test_equal_renderings_agree(spark, duck):
    compare("e", COLS, [(0, spark)], COLS, [(0, duck)])


def test_duck_columns_align_to_spark_order():
    compare("e", COLS, [(1, "a"), (2, "b")], ["v", "k"], [("b", 2), ("a", 1)])


def test_one_value_difference_names_column_and_both_values():
    with pytest.raises(AssertionError) as exc:
        compare("e", COLS, [(1, "a"), (2, "b")], COLS, [(1, "a"), (2, "c")])
    msg = str(exc.value)
    assert msg.startswith("e: value mismatch")
    assert "column v: spark-only ['b'] duck-only ['c']" in msg
    assert "column k" not in msg


def test_pairing_difference_fails_with_equal_columns():
    with pytest.raises(AssertionError, match="e: value mismatch"):
        compare("e", COLS, [(1, "a"), (2, "b")], COLS, [(1, "b"), (2, "a")])


@pytest.mark.parametrize(
    "duck_cols, duck_rows, what",
    [
        (["k", "w"], [(1, "a")], "column mismatch"),
        (COLS, [(1, "a"), (1, "a")], "row count 1 vs 2"),
    ],
    ids=["columns", "row-count"],
)
def test_shape_mismatch_names_entry(duck_cols, duck_rows, what):
    with pytest.raises(AssertionError, match=f"^e: {what}"):
        compare("e", COLS, [(1, "a")], duck_cols, duck_rows)
