"""Medallion operator unit tests (SURVEY.md §5-1/-3) on tiny in-memory frames."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from project_bigdata_spark.operators import medallion as M


def _raw(spark):
    rows = [
        # valid
        Row(event_id=1, ts=dt.datetime(2024, 1, 1, 10, 5), user_id=1,
            event_type="click", value=2.0, props='{"k": 7}'),
        Row(event_id=2, ts=dt.datetime(2024, 1, 1, 10, 45), user_id=1,
            event_type="view", value=60.0, props='{"k": 1}'),
        # same user, next hour
        Row(event_id=3, ts=dt.datetime(2024, 1, 1, 11, 0), user_id=1,
            event_type="click", value=120.0, props=None),
        # null-gated at bronze (no event_type)
        Row(event_id=4, ts=dt.datetime(2024, 1, 1, 10, 0), user_id=1,
            event_type=None, value=1.0, props=None),
        # dropped at silver (negative)
        Row(event_id=5, ts=dt.datetime(2024, 1, 1, 10, 0), user_id=2,
            event_type="click", value=-3.0, props=None),
        # dropped at silver (NaN)
        Row(event_id=6, ts=dt.datetime(2024, 1, 1, 10, 0), user_id=2,
            event_type="click", value=float("nan"), props=None),
    ]
    return spark.createDataFrame(rows)


def test_bronze_null_gate_and_props(spark):
    b = M.bronze(_raw(spark))
    out = {r.event_id: r for r in b.collect()}
    assert set(out) == {1, 2, 3, 5, 6}
    assert out[1].props_k == 7
    assert out[3].props_k is None
    assert out[1].year == 2024 and out[1].month == 1 and out[1].day == 1


def test_silver_validation(spark):
    s = M.silver(M.bronze(_raw(spark)))
    assert {r.event_id for r in s.collect()} == {1, 2, 3}


def test_gold_hourly_grain_and_arrays(spark):
    g = M.gold_hourly(M.silver(M.bronze(_raw(spark)))).collect()
    by_hour = {(r.user_id, r.hour_ts.hour): r for r in g}
    assert set(by_hour) == {(1, 10), (1, 11)}
    h10 = by_hour[(1, 10)]
    assert h10.max_value == 60.0
    assert h10.n_events == 2
    # deterministic sorted parallel arrays + map companion
    assert h10.event_types == ["click", "view"]
    assert h10.values == [2.0, 60.0]
    assert h10.type_values == {"click": 2.0, "view": 60.0}
    # category from max(value) post-agg (fixes lexicographic-max defect)
    assert h10.category == "Moderate"
    assert by_hour[(1, 11)].category == "Unhealthy for Sensitive Groups"


def test_salted_gold_matches_plain_gold(spark):
    """Two-stage salted aggregation is semantics-preserving vs the plain
    gold aggregate (operators/skew.py)."""
    from pyspark.sql import functions as F

    from project_bigdata_spark.operators.skew import salted_hourly_gold

    raw = _raw(spark)
    plain = M.gold_hourly(M.silver(M.bronze(raw)))
    salted = salted_hourly_gold(M.silver(M.bronze(raw)), buckets=4)

    p = {(r.user_id, r.hour_ts): (r.max_value, r.n_events, r.event_types,
                                  r.values) for r in plain.collect()}
    s = {(r.user_id, r.hour_ts): (r.max_value, r.n_events, r.event_types,
                                  r.values) for r in salted.collect()}
    assert p == s
