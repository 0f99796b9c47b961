"""Property-based differential tests (hypothesis): randomized inputs
through the Spark expressions vs the plain-Python/pandas references.
Bounded example counts keep the Spark round-trips cheap — each property
evaluates one batch DataFrame per test, not per example."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from project_bigdata_spark.functions import aqi as AQ

_conc = st.one_of(
    st.floats(min_value=-10, max_value=700, allow_nan=False),
    st.just(float("nan")),
    st.sampled_from([0.0, 12.0, 12.05, 12.1, 35.4, 55.4, 150.4, 250.4,
                     500.4, 500.5, 0.054, 0.2, 0.201]),
)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.tuples(_conc, st.sampled_from(list(AQ.AQI_BREAKPOINTS))),
                min_size=1, max_size=40))
def test_aqi_spark_matches_python_reference(spark, batch):
    df = spark.createDataFrame(
        [(float(c), p) for c, p in batch], "conc double, pollutant string"
    )
    got = df.select(
        "conc", "pollutant",
        AQ.aqi_any_pollutant(F.col("conc"), F.col("pollutant")).alias("aqi"),
    ).collect()
    for r in got:
        assert r.aqi == AQ.aqi_reference_py(r.conc, r.pollutant), (
            f"{r.pollutant}({r.conc})"
        )


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),       # entity
            st.integers(min_value=0, max_value=10**6),   # ts offset seconds
            st.floats(min_value=0, max_value=500),       # value
        ),
        min_size=2,
        max_size=60,
    )
)
def test_rolling_mean_matches_pandas(spark, rows):
    from project_bigdata_spark.operators import features as FE

    pdf = pd.DataFrame(rows, columns=["user_id", "off", "value"])
    pdf["value"] = pdf["value"].round(2)
    pdf["ts"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(pdf["off"], unit="s")
    pdf["event_id"] = range(len(pdf))
    sdf = FE.add_rolling_features(
        spark.createDataFrame(pdf[["user_id", "ts", "event_id", "value"]]),
        "value", order_by=["ts", "event_id"], window_rows=5, long_window_rows=9,
    )
    got = sdf.toPandas().sort_values(["user_id", "ts", "event_id"])
    ref = pdf.sort_values(["user_id", "ts", "event_id"])
    g = ref.groupby("user_id")["value"]
    expected = g.rolling(5, min_periods=1).mean().reset_index(level=0, drop=True)
    np.testing.assert_allclose(
        expected.to_numpy(), got["value_mean_5"].to_numpy(dtype=float),
        rtol=1e-9, atol=1e-9,
    )


_round_vals = st.one_of(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False,
              allow_infinity=False),
    # half-way rounding boundaries: k/2 * 1e-4 lands exactly between
    # 4-decimal grid points — where Spark's string-repr rounding and C's
    # binary-value rounding historically disagree
    st.integers(min_value=-2 * 10**6, max_value=2 * 10**6).map(
        lambda k: k / 2 * 1e-4
    ),
    st.sampled_from([38.37875, -38.37875, 2.5e-5, -2.5e-5, 0.00015]),
)


@settings(max_examples=25, deadline=None)
@given(st.lists(_round_vals, min_size=1, max_size=50))
def test_rnd_matches_duckdb_round(spark, vals):
    """plans/_norm.rnd must equal DuckDB's round(x, 4) on the BINARY
    double value for every input — the invariant every oracle compare
    stands on."""
    import duckdb

    from project_bigdata_spark.plans import _norm as N

    got = [
        r.r
        for r in spark.createDataFrame([(float(v),) for v in vals], "x double")
        .select(N.rnd("x").alias("r"))
        .collect()
    ]
    exp = [
        row[0]
        for row in duckdb.connect()
        .execute(
            "SELECT round(x, 4) FROM (SELECT unnest(?::DOUBLE[]) AS x)",
            [[float(v) for v in vals]],
        )
        .fetchall()
    ]
    assert got == exp


@settings(max_examples=5, deadline=None)
@given(
    st.sets(
        st.text(alphabet="abcdef0123456789", min_size=1, max_size=16),
        min_size=1,
        max_size=60,
    ),
    st.sampled_from([1, 3]),
)
def test_bloom_never_false_negative(spark, keys, shards):
    """For ANY key set and shard count, every built key must probe true
    — the invariant the exact-dedup prefilter's correctness rests on."""
    from project_bigdata_spark.operators import dedup as DD

    df = spark.createDataFrame([(k,) for k in sorted(keys)], "k string")
    bloom = DD.bloom_build(df, "k", num_shards=shards)
    hits = (
        DD.bloom_probe(df, bloom, F.col("k"), num_shards=shards)
        .filter("bloom_hit")
        .count()
    )
    assert hits == len(keys)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # key
            st.integers(min_value=0, max_value=50),     # ts offset
            st.booleans(),                              # is delete
        ),
        min_size=1,
        max_size=40,
    )
)
def test_cdc_latest_matches_python_replay(spark, log):
    """cdc_latest == a sequential dict replay of the changelog."""
    from project_bigdata_spark.operators import warehouse as WH

    rows = [
        (i, k, (pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=off)).to_pydatetime(),
         "D" if d else "U")
        for i, (k, off, d) in enumerate(log)
    ]
    sdf = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, op string"
    )
    got = {
        r.user_id: r.event_id
        for r in WH.cdc_latest(sdf, order_by=["ts", "event_id"]).collect()
    }
    state: dict[int, int] = {}
    for i, k, ts, op in sorted(rows, key=lambda r: (r[2], r[0])):
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = i
    assert got == state


@settings(max_examples=15, deadline=None)
@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=9),
        st.floats(min_value=0, max_value=100, allow_nan=False),
        min_size=1,
        max_size=8,
    ),
    st.dictionaries(
        st.integers(min_value=0, max_value=9),
        st.floats(min_value=0, max_value=100, allow_nan=False),
        min_size=0,
        max_size=8,
    ),
)
def test_scd2_invariants_and_idempotency(spark, dim_map, upd_map):
    """SCD2 output invariants: exactly one current version per dim key,
    versions contiguous from 1, closed versions carry valid_to; and
    re-applying the SAME update batch to the merged current state is a
    no-op (at-least-once delivery safety)."""
    from project_bigdata_spark.operators import warehouse as WH

    dim_rows = [(k, round(v, 2)) for k, v in dim_map.items()]
    upd_rows = [
        (k, round(v, 2), pd.Timestamp("2024-06-01").to_pydatetime())
        for k, v in upd_map.items()
        if k in dim_map
    ]
    dim = spark.createDataFrame(dim_rows, "k long, bal double")
    if not upd_rows:
        return
    upd = spark.createDataFrame(upd_rows, "k long, bal double, eff_ts timestamp")
    out = WH.scd2_apply(dim, upd, "k", ["bal"], "eff_ts").collect()

    per_key: dict[int, list] = {}
    for r in out:
        per_key.setdefault(r["k"], []).append(r)
    assert set(per_key) == set(dim_map)
    changed_expect = {
        k for k, v, _ in upd_rows if round(v, 2) != round(dim_map[k], 2)
    }
    for k, versions in per_key.items():
        current = [r for r in versions if r["is_current"]]
        assert len(current) == 1
        assert sorted(r["version"] for r in versions) == list(
            range(1, len(versions) + 1)
        )
        for r in versions:
            assert r["is_current"] == (r["valid_to"] is None)
        assert (len(versions) == 2) == (k in changed_expect)

    # idempotency: current state + same batch -> zero new versions
    current_dim = spark.createDataFrame(
        [(r["k"], r["bal"]) for r in out if r["is_current"]],
        "k long, bal double",
    )
    again = WH.scd2_apply(current_dim, upd, "k", ["bal"], "eff_ts").collect()
    assert all(r["version"] == 1 and r["is_current"] for r in again)
    assert len(again) == len(dim_map)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),       # user
            st.integers(min_value=0, max_value=12 * 24 * 3600),  # ts offset s
            st.sampled_from(["signup", "view", "click", "purchase", "error"]),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_funnel_fold_matches_python_greedy(spark, rows):
    """The in-plan funnel fold must equal a pure-Python greedy chain:
    first signup, then the first strictly-later view/click/purchase in
    order, depth gated to 7 days from the chain start."""
    from project_bigdata_spark.plans.behavior_queries import funnel_user_depths

    pdf = pd.DataFrame(rows, columns=["user_id", "off", "event_type"])
    pdf["event_id"] = range(len(pdf))
    pdf["ts"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(pdf["off"], unit="s")
    sdf = spark.createDataFrame(
        pdf[["event_id", "ts", "user_id", "event_type"]]
    )
    got = {
        r.user_id: r.depth for r in funnel_user_depths(sdf).collect()
    }

    week = pd.Timedelta(days=7)
    for uid, grp in pdf.sort_values(["ts", "event_id"]).groupby("user_id"):
        t = {1: None, 2: None, 3: None, 4: None}
        stage_of = {"signup": 1, "view": 2, "click": 3, "purchase": 4}
        for _, row in grp.iterrows():
            s = stage_of.get(row.event_type)
            if s is None or t[s] is not None:
                continue
            if s == 1:
                t[1] = row.ts
            elif t[s - 1] is not None and row.ts > t[s - 1]:
                t[s] = row.ts
        if t[1] is None:
            want = 0
        else:
            want = 1
            for s in (2, 3, 4):
                if t[s] is not None and t[s] <= t[1] + week:
                    want = s
                else:
                    break
        assert got[uid] == want, (uid, t, got[uid], want)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),            # user
            st.integers(min_value=0, max_value=6 * 24 * 3600),  # ts offset s
        ),
        min_size=1,
        max_size=50,
    )
)
def test_concurrency_curve_matches_interval_count(spark, rows):
    """The hour-grid explode must count, for every hour, exactly the
    30-min-gap sessions whose [start, end] span intersects that hour."""
    import project_bigdata_spark.plans.behavior_queries as BQ
    from project_bigdata_spark.sources import load_table as _lt

    pdf = pd.DataFrame(rows, columns=["user_id", "off"])
    pdf["event_id"] = range(len(pdf))
    pdf["ts"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(pdf["off"], unit="s")
    sdf = spark.createDataFrame(pdf[["event_id", "ts", "user_id"]])

    # drive the catalog builder against the synthetic frame
    orig = BQ.load_table
    BQ.load_table = lambda _s, _d, _n: sdf
    try:
        got = {
            r.hour: r.n_active_sessions
            for r in BQ.concurrency_curve(spark, "unused").collect()
        }
    finally:
        BQ.load_table = orig

    # reference: sessions via pandas gap split, then interval overlap
    want: dict[str, int] = {}
    gap = pd.Timedelta(minutes=30)
    for _, grp in pdf.sort_values(["ts", "event_id"]).groupby("user_id"):
        start = end = None
        spans = []
        for _, row in grp.iterrows():
            if start is None or row.ts - end > gap:
                if start is not None:
                    spans.append((start, end))
                start = row.ts
            end = row.ts
        spans.append((start, end))
        for s, e in spans:
            h = s.floor("h")
            while h <= e:
                key = h.strftime("%Y-%m-%d %H:%M:%S")
                want[key] = want.get(key, 0) + 1
                h += pd.Timedelta(hours=1)
    assert got == want


# ---------------------------------------------------------------------------
# Round-5 verdict ask #1: tie-mode-flip invariance of the catalog window.
# The round-4 driver returned 7 hash-only reds on the
# sum(CAST(x AS DECIMAL(12,2))) family — a double->DECIMAL cast delegates
# tie rounding to the engine. The hardened idiom (_norm.cents) uses
# explicit floor(x*100 + 0.5) arithmetic, which is mode-free; these tests
# prove (a) the hazardous cast idiom is GONE from every oracle, and
# (b) the window outputs are bit-invariant when the cents grid's rounding
# is flipped from half-up to half-even (round_even) — i.e. zero window
# entries remain tie-sensitive (was 12 in round 4's analysis).
# ---------------------------------------------------------------------------


def _flip_floor_half_up_to_half_even(sql: str, name: str = "?") -> str:
    """Rewrite every ``floor(<inner> + 0.5)`` in an oracle to
    ``round_even(<inner>, 0)`` — the simulated tie-mode flip.

    ``name`` labels assertion messages with the offending oracle.
    ``floor (`` with a space is normalized before scanning so it cannot
    be silently skipped."""
    sql = re.sub(r"\bfloor\s+\(", "floor(", sql)
    out = []
    i = 0
    needle = "floor("
    while True:
        j = sql.find(needle, i)
        if j < 0:
            out.append(sql[i:])
            break
        depth = 1
        k = j + len(needle)
        while depth:
            assert k < len(sql), (
                f"oracle {name!r}: unbalanced parentheses inside "
                f"'floor(' starting at offset {j}"
            )
            if sql[k] == "(":
                depth += 1
            elif sql[k] == ")":
                depth -= 1
            k += 1
        inner = sql[j + len(needle) : k - 1]
        out.append(sql[i:j])
        if inner.endswith(" + 0.5"):
            out.append(f"round_even({inner[:-6]}, 0)")
        else:
            out.append(sql[j:k])  # a semantic floor — leave it alone
        i = k
    return "".join(out)


def test_no_decimal_cast_idiom_left_in_oracles():
    from project_bigdata_spark.plans.catalog import load_all

    offenders = {
        name: spec.oracle
        for name, spec in load_all().items()
        if "DECIMAL(12,2)" in spec.oracle
    }
    assert not offenders, (
        "double->DECIMAL(12,2) cast idiom resurfaced in oracles: "
        f"{sorted(offenders)} — use _norm.sql_cents / sql_sum_cents2"
    )


# Entries whose SEMANTICS mandate half-up rounding: the US-EPA AQI
# specification rounds concentrations half-up by definition, so a
# tie-mode flip legitimately changes their output. Both engines
# implement the half-up explicitly (functions/aqi.py:_round_half_up
# mirrored in the oracle), so the idiom is still engine-proof — the
# flip test just probes a different (wrong-per-spec) semantics there.
_TIE_MODE_BY_SPEC = {"aqi_pm25", "aqi_full_pipeline"}


def test_all_oracles_invariant_under_tie_mode_flip(duck):
    """EVERY catalog oracle (not just the attestation window) must
    produce the identical value multiset when the cents grid's half-up
    rounding is replaced with half-even — no output depends on a
    rounding tie, so no engine-version bump can flip a hash. The only
    exemptions are the AQI entries whose spec mandates half-up."""
    from project_bigdata_spark.plans.catalog import load_all

    specs = load_all()
    sensitive = []
    for name, spec in specs.items():
        sql = spec.oracle
        if name in _TIE_MODE_BY_SPEC:
            continue
        flipped = _flip_floor_half_up_to_half_even(sql, name)
        base = duck.execute(sql).fetchall()
        flip = duck.execute(flipped).fetchall()
        canon = lambda rows: sorted(repr(r) for r in rows)  # noqa: E731
        if canon(base) != canon(flip):
            sensitive.append(name)
    assert sensitive == [], (
        f"{len(sensitive)} catalog entries change output under a "
        f"tie-mode flip: {sensitive}"
    )
