"""As-of join — an operator Spark lacks natively, composed from built-ins.

``asof_join(left, right)``: for every left row, attach the most recent
right row with ``right.ts <= left.ts`` for the same key (ties on ts broken
by the right's sequence column). The classic union-and-carry-forward
construction:

1. tag both inputs and union them on (key, ts) — no join at all;
2. sort within each key partition by (ts, side-order, seq);
3. ``last_value(right_value) IGNORE NULLS`` over the unbounded-preceding
   frame carries the latest right value forward;
4. keep only left rows.

Cost: ONE shuffle on the key (the window partitioning) over |L|+|R| rows —
versus a naive range join's |L|x|R| blowup. At 100 TB this is the only
formulation that scales: state per key is a single carried value, and skewed
keys degrade to a large sort partition, not a cross product. (DuckDB ships
this as ``ASOF JOIN``, which is the differential oracle.)

Alternative for many near-sorted small groups: ``applyInPandas`` +
``pd.merge_asof`` per key — kept out of the default path because the
union form stays entirely in the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str = "ts",
    right_seq: str | None = None,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Backward as-of join (right.ts <= left.ts), inner-ish: left rows with
    no prior right row get NULLs in the carried columns.

    ``carry_cols``: right columns to carry (default: all non-key/ts), each
    exposed as ``<col>_asof``.
    ``right_seq``: tiebreak column among equal right timestamps (e.g. an
    event id); latest wins, matching "most recent observation".
    """
    carry = carry_cols or [c for c in right.columns if c not in (key, ts_col)]

    l_tag = left.withColumn("_side", F.lit(1)).withColumn(
        "_seq", F.lit(None).cast("long")
    )
    for c in carry:
        l_tag = l_tag.withColumn(f"_carry_{c}", F.lit(None).cast(dict(right.dtypes)[c]))
    r_tag = right.select(
        F.col(key),
        F.col(ts_col),
        F.lit(0).alias("_side"),
        (F.col(right_seq).cast("long") if right_seq else F.lit(0).cast("long")).alias(
            "_seq"
        ),
        *[F.col(c).alias(f"_carry_{c}") for c in carry],
    )
    unioned = l_tag.unionByName(r_tag, allowMissingColumns=True)

    # Right rows sort BEFORE left rows at equal ts (_side 0 < 1): an
    # observation at exactly t is visible to a query at t.
    w = (
        Window.partitionBy(key)
        .orderBy(ts_col, "_side", "_seq")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned
    for c in carry:
        carried = carried.withColumn(
            f"{c}_asof", F.last(f"_carry_{c}", ignorenulls=True).over(w)
        )
    out = carried.filter(F.col("_side") == 1).drop(
        "_side", "_seq", *[f"_carry_{c}" for c in carry]
    )
    return out


def asof_join_tolerance(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str = "ts",
    tolerance_us: int = 3_600_000_000,
    right_seq: str | None = None,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Backward as-of join with a max-staleness bound (pandas
    ``merge_asof(tolerance=...)``): a prior right row older than
    ``tolerance_us`` microseconds does NOT match — its carried columns
    come back NULL, exactly like "no prior observation".

    Same single-shuffle union+carry construction as :func:`asof_join`
    (the right timestamp rides along as one extra carried column); the
    tolerance check is a post-window column predicate, so the bound adds
    zero exchanges. ``<ts_col>_asof`` exposes the matched timestamp
    (NULL when out of tolerance) for gap auditing.
    """
    carry = carry_cols or [c for c in right.columns if c not in (key, ts_col)]
    r2 = right.withColumn("_rts", F.col(ts_col))
    out = asof_join(
        left, r2, key=key, ts_col=ts_col, right_seq=right_seq,
        carry_cols=carry + ["_rts"],
    )
    matched_ts = F.col("_rts_asof")
    within = (
        F.unix_micros(F.col(ts_col)) - F.unix_micros(matched_ts)
    ) <= F.lit(tolerance_us)
    for c in carry:
        out = out.withColumn(f"{c}_asof", F.when(within, F.col(f"{c}_asof")))
    return out.withColumn(f"{ts_col}_asof", F.when(within, matched_ts)).drop(
        "_rts_asof"
    )
