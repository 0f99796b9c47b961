"""Data-quality constraint framework (extends SURVEY.md §2.3 A5).

The reference asserts quality operationally — countIf probes in SQL
(``clickhouse_queries.sql:111-125``) and a census script
(``ml_training/check_countries.py``). This module turns those into
declarative, composable checks that evaluate in ONE aggregation pass per
table (every check is a conditional-count expression; no per-check scan):

    report = run_checks(df, [not_null("ts"), in_range("value", 0, 1000),
                             unique(["event_id"]), ...])

Referential integrity is its own pass (an anti-join count).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class Check:
    name: str
    violation: Column  # boolean: true when the row VIOLATES the check


def not_null(col: str) -> Check:
    return Check(f"not_null({col})", F.col(col).isNull())


def non_negative(col: str) -> Check:
    return Check(f"non_negative({col})", F.col(col) < 0)


def in_range(col: str, lo: float, hi: float) -> Check:
    c = F.col(col)
    return Check(f"in_range({col},{lo},{hi})", (c < lo) | (c > hi))


def in_set(col: str, allowed: list[str]) -> Check:
    return Check(f"in_set({col})", ~F.col(col).isin(*allowed))


def run_checks(df: DataFrame, checks: list[Check]) -> DataFrame:
    """One aggregation pass: total rows + violation count per check."""
    aggs = [F.count(F.lit(1)).alias("total_rows")] + [
        F.sum(F.when(c.violation, 1).otherwise(0)).cast("bigint").alias(c.name)
        for c in checks
    ]
    wide = df.agg(*aggs)
    # long form: (check, violations, total)
    stacked = wide.selectExpr(
        "total_rows",
        "stack({n}, {pairs}) AS (check, violations)".format(
            n=len(checks),
            pairs=", ".join(f"'{c.name}', `{c.name}`" for c in checks),
        ),
    )
    return stacked.select(
        "check", "violations", "total_rows",
        F.round(F.col("violations") / F.col("total_rows"), 6).alias("violation_rate"),
    )


def uniqueness(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Duplicate-key census: one groupBy pass."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(
            F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("bigint").alias(
                "duplicate_keys"
            ),
            F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("rows_involved"),
        )
    )


def referential_integrity(
    child: DataFrame, parent: DataFrame, fk: str, pk: str
) -> DataFrame:
    """Orphan census: child keys with no parent (anti-join count)."""
    orphans = child.select(F.col(fk).alias(pk)).join(
        parent.select(pk).distinct(), on=pk, how="left_anti"
    )
    return orphans.agg(F.count(F.lit(1)).cast("bigint").alias("orphan_rows"))


def psi_drift(
    df,
    value_col: str = "value",
    group_col: str = "event_type",
    split_pred=None,
    bin_width: float = 25.0,
    rnd=None,
):
    """Population Stability Index between two halves of a dataset —
    the standard distribution-drift monitor between corpus snapshots or
    time periods: ``PSI = sum over bins (p_b - q_b) * ln(p_b / q_b)``
    with Laplace-smoothed shares so empty bins stay finite
    (rule of thumb: < 0.1 stable, 0.1-0.25 drifting, > 0.25 shifted).

    ``split_pred`` is the boolean column marking the baseline side.
    One aggregation over (group, bin) with conditional partial counts —
    the two sides are counted in the SAME pass (no self-join, no second
    scan); the per-group bin frames are tiny and the PSI fold is a
    rounded-to-6-places-then-DECIMAL sum, engine-exact.
    """
    from pyspark.sql import functions as F

    rnd = rnd or F.round
    bins = df.withColumn(
        "_bin", F.floor(F.col(value_col) / F.lit(bin_width)).cast("bigint")
    ).withColumn("_a", split_pred.cast("bigint"))
    counts = bins.groupBy(group_col, "_bin").agg(
        F.sum("_a").alias("n_a"),
        F.sum(F.lit(1) - F.col("_a")).alias("n_b"),
    )
    totals = counts.groupBy(group_col).agg(
        F.sum("n_a").alias("t_a"),
        F.sum("n_b").alias("t_b"),
        F.count(F.lit(1)).alias("n_bins"),
    )
    j = counts.join(F.broadcast(totals), group_col)
    p = (F.col("n_a") + 0.5) / (F.col("t_a") + 0.5 * F.col("n_bins"))
    q = (F.col("n_b") + 0.5) / (F.col("t_b") + 0.5 * F.col("n_bins"))
    term = rnd((p - q) * F.log(p / q), 6).cast("decimal(18,6)")
    return (
        j.groupBy(group_col)
        .agg(
            F.first("t_a").alias("n_baseline"),
            F.first("t_b").alias("n_current"),
            F.sum(term).cast("double").alias("psi"),
        )
    )
