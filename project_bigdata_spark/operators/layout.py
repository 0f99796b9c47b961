"""Data-layout operators: Z-order clustering for multi-column scan pruning.

The reference has no layout management at all — its batch writer emits
whatever order the pandas frame happened to be in
(``spark/batch_processor.py:125-129``), so range predicates on anything
but the (accidental) write order scan every file. At 100 TB, file/row-group
skipping IS the scan plan: parquet readers prune by footer min/max, and
pruning works exactly when the writer clustered the data.

Z-ordering (bit-interleaved space-filling curve — the public technique
behind Delta/Iceberg ``OPTIMIZE ZORDER BY``) makes ONE layout serve range
predicates on ANY of the clustered columns: normalize each column to a
``Z_BITS``-wide integer rank, interleave the bits, range-partition + sort by
the interleaved value. Every operation is a column expression plus one
range exchange — the standard periodic rewrite job shape (compose with the
S7 partitioned sink for per-partition rewrites).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Z_BITS = 16  # rank width per column; 2 cols -> 32-bit z-values


def _scale_expr(col: str) -> Column:
    """Min-max normalize ``col`` to an integer in [0, 2^Z_BITS): uses the
    ``_min_{col}`` / ``_max_{col}`` columns attached by the stats row.
    Constant columns scale to 0 (a degenerate axis adds no information)."""
    lo, hi = F.col(f"_min_{col}"), F.col(f"_max_{col}")
    top = float((1 << Z_BITS) - 1)
    span = (F.col(col).cast("double") - lo) / (hi - lo)
    return (
        F.when(hi == lo, F.lit(0))
        .otherwise(F.floor(span * F.lit(top)))
        .cast("bigint")
    )


def zorder_key(cols: list[str], bits: int = Z_BITS) -> Column:
    """Bit-interleaved z-value over pre-scaled ``_scaled_{col}`` columns:
    bit ``b`` of column ``j`` lands at position ``b * len(cols) + j``, so
    a prefix of the z-value is a box in every dimension at once. Pure
    shift/AND arithmetic — codegen-friendly, no UDF."""
    n = len(cols)
    z = F.lit(0).cast("bigint")
    for j, c in enumerate(cols):
        s = F.col(f"_scaled_{c}")
        for b in range(bits):
            z = z + F.shiftleft(
                F.shiftright(s, b).bitwiseAND(F.lit(1)), b * n + j
            )
    return z


def with_zorder(df: DataFrame, cols: list[str]) -> DataFrame:
    """Attach ``_zval`` to every row. The min/max stats frame is ONE row
    (a full but narrow reduce), broadcast — the same one-row-index shape
    as the IVF centroids; the z computation itself is a narrow map."""
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"_min_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"_max_{c}") for c in cols],
    )
    scaled = df.crossJoin(F.broadcast(stats)).select(
        df["*"], *[_scale_expr(c).alias(f"_scaled_{c}") for c in cols]
    )
    return scaled.withColumn("_zval", zorder_key(cols)).drop(
        *[f"_scaled_{c}" for c in cols],
        *[f"_min_{c}" for c in cols],
        *[f"_max_{c}" for c in cols],
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int = 16,
) -> None:
    """The OPTIMIZE-ZORDER rewrite: range-partition on the z-value (one
    sampled range exchange -> even output files regardless of skew) and
    sort within each partition so parquet row-group min/max stay tight.
    After this, a range predicate on ANY clustered column prunes most
    files by footer stats alone."""
    (
        with_zorder(df, cols)
        .repartitionByRange(num_files, "_zval")
        .sortWithinPartitions("_zval")
        .drop("_zval")
        .write.mode("overwrite")
        .parquet(path)
    )


def file_pruning_stats(path: str, predicates: dict[str, tuple]) -> dict:
    """Driver-side audit of what a min/max-pruning reader would do: read
    each parquet footer under ``path`` and count files whose per-file
    [min, max] intervals intersect every ``col: (lo, hi)`` predicate.
    Bounded by file COUNT (footers only, never data) — the same metadata
    a scan planner consults."""
    from pathlib import Path

    import pyarrow.parquet as pq

    files = sorted(str(p) for p in Path(path).glob("*.parquet"))
    touched = 0
    for f in files:
        md = pq.read_metadata(f)
        schema_names = md.schema.to_arrow_schema().names
        hit = True
        for col, (lo, hi) in predicates.items():
            idx = schema_names.index(col)
            fmin, fmax = None, None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    fmin = None
                    break
                fmin = st.min if fmin is None else min(fmin, st.min)
                fmax = st.max if fmax is None else max(fmax, st.max)
            if fmin is None:
                continue  # no stats -> reader must touch it
            if fmax < lo or fmin > hi:
                hit = False
                break
        touched += int(hit)
    return {"files": len(files), "touched": touched}
