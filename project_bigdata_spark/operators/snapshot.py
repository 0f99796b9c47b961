"""Corpus snapshot diffing — the audit step between two versions of a
training corpus (what did this refresh add / remove / rewrite?).

The reference pipeline re-ingests full dumps with no version accounting
(its ingest path simply overwrites: ``spark/batch_processor.py``); a
100 TB corpus refresh needs the delta, not a re-read. Diffing by content
digest on the id key is the canonical shape: a full-outer sort-merge
join co-partitioned on the id — one shuffle per side, no driver state,
and the payloads themselves never move (only 16-byte digests do).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Diff classes, in output order.
STATUSES = ("added", "removed", "changed", "unchanged")


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Per-id diff status between two snapshot frames.

    Inputs carry ``(doc_id, digest)`` — build the digest upstream
    (``F.md5(text)``) so only fixed-width keys shuffle, never payloads.
    Returns ``(doc_id, status)`` with status in :data:`STATUSES`.
    """
    o = old.select(F.col("doc_id").alias("_id"), F.col("digest").alias("_old"))
    n = new.select(F.col("doc_id").alias("_id"), F.col("digest").alias("_new"))
    status: Column = (
        F.when(F.col("_old").isNull(), F.lit("added"))
        .when(F.col("_new").isNull(), F.lit("removed"))
        .when(F.col("_old") != F.col("_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        o.join(n, on="_id", how="full_outer")
        .select(F.col("_id").alias("doc_id"), status.alias("status"))
    )


def snapshot_diff_summary(old: DataFrame, new: DataFrame) -> DataFrame:
    """Roll the per-id diff up to ``(status, n_docs)`` — the audit
    headline. A second tiny aggregation over 4 keys; the per-id frame
    stays available for targeted reprocessing of just the changed ids.
    """
    return (
        snapshot_diff(old, new)
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
