"""The named query catalog — single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 (and the training-data-pipeline
extensions) is registered here as a :class:`QuerySpec`:

- ``builder(spark, sf_dir) -> DataFrame`` — the Spark-first implementation;
- ``oracle`` — an equivalent DuckDB SQL string over the same parquet tables
  (views pre-registered by the driver). Every entry has one: :func:`query`
  rejects a missing or empty oracle.

``__spark_entry__.py`` re-exports this registry verbatim; ``bench.py`` runs
the ``headline`` subset; ``tests/test_oracle_parity.py`` replays the
driver's compare (``tools/parity.py``) locally at sf0.001.

Order: each round's attestation checks only the first 50 ``queries()``
entries against DuckDB, so catalog order is the attestation schedule.
:func:`load_all` orders entries least recently green first, ties broken by
name, reading each entry's latest green round from the committed
``CORRECTNESS_r<N>.json`` reports next to ``__spark_entry__.py`` (an entry
never green ranks as round 0, so it comes first; with no reports the order
is alphabetical). Each committed report therefore moves the window on to
the next-stalest entries, and a red row never counts as attested.

Output-normalization convention (keeps the order-insensitive value-hash
compare engine-neutral): every final projection rounds doubles, casts
integral aggregates to BIGINT, renders timestamps as strings, and joins
arrays to strings — on BOTH sides, from shared helpers below.
"""

from __future__ import annotations

import functools
import importlib
import json
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    builder: Builder
    oracle: str
    doc: str = ""
    headline: bool = False
    survey_ids: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QuerySpec] = {}

_REPO_ROOT = Path(__file__).resolve().parents[2]

_QUERY_MODULES = [
    "project_bigdata_spark.plans.medallion_queries",
    "project_bigdata_spark.plans.analytics_queries",
    "project_bigdata_spark.plans.aqi_queries",
    "project_bigdata_spark.plans.relational_queries",
    "project_bigdata_spark.plans.relational_queries2",
    "project_bigdata_spark.plans.relational_queries3",
    "project_bigdata_spark.plans.relational_queries4",
    "project_bigdata_spark.plans.feature_queries",
    "project_bigdata_spark.plans.dedup_queries",
    "project_bigdata_spark.plans.similarity_queries",
    "project_bigdata_spark.plans.text_queries",
    "project_bigdata_spark.plans.corpus_queries",
    "project_bigdata_spark.plans.corpus_queries2",
    "project_bigdata_spark.plans.layout_queries",
    "project_bigdata_spark.plans.warehouse_queries",
    "project_bigdata_spark.plans.behavior_queries",
    "project_bigdata_spark.plans.ml_queries",
    "project_bigdata_spark.plans.io_queries",
    "project_bigdata_spark.plans.streaming_queries",
    "project_bigdata_spark.plans.profiling_queries",
    "project_bigdata_spark.plans.curation_queries",
    "project_bigdata_spark.plans.stats_queries",
    "project_bigdata_spark.plans.eval_queries",
    "project_bigdata_spark.plans.web_queries",
]


def query(
    name: str,
    oracle: str,
    doc: str = "",
    headline: bool = False,
    survey_ids: tuple[str, ...] = (),
) -> Callable[[Builder], Builder]:
    """Decorator registering a catalog query."""
    if not oracle:  # an entry the driver cannot attest
        raise ValueError(f"catalog query {name!r} has no DuckDB oracle")

    def wrap(fn: Builder) -> Builder:
        if name in QUERIES:  # a silent overwrite would hide an operator
            raise ValueError(f"duplicate catalog query name: {name!r}")
        QUERIES[name] = QuerySpec(
            name=name,
            builder=fn,
            oracle=oracle,
            doc=doc or (fn.__doc__ or "").strip(),
            headline=headline,
            survey_ids=survey_ids,
        )
        return fn

    return wrap


def is_green(row: dict) -> bool:
    """A CORRECTNESS report row passed: the value hash matched, or an entry
    without an oracle returned rows (the rows-only check older reports
    hold; every entry has an oracle now)."""
    return row.get("hash_match") is True or (
        row.get("err") == "no_oracle" and bool(row.get("spark_rows"))
    )


def last_green_rounds(reports: Iterable[Path]) -> dict[str, int]:
    """Entry name -> the latest round whose ``CORRECTNESS_r<N>.json`` report
    has it green. Names never green are absent."""
    last: dict[str, int] = {}
    for path in reports:
        rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
        for name, row in json.loads(path.read_text()).items():
            if is_green(row):
                last[name] = max(last.get(name, 0), rnd)
    return last


def attestation_order(names: Iterable[str], last_green: dict[str, int]) -> list[str]:
    """Least recently green first (never green counts as round 0), ties
    broken by name."""
    return sorted(names, key=lambda n: (last_green.get(n, 0), n))


@functools.cache
def _committed_last_green() -> dict[str, int]:
    return last_green_rounds(sorted(_REPO_ROOT.glob("CORRECTNESS_r[0-9]*.json")))


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (idempotent) and return the registry in
    attestation order (see the module docstring). A module that fails to
    import raises: a swallowed error would drop its whole query family
    from the driver contract."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    return {
        name: QUERIES[name]
        for name in attestation_order(QUERIES, _committed_last_green())
    }
