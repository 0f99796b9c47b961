"""Array / map helpers for the Gold parallel-arrays idiom (SURVEY.md §2.7 F6).

The reference's Gold layer carries pollutants as two *positionally parallel*
arrays built by two independent ``collect_list`` calls over one aggregation
(``spark/batch_processor.py:206-207``) and re-zips them by index scan
(``ml_training/data_loader.py:177-194``, ``app.py:232-244``). Two fixes here
(SURVEY.md §4.3-6):

- :func:`collect_sorted_pairs` builds ONE ``collect_list(struct(k, v))``,
  sorts it, and unzips — deterministic under shuffle, unlike paired
  ``collect_list`` ordering.
- :func:`pairs_to_map` emits the cleaner native ``MapType`` form so lookups
  are ``map[key]`` instead of index scans.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def collect_sorted_pairs(key: Column, value: Column) -> Column:
    """Deterministic replacement for paired ``collect_list`` columns.

    Returns ``array<struct<k,v>>`` sorted by (k, v). Downstream, project
    ``transform(pairs, p -> p.k)`` / ``p.v`` for the reference-compatible
    parallel arrays.
    """
    return F.sort_array(F.collect_list(F.struct(key.alias("k"), value.alias("v"))))


def pairs_keys(pairs: Column) -> Column:
    return F.transform(pairs, lambda p: p["k"])


def pairs_values(pairs: Column) -> Column:
    return F.transform(pairs, lambda p: p["v"])


def pairs_to_map(pairs: Column) -> Column:
    """``array<struct<k,v>>`` -> ``map<k,v>``.

    Requires ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` (set by the session
    factory): with pairs sorted by (k, v), the surviving value per key is
    the MAX value — i.e. gold's ``type_values['pm25']`` is the hour's peak
    reading for that pollutant. (The EXCEPTION default would throw on any
    hour with two readings of one type.)
    """
    return F.map_from_entries(pairs)
