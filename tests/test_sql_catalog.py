"""The raw-SQL interface: every ClickHouse-side analytic shape from the
reference runs as spark.sql over the registered views."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from project_bigdata_spark.plans import sql_catalog as SC

REPO_ROOT = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def views(spark, sf_dir):
    return SC.register_views(spark, sf_dir)


def test_all_views_registered(spark, views):
    expected = {"region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings",
                "bronze", "silver", "gold", "latest_per_entity"}
    assert expected <= set(views)
    for v in expected:
        assert spark.catalog.tableExists(v), v


def test_layer_stats_sql(spark, views):
    # clickhouse_queries.sql:9-32 shape over the medallion views
    row = spark.sql("""
        SELECT count(*) AS n, count(DISTINCT user_id) AS entities
        FROM silver
    """).first()
    assert row.n > 0 and row.entities > 0


def test_latest_per_entity_view(spark, views):
    dup = spark.sql("""
        SELECT user_id, count(*) AS c FROM latest_per_entity
        GROUP BY user_id HAVING count(*) > 1
    """)
    assert dup.count() == 0
    # and it really is the max hour per entity
    row = spark.sql("""
        SELECT count(*) AS bad FROM latest_per_entity l
        JOIN (SELECT user_id, max(hour_ts) AS mh FROM gold GROUP BY user_id) m
          ON l.user_id = m.user_id AND l.hour_ts <> m.mh
    """).first()
    assert row.bad == 0


def test_gold_arrays_queryable_in_sql(spark, views):
    # F6 lookup via map form, pure SQL
    row = spark.sql("""
        SELECT count(*) AS with_click
        FROM gold WHERE type_values['click'] IS NOT NULL
    """).first()
    assert row.with_click > 0


def test_country_stats_shape_sql(spark, views):
    rows = spark.sql("""
        SELECT user_id % 10 AS cohort, count(*) AS n, avg(max_value) AS avg_v,
               max(max_value) AS max_v, min(max_value) AS min_v,
               stddev_pop(max_value) AS sd
        FROM gold GROUP BY user_id % 10 ORDER BY avg_v DESC
    """).collect()
    assert len(rows) == 10


def test_attestation_order_replays_r12_window():
    """The derived order, fed the reports of rounds 1-11, reproduces the
    window attested in round 12, name for name and in order."""
    from project_bigdata_spark.plans.catalog import (
        attestation_order,
        last_green_rounds,
        load_all,
    )

    before = [REPO_ROOT / f"CORRECTNESS_r{i:02d}.json" for i in range(1, 12)]
    order = attestation_order(load_all(), last_green_rounds(before))
    r12 = json.loads((REPO_ROOT / "CORRECTNESS_r12.json").read_text())
    assert order[:50] == list(r12)


def test_attestation_order_rule():
    """Never green (round 0) first, then least recently green; ties by
    name; a red row does not count as green."""
    from project_bigdata_spark.plans.catalog import attestation_order, is_green

    last = {"a": 5, "b": 3, "c": 3}
    assert attestation_order(["a", "b", "c", "d"], last) == ["d", "b", "c", "a"]
    assert attestation_order(["b", "a"], {}) == ["a", "b"]
    assert is_green({"hash_match": True})
    assert is_green({"hash_match": None, "err": "no_oracle", "spark_rows": 3})
    assert not is_green({"hash_match": False, "spark_rows": 3})
    assert not is_green({"hash_match": None, "err": "no_oracle", "spark_rows": 0})


@pytest.mark.parametrize("oracle", [None, ""], ids=["none", "empty"])
def test_query_rejects_missing_oracle(oracle):
    """Every entry carries a DuckDB oracle: registering one without it
    raises and leaves the registry as it was."""
    from project_bigdata_spark.plans import catalog

    catalog.load_all()
    before = dict(catalog.QUERIES)
    with pytest.raises(ValueError, match="no DuckDB oracle"):
        catalog.query("oracle_less_entry", oracle)(lambda spark, sf_dir: None)
    assert catalog.QUERIES == before


def test_load_all_raises_on_missing_module(monkeypatch):
    """A query module that fails to import must not silently drop its
    family from the driver contract."""
    from project_bigdata_spark.plans import catalog

    monkeypatch.setattr(
        catalog,
        "_QUERY_MODULES",
        [*catalog._QUERY_MODULES, "project_bigdata_spark.plans.no_such_queries"],
    )
    with pytest.raises(ModuleNotFoundError):
        catalog.load_all()


def test_attestation_window_is_fresh():
    """While any catalog entry lacks a GREEN CORRECTNESS row, the 50-slot
    attestation window (the first 50 of load_all()) must be spent on
    those names. A RED row (hash mismatch) counts as needing attestation,
    so re-attesting repaired entries satisfies the invariant. Reads the
    committed CORRECTNESS_r*.json reports, so it tightens every round."""
    from project_bigdata_spark.plans.catalog import last_green_rounds, load_all

    green = set(last_green_rounds(REPO_ROOT.glob("CORRECTNESS_r[0-9]*.json")))
    names = list(load_all())
    needing = [n for n in names if n not in green]
    if not needing:
        return  # every entry green-attested — any order is fine
    window = names[:50]
    fresh = [n for n in window if n not in green]
    want = min(len(needing), 50)
    # >=45 (not ==50) tolerates a handful of deliberate re-attestations,
    # never a stale order.
    assert len(fresh) >= min(want, 45), (
        f"attestation window wastes {len(window) - len(fresh)} of 50 slots "
        f"on already-green entries while {len(needing)} entries have no "
        f"green CORRECTNESS row; see attestation_order in plans/catalog.py"
    )


def test_survey_m7_table_ids_map_to_catalog():
    """Round-5 verdict ask #5: SURVEY.md §2.10's id column is mechanically
    checkable like §2.1-2.9 — every M7-* table id is unique; every
    backticked catalog name in its implementation column exists in the
    catalog AND carries that id in its ``survey_ids``; ids whose row
    references only module paths (streaming faces, protobuf-gated
    surfaces) must point at files that exist; and every M7-* tag used in
    catalog ``survey_ids`` appears in the table (no orphan tags, no bare
    'M7' family markers left)."""
    import os
    import re

    from project_bigdata_spark.plans.catalog import load_all

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    catalog = load_all()

    id_rows: dict[str, list[str]] = {}
    for line in open(os.path.join(root, "SURVEY.md")):
        m = re.match(r"\|\s*(M7-[A-Za-z0-9]+)\s*\|(.*)\|(.*)\|\s*$", line)
        if not m:
            continue
        mid, impl = m.group(1), m.group(3)
        assert mid not in id_rows, f"duplicate §2.10 id in SURVEY.md: {mid}"
        id_rows[mid] = re.findall(r"`([^`]+)`", impl)

    assert len(id_rows) >= 200, "§2.10 table went missing or was truncated"

    orphan_ids, mistagged = [], []
    for mid, tokens in id_rows.items():
        names = [t for t in tokens if t in catalog]
        if names:
            for n in names:
                if mid not in catalog[n].survey_ids:
                    mistagged.append((mid, n))
        else:
            # module-path-only row (streaming face / gated surface):
            # the referenced source file must exist
            paths = [
                t.split("::")[0]
                for t in tokens
                if "/" in t or t.endswith(".py")
            ]
            assert paths, f"§2.10 id {mid} references no catalog entry or file"
            for p in paths:
                candidates = [
                    os.path.join(root, "project_bigdata_spark", p),
                    os.path.join(root, "tests", p),
                    os.path.join(root, p),
                ]
                if not any(os.path.exists(c) for c in candidates):
                    orphan_ids.append((mid, p))
    assert not orphan_ids, f"§2.10 ids reference missing files: {orphan_ids}"
    assert not mistagged, (
        "catalog survey_ids out of sync with SURVEY.md §2.10: "
        f"{mistagged[:10]}{'...' if len(mistagged) > 10 else ''}"
    )

    table_ids = set(id_rows)
    used = {
        t
        for s in catalog.values()
        for t in s.survey_ids
        if t.startswith("M7")
    }
    assert "M7" not in used, "bare 'M7' family marker left in survey_ids"
    missing = sorted(used - table_ids)
    assert not missing, f"survey_ids reference ids absent from §2.10: {missing}"
