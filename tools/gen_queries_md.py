"""Generate QUERIES.md — the catalog inventory mapped to SURVEY.md §2 IDs."""

from __future__ import annotations

import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from project_bigdata_spark.plans.catalog import load_all  # noqa: E402


def main() -> None:
    # name order: the catalog's own order is the attestation order, which
    # moves with every committed CORRECTNESS report
    specs = dict(sorted(load_all().items()))
    lines = [
        "# QUERIES — catalog inventory",
        "",
        "Auto-generated from `project_bigdata_spark/plans/` "
        "(`python tools/gen_queries_md.py`). Every entry is exposed through "
        "`__spark_entry__.queries()` with a DuckDB oracle, and the driver "
        "verifies each differentially at sf0.01.",
        "",
        f"**{len(specs)} queries** — "
        f"{sum(1 for s in specs.values() if s.headline)} bench headliners.",
        "",
        "| query | SURVEY §2 | bench | what it pins |",
        "|---|---|---|---|",
    ]
    for name, s in specs.items():
        ids = ", ".join(s.survey_ids) or "—"
        doc = " ".join(s.doc.split())
        if len(doc) > 160:
            doc = doc[:157] + "..."
        lines.append(
            f"| `{name}` | {ids} | {'✓' if s.headline else ''} | {doc} |"
        )

    coverage: dict[str, list[str]] = defaultdict(list)
    for name, s in specs.items():
        for sid in s.survey_ids:
            coverage[sid].append(name)
    lines += [
        "",
        "## SURVEY §2 coverage index",
        "",
        "| operator id | covered by |",
        "|---|---|",
    ]
    for sid in sorted(coverage):
        lines.append(f"| {sid} | " + ", ".join(f"`{q}`" for q in coverage[sid]) + " |")

    # SURVEY §2 ids whose surface is a source/sink/streaming/infra seam —
    # covered by modules + tests rather than a catalog query.
    non_query = {
        "S1": "`sources/registry.py:read_kafka_batch` (gated: no broker in image)",
        "S2": "`sources/registry.py:read_kafka_stream` (gated)",
        "S3": "`sources/registry.py:load_table` (every catalog query)",
        "S4": "`load_table` — glob + parallel read are native",
        "S5": "out of engine scope per SURVEY §2.1 (REST replaced by file/Kafka sources)",
        "S6": "`kafka_sink_frame` + `tests/test_sources_sinks.py::test_kafka_envelope_roundtrip`",
        "S7": "`write_partitioned_parquet` + dynamic-overwrite test",
        "S8": "`streaming/pipeline.py:start_multi_sink` + `tests/test_streaming.py`",
        "S9": "`write_olap_table` + `tests/test_olap_bucketing.py`",
        "S10": "`write_csv` + round-trip test",
        "S11": "infra (bucket bootstrap) — not an operator",
        "P8": "`streaming/pipeline.py:bronze_stream` (processed_at audit stamp, tested)",
        "P11": "`plans/_norm.py:rnd` — sign-aware deterministic rounding pinned in every "
        "oracle query (the HALF_UP/banker's divergence is documented in `functions/aqi.py`)",
        "A2": "`streaming/pipeline.py:gold_stream` + watermark finalization test",
        "A9": "`jobs/batch.py:run` observe() counts per layer (`tests/test_jobs.py`) "
        "+ catalog entry `observe_layer_counts`",
        "W8": "subsumed by Window.orderBy everywhere; standalone in `top_k_latest`",
        "F5": "`to_timestamp` handles ISO-8601 incl. Z (bronze P5 path)",
        "F12": "`functions/aqi.py:aqi_recommendation` + test",
        "F13": "`kafka_sink_frame` to_json envelope (tested)",
        "F14": "plain column arithmetic (see `scalar_misc`)",
        "T1-T7": "`streaming/pipeline.py` + `streaming/stateful.py`, all under `tests/test_streaming.py`",
    }
    lines += [
        "",
        "## Non-query SURVEY §2 coverage (sources / sinks / streaming / infra)",
        "",
        "| operator id | covered by |",
        "|---|---|",
    ]
    for sid, where in non_query.items():
        lines.append(f"| {sid} | {where} |")
    lines.append("")
    Path(__file__).resolve().parent.parent.joinpath("QUERIES.md").write_text(
        "\n".join(lines)
    )
    print(f"QUERIES.md: {len(specs)} queries, {len(coverage)} survey ids")


if __name__ == "__main__":
    main()
