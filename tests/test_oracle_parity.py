"""Local replay of the driver's differential gate (SURVEY.md §5-2), plus
the catalog-wide plan audit on the same build.

Every catalog entry's Spark result must equal its DuckDB oracle's under
``tools/parity.py``: a *stricter* local version of the driver's
value-hash compare, so any engine-formatting drift is caught here first.
Before the result is collected, the physical plan of every entry that is
not side-effectful gets ``tools/plan_doctor.py``'s checks (no cartesian, no
row-at-a-time Python UDF, no SinglePartition exchange outside
``SINGLE_PARTITION_OK``).

``tools/drive_contract.py``, the driver simulator, rejects bad input
before any Spark job.
"""

from __future__ import annotations

import pytest

from project_bigdata_spark.plans.catalog import load_all
from tools import drive_contract, parity, plan_doctor


@pytest.mark.parametrize("spec", load_all().values(), ids=lambda s: s.name)
def test_parity(spec, spark, duck, sf_dir):
    sdf = spec.builder(spark, sf_dir)
    if spec.name not in plan_doctor.SIDE_EFFECTFUL:
        findings, _ = plan_doctor.check_plan(spec.name, sdf)
        assert not findings, f"{spec.name}: plan flagged {','.join(findings)}"
    parity.check(spec.name, sdf, duck, spec.oracle)


@pytest.mark.parametrize(
    "argv, sf_dir",
    [
        (["no_such_entry"], "/root/testdata/sf0.001"),
        (["gold_hourly"], "/nonexistent/sf0.01"),
    ],
    ids=["unknown-name", "missing-dir"],
)
def test_drive_contract_bad_input_exits_before_any_job(
    spark, monkeypatch, argv, sf_dir
):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    sc = spark.sparkContext
    group = "drive-contract-bad-input"
    sc.setJobGroup(group, "drive_contract.py input check")
    try:
        with pytest.raises(SystemExit) as exc:
            drive_contract.main(argv)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert "drive_contract.py:" in str(exc.value.code)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_drive_contract_exit_status(spark, monkeypatch, capsys):
    """Exit 0 when the entry matches its oracle; exit 1, naming the column,
    when the oracle is altered."""
    name = "q6_forecast_revenue"
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    assert drive_contract.main([name]) == 0
    assert "RESULT: ALL OK" in capsys.readouterr().out

    oracles = drive_contract.contract.oracle_sql()
    oracles[name] = f"SELECT * REPLACE (n_lines + 1 AS n_lines) FROM ({oracles[name]})"
    monkeypatch.setattr(drive_contract.contract, "oracle_sql", lambda: oracles)
    assert drive_contract.main([name]) == 1
    out = capsys.readouterr().out
    assert "column n_lines:" in out
    assert f"RESULT: 1 FAILED ['{name}']" in out
