"""Systematic degenerate-data differential sweep (round-11 verdict
ask #2).

Every stats/curation/ML/eval catalog entry runs Spark-vs-DuckDB on the
adversarial fixture of ``tools/degenerate_data.py`` (singleton groups,
zero-variance series, empty strata, duplicate rows, zero vectors,
single-word and empty documents). The gate is cross-engine AGREEMENT —
NULL-vs-NaN divergence included — not any particular value: this ends
the entry-by-entry 0/0 guard whack-a-mole (kappa/Cochran-Q/crosscorr
r9; Neyman/Cohen's d r10) by making the whole class regression-tested.
"""

from __future__ import annotations

import pytest

from project_bigdata_spark.plans.catalog import load_all
from tools import parity

SWEEP_MODULES = (
    "stats_queries",
    "curation_queries",
    "ml_queries",
    "eval_queries",
)


def sweep_specs():
    return [
        s
        for s in load_all().values()
        if s.builder.__module__.rsplit(".", 1)[-1] in SWEEP_MODULES
    ]


@pytest.fixture(scope="module")
def deg_dir(tmp_path_factory):
    from tools.degenerate_data import build_degenerate_dir

    d = tmp_path_factory.mktemp("degenerate")
    build_degenerate_dir(str(d))
    return str(d)


@pytest.fixture(scope="module")
def deg_duck(deg_dir):
    return parity.connect(deg_dir)


@pytest.mark.parametrize("spec", sweep_specs(), ids=lambda s: s.name)
def test_degenerate_parity(spec, spark, deg_dir, deg_duck):
    parity.check(spec.name, spec.builder(spark, deg_dir), deg_duck, spec.oracle)
