"""COVERAGE.md's registry counts are machine-checked against the actual
spec registry so the document cannot drift from the code (a hand-written
count went stale in round 2)."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

import downscaledclimatedata_spark
from downscaledclimatedata_spark.plans import all_specs

ROOT = Path(__file__).resolve().parent.parent
COVERAGE = ROOT / "COVERAGE.md"


def test_coverage_counts_match_registry():
    text = COVERAGE.read_text()
    m = re.search(
        r"Registered specs: (\d+) \((\d+) with DuckDB oracles, (\d+) headline\)",
        text)
    assert m, "COVERAGE.md is missing the machine-checked counts line"
    specs = all_specs()
    want = (len(specs),
            sum(1 for s in specs.values() if s.oracle is not None),
            sum(1 for s in specs.values() if s.headline))
    got = tuple(int(g) for g in m.groups())
    assert got == want, (
        f"COVERAGE.md counts {got} != registry {want}; update the "
        "'Registered specs:' line in COVERAGE.md")


def test_every_spec_has_unique_name_and_callable():
    specs = all_specs()
    assert len(specs) == len(set(specs)), "duplicate spec names"
    for name, s in specs.items():
        assert callable(s.spark), name
        if s.oracle is not None:
            assert isinstance(s.oracle, str) and s.oracle.strip(), name


def test_package_version_matches_pyproject():
    tomllib = pytest.importorskip("tomllib")  # Python 3.11+
    pyproject = tomllib.loads((ROOT / "pyproject.toml").read_text())
    assert downscaledclimatedata_spark.__version__ == pyproject["project"]["version"]
