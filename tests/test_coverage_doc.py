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


# Defaulted parameters of the public functions in the corpus/similarity
# modules. Each one left is set to a second value by a caller or needed
# by a test; an option with one value in use is a constant, so this
# count may only go down.
OPERATOR_MODULES = tuple(
    f"downscaledclimatedata_spark.operators.{m}"
    for m in ("dedup", "similarity", "prep", "textops", "pandasops",
              "maintenance")) + ("downscaledclimatedata_spark.pipeline",)
MAX_DEFAULTED_PARAMS = 184


def test_defaulted_parameter_count_does_not_grow():
    import importlib
    import inspect

    n = 0
    for name in OPERATOR_MODULES:
        mod = importlib.import_module(name)
        for attr, fn in vars(mod).items():
            if (inspect.isfunction(fn) and fn.__module__ == name
                    and not attr.startswith("_")):
                n += sum(1 for p in inspect.signature(fn).parameters.values()
                         if p.default is not p.empty)
    assert n <= MAX_DEFAULTED_PARAMS, (
        f"{n} defaulted parameters > {MAX_DEFAULTED_PARAMS}: a parameter "
        "with one value in use belongs in a constant")
