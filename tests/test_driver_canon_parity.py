"""Driver-canonicalization parity: every spec compared to its oracle the
way the DRIVER compares them — pandas frames, columns sorted by name,
rows sorted, every cell stringified, then hashed.

This is harsher than a tuple comparison: python's `886 == 886.0` hides
a DuckDB HUGEINT materializing as float64, and `None == None` hides
date-vs-timestamp null renderings (None vs NaT) — both classes produced
red driver rows while tuple-parity stayed green. The canon is
``canon_run._canon``, the one the recorded sweep and the benchmark use.
"""

from __future__ import annotations

import pytest

from canon_run import _canon
from downscaledclimatedata_spark.plans import all_specs
from tests.conftest import SF_CORRECTNESS

SPECS = all_specs()


@pytest.mark.parametrize("name", sorted(n for n, s in SPECS.items() if s.oracle))
def test_spec_matches_oracle_under_driver_canonicalization(name, spark, duck):
    spec = SPECS[name]
    sdf = _canon(spec.spark(spark, SF_CORRECTNESS).toPandas())
    odf = _canon(duck.execute(spec.oracle).df())
    assert list(sdf.columns) == list(odf.columns)
    assert len(sdf) == len(odf), f"{name}: {len(sdf)} vs {len(odf)} rows"
    neq = (sdf != odf).any(axis=1)
    if neq.any():
        i = neq.idxmax()
        raise AssertionError(
            f"{name}: first differing row\n spark={sdf.loc[i].to_dict()}\n"
            f" duck ={odf.loc[i].to_dict()}")
