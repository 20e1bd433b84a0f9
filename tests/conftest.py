from __future__ import annotations

import math
import os

import pytest

from downscaledclimatedata_spark.session import get_spark

SF_CORRECTNESS = "/root/testdata/sf0.01"
SF_SMOKE = "/root/testdata/sf0.001"

# Central slow-tier assignment (r14): the `slow` marker is applied here,
# not scattered over decorators, so the tier's composition is one
# auditable list. Criteria — measured >20 s per item on a quiet 32-core
# box (full-suite --durations sweep, 2026-08-18), or a whole-file sweep
# whose value is plan-shape auditing rather than result correctness.
# Every slow test still runs under `-m ""` (CI/manual full gate).
_SLOW_FILES = {
    "test_plan_audit.py",   # ~225 s: whitelist-equality plan sweep over all specs
    "test_ivf_k256.py",     # ~39 s: 256-list build + recall ladder
}
# parametrized spec names whose DuckDB oracle is a recursive-CTE
# monster (~100 s EACH in the parity suites)
_SLOW_PARAMS = ("[dedup_all_signal_clusters]", "[dedup_multi_signal_clusters]")
_SLOW_TESTS = {
    "test_graph_search_recall_monotone_and_floor",   # ~25 s
    "test_clustered_serve_recall_floors",            # ~24 s
    "test_neardup_index_compaction_bounds_files",    # ~22 s
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        fname = item.fspath.basename
        base = item.name.split("[", 1)[0]
        if (fname in _SLOW_FILES or base in _SLOW_TESTS
                or any(p in item.name for p in _SLOW_PARAMS)):
            item.add_marker(pytest.mark.slow)


def pytest_terminal_summary(terminalreporter):
    n = sum(1 for item in terminalreporter.stats.get("deselected", [])
            if item.get_closest_marker("slow"))
    if n:
        terminalreporter.write_line(
            f'{n} slow tests deselected; run all with -m ""')


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("dcd-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb
    con = duckdb.connect()
    for name in ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{SF_CORRECTNESS}/{name}.parquet')")
    yield con


def _normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def rows_to_sorted(rows, colnames):
    """Order-insensitive row comparison key for the edge parity suites:
    columns ordered by name, NaN/temporal values normalized, rows sorted."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_normalize(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)
