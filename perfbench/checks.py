"""DuckDB checks of every workload output, run outside the timed region.

Each check returns the number of mismatches it found, so the caller can
count them in ``failed``.
"""

from __future__ import annotations

import glob
import os

from downscaledclimatedata_spark.operators import catalog as catalog_mod

from loca2tree import NcFile, expected_sums


def lake_glob(lake: str) -> str:
    return f"{lake}/**/*.parquet"


def lake_mismatches(con, lake: str, files: list[NcFile]) -> int:
    """Per-(model, scenario, variable) count and sum in the lake against
    the generator's formula over the files ingested."""
    want = expected_sums(files)
    rows = con.execute(
        "SELECT model, scenario, variable, count(*), "
        "CAST(sum(CAST(value AS BIGINT)) AS BIGINT) "
        f"FROM read_parquet('{lake_glob(lake)}', hive_partitioning=true) "
        "GROUP BY ALL").fetchall()
    got = {(m, s, v): (n, total) for m, s, v, n, total in rows}
    return sum(got.get(k) != w for k, w in want.items()) + \
        sum(k not in want for k in got)


def log_rows(con, log: str) -> int:
    if not glob.glob(f"{log}/*.parquet"):
        return 0
    return con.execute(
        f"SELECT count(*) FROM read_parquet('{log}/*.parquet')").fetchone()[0]


def tree_keys(tree: str) -> list[str]:
    keys = []
    for d, _, names in os.walk(tree):
        for n in names:
            keys.append(os.path.relpath(os.path.join(d, n), tree))
    return keys


def catalog_sql(bucket: str) -> str:
    """The package's own catalog oracle, re-pointed at a ``keys`` table.

    ``_CATALOG_BUILD_SQL`` reads a synthetic listing built from the
    documents table; the same collapse/parse shape runs here over the
    tree's real keys.
    """
    sql = catalog_mod._CATALOG_BUILD_SQL
    listing = catalog_mod._SYNTHETIC_LISTING_SQL
    if listing not in sql or "'s3://test-bucket/'" not in sql:
        raise RuntimeError("catalog oracle changed shape; update the check")
    return (sql.replace(listing, "SELECT key FROM keys")
            .replace("'s3://test-bucket/'", f"'s3://{bucket}/'"))


def catalog_mismatches(con, catalog_dir: str, catalog_id: str, tree: str,
                       bucket: str) -> tuple[int, int]:
    """(mismatched rows, catalog rows): the written CSV against DuckDB
    over the listing keys, compared as multisets."""
    keys = tree_keys(tree)
    con.execute("CREATE OR REPLACE TEMP TABLE keys(key VARCHAR)")
    con.executemany("INSERT INTO keys VALUES (?)", [(k,) for k in keys])
    want = sorted(con.execute(catalog_sql(bucket)).fetchall())
    got = sorted(con.execute(
        "SELECT variable, model, scheme, experiment_id, time_range, path "
        f"FROM read_csv('{catalog_dir}/{catalog_id}.csv/*.csv', header=true, "
        "all_varchar=true)").fetchall())
    return int(got != want), len(got)


def suite_mismatches(con, data: str, specs: dict, outputs: list) -> int:
    """Spec outputs that fail their oracle: hash-equal to ``spec.oracle``
    over ``data`` under the canon of ``canon_run.py`` (columns sorted by
    name, cells stringified, rows sorted), or, for a spec without an
    oracle, at least ``spec.min_rows`` rows. A failed run (None) counts."""
    from canon_run import TABLES, _canon, _value_hash
    for name in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{data}/{name}.parquet')")
    want: dict[str, object] = {}
    bad = 0
    for name, got in outputs:
        if got is None:
            bad += 1
            continue
        spec = specs[name]
        if spec.oracle is None:
            bad += len(got) < spec.min_rows
            continue
        if name not in want:
            want[name] = _canon(con.execute(spec.oracle).df())
        w, g = want[name], _canon(got)
        bad += not (len(g) == len(w) and list(g.columns) == list(w.columns)
                    and _value_hash(g) == _value_hash(w))
    return bad
