#!/usr/bin/env python
"""Recorded local canon sweep: every registered spec compared to its
DuckDB oracle under the DRIVER's canonicalization (columns sorted by
name, rows sorted, cells stringified, values hashed) at sf0.01, emitted
as CANON_r{N}.json — the same shape as the driver's CORRECTNESS file.

The driver samples ~50 specs per round; the rest are green only inside
pytest output. This harness turns that green claim into a committed
artifact: run `python canon_run.py --round 7` each round.

Specs without an oracle (non-SQL-expressible ops) are recorded with
``"oracle": null`` and a rows-only smoke count, mirroring the driver's
weaker check for the same specs.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from downscaledclimatedata_spark.sources.tables import TABLE_NAMES as TABLES  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def duck_views(data_dir: str):
    """A DuckDB connection with one view per table over
    ``{data_dir}/{name}.parquet``: the relations the spec oracles read."""
    import duckdb
    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{name}.parquet')")
    return con


def _canon(df):
    df = df[sorted(df.columns)]
    return df.astype(str).sort_values(by=list(df.columns)).reset_index(drop=True)


def _value_hash(df) -> str:
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--only", default=None,
                    help="comma-separated spec names (default: all)")
    args = ap.parse_args()

    from downscaledclimatedata_spark.plans import all_specs
    from downscaledclimatedata_spark.session import get_spark

    spark = get_spark("dcd-spark-canon", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_views(SF_DIR)

    specs = all_specs()
    names = sorted(specs)
    if args.only:
        names = [n for n in names if n in set(args.only.split(","))]

    out: dict[str, dict] = {}
    t0 = time.time()
    for i, name in enumerate(names):
        spec = specs[name]
        rec: dict = {"rows_match": None, "schema_match": None,
                     "hash_match": None, "spark_rows": None,
                     "oracle_rows": None, "err": None}
        t_spec = time.time()
        try:
            sdf = _canon(spec.spark(spark, SF_DIR).toPandas())
            rec["spark_sec"] = round(time.time() - t_spec, 2)
            rec["spark_rows"] = len(sdf)
            if spec.oracle is None:
                # rows-only smoke, as the driver does — but against the
                # spec's declared minimum, not the vacuous >= 0
                rec["oracle"] = None
                rec["min_rows"] = spec.min_rows
                rec["rows_match"] = rec["spark_rows"] >= spec.min_rows
            else:
                odf = _canon(con.execute(spec.oracle).df())
                rec["oracle_rows"] = len(odf)
                rec["rows_match"] = len(sdf) == len(odf)
                rec["schema_match"] = list(sdf.columns) == list(odf.columns)
                rec["hash_match"] = (rec["rows_match"] and rec["schema_match"]
                                     and _value_hash(sdf) == _value_hash(odf))
        except Exception as e:  # recorded, not raised: the sweep completes
            rec["err"] = f"{type(e).__name__}: {e}"[:300]
        rec["total_sec"] = round(time.time() - t_spec, 2)
        out[name] = rec
        print(f"[{i + 1}/{len(names)}] {name}: "
              f"{'ERR' if rec['err'] else ('ok' if rec.get('hash_match') or (spec.oracle is None and rec['rows_match']) else 'MISMATCH')}",
              file=sys.stderr)

    n_bad = sum(1 for r in out.values()
                if r["err"] or r["hash_match"] is False
                or r["rows_match"] is False)
    # per-family rollup (prefix before the first underscore; qNN -> "q"):
    # makes the full-registry evidence legible per family — spec counts,
    # bad counts, and Spark wall-time
    fams: dict[str, dict] = {}
    for n, r in out.items():
        fam = n.split("_", 1)[0]
        fam = "q" if fam.startswith("q") and fam[1:].isdigit() else fam
        f = fams.setdefault(fam, {"n_specs": 0, "n_bad": 0,
                                  "spark_sec": 0.0, "total_sec": 0.0})
        f["n_specs"] += 1
        f["n_bad"] += bool(r["err"] or r["hash_match"] is False
                           or r["rows_match"] is False)
        f["spark_sec"] = round(f["spark_sec"] + (r.get("spark_sec") or 0), 2)
        f["total_sec"] = round(f["total_sec"] + (r.get("total_sec") or 0), 2)
    artifact = {
        "round": args.round,
        "sf_dir": SF_DIR,
        "n_specs": len(out),
        "n_bad": n_bad,
        "elapsed_sec": round(time.time() - t0, 1),
        "families": dict(sorted(fams.items())),
        "results": out,
    }
    # --only runs are spot-checks: never clobber the round artifact.
    stem = (f"CANON_r{args.round:02d}.json" if args.only is None
            else "CANON_check.json")
    path = Path(__file__).resolve().parent / stem
    path.write_text(json.dumps(artifact, indent=1))
    print(json.dumps({"canon": str(path), "n_specs": len(out),
                      "n_bad": n_bad}))


if __name__ == "__main__":
    main()
