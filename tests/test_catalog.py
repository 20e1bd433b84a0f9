"""Catalog pipeline unit tests (mirror of the reference's test strategy,
SURVEY §5.1: parametrized parse cases + zarr chunk-key collapse + output
re-read verification)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from downscaledclimatedata_spark.operators.catalog import (
    CATALOG_COLUMNS, build_catalog, parse_key_columns, well_formed,
    write_catalog, zarr_base_path,
)


# parse-position contract: path part 1 -> model, 2 -> scheme; filename
# dot-fields 1 -> variable, 4 -> experiment_id, 5 -> time_range
# (reference parse_key, loca2.py:115-136)
PARSE_CASES = [
    ("ACCESS-CM2/historical/pr.ACCESS-CM2.historical.r1i1p1f1.1950-2014.LOCA_16thdeg_v20240915.cent.monthly.nc",
     {"variable": "pr", "model": "ACCESS-CM2", "scheme": "historical",
      "experiment_id": "r1i1p1f1", "time_range": "1950-2014"}),
    ("TaiESM1/ssp585/tasmax.TaiESM1.ssp585.r1i1p1f1.2075-2100.LOCA_16thdeg_v20220413.monthly.cent.nc",
     {"variable": "tasmax", "model": "TaiESM1", "scheme": "ssp585",
      "experiment_id": "r1i1p1f1", "time_range": "2075-2100"}),
    # leading slash produces an empty first segment that must be dropped
    ("/EC-Earth3/ssp370/tasmin.EC-Earth3.ssp370.r4i1p1f1.2015-2044.LOCA_16thdeg_v20240915.monthly.cent.zarr",
     {"variable": "tasmin", "model": "EC-Earth3", "scheme": "ssp370",
      "experiment_id": "r4i1p1f1", "time_range": "2015-2044"}),
]


@pytest.mark.parametrize("rel_key,expected", PARSE_CASES)
def test_parse_key_positions(spark, rel_key, expected):
    full_key = f"netcdf/LOCA2/{rel_key}"
    df = spark.createDataFrame([(rel_key, full_key)],
                               "rel_key string, full_key string")
    row = parse_key_columns(df, bucket="bkt").collect()[0]
    for col, val in expected.items():
        assert row[col] == val, f"{col}: {row[col]} != {val}"
    assert row["path"] == f"s3://bkt/{full_key}"


def test_zarr_chunk_collapse(spark):
    """3 listing keys for one zarr store + 1 netcdf key -> 2 catalog rows
    (reference test semantics: chunk keys collapse to the store)."""
    store = "m/s/pr.m.s.r1i1p1f1.1950-2014.LOCA_16thdeg_v1.monthly.cent.zarr"
    keys = [(f"{store}/pr/0.0.0",), (f"{store}/.zmetadata",), (store,),
            ("m/s/pr.m.s.r1i1p1f1.1950-2014.LOCA_16thdeg_v1.monthly.cent.nc",)]
    listing = spark.createDataFrame(keys, "key string")
    catalog, quarantine = build_catalog(listing, bucket="bkt")
    rows = catalog.collect()
    assert len(rows) == 2
    assert quarantine.count() == 0
    paths = {r["path"] for r in rows}
    assert f"s3://bkt/{store}" in paths


def test_cent_monthly_zarr_variant(spark):
    """The second zarr naming convention (loca2.py:197-199) collapses too."""
    store = "m/s/pr.m.s.r1i1p1f1.1950-2014.LOCA_16thdeg_v1.cent.monthly.zarr"
    df = spark.createDataFrame([(f"{store}/chunk/1",)], "key string")
    out = df.select(zarr_base_path(F.col("key")).alias("b")).collect()[0]["b"]
    assert out == store


def test_malformed_keys_quarantined(spark):
    keys = [("too-few-dots/x/a.b.nc",), ("no-slash-at-all",),
            ("m/s/ok.m.s.r1i1p1f1.1950-2014.v1.nc",),
            ("m/s/junk.ncks.tmp",)]  # the real fixture's dirty-row class
    listing = spark.createDataFrame(keys, "key string")
    catalog, quarantine = build_catalog(listing, bucket="bkt")
    assert catalog.count() == 1
    assert quarantine.count() == 3


def test_null_and_empty_keys_quarantined(spark):
    """Null/empty keys must be quarantined, not silently dropped (the
    naive ~well_formed filter loses NULL rows on both sides)."""
    from pyspark.sql import types as T
    listing = spark.createDataFrame(
        [(None,), ("",), ("m/s/ok.m.s.r1i1p1f1.1950-2014.v1.nc",)],
        T.StructType([T.StructField("key", T.StringType(), True)]))
    catalog, quarantine = build_catalog(listing, bucket="bkt")
    assert catalog.count() == 1
    assert quarantine.count() == 2  # conservation: 3 in = 1 + 2 out


def test_prefix_strip(spark):
    listing = spark.createDataFrame(
        [("netcdf/LOCA2/m/s/pr.m.s.r1i1p1f1.1950-2014.v1.nc",)], "key string")
    catalog, _ = build_catalog(listing, bucket="bkt", prefix="netcdf/LOCA2/")
    row = catalog.collect()[0]
    assert row["model"] == "m"
    assert row["scheme"] == "s"


def test_well_formed_predicate(spark):
    df = spark.createDataFrame([("a/b/c.d.e.f.g.nc",), ("a",), ("a/b/c.d",)],
                               "rel_key string")
    flags = [r[0] for r in df.select(well_formed()).collect()]
    assert flags == [True, False, False]


def test_write_catalog_roundtrip(spark, tmp_path):
    """CSV + JSON sink re-read verification (reference re-reads its CSV
    with pandas, test_loca2_esm_catalog.py:91)."""
    import json
    listing = spark.createDataFrame(
        [("m/s/pr.m.s.r1i1p1f1.1950-2014.v1.nc",),
         ("m2/s2/tasmax.m2.s2.r2i1p1f1.2015-2044.v1.nc",)], "key string")
    catalog, _ = build_catalog(listing, bucket="bkt")
    out = str(tmp_path / "cat")
    write_catalog(catalog, out, "test-catalog", "a test catalog", "netcdf")
    back = spark.read.option("header", True).csv(f"{out}/test-catalog.csv")
    assert back.count() == 2
    assert back.columns == ["variable", "model", "scheme", "experiment_id",
                            "time_range", "path"]
    spec = json.loads(open(f"{out}/test-catalog.json").read())
    assert spec["esmcat_version"] == "0.1.0"
    assert spec["assets"]["format"] == "netcdf"
    # the spec's catalog_file is the CSV itself, which pandas (and so
    # intake-ESM) opens, not Spark's output directory
    import pandas as pd
    got = pd.read_csv(spec["catalog_file"])
    assert list(got.columns) == back.columns
    assert sorted(got["variable"]) == ["pr", "tasmax"]
    assert sorted(got["path"]) == [
        "s3://bkt/m/s/pr.m.s.r1i1p1f1.1950-2014.v1.nc",
        "s3://bkt/m2/s2/tasmax.m2.s2.r2i1p1f1.2015-2044.v1.nc"]


def test_write_catalog_to_file_uri_refuses_object_stores(spark, tmp_path):
    """``out_dir`` may be a ``file:`` URI; a scheme the sink cannot write
    locally raises ``ValueError`` before any Spark job. A rewrite
    replaces the catalog and leaves nothing beside it."""
    import json
    import os

    import pandas as pd
    import pytest
    listing = spark.createDataFrame(
        [("m/s/pr.m.s.r1i1p1f1.1950-2014.v1.nc",)], "key string")
    catalog, _ = build_catalog(listing, bucket="bkt")
    sc = spark.sparkContext
    sc.setJobGroup("catalog-s3a", "write_catalog to s3a")
    try:
        with pytest.raises(ValueError, match="s3a://"):
            write_catalog(catalog, "s3a://bkt/catalog", "c", "d", "netcdf")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("catalog-s3a")) == []
    for _ in range(2):
        write_catalog(catalog, f"file://{tmp_path}/cat", "c", "d", "netcdf")
    assert sorted(os.listdir(tmp_path / "cat")) == ["c.csv", "c.json"]
    spec = json.loads((tmp_path / "cat" / "c.json").read_text())
    assert list(pd.read_csv(spec["catalog_file"])["path"]) == [
        "s3://bkt/m/s/pr.m.s.r1i1p1f1.1950-2014.v1.nc"]


def _spec(out, catalog_id="c"):
    import json
    with open(f"{out}/{catalog_id}.json") as f:
        return json.load(f)


def test_write_catalog_quoting_roundtrip(spark, tmp_path):
    """Commas, double quotes, non-ASCII text and edge whitespace in the
    keys come back exactly, through the spec's ``catalog_file`` with
    pandas and through the directory with DuckDB; rows are in catalog
    column order, and ``catalog_file`` is the same on every write."""
    import duckdb
    import pandas as pd
    listing = spark.createDataFrame(
        [("m,1/s/pr.m,1.s.r1i1p1f1.1950-2014.v1.nc",),
         ('m"q/s/pr.m"q.s.r"1.1950-2014.v1.nc',),
         ("Modèle/ssp245/tas.Modèle.ssp245.r1i1p1f1.2015-2044.v1.nc",),
         (" m/s /tasmax.m.s .r1i1p1f1.2015-2044.v1.nc",)], "key string")
    catalog, _ = build_catalog(listing, bucket="bkt")
    want = sorted(tuple(r) for r in catalog.collect())
    out = str(tmp_path / "cat")
    write_catalog(catalog, out, "c", "d", "netcdf")
    first = _spec(out)["catalog_file"]
    write_catalog(catalog, out, "c", "d", "netcdf")
    assert _spec(out)["catalog_file"] == first == f"{out}/c.csv/part-00000.csv"

    got = pd.read_csv(first, dtype=str, keep_default_na=False)
    assert tuple(got.columns) == CATALOG_COLUMNS
    assert list(got.itertuples(index=False, name=None)) == want
    got = duckdb.sql(f"SELECT * FROM read_csv('{out}/c.csv/*.csv', "
                     f"header=true, all_varchar=true)").fetchall()
    assert sorted(got) == want


def test_write_catalog_over_cap_keeps_the_old_catalog(spark, tmp_path,
                                                      monkeypatch):
    """A catalog above ``CATALOG_MAX_ROWS`` raises before anything is
    written: the old spec and CSV stay byte for byte."""
    import os

    from downscaledclimatedata_spark.operators import catalog as catalog_mod
    keys = ["m/s/pr.m.s.r1i1p1f1.1950-2014.v1.nc",
            "m2/s2/tasmax.m2.s2.r2i1p1f1.2015-2044.v1.nc"]
    out = str(tmp_path / "cat")

    def write(keys, description):
        listing = spark.createDataFrame([(k,) for k in keys], "key string")
        write_catalog(build_catalog(listing, bucket="bkt")[0], out, "c",
                      description, "netcdf")

    def snapshot():
        return {n: open(f"{root}/{n}", "rb").read()
                for root, _, names in os.walk(out) for n in names}

    monkeypatch.setattr(catalog_mod, "CATALOG_MAX_ROWS", 1)
    write(keys[:1], "old")
    old = snapshot()
    with pytest.raises(ValueError, match="more than 1 rows"):
        write(keys, "new")
    assert snapshot() == old
    assert sorted(os.listdir(out)) == ["c.csv", "c.json"]
