"""The stdlib NetCDF classic codec: byte-level roundtrip, CF time units,
and the full decode seam driven through Spark (manifest -> real .nc
payload -> tidy rows -> partitioned sink) — the e2e the import-guarded
xarray path could never run in-container."""

from __future__ import annotations

from datetime import datetime

import pytest

from downscaledclimatedata_spark.operators.ingest import (
    decode_netcdf_tidy,
    write_tidy_long,
)
from downscaledclimatedata_spark.operators.netcdf3 import (
    netcdf3_tidy_decoder,
    parse_netcdf3,
    write_netcdf3,
)

# imported name is used inside executor closures below; it pickles by
# value because the codec functions are nested (see netcdf3.py)

NC_INT, NC_FLOAT, NC_DOUBLE = 4, 5, 6


def _sample_blob(nt=2, nlat=3, nlon=4, base_val=0.0):
    values = [base_val + i for i in range(nt * nlat * nlon)]
    return write_netcdf3(
        dims=[("time", nt), ("lat", nlat), ("lon", nlon)],
        variables=[
            ("time", NC_INT, ["time"], list(range(nt)),
             {"units": (2, "days since 1950-01-01")}),
            ("lat", NC_DOUBLE, ["lat"], [32.0 + i / 16 for i in range(nlat)],
             {}),
            ("lon", NC_DOUBLE, ["lon"], [-117.0 + j / 16 for j in range(nlon)],
             {}),
            ("tasmax", NC_FLOAT, ["time", "lat", "lon"], values,
             {"units": (2, "K")}),
        ],
        global_attrs={"title": (2, "synthetic LOCA2-shaped grid")})


def test_roundtrip_header_and_data():
    blob = _sample_blob()
    assert blob[:4] == b"CDF\x01"
    parsed = parse_netcdf3(blob)
    assert parsed["dims"] == {"time": 2, "lat": 3, "lon": 4}
    assert parsed["global_attrs"]["title"] == "synthetic LOCA2-shaped grid"
    var = parsed["variables"]["tasmax"]
    assert var["dims"] == ["time", "lat", "lon"]
    assert var["attrs"]["units"] == "K"
    assert var["data"] == [float(i) for i in range(24)]
    assert parsed["variables"]["time"]["attrs"]["units"] == "days since 1950-01-01"


def test_odd_length_names_and_char_padding():
    """3- and 5-char names exercise the 4-byte padding rules."""
    blob = write_netcdf3(
        dims=[("abc", 2), ("defgh", 1)],
        variables=[("v", NC_INT, ["abc", "defgh"], [7, 9], {})])
    parsed = parse_netcdf3(blob)
    assert parsed["dims"] == {"abc": 2, "defgh": 1}
    assert parsed["variables"]["v"]["data"] == [7, 9]


def test_parse_rejects_non_netcdf():
    with pytest.raises(ValueError, match="not a NetCDF"):
        parse_netcdf3(b"PK\x03\x04 definitely a zip")


def test_tidy_decoder_melts_grid_with_cf_time():
    blob = _sample_blob()
    tidy = netcdf3_tidy_decoder(blob, {"variable": "tasmax"})
    assert list(tidy.columns) == ["time", "lat", "lon", "value"]
    assert len(tidy) == 24
    assert tidy["time"].iloc[0] == datetime(1950, 1, 1)
    assert tidy["time"].iloc[-1] == datetime(1950, 1, 2)
    # row-major order: value == its flat index in this synthetic grid
    assert tidy["value"].tolist() == [float(i) for i in range(24)]
    assert tidy["lat"].nunique() == 3 and tidy["lon"].nunique() == 4


def test_decode_seam_through_spark(spark, tmp_path):
    """Full S4/U2 path with REAL NetCDF bytes: manifest -> fetcher
    returning a synthesized .nc blob -> stdlib decoder inside
    mapInPandas -> tidy rows -> partition-pruned sink."""
    manifest = spark.createDataFrame(
        [("u://a.nc", "GCM1", "ssp245", "r1i1p1f1", "tasmax"),
         ("u://b.nc", "GCM2", "ssp370", "r1i1p1f1", "tasmax")],
        "url string, model string, scenario string, memberid string, variable string")

    # write_netcdf3 is a nested function (pickled by value), so the
    # executor-side closure needs no package import
    mk = write_netcdf3

    def fetcher(url):
        # distinct base values per file so rows are attributable
        base = 100.0 if url.endswith("a.nc") else 200.0
        values = [base + i for i in range(2 * 3 * 4)]
        return mk(
            dims=[("time", 2), ("lat", 3), ("lon", 4)],
            variables=[
                ("time", 4, ["time"], [0, 1],
                 {"units": (2, "days since 1950-01-01")}),
                ("lat", 6, ["lat"], [32.0, 32.5, 33.0], {}),
                ("lon", 6, ["lon"], [-117.0, -116.5, -116.0, -115.5], {}),
                ("tasmax", 5, ["time", "lat", "lon"], values, {})])

    tidy = decode_netcdf_tidy(manifest, fetcher=fetcher,
                              decoder=netcdf3_tidy_decoder)
    rows = tidy.collect()
    assert len(rows) == 48
    by_model = {}
    for r in rows:
        by_model.setdefault(r.model, []).append(r)
    assert len(by_model["GCM1"]) == 24 and len(by_model["GCM2"]) == 24
    assert min(r.value for r in by_model["GCM1"]) == 100.0
    assert min(r.value for r in by_model["GCM2"]) == 200.0
    assert all(r.variable == "tasmax" for r in rows)

    out = str(tmp_path / "tidy")
    write_tidy_long(tidy, out)
    back = spark.read.parquet(out)
    assert back.count() == 48
    pruned = back.filter("model = 'GCM1' AND scenario = 'ssp245'")
    assert pruned.count() == 24


def test_codec_roundtrip_property():
    """Property: arbitrary small grids of ints/doubles survive the
    write->parse roundtrip exactly (doubles are stored as NC_DOUBLE, so
    no float32 narrowing)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        sizes=st.lists(st.integers(1, 4), min_size=1, max_size=3),
        use_double=st.booleans(),
        seed=st.integers(0, 10**6),
    )
    def check(sizes, use_double, seed):
        import random
        rng = random.Random(seed)
        dims = [(f"d{i}", s) for i, s in enumerate(sizes)]
        n = 1
        for s in sizes:
            n *= s
        if use_double:
            vals = [rng.randint(-10**6, 10**6) / 8.0 for _ in range(n)]
            nc_type = NC_DOUBLE
        else:
            vals = [rng.randint(-2**31 + 1, 2**31 - 1) for _ in range(n)]
            nc_type = NC_INT
        blob = write_netcdf3(
            dims=dims,
            variables=[("v", nc_type, [d for d, _ in dims], vals,
                        {"units": (2, "arbitrary")})])
        parsed = parse_netcdf3(blob)
        assert parsed["dims"] == dict(dims)
        got = parsed["variables"]["v"]["data"]
        assert got == [float(v) if use_double else v for v in vals]

    check()


@pytest.mark.parametrize("tz", ["America/New_York", "Asia/Kolkata"])
def test_decode_times_follow_session_time_zone(spark, tz):
    """Decoded times carry no zone; ``decode_netcdf_tidy`` reads them in
    the session time zone, and a DST-ambiguous local time (01:30 on
    2015-11-01 in New York) resolves to standard time, as pandas'
    ``tz_localize(tz, ambiguous=False)`` does."""
    import pandas as pd
    from pyspark.sql import functions as F

    hours = [0, 1.5, 5, 24 * 200 + 7.25]
    blob = write_netcdf3(
        dims=[("time", len(hours)), ("lat", 1), ("lon", 1)],
        variables=[
            ("time", NC_DOUBLE, ["time"], hours,
             {"units": (2, "hours since 2015-11-01 00:00:00")}),
            ("lat", NC_DOUBLE, ["lat"], [32.0], {}),
            ("lon", NC_DOUBLE, ["lon"], [-117.0], {}),
            ("tasmax", NC_FLOAT, ["time", "lat", "lon"],
             [float(i) for i in range(len(hours))], {})])
    naive = netcdf3_tidy_decoder(blob, {"variable": "tasmax"})["time"]
    want = (naive.dt.tz_localize(tz, ambiguous=False).dt.tz_convert("UTC")
            - pd.Timestamp("1970-01-01", tz="UTC")) // pd.Timedelta("1us")

    manifest = spark.createDataFrame(
        [("u://a.nc", "GCM1", "ssp245", "r1i1p1f1", "tasmax")],
        "url string, model string, scenario string, memberid string, "
        "variable string")

    def fetcher(url):
        return blob

    previous = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        tidy = decode_netcdf_tidy(manifest, fetcher=fetcher,
                                  decoder=netcdf3_tidy_decoder)
        got = [r.us for r in tidy.select(
            F.unix_micros("time").alias("us"), "value").orderBy("value")
            .collect()]
    finally:
        spark.conf.set("spark.sql.session.timeZone", previous)
    assert got == want.tolist()
