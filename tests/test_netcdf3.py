"""The stdlib NetCDF classic codec: byte-level roundtrip, CF time units,
and the full decode seam driven through Spark (manifest -> real .nc
payload -> tidy rows -> partitioned sink) — the e2e the import-guarded
xarray path could never run in-container."""

from __future__ import annotations

import os
from datetime import datetime

import pytest

from downscaledclimatedata_spark.operators.ingest import (
    LAKE_PARTITION_COLS,
    decode_netcdf_tidy,
    write_tidy_long,
)
from downscaledclimatedata_spark.operators.netcdf3 import (
    netcdf3_tidy_decoder,
    parse_netcdf3,
    write_netcdf3,
)
from tests.conftest import cdf1_fetcher

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
    mapInArrow -> tidy rows -> partition-pruned sink."""
    manifest = spark.createDataFrame(
        [("u://a.nc", "GCM1", "ssp245", "r1i1p1f1", "tasmax"),
         ("u://b.nc", "GCM2", "ssp370", "r1i1p1f1", "tasmax")],
        "url string, model string, scenario string, memberid string, variable string")
    tidy = decode_netcdf_tidy(manifest, fetcher=cdf1_fetcher(nlat=3, nlon=4),
                              decoder=netcdf3_tidy_decoder)
    rows = tidy.collect()
    assert len(rows) == 48
    values = {}
    for r in rows:
        values.setdefault(r.model, []).append(r.value)
    # each file's 24 cells count up from its own base, so rows are
    # attributable to their file
    bases = {m: min(v) for m, v in values.items()}
    assert bases["GCM1"] != bases["GCM2"]
    for m, v in values.items():
        assert sorted(v) == [bases[m] + i for i in range(24)]
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


# --- write_tidy_long against Spark's own partitioned writer ------------------
#
# The package writes the lake from the decoding worker with pyarrow; these
# cases write the same ``decode_netcdf_tidy`` relation with
# ``tidy.write.partitionBy(...).parquet`` as the reference and compare the
# two lakes: directory names, rows (Spark and DuckDB readers), physical
# column types and codecs, and instants.

# every character Spark's escapePathName escapes that a path can hold, and
# some it leaves alone (space, '}', non-ASCII)
PART_ALPHABET = "/=%:?*#'\"{[^]}\t aZ1é日"


def _write_both(spark, manifest, fetcher, root):
    """The same decode written by Spark (``spark``) and by the package
    (``lake``); returns both paths."""
    tidy = decode_netcdf_tidy(manifest, fetcher=fetcher,
                              decoder=netcdf3_tidy_decoder)
    ref, got = f"{root}/spark", f"{root}/lake"
    tidy.write.mode("overwrite").partitionBy(*LAKE_PARTITION_COLS).parquet(ref)
    write_tidy_long(tidy, got)
    return ref, got


def _parquet_files(root):
    return sorted(os.path.join(d, n) for d, _, names in os.walk(root)
                  for n in names if n.endswith(".parquet"))


def _partition_dirs(root):
    return {os.path.relpath(os.path.dirname(f), root)
            for f in _parquet_files(root)}


def _spark_rows(spark, root):
    from pyspark.sql import functions as F
    df = spark.read.parquet(root)
    cols = sorted(df.columns)
    return sorted(repr(tuple(r)) for r in df.select(
        *[F.unix_micros(c).alias(c) if c == "time" else F.col(c)
          for c in cols]).collect())


def _duckdb_rows(root):
    import duckdb
    cur = duckdb.connect().execute(
        "SELECT * REPLACE (epoch_us(time) AS time) FROM "
        f"read_parquet('{root}/**/*.parquet', hive_partitioning=true)")
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=names.__getitem__)
    return sorted(repr(tuple(r[i] for i in order)) for r in cur.fetchall())


def _physical(path):
    import pyarrow.parquet as pq
    md = pq.ParquetFile(path).metadata
    return md.num_row_groups, [
        (md.schema.column(i).name, md.schema.column(i).physical_type,
         str(md.schema.column(i).logical_type),
         md.row_group(0).column(i).compression)
        for i in range(md.num_columns)]


def test_lake_matches_spark_writer_on_escaped_partition_values(spark):
    """Partition values with every character Spark escapes, a tab, a
    space, non-ASCII text, '' and None: the package's lake has Spark's
    directory names and, read back by Spark and by DuckDB, Spark's rows."""
    import tempfile
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    part = st.one_of(st.none(), st.just(""),
                     st.text(alphabet=PART_ALPHABET, min_size=1, max_size=5))
    fetcher = cdf1_fetcher(nlon=3)

    @settings(max_examples=6, deadline=None)
    @given(files=st.lists(st.tuples(part, part, part), min_size=1, max_size=4))
    @example(files=[("a/b", "=%:?", "*#'\"{"), ("[^]}\t", " é日", ""),
                    (None, "ssp245", "tasmax")])
    def check(files):
        manifest = spark.createDataFrame(
            [(f"u://{i}.nc", m, s, "r1i1p1f1", v)
             for i, (m, s, v) in enumerate(files)],
            "url string, model string, scenario string, memberid string, "
            "variable string")
        with tempfile.TemporaryDirectory() as root:
            ref, got = _write_both(spark, manifest, fetcher, root)
            assert _partition_dirs(got) == _partition_dirs(ref)
            assert _spark_rows(spark, got) == _spark_rows(spark, ref)
            assert _duckdb_rows(got) == _duckdb_rows(ref)

    check()


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
@pytest.mark.parametrize("units,times", [
    ("days since 1850-01-01", (0.0, 40.0)),
    ("hours since 2015-11-01 00:00:00", (1.5, 5.0))])
def test_lake_times_and_types_match_spark_writer(spark, tmp_path, tz, units,
                                                  times):
    """The lake's files have Spark's physical types and codec (time as
    INT96, one row group), and its instants read back equal to Spark's own
    file and to the decode, in either session time zone, for a pre-1900
    axis and a DST-ambiguous hour."""
    from pyspark.sql import functions as F

    manifest = spark.createDataFrame(
        [("u://a.nc", "GCM1", "ssp245", "r1i1p1f1", "tasmax")],
        "url string, model string, scenario string, memberid string, "
        "variable string")
    fetcher = cdf1_fetcher(nlon=3, units=units, times=times)

    def micros(df):
        return [r.us for r in df.select(F.unix_micros("time").alias("us"),
                                        "value").orderBy("value").collect()]

    previous = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        ref, got = _write_both(spark, manifest, fetcher, str(tmp_path))
        want = micros(decode_netcdf_tidy(manifest, fetcher=fetcher,
                                         decoder=netcdf3_tidy_decoder))
        assert micros(spark.read.parquet(ref)) == want
        assert micros(spark.read.parquet(got)) == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", previous)
    [ref_file], [got_file] = _parquet_files(ref), _parquet_files(got)
    assert _physical(got_file) == _physical(ref_file)
    assert _physical(got_file)[1][1][1:] == ("INT96", "None", "SNAPPY")
