"""Case tables for the stdlib NetCDF classic codec (operators/netcdf3.py):
every external type at several grid shapes, 4-byte padding of names,
attributes and data, the CDF-2 (64-bit offset) read path, CF time units,
the tidy melt order, and rejection of payloads the codec cannot read.

Pure Python: no Spark session is needed, so each case costs
milliseconds. The Spark seam itself is covered by tests/test_netcdf3.py.
"""

from __future__ import annotations

import struct
from datetime import datetime, timedelta

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from downscaledclimatedata_spark.operators.netcdf3 import (
    netcdf3_tidy_decoder,
    parse_netcdf3,
    write_netcdf3,
)

NC_BYTE, NC_CHAR, NC_SHORT, NC_INT, NC_FLOAT, NC_DOUBLE = 1, 2, 3, 4, 5, 6
NUMERIC_TYPES = {"byte": NC_BYTE, "short": NC_SHORT, "int": NC_INT,
                 "float": NC_FLOAT, "double": NC_DOUBLE}
_FMT = {NC_BYTE: "b", NC_SHORT: "h", NC_INT: "i", NC_FLOAT: "f",
        NC_DOUBLE: "d"}


def _values(nc_type, n):
    """``n`` values spanning the type's range, each exact in that type
    (floats are multiples of 1/4, so float32 stores them exactly)."""
    if nc_type == NC_BYTE:
        return [(i * 37) % 256 - 128 for i in range(n)]
    if nc_type == NC_SHORT:
        return [(i * 7919) % 65536 - 32768 for i in range(n)]
    if nc_type == NC_INT:
        return [(i * 2654435761) % 2**32 - 2**31 for i in range(n)]
    if nc_type == NC_FLOAT:
        return [i / 4 - 3.5 for i in range(n)]
    return [i * 0.1 - 1.0 for i in range(n)]


def _size(shape):
    n = 1
    for s in shape:
        n *= s
    return n


SHAPES = [(1,), (3,), (2, 2), (1, 5), (2, 3, 4), (3, 1, 2)]


@pytest.mark.parametrize("shape", SHAPES, ids=lambda s: "x".join(map(str, s)))
@pytest.mark.parametrize("type_name", list(NUMERIC_TYPES))
def test_roundtrip_per_type_and_shape(type_name, shape):
    nc_type = NUMERIC_TYPES[type_name]
    dims = [(f"d{i}", s) for i, s in enumerate(shape)]
    vals = _values(nc_type, _size(shape))
    blob = write_netcdf3(dims=dims, variables=[
        ("v", nc_type, [d for d, _ in dims], vals, {})])
    assert blob[:4] == b"CDF\x01"
    assert len(blob) % 4 == 0  # data section padded to a 4-byte boundary
    var = parse_netcdf3(blob)["variables"]["v"]
    assert var["type"] == nc_type
    assert var["dims"] == [d for d, _ in dims]
    assert var["data"] == vals


@pytest.mark.parametrize("rotation", range(5))
def test_mixed_type_variables_keep_their_offsets(rotation):
    """Five variables of different widths (3 cells each, so the 1- and
    2-byte types need padding) in rotated order: each must read back from
    its own ``begin`` offset."""
    names = list(NUMERIC_TYPES)
    names = names[rotation:] + names[:rotation]
    variables = [(name, NUMERIC_TYPES[name], ["n"],
                  _values(NUMERIC_TYPES[name], 3), {}) for name in names]
    parsed = parse_netcdf3(write_netcdf3(dims=[("n", 3)], variables=variables))
    assert list(parsed["variables"]) == names
    for name, nc_type, _, vals, _ in variables:
        assert parsed["variables"][name]["data"] == vals


@pytest.mark.parametrize("n", range(1, 9))
def test_char_variable_roundtrip(n):
    text = "LOCA2-cent"[:n]
    blob = write_netcdf3(dims=[("nchar", n)], variables=[
        ("label", NC_CHAR, ["nchar"], text, {})])
    assert len(blob) % 4 == 0
    var = parse_netcdf3(blob)["variables"]["label"]
    assert var["type"] == NC_CHAR
    assert var["data"] == text


@pytest.mark.parametrize("n", range(1, 10))
def test_name_padding(n):
    """Names of every length mod 4, used as dimension, coordinate
    variable, attribute name and attribute value at once."""
    name = "abcdefghi"[:n]
    blob = write_netcdf3(
        dims=[(name, 2)],
        variables=[(name, NC_INT, [name], [n, -n], {name: (NC_CHAR, name)})],
        global_attrs={name: (NC_CHAR, name)})
    parsed = parse_netcdf3(blob)
    assert parsed["dims"] == {name: 2}
    assert parsed["global_attrs"] == {name: name}
    var = parsed["variables"][name]
    assert var["attrs"] == {name: name}
    assert var["data"] == [n, -n]


@pytest.mark.parametrize("count", [1, 2, 3])
@pytest.mark.parametrize("type_name", list(NUMERIC_TYPES))
def test_numeric_attribute_roundtrip(type_name, count):
    """Attribute payloads of 1..3 values pad to 4 bytes like data does;
    a mis-padded attribute would shift every field after it."""
    nc_type = NUMERIC_TYPES[type_name]
    vals = _values(nc_type, count)
    blob = write_netcdf3(
        dims=[("n", 1)],
        variables=[("v", NC_INT, ["n"], [7],
                    {"a": (nc_type, vals), "after": (NC_CHAR, "ok")})],
        global_attrs={"g": (nc_type, vals), "after": (NC_CHAR, "ok")})
    parsed = parse_netcdf3(blob)
    assert parsed["global_attrs"] == {"g": vals, "after": "ok"}
    var = parsed["variables"]["v"]
    assert var["attrs"] == {"a": vals, "after": "ok"}
    assert var["data"] == [7]


@pytest.mark.parametrize("n", range(5))
def test_char_attribute_roundtrip(n):
    text = "days since 1950-01-01"[:n]
    blob = write_netcdf3(
        dims=[("n", 1)],
        variables=[("v", NC_INT, ["n"], [1], {"units": (NC_CHAR, text),
                                               "next": (NC_INT, [5])})])
    attrs = parse_netcdf3(blob)["variables"]["v"]["attrs"]
    assert attrs == {"units": text, "next": [5]}


def _name(s):
    b = s.encode()
    return struct.pack(">i", len(b)) + b + b"\x00" * ((4 - len(b) % 4) % 4)


def _cdf2(dims, variables, gap=0):
    """A CDF-2 file written field by field from the classic format spec:
    64-bit ``begin``, with ``gap`` unused bytes between the header and the
    data so the reader must honour ``begin``. ``variables`` are
    ``(name, nc_type, dim_names, values)`` without attributes."""
    dim_ids = {name: i for i, (name, _) in enumerate(dims)}
    head = b"CDF\x02" + struct.pack(">i", 0)
    head += struct.pack(">ii", 10, len(dims))
    for name, size in dims:
        head += _name(name) + struct.pack(">i", size)
    head += struct.pack(">ii", 0, 0)  # no global attributes
    head += struct.pack(">ii", 11, len(variables))
    entries, bodies = [], []
    for name, nc_type, var_dims, vals in variables:
        body = struct.pack(f">{len(vals)}{_FMT[nc_type]}", *vals)
        body += b"\x00" * ((4 - len(body) % 4) % 4)
        entries.append(
            _name(name)
            + struct.pack(f">i{len(var_dims)}i", len(var_dims),
                          *[dim_ids[d] for d in var_dims])
            + struct.pack(">ii", 0, 0)  # no variable attributes
            + struct.pack(">ii", nc_type, len(body)))
        bodies.append(body)
    begin = len(head) + sum(len(e) + 8 for e in entries) + gap
    for entry, body in zip(entries, bodies):
        head += entry + struct.pack(">q", begin)
        begin += len(body)
    return head + b"\xff" * gap + b"".join(bodies)


def _cdf2_blob(shape, nc_type, vals, gap):
    dims = [(f"d{i}", s) for i, s in enumerate(shape)]
    return _cdf2(dims, [("v", nc_type, [d for d, _ in dims], vals)], gap)


@pytest.mark.parametrize("gap", [0, 4, 64])
@pytest.mark.parametrize("type_name", list(NUMERIC_TYPES))
def test_cdf2_offset64_read(type_name, gap):
    nc_type = NUMERIC_TYPES[type_name]
    vals = _values(nc_type, 6)
    parsed = parse_netcdf3(_cdf2_blob((2, 3), nc_type, vals, gap))
    assert parsed["dims"] == {"d0": 2, "d1": 3}
    var = parsed["variables"]["v"]
    assert var["dims"] == ["d0", "d1"]
    assert var["data"] == vals


def _plain_blob():
    """No dimensions, no attributes, no variables: the tag words sit at
    fixed offsets 8 (dims), 16 (global attributes) and 24 (variables)."""
    blob = write_netcdf3(dims=[], variables=[])
    assert len(blob) == 32
    return blob


def _patched(offset, word):
    blob = bytearray(_plain_blob())
    blob[offset:offset + 4] = struct.pack(">i", word)
    return bytes(blob)


MALFORMED = {
    "empty": (lambda: b"", "not a NetCDF"),
    "zip": (lambda: b"PK\x03\x04 definitely a zip", "not a NetCDF"),
    "netcdf4_hdf5": (lambda: b"\x89HDF\r\n\x1a\n" + bytes(24), "not a NetCDF"),
    "version_0": (lambda: b"CDF\x00" + _plain_blob()[4:], "not a NetCDF"),
    "version_5": (lambda: b"CDF\x05" + _plain_blob()[4:], "not a NetCDF"),
    "lowercase_magic": (lambda: b"cdf\x01" + _plain_blob()[4:], "not a NetCDF"),
    "numrecs": (lambda: _patched(4, 3), "record dimension"),
    "numrecs_streaming": (lambda: _patched(4, -1), "record dimension"),
    "dim_tag": (lambda: _patched(8, 11), "bad dimension-list tag"),
    "gatt_tag": (lambda: _patched(16, 99), "bad attribute-list tag"),
    "var_tag": (lambda: _patched(24, 12), "bad variable-list tag"),
}


@pytest.mark.parametrize("case", list(MALFORMED))
def test_parse_rejects_malformed(case):
    make, message = MALFORMED[case]
    with pytest.raises(ValueError, match=message):
        parse_netcdf3(make())


def _grid_blob(nt, nlat, nlon, time_vals=None, time_type=NC_INT,
               time_attrs=None, extra=(), grid_type=NC_FLOAT):
    time_vals = list(range(nt)) if time_vals is None else time_vals
    grid = ([float(i) for i in range(nt * nlat * nlon)]
            if grid_type == NC_FLOAT else _values(grid_type, nt * nlat * nlon))
    return write_netcdf3(
        dims=[("time", nt), ("lat", nlat), ("lon", nlon)],
        variables=[
            ("time", time_type, ["time"], time_vals, time_attrs or {}),
            ("lat", NC_DOUBLE, ["lat"], [32.0 + i / 16 for i in range(nlat)],
             {}),
            ("lon", NC_DOUBLE, ["lon"],
             [-117.0 + j / 16 for j in range(nlon)], {}),
            ("tasmax", grid_type, ["time", "lat", "lon"], grid, {}),
            *extra,
        ])


TIME_CASES = {
    "days": ("days since 1950-01-01", NC_INT, [0, 1, 365],
             [datetime(1950, 1, 1), datetime(1950, 1, 2),
              datetime(1951, 1, 1)]),
    "days_with_clock": ("days since 2015-01-01 00:00:00", NC_INT, [0, 31],
                        [datetime(2015, 1, 1), datetime(2015, 2, 1)]),
    "fractional_days": ("days since 1950-01-01", NC_DOUBLE, [15.5],
                        [datetime(1950, 1, 16, 12)]),
    "hours": ("hours since 2000-01-01", NC_INT, [0, 6, 36],
              [datetime(2000, 1, 1), datetime(2000, 1, 1, 6),
               datetime(2000, 1, 2, 12)]),
    "hours_from_noon": ("hours since 1900-01-01 12:00:00", NC_INT, [12],
                        [datetime(1900, 1, 2)]),
    "seconds": ("seconds since 1970-01-01", NC_INT, [0, 90, 86400],
                [datetime(1970, 1, 1), datetime(1970, 1, 1, 0, 1, 30),
                 datetime(1970, 1, 2)]),
    "empty_units": ("", NC_INT, [0, 1],
                    [datetime(1950, 1, 1), datetime(1950, 1, 2)]),
    "no_units": (None, NC_DOUBLE, [10.0],
                 [datetime(1950, 1, 11)]),
}


@pytest.mark.parametrize("case", list(TIME_CASES))
def test_time_units(case):
    """CF ``units`` on the time coordinate; without recognised units the
    values are days since the conventional 1950-01-01 epoch."""
    units, time_type, raw, want = TIME_CASES[case]
    attrs = {} if units is None else {"units": (NC_CHAR, units)}
    blob = _grid_blob(len(raw), 1, 1, time_vals=raw, time_type=time_type,
                      time_attrs=attrs)
    tidy = netcdf3_tidy_decoder(blob, {"variable": "tasmax"})
    assert [t.to_pydatetime() for t in tidy["time"]] == want


@pytest.mark.parametrize("shape", [(1, 1, 1), (1, 2, 3), (2, 1, 1),
                                   (3, 2, 2), (2, 3, 4), (4, 1, 3)],
                         ids=lambda s: "x".join(map(str, s)))
def test_tidy_melt_is_row_major(shape):
    """Row i of the melt is grid cell i: time slowest, lon fastest."""
    nt, nlat, nlon = shape
    tidy = netcdf3_tidy_decoder(
        _grid_blob(nt, nlat, nlon,
                   time_attrs={"units": (NC_CHAR, "days since 1950-01-01")}),
        {"variable": "tasmax"})
    assert list(tidy.columns) == ["time", "lat", "lon", "value"]
    assert len(tidy) == nt * nlat * nlon
    for i, row in enumerate(tidy.itertuples(index=False)):
        t, la, lo = i // (nlat * nlon), (i // nlon) % nlat, i % nlon
        assert row.value == float(i)
        assert row.time.to_pydatetime() == datetime(1950, 1, 1 + t)
        assert row.lat == 32.0 + la / 16
        assert row.lon == -117.0 + lo / 16


SELECTION_CASES = {
    "named": ({"variable": "tasmin"}, "tasmin"),
    "unnamed": ({}, "tasmax"),
    "missing_name": ({"variable": "pr"}, "tasmax"),
    "null_name": ({"variable": None}, "tasmax"),
}


@pytest.mark.parametrize("case", list(SELECTION_CASES))
def test_tidy_variable_selection(case):
    """``meta['variable']`` picks the grid; when it is absent or names no
    variable in the file, the first 3-D variable is melted."""
    meta, want = SELECTION_CASES[case]
    tasmin = [-float(i) for i in range(2 * 2 * 3)]
    blob = _grid_blob(2, 2, 3, extra=[
        ("tasmin", NC_FLOAT, ["time", "lat", "lon"], tasmin, {})])
    got = netcdf3_tidy_decoder(blob, meta)["value"].tolist()
    assert got == (tasmin if want == "tasmin"
                   else [float(i) for i in range(12)])


def test_tidy_rejects_non_time_lat_lon_grid():
    blob = write_netcdf3(
        dims=[("lat", 2), ("time", 1), ("lon", 2)],
        variables=[("tasmax", NC_FLOAT, ["lat", "time", "lon"],
                    [1.0, 2.0, 3.0, 4.0], {})])
    with pytest.raises(ValueError, match=r"expected \(time, lat, lon\)"):
        netcdf3_tidy_decoder(blob, {"variable": "tasmax"})


def _reference_melt(blob, name):
    """The plain per-cell melt: a triple loop over the parsed lists, time
    slowest, with CF ``days since`` units (days since 1950-01-01 when the
    time variable has no units)."""
    variables = parse_netcdf3(blob)["variables"]
    units = variables["time"]["attrs"].get("units", "days since 1950-01-01")
    base = datetime.fromisoformat(units[len("days since "):])
    data = variables[name]["data"]
    rows, i = [], 0
    for t in variables["time"]["data"]:
        for la in variables["lat"]["data"]:
            for lo in variables["lon"]["data"]:
                rows.append((base + timedelta(days=t), float(la), float(lo),
                             float(data[i])))
                i += 1
    return rows


def _melt_rows(blob, name):
    return _rows(netcdf3_tidy_decoder(blob, {"variable": name}))


def _rows(tidy):
    assert list(tidy.dtypes.astype(str)) == [
        "datetime64[ns]", "float64", "float64", "float64"]
    return [(t.to_pydatetime(), la, lo, v)
            for t, la, lo, v in tidy.itertuples(index=False, name=None)]


DAYS = {"units": (NC_CHAR, "days since 1950-01-01")}


@pytest.mark.parametrize("shape", [(1, 1, 1), (2, 3, 4), (3, 1, 5)],
                         ids=lambda s: "x".join(map(str, s)))
@pytest.mark.parametrize("type_name", list(NUMERIC_TYPES))
def test_melt_matches_reference_per_grid_type(type_name, shape):
    blob = _grid_blob(*shape, time_attrs=DAYS,
                      grid_type=NUMERIC_TYPES[type_name])
    assert _melt_rows(blob, "tasmax") == _reference_melt(blob, "tasmax")


@pytest.mark.parametrize("gap", [0, 12])
def test_melt_matches_reference_on_cdf2_grid(gap):
    nt, nlat, nlon = 2, 3, 4
    blob = _cdf2(
        [("time", nt), ("lat", nlat), ("lon", nlon)],
        [("time", NC_INT, ["time"], [0, 31]),
         ("lat", NC_FLOAT, ["lat"], [32.0 + i / 16 for i in range(nlat)]),
         ("lon", NC_DOUBLE, ["lon"], [-117.0 + j / 16 for j in range(nlon)]),
         ("tasmax", NC_SHORT, ["time", "lat", "lon"],
          _values(NC_SHORT, nt * nlat * nlon))],
        gap)
    rows = _melt_rows(blob, "tasmax")
    assert rows == _reference_melt(blob, "tasmax")
    assert rows[-1][0] == datetime(1950, 2, 1)


def test_melt_matches_reference_on_fractional_days():
    """Thirds of a day are not whole microseconds of a float day count:
    every timestamp must still equal the per-cell reference exactly."""
    days = [k / 3 for k in range(10)] + [365.25, 20000 + 2 / 3]
    blob = _grid_blob(len(days), 2, 3, time_vals=days, time_type=NC_DOUBLE,
                      time_attrs=DAYS)
    rows = _melt_rows(blob, "tasmax")
    assert rows == _reference_melt(blob, "tasmax")
    assert rows[6][0] == datetime(1950, 1, 1, 8)


def _grid_data_span(blob, nc_type, n):
    """Byte range ``[begin, end)`` of the grid's data: the grid is the
    last variable, followed only by its 4-byte padding."""
    size = n * {NC_BYTE: 1, NC_SHORT: 2, NC_INT: 4, NC_FLOAT: 4,
                NC_DOUBLE: 8}[nc_type]
    end = len(blob) - (4 - size % 4) % 4
    return end - size, end


@settings(max_examples=150, deadline=None)
@given(shape=st.tuples(st.integers(1, 3), st.integers(1, 4),
                       st.integers(1, 5)),
       type_name=st.sampled_from(list(NUMERIC_TYPES)),
       where=st.floats(0, 1, exclude_max=True))
def test_grid_truncated_inside_its_data_raises(shape, type_name, where):
    """A payload cut anywhere inside the grid's data must raise, never
    melt fewer rows."""
    nc_type = NUMERIC_TYPES[type_name]
    blob = _grid_blob(*shape, grid_type=nc_type)
    begin, end = _grid_data_span(blob, nc_type, _size(shape))
    cut = begin + int(where * (end - begin))
    with pytest.raises(ValueError, match="truncated"):
        netcdf3_tidy_decoder(blob[:cut], {"variable": "tasmax"})


@settings(max_examples=150, deadline=None)
@given(type_name=st.sampled_from(list(NUMERIC_TYPES)),
       where=st.floats(0, 1, exclude_max=True))
def test_grid_truncated_anywhere_raises_or_melts_every_row(type_name, where):
    """A cut in the header, the coordinates or the grid raises; a cut
    only in the trailing padding still melts every row, identically."""
    nc_type = NUMERIC_TYPES[type_name]
    blob = _grid_blob(2, 3, 3, time_attrs=DAYS, grid_type=nc_type)
    cut = int(where * len(blob))
    try:
        tidy = netcdf3_tidy_decoder(blob[:cut], {"variable": "tasmax"})
    except Exception:
        return
    assert cut >= _grid_data_span(blob, nc_type, 18)[1]
    assert _rows(tidy) == _reference_melt(blob, "tasmax")
