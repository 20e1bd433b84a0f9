"""NetCDF classic (CDF-1/CDF-2) codec on the stdlib and NumPy: a REAL
NetCDF decode path that runs in-container, no xarray/netCDF4 required.

The reference opens NetCDF blobs with xarray (loca2.py:84-100); the
engine's equivalent seam is ``decode_netcdf_tidy``'s injectable
``decoder(payload, meta) -> DataFrame(time, lat, lon, value)``
(operators/ingest.py). The xarray-backed implementation
(transport.xarray_tidy_decoder) is import-guarded and cannot execute
here, which left the NetCDF seam untested end-to-end. This module closes
it with a from-scratch implementation of the PUBLIC NetCDF Classic
Format Specification (magic ``CDF\\x01``/``\\x02``, big-endian header:
dim list / attribute list / variable list with data offsets):

- ``write_netcdf3``: minimal writer (fixed dimensions, int/float/double/
  char variables, CF-style attributes) used to synthesize genuine ``.nc``
  payloads in tests;
- ``parse_netcdf3``: full classic-format reader (CDF-1 and CDF-2),
  every variable's data as a flat Python list;
- ``netcdf3_tidy_decoder``: the seam implementation — melts a gridded
  (time, lat, lon) variable to tidy rows, honoring CF ``units``
  ("days since ..." / "hours since ...") on the time coordinate. The
  melt is NumPy, not per-cell Python: the grid is one big-endian
  ``np.frombuffer`` view of the payload and the coordinate columns are
  ``np.repeat``/``np.tile`` of the axes.

Both readers share one header parser (``_read_header``: dimensions,
attributes, each variable's type, data offset and element count) and
one data reader, which raises when a payload ends before a variable's
data does, so a truncated file never melts to fewer rows.

Scope note: NetCDF-4 files are HDF5 containers and still need the
xarray path on a real cluster; classic-format blobs (still ubiquitous
for model output interchange) decode here with no dependency beyond
NumPy and pandas.

All codec functions are nested in a factory so Spark closures capture
them by value — executors never import this package.
"""

from __future__ import annotations


def _build_netcdf3_codecs():
    import struct
    from datetime import datetime, timedelta

    import numpy as np

    NC_BYTE, NC_CHAR, NC_SHORT, NC_INT, NC_FLOAT, NC_DOUBLE = 1, 2, 3, 4, 5, 6
    TYPE_SIZE = {NC_BYTE: 1, NC_CHAR: 1, NC_SHORT: 2, NC_INT: 4,
                 NC_FLOAT: 4, NC_DOUBLE: 8}
    TYPE_FMT = {NC_BYTE: "b", NC_SHORT: "h", NC_INT: "i",
                NC_FLOAT: "f", NC_DOUBLE: "d"}
    NP_DTYPE = {NC_BYTE: ">i1", NC_SHORT: ">i2", NC_INT: ">i4",
                NC_FLOAT: ">f4", NC_DOUBLE: ">f8"}
    TAG_DIM, TAG_VAR, TAG_ATTR = 10, 11, 12

    def _pad4(n: int) -> int:
        return (4 - n % 4) % 4

    def _pack_name(name: str) -> bytes:
        b = name.encode()
        return struct.pack(">i", len(b)) + b + b"\x00" * _pad4(len(b))

    def _pack_values(nc_type: int, values) -> bytes:
        if nc_type == NC_CHAR:
            b = values.encode() if isinstance(values, str) else bytes(values)
            return (struct.pack(">i", len(b)) + b + b"\x00" * _pad4(len(b)))
        fmt = TYPE_FMT[nc_type]
        body = struct.pack(f">{len(values)}{fmt}", *values)
        return (struct.pack(">i", len(values)) + body
                + b"\x00" * _pad4(len(body)))

    def _pack_attrs(attrs: dict) -> bytes:
        if not attrs:
            return struct.pack(">ii", 0, 0)  # ABSENT
        out = struct.pack(">ii", TAG_ATTR, len(attrs))
        for name, (nc_type, values) in attrs.items():
            out += _pack_name(name) + struct.pack(">i", nc_type)
            out += _pack_values(nc_type, values)
        return out

    def write_netcdf3(dims, variables, global_attrs=None) -> bytes:
        """Serialize a CDF-1 file.

        dims: [(name, size)] — fixed sizes only (no record dimension).
        variables: [(name, nc_type, dim_names, flat_values, attrs_dict)]
          with flat_values in row-major order over the listed dims.
        """
        dim_index = {name: i for i, (name, _) in enumerate(dims)}
        dim_sizes = dict(dims)

        def header(begins) -> bytes:
            h = b"CDF\x01" + struct.pack(">i", 0)  # numrecs = 0
            if dims:
                h += struct.pack(">ii", TAG_DIM, len(dims))
                for name, size in dims:
                    h += _pack_name(name) + struct.pack(">i", size)
            else:
                h += struct.pack(">ii", 0, 0)
            h += _pack_attrs(global_attrs or {})
            h += struct.pack(">ii", TAG_VAR, len(variables))
            for (name, nc_type, dim_names, values, attrs), begin in zip(
                    variables, begins):
                n = 1
                for d in dim_names:
                    n *= dim_sizes[d]
                vsize = n * TYPE_SIZE[nc_type]
                vsize += _pad4(vsize)
                h += _pack_name(name)
                h += struct.pack(">i", len(dim_names))
                for d in dim_names:
                    h += struct.pack(">i", dim_index[d])
                h += _pack_attrs(attrs or {})
                h += struct.pack(">iii", nc_type, vsize, begin)
            return h

        # two-pass: size the header with dummy offsets, then lay out data
        hlen = len(header([0] * len(variables)))
        begins, off = [], hlen
        payloads = []
        for name, nc_type, dim_names, values, attrs in variables:
            if nc_type == NC_CHAR:
                body = (values.encode() if isinstance(values, str)
                        else bytes(values))
            else:
                body = struct.pack(f">{len(values)}{TYPE_FMT[nc_type]}",
                                   *values)
            body += b"\x00" * _pad4(len(body))
            begins.append(off)
            payloads.append(body)
            off += len(body)
        return header(begins) + b"".join(payloads)

    def _read_name(blob: bytes, pos: int):
        (n,) = struct.unpack_from(">i", blob, pos)
        pos += 4
        name = blob[pos:pos + n].decode()
        return name, pos + n + _pad4(n)

    def _read_attrs(blob: bytes, pos: int):
        tag, count = struct.unpack_from(">ii", blob, pos)
        pos += 8
        attrs = {}
        if tag == 0:
            return attrs, pos
        if tag != TAG_ATTR:
            raise ValueError(f"bad attribute-list tag {tag}")
        for _ in range(count):
            name, pos = _read_name(blob, pos)
            (nc_type,) = struct.unpack_from(">i", blob, pos)
            pos += 4
            (n,) = struct.unpack_from(">i", blob, pos)
            pos += 4
            size = n * TYPE_SIZE[nc_type]
            if nc_type == NC_CHAR:
                attrs[name] = blob[pos:pos + n].decode()
            else:
                attrs[name] = list(struct.unpack_from(
                    f">{n}{TYPE_FMT[nc_type]}", blob, pos))
            pos += size + _pad4(size)
        return attrs, pos

    def _read_header(blob: bytes):
        """The header walk both readers share -> (dims, global_attrs,
        variables) with variables[name] = {dims, type, attrs, begin, n}:
        the byte offset of the variable's data and its element count.
        Supports CDF-1 (32-bit offsets) and CDF-2 (64-bit offsets); the
        record dimension (numrecs > 0) is out of scope and raises.
        """
        if blob[:3] != b"CDF" or blob[3] not in (1, 2):
            raise ValueError("not a NetCDF classic (CDF-1/CDF-2) payload")
        offset64 = blob[3] == 2
        pos = 4
        (numrecs,) = struct.unpack_from(">i", blob, pos)
        pos += 4
        if numrecs != 0:
            raise ValueError("record dimension not supported by the "
                             "stdlib codec; use the xarray decoder")
        tag, count = struct.unpack_from(">ii", blob, pos)
        pos += 8
        dims = []
        if tag == TAG_DIM:
            for _ in range(count):
                name, pos = _read_name(blob, pos)
                (size,) = struct.unpack_from(">i", blob, pos)
                pos += 4
                dims.append((name, size))
        elif tag != 0:
            raise ValueError(f"bad dimension-list tag {tag}")
        gattrs, pos = _read_attrs(blob, pos)
        tag, count = struct.unpack_from(">ii", blob, pos)
        pos += 8
        variables = {}
        if tag == TAG_VAR:
            for _ in range(count):
                name, pos = _read_name(blob, pos)
                (ndims,) = struct.unpack_from(">i", blob, pos)
                pos += 4
                dimids = struct.unpack_from(f">{ndims}i", blob, pos)
                pos += 4 * ndims
                vattrs, pos = _read_attrs(blob, pos)
                (nc_type, _vsize) = struct.unpack_from(">ii", blob, pos)
                pos += 8
                if offset64:
                    (begin,) = struct.unpack_from(">q", blob, pos)
                    pos += 8
                else:
                    (begin,) = struct.unpack_from(">i", blob, pos)
                    pos += 4
                n = 1
                for d in dimids:
                    n *= dims[d][1]
                variables[name] = {
                    "dims": [dims[d][0] for d in dimids],
                    "type": nc_type, "attrs": vattrs,
                    "begin": begin, "n": n,
                }
        elif tag != 0:
            raise ValueError(f"bad variable-list tag {tag}")
        return dict(dims), gattrs, variables

    def _read_data(blob: bytes, var: dict):
        """A variable's data: a str for char variables, else a read-only
        big-endian NumPy view of the payload in row-major order. Raises
        when the payload ends before the data does."""
        begin, n = var["begin"], var["n"]
        if begin + n * TYPE_SIZE[var["type"]] > len(blob):
            raise ValueError("truncated NetCDF payload: data of a variable "
                             "runs past the end of the file")
        if var["type"] == NC_CHAR:
            return blob[begin:begin + n].decode()
        return np.frombuffer(blob, NP_DTYPE[var["type"]], n, begin)

    def parse_netcdf3(blob: bytes) -> dict:
        """Classic-format reader -> {dims, global_attrs, variables} with
        variables[name] = {dims, type, attrs, data (flat row-major list,
        or a str for char variables)}.
        """
        dims, gattrs, header = _read_header(blob)
        variables = {}
        for name, var in header.items():
            data = _read_data(blob, var)
            variables[name] = {
                "dims": var["dims"], "type": var["type"],
                "attrs": var["attrs"],
                "data": data if isinstance(data, str) else data.tolist(),
            }
        return {"dims": dims, "global_attrs": gattrs, "variables": variables}

    def _decode_time(values, attrs):
        units = attrs.get("units", "")
        for unit, delta in (("days since ", timedelta(days=1)),
                            ("hours since ", timedelta(hours=1)),
                            ("seconds since ", timedelta(seconds=1))):
            if units.startswith(unit):
                base = datetime.fromisoformat(units[len(unit):].strip())
                return [base + v * delta for v in values]
        # no CF units: expose raw offsets from the conventional epoch
        return [datetime(1950, 1, 1) + timedelta(days=float(v))
                for v in values]

    def netcdf3_tidy_decoder(payload: bytes, meta: dict):
        """``decode_netcdf_tidy`` seam implementation over REAL bytes:
        pick ``meta['variable']`` (or the first 3-D variable), read its
        (time, lat, lon) coordinate variables, melt to tidy rows in
        row-major grid order (time slowest, lon fastest).

        The melt is columnar: the grid is one ``np.frombuffer`` view,
        the coordinates are ``np.repeat``/``np.tile`` of the axes, and
        only the ``nt`` time values go through ``_decode_time``."""
        import pandas as pd
        _, _, variables = _read_header(payload)
        name = meta.get("variable")
        if not name or name not in variables:
            name = next(n for n, v in variables.items() if len(v["dims"]) == 3)
        var = variables[name]
        if var["dims"] != ["time", "lat", "lon"]:
            raise ValueError(f"expected (time, lat, lon) grid, got {var['dims']}")
        time = pd.Series(_decode_time(
            _read_data(payload, variables["time"]).tolist(),
            variables["time"]["attrs"])).to_numpy()
        lat = _read_data(payload, variables["lat"]).astype(np.float64)
        lon = _read_data(payload, variables["lon"]).astype(np.float64)
        value = _read_data(payload, var).astype(np.float64)
        nt, nlat, nlon = len(time), len(lat), len(lon)
        return pd.DataFrame({
            "time": np.repeat(time, nlat * nlon),
            "lat": np.tile(np.repeat(lat, nlon), nt),
            "lon": np.tile(lon, nt * nlat),
            "value": value,
        })

    return write_netcdf3, parse_netcdf3, netcdf3_tidy_decoder


# nested functions pickle by value even through these module aliases
write_netcdf3, parse_netcdf3, netcdf3_tidy_decoder = _build_netcdf3_codecs()


# --- oracle-checked query entry ----------------------------------------------

NC_GRID = (2, 3, 4)  # (time, lat, lon) cells per synthesized file


def netcdf_decode_query(spark, sf_dir):
    """Oracle-checked NetCDF decode: each doc_id < 50 becomes a REAL
    CDF-1 payload whose cell values are value = doc_id*100 + flat_index
    (float32-exact integers); the stdlib decoder must recover them from
    the bytes through the full manifest -> fetch -> parse -> melt
    pipeline. The oracle recomputes the per-model aggregate from the
    formula alone — a green row certifies byte-level decode correctness,
    row-major melt order, and the mapInPandas fan-out at once. Values
    aggregate as longs (whole numbers, exact in float32), never float
    sums."""
    from pyspark.sql import functions as F
    from downscaledclimatedata_spark.operators.ingest import decode_netcdf_tidy
    from downscaledclimatedata_spark.sources.tables import load_table

    nt, nlat, nlon = NC_GRID
    n_cells = nt * nlat * nlon
    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 50).select("doc_id"))
    manifest = docs.select(
        F.concat(F.lit("nc://"), F.col("doc_id").cast("string")).alias("url"),
        F.concat(F.lit("M"), (F.col("doc_id") % 5).cast("string")).alias("model"),
        F.lit("ssp245").alias("scenario"),
        F.lit("r1i1p1f1").alias("memberid"),
        F.lit("tasmax").alias("variable"))
    mk = write_netcdf3

    def fetcher(url: str) -> bytes:
        doc_id = int(url.rsplit("/", 1)[-1])
        values = [float(doc_id * 100 + i) for i in range(n_cells)]
        return mk(
            dims=[("time", nt), ("lat", nlat), ("lon", nlon)],
            variables=[
                ("time", 4, ["time"], list(range(nt)),
                 {"units": (2, "days since 1950-01-01")}),
                ("lat", 6, ["lat"], [32.0 + i / 16 for i in range(nlat)], {}),
                ("lon", 6, ["lon"], [-117.0 + j / 16 for j in range(nlon)], {}),
                ("tasmax", 5, ["time", "lat", "lon"], values, {})])

    tidy = decode_netcdf_tidy(manifest, fetcher=fetcher,
                              decoder=netcdf3_tidy_decoder)
    return (tidy.groupBy("model")
            .agg(F.count("*").alias("n_cells"),
                 F.sum(F.col("value").cast("long")).alias("sum_value")))


def _netcdf_decode_sql() -> str:
    nt, nlat, nlon = NC_GRID
    n_cells = nt * nlat * nlon
    return f"""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 50),
cells AS (
  SELECT doc_id, 'M' || CAST(doc_id % 5 AS VARCHAR) AS model,
         UNNEST(range(0, {n_cells})) AS i
  FROM d)
SELECT model, COUNT(*) AS n_cells,
  CAST(SUM(doc_id * 100 + i) AS BIGINT) AS sum_value
FROM cells GROUP BY model
"""


def _register():
    from downscaledclimatedata_spark.plans import QuerySpec, register
    register(QuerySpec(
        "netcdf_decode_tidy", netcdf_decode_query, _netcdf_decode_sql(),
        description="real NetCDF classic decode: values recovered from CDF-1 bytes vs doc_id-formula oracle"))


_register()
