"""Ingest + convert operators (reference U1/U2 re-expressed for Spark).

The reference's two materialization assets are I/O-shaped UDFs hosted by
an orchestrator:
- `loca2_raw_netcdf` (loca2.py:18-50): HTTP streaming download piped to
  object storage, returning a {bucket, s3_key} hand-off record;
- `loca2_zarr` (loca2.py:53-103): open NetCDF with xarray, write a
  cloud-optimized Zarr store (mode='w', consolidated metadata).

Spark-first shape: ONE job over the work-manifest DataFrame using
Arrow-batched ``mapInPandas`` (download/convert) or ``mapInArrow``
(NetCDF -> tidy decode, one record batch per file built from NumPy
columns); the raw->converted hand-off is a pipelined
column (SURVEY §1.3), not a materialization boundary. Each manifest row
produces a result row ``(s3_key, status, n_bytes, output_path, error)``
so failures are data, not exceptions (reference T6/T7 semantics:
fail-fast listing, tolerant per-row processing).

The tidy lake sink, ``write_tidy_long``, takes only a
``decode_netcdf_tidy`` relation and is the same kind of job: the worker
that decodes a file writes its Arrow batch as one Parquet file,
``part-{sha1(url)[:16]}.parquet`` in the file's hive partition
directory, ``time`` as INT96 like Spark's default writer. The rows
never cross into the JVM. The job writes into a hidden staging
directory that ``functions/publish.py`` swaps in only when every file is
written, so the write overwrites its target, a replay of a file rewrites
that file's name, and a failed decode, write or publish raises and
leaves the previous lake. The target must be on a filesystem the driver
and workers share (``file:``); other schemes raise.

The transport is injected and required: ``fetcher``, ``converter`` and
``decoder`` have no defaults, so a call without one raises ``TypeError``
instead of producing rows from nothing. The implementations live in
``operators/transport.py`` (HTTP, HTTP piped to S3, xarray convert and
decode) and ``operators/netcdf3.py`` (the stdlib NetCDF classic decoder).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from downscaledclimatedata_spark.functions import publish

INGEST_RESULT_SCHEMA = T.StructType([
    T.StructField("s3_key", T.StringType()),
    T.StructField("status", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("output_path", T.StringType()),
    T.StructField("error", T.StringType()),
])


def ingest_and_convert(manifest: DataFrame,
                       fetcher: Callable[[str], bytes],
                       converter: Callable[[bytes, str], int],
                       output_root: str = "/tmp/converted") -> DataFrame:
    """manifest(url, s3_key, ...) -> result manifest, one row per file.

    Partition-parallel: each executor task downloads+converts its slice of
    the manifest independently (the reference throttles to 1 concurrent
    run, dagster.yaml:1-2 — on Spark, parallelism is the point and
    correctness comes from run-key idempotency instead).
    """
    _columns = [f.name for f in INGEST_RESULT_SCHEMA.fields]
    _root = output_root

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd
        import re as _re
        for pdf in batches:
            rows = []
            for url, s3_key in zip(pdf["url"], pdf["s3_key"]):
                # anchored: an interior ".nc" (e.g. "tasmax.nc_backup/f.nc")
                # must not be rewritten, unlike the reference's unanchored
                # replace (loca2.py:79; divergence recorded, SURVEY §7.5.3)
                out_path = _root + _re.sub(r"\.nc$", ".zarr", s3_key)
                try:
                    payload = fetcher(url)
                    n = converter(payload, out_path)
                    rows.append((s3_key, "ok", n, out_path, None))
                except Exception as exc:  # row-level tolerance (T7)
                    rows.append((s3_key, "error", 0, None, str(exc)[:200]))
            yield _pd.DataFrame(rows, columns=_columns)

    return manifest.select("url", "s3_key").mapInPandas(process, INGEST_RESULT_SCHEMA)


TIDY_SCHEMA = T.StructType([
    T.StructField("model", T.StringType()),
    T.StructField("scenario", T.StringType()),
    T.StructField("memberid", T.StringType()),
    T.StructField("variable", T.StringType()),
    T.StructField("time", T.TimestampType()),
    T.StructField("lat", T.DoubleType()),
    T.StructField("lon", T.DoubleType()),
    T.StructField("value", T.FloatType()),
])

# The manifest columns every tidy row repeats: constant within one file.
TIDY_KEYS = ("model", "scenario", "memberid", "variable")

# The lake's hive partition columns: a subset of ``TIDY_KEYS``, so each
# source file lands in one directory.
LAKE_PARTITION_COLS = ("model", "scenario", "variable")

# The private attribute on a ``decode_netcdf_tidy`` frame that carries
# ``(decode_file, files)``: the per-file decode and the manifest projection
# it maps over, so ``write_tidy_long`` can rerun the decode in its writer.
_TIDY_SOURCE = "_tidy_source"

LAKE_FILE_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("rows", T.LongType()),
])


def _tidy_file_decoder(fetcher, decoder, tz: str):
    """manifest row -> one ``pa.RecordBatch`` of ``TIDY_SCHEMA`` rows.

    A nested function, so cloudpickle ships it by value with its
    ``fetcher``/``decoder``: executors need no import of this package.
    """
    keys = TIDY_KEYS
    names = [f.name for f in TIDY_SCHEMA.fields]

    def decode_file(row: dict):
        import numpy as _np
        import pyarrow as _pa
        meta = {k: row[k] for k in keys}
        grid = decoder(fetcher(row["url"]), meta)
        n = len(grid)
        time = grid["time"]
        if time.dt.tz is None:
            time = time.dt.tz_localize(tz, ambiguous=False)
        return _pa.RecordBatch.from_arrays(
            [_pa.repeat(_pa.scalar(meta[k], _pa.string()), n) for k in keys]
            + [_pa.array(time.dt.tz_convert("UTC"),
                         _pa.timestamp("us", tz="UTC"), safe=False),
               _pa.array(grid["lat"].to_numpy(_np.float64)),
               _pa.array(grid["lon"].to_numpy(_np.float64)),
               _pa.array(grid["value"].to_numpy(_np.float32))],
            names=names)

    return decode_file


def decode_netcdf_tidy(manifest: DataFrame,
                       fetcher: Callable[[str], bytes],
                       decoder: Callable[[bytes, dict], "pd.DataFrame"]) -> DataFrame:
    """Manifest -> tidy long observations (SURVEY §1.5b analytics form).

    The Spark-idiomatic equivalent of the reference's NetCDF->Zarr
    conversion: instead of a blob-to-blob copy, each file decodes to
    `(model, scenario, memberid, variable, time, lat, lon, value)` rows,
    written as Parquet partitioned by model, scenario and variable
    (write_tidy_long), so scans on those prune partitions; a time-range
    scan does not prune (``time`` is INT96, which Spark's Parquet filter
    pushdown skips, and each file is one row group). One manifest row
    fans out to millions of observation rows.

    ``mapInArrow`` hands each decoded file to Spark as one Arrow record
    batch built from columns: the four key columns are ``pa.repeat`` of
    the manifest values, ``lat``/``lon``/``value`` come straight from the
    decoder's NumPy-backed columns, so no per-cell Python object and no
    cross-file concatenation is made. Naive decoder times are read in
    the session time zone (DST-ambiguous local times resolve to
    standard time), exactly as the pandas-to-Arrow conversion of
    ``mapInPandas`` reads them.

    The frame also carries its per-file decode and manifest projection
    as a private attribute, which ``write_tidy_long`` needs; a frame
    derived from it (``filter``, ``select``, ...) does not carry it.
    """
    decode_file = _tidy_file_decoder(
        fetcher, decoder, manifest.sparkSession.conf.get("spark.sql.session.timeZone"))

    def process(batches):
        for batch in batches:
            for row in batch.to_pylist():
                yield decode_file(row)

    files = manifest.select("url", *TIDY_KEYS)
    tidy = files.mapInArrow(process, TIDY_SCHEMA)
    setattr(tidy, _TIDY_SOURCE, (decode_file, files))
    return tidy


def _tidy_file_writer(decode_file, staging: str):
    """The ``mapInArrow`` body of ``write_tidy_long``: decode each manifest
    row with ``decode_file`` and write its rows, partition columns
    dropped, as one Parquet file under ``staging``; yield one
    ``LAKE_FILE_SCHEMA`` record per file. Nested, so it pickles by value
    like ``decode_file``."""
    # ExternalCatalogUtils.escapePathName writes these characters as %XX
    escaped = frozenset([chr(c) for c in range(1, 0x20)] + list('"#%\'*/:=?[\\]^{\x7f'))

    def escape(value) -> str:
        if not value:
            return "__HIVE_DEFAULT_PARTITION__"
        return "".join(f"%{ord(ch):02X}" if ch in escaped else ch for ch in value)

    def process(batches):
        import hashlib
        import os as _os
        import pyarrow as pa
        import pyarrow.parquet as pq
        for batch in batches:
            urls, paths, rows = [], [], []
            for row in batch.to_pylist():
                table = pa.Table.from_batches([decode_file(row)])
                table = table.select([c for c in table.column_names
                                      if c not in LAKE_PARTITION_COLS])
                rel = "/".join([f"{c}={escape(row[c])}" for c in LAKE_PARTITION_COLS]
                               + [f"part-{hashlib.sha1(row['url'].encode()).hexdigest()[:16]}.parquet"])
                # mkdir, not makedirs: a task still running after its
                # job failed must not recreate the discarded staging dir
                part_dir = staging
                for name in rel.split("/")[:-1]:
                    part_dir = f"{part_dir}/{name}"
                    try:
                        _os.mkdir(part_dir)
                    except FileExistsError:
                        pass
                pq.write_table(table, f"{staging}/{rel}", compression="snappy",
                               use_deprecated_int96_timestamps=True)
                urls.append(row["url"])
                paths.append(rel)
                rows.append(table.num_rows)
            yield pa.RecordBatch.from_arrays(
                [pa.array(urls, pa.string()), pa.array(paths, pa.string()),
                 pa.array(rows, pa.int64())], names=["url", "path", "rows"])

    return process


def write_tidy_long(df: DataFrame, path: str) -> list:
    """Analytics sink for decoded climate observations (SURVEY §1.5b):
    hive-partitioned Parquet keyed so model, scenario and variable scans
    prune partitions. Time-range scans read every file of a partition:
    ``time`` is INT96, which Spark's Parquet filter pushdown skips, and
    each file is one row group.

    Contract:
    - ``df`` must be a ``decode_netcdf_tidy`` result (``TypeError``
      otherwise, also for a frame derived from one). The write is one
      ``mapInArrow`` job over its manifest: each worker decodes a file
      and writes its Arrow batch with pyarrow, so the rows never enter
      the JVM to be converted, sorted and re-encoded.
    - ``path`` is on a filesystem the driver and every worker see at the
      same path: a ``file:`` URI, or a path without a scheme on a local
      master whose ``fs.defaultFS`` is ``file:``. Anything else
      (``s3a://``, ``hdfs://``, a bare path on a cluster) raises
      ``ValueError`` before any work.
    - Each file lands in the one directory its ``LAKE_PARTITION_COLS``
      values name, as Spark names it (escaped values,
      ``__HIVE_DEFAULT_PARTITION__`` for null or empty).
    - Each source file becomes ``part-{sha1(url)[:16]}.parquet``, with
      ``time`` as INT96 and snappy compression, as Spark's default
      writer does.
    - The job writes into a hidden staging sibling, adds ``_SUCCESS``
      and publishes it with ``publish.write_dir`` (overwrite = the
      reference's idempotent re-materialization, T4). A failed decode,
      write or publishing rename raises and leaves the target as it
      was. (A driver killed mid-job leaves the staging directory behind
      until the next write to ``path``; a glob that enters hidden
      directories, such as DuckDB's ``**``, would read it.)

    Returns one ``LAKE_FILE_SCHEMA`` row (url, path, rows) per manifest
    row; ``path`` is relative to the target.
    """
    source = vars(df).get(_TIDY_SOURCE)
    if source is None:
        raise TypeError("write_tidy_long writes a decode_netcdf_tidy result; "
                        "this DataFrame is not one (a filter or select of one "
                        "is not either)")
    decode_file, files = source

    def write(staging: str) -> list:
        os.makedirs(staging)
        written = files.mapInArrow(_tidy_file_writer(decode_file, staging),
                                   LAKE_FILE_SCHEMA).collect()
        open(os.path.join(staging, "_SUCCESS"), "wb").close()
        return written

    return publish.write_dir(publish.local_dir(files.sparkSession, path), write)
