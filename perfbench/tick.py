"""One polling tick of the paper's ETL over a local LOCA2 tree.

listing_from_fs -> manifest -> new_work against the ProcessedLog ->
decode_netcdf_tidy (local file fetcher + netcdf3_tidy_decoder) ->
write_tidy_long -> ProcessedLog.append + CursorStore.commit ->
build_catalog + write_catalog.

The tick is the benchmark's client of the package: it calls only public
functions and wraps each call in a span named after the layer it enters.
It materializes where a sensor client would: the listing once per tick,
and the new-work set as the run requests it launches. Each tick writes
its decoded batch under ``lake/batch=NNNNN`` because ``write_tidy_long``
overwrites its target path.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import functions as F

from downscaledclimatedata_spark.operators.catalog import (build_catalog,
                                                           write_catalog)
from downscaledclimatedata_spark.operators.discovery import (build_manifest,
                                                             new_work)
from downscaledclimatedata_spark.operators.ingest import (decode_netcdf_tidy,
                                                          write_tidy_long)
from downscaledclimatedata_spark.operators.listing import listing_from_fs
from downscaledclimatedata_spark.operators.netcdf3 import netcdf3_tidy_decoder
from downscaledclimatedata_spark.streaming.cursor import (CursorStore,
                                                          ProcessedLog)

from loca2tree import VARIABLES

BASE_URL = "https://cirrus.ucsd.edu/~pierce/LOCA2/CONUS_regions_split"
BUCKET = "loca2-bench"
STREAM = "loca2_monthly"
CATALOG_ID = "loca2_catalog"
MANIFEST_SCHEMA = ("model string, scenario string, memberid string, "
                   "variable string, url string, s3_key string")


def local_fetcher(root: str):
    """url -> bytes of the mirrored file ``{root}/{model}/{scenario}/{name}``.

    Built in a factory so Spark ships the closure by value.
    """
    _root = root

    def fetch(url: str) -> bytes:
        parts = url.split("/")
        with open(f"{_root}/{parts[-7]}/{parts[-3]}/{parts[-1]}", "rb") as fh:
            return fh.read()

    return fetch


@dataclass
class State:
    """Where one pipeline deployment keeps its tree and its state."""
    root: str

    @property
    def tree(self) -> str:
        return f"{self.root}/tree"

    @property
    def lake(self) -> str:
        return f"{self.root}/lake"

    @property
    def log(self) -> str:
        return f"{self.root}/state/processed"

    @property
    def cursor(self) -> str:
        return f"{self.root}/state/cursor"

    @property
    def catalog(self) -> str:
        return f"{self.root}/catalog"


@dataclass
class TickResult:
    keys_listed: int
    files_decoded: int
    quarantined: int


def manifest_from_listing(listing):
    """Listing keys ``model/scenario/file`` -> one manifest per variable."""
    parts = F.split(F.col("key"), "/")
    fname = F.element_at(parts, -1)
    files = listing.select(
        F.element_at(parts, 1).alias("model"),
        F.element_at(parts, 2).alias("scenario"),
        F.element_at(F.split(fname, r"\."), 4).alias("memberid"),
        F.element_at(F.split(fname, r"\."), 1).alias("variable"),
        fname.alias("filename"))
    out = None
    for v in VARIABLES:
        m = build_manifest(files.filter(F.col("variable") == v), v, BASE_URL)
        out = m if out is None else out.unionByName(m)
    return out


def run_tick(spark, st: State, tracer, tick_id: int) -> TickResult:
    """One tick; returns what it listed, decoded and quarantined."""
    log = ProcessedLog(spark, st.log)
    cursor = CursorStore(spark, st.cursor)
    with tracer.span("tick"):
        with tracer.span("listing"):
            listing = listing_from_fs(spark, st.tree).localCheckpoint()
            keys_listed = listing.count()
        with tracer.span("discovery.manifest"):
            manifest = manifest_from_listing(listing)
        with tracer.span("cursor.log_read"):
            processed = log.read()
        with tracer.span("discovery.new_work"):
            todo = new_work(manifest, processed).collect()
        if todo:
            with tracer.span("ingest.decode_write"):
                work = spark.createDataFrame(
                    [tuple(r[c] for c in ("model", "scenario", "memberid",
                                          "variable", "url", "s3_key"))
                     for r in todo], MANIFEST_SCHEMA)
                tidy = decode_netcdf_tidy(work, fetcher=local_fetcher(st.tree),
                                          decoder=netcdf3_tidy_decoder)
                write_tidy_long(tidy, f"{st.lake}/batch={tick_id:05d}")
            with tracer.span("cursor.log_append"):
                log.append(work)
        with tracer.span("cursor.commit"):
            groups = sorted(f"{r.model}/{r.scenario}" for r in todo)
            cursor.commit(STREAM, groups[-1] if groups else
                          (cursor.get(STREAM) or ""))
        with tracer.span("catalog.build"):
            catalog, quarantine = build_catalog(listing, bucket=BUCKET)
            quarantined = quarantine.count()
        with tracer.span("catalog.write"):
            os.makedirs(st.catalog, exist_ok=True)
            write_catalog(catalog, st.catalog, CATALOG_ID,
                          "LOCA2 monthly CONUS", "netcdf")
    return TickResult(keys_listed, len(todo), quarantined)
