"""Catalog e2e golden test against the reference's real 2,106-row catalog
snapshot (reference: tests/assets/loca2_esm_catalog.csv — shipped in the
reference repo but never automated there; SURVEY §5.1/§5.2.3).

Reconstructs the bucket listing from the fixture's `path` column, runs the
engine's full catalog pipeline, and requires the output to reproduce the
fixture exactly — including the one dirty `.ncks.tmp` key, which has >= 5
filename dot-fields and therefore parses (exactly what the reference's
parse_key does with it). The snapshot is read in place, never vendored:
without it the module is skipped.
"""

from __future__ import annotations

import csv
import os

import pytest

from downscaledclimatedata_spark.operators.catalog import build_catalog

FIXTURE = "/root/reference/tests/assets/loca2_esm_catalog.csv"
BUCKET = "ees240146"
PREFIX = "netcdf/LOCA2/monthly/"

pytestmark = pytest.mark.skipif(
    not os.path.exists(FIXTURE), reason="reference fixture not present")


def _fixture_rows():
    with open(FIXTURE, newline="") as f:
        return list(csv.DictReader(f))


def test_catalog_reproduces_reference_fixture(spark):
    rows = _fixture_rows()
    assert len(rows) == 2106
    keys = [(r["path"].removeprefix(f"s3://{BUCKET}/"),) for r in rows]
    listing = spark.createDataFrame(keys, "key string")
    catalog, quarantine = build_catalog(listing, bucket=BUCKET, prefix=PREFIX)
    got = {tuple(r) for r in catalog.collect()}
    want = {(r["variable"], r["model"], r["scheme"], r["experiment_id"],
             r["time_range"], r["path"]) for r in rows}
    assert quarantine.count() == 0
    assert len(got) == len(want) == 2106
    assert got == want


def test_fixture_stats_match_survey(spark):
    """The shape facts SURVEY §5.1 records about the snapshot hold."""
    rows = _fixture_rows()
    keys = [(r["path"].removeprefix(f"s3://{BUCKET}/"),) for r in rows]
    catalog, _ = build_catalog(spark.createDataFrame(keys, "key string"),
                               bucket=BUCKET, prefix=PREFIX)
    from pyspark.sql import functions as F
    stats = catalog.agg(
        F.countDistinct("model").alias("models"),
        F.countDistinct("scheme").alias("schemes"),
        F.countDistinct("time_range").alias("ranges")).collect()[0]
    assert stats["models"] == 27
    assert stats["schemes"] == 4
    assert stats["ranges"] == 4
