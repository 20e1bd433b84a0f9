"""Registry dataset + full-worklist discovery e2e.

The registry is derived from the reference's public intake-ESM catalog
fixture (read in place, never vendored): 27 models, 99 model/scenario
pairs, 329 member entries — the exact shape of the reference's
hard-coded loca2_models.py literal. Discovery then runs end-to-end over
the FULL worklist in one parallel job (discover_all), with a fake
listing fetcher that serves one matching and one decoy file per member.
"""
from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from downscaledclimatedata_spark.operators.discovery import (
    discover_all,
    member_listing_urls,
)
from downscaledclimatedata_spark.operators.registry import (
    registry_from_catalog_csv,
)

FIXTURE = "/root/reference/tests/assets/loca2_esm_catalog.csv"
BASE_URL = "https://data.test/LOCA2/CONUS_regions_split"

pytestmark = pytest.mark.skipif(
    not os.path.exists(FIXTURE), reason="reference fixture not present")


@pytest.fixture(scope="module")
def registry(spark):
    return registry_from_catalog_csv(spark, FIXTURE).cache()


def test_registry_shape_matches_reference(registry):
    """27 models / 99 pairs / 329 members (reference loca2_models.py:9-333)."""
    assert registry.select("model").distinct().count() == 27
    assert registry.select("model", "scenario").distinct().count() == 99
    assert registry.count() == 329


def test_registry_nested_roundtrip(spark, registry):
    from downscaledclimatedata_spark.operators.discovery import registry_from_nested
    nested: dict = {}
    for row in registry.collect():
        nested.setdefault(row["model"], {}).setdefault(
            row["scenario"], set()).add(row["memberid"])
    assert len(nested) == 27
    back = registry_from_nested(spark, nested)
    assert back.count() == 329
    assert (back.exceptAll(registry).count() == 0
            and registry.exceptAll(back).count() == 0)


def _make_fake_listing_fetcher():
    """Factory returning a closure (pickled BY VALUE to executors — a
    module-level function would pickle by reference to this test module,
    which workers can't import). Serves one matching monthly file and one
    daily decoy per member, derived from the URL path segments."""
    def fetch(url: str) -> str:
        parts = url.rstrip("/").split("/")
        variable, scenario, memberid, _deg, _cent, model = (
            parts[-1], parts[-2], parts[-3], parts[-4], parts[-5], parts[-6])
        good = (f"{variable}.{model}.{scenario}.{memberid}."
                f"2015-2044.LOCA_16thdeg_v20240915.monthly.cent.nc")
        decoy = (f"{variable}.{model}.{scenario}.{memberid}."
                 f"2015-2044.LOCA_16thdeg_v20240915.cent.nc")
        return (f"<html><body><a href='../'>up</a>"
                f"<a href='{good}'>g</a><a href='{decoy}'>d</a></body></html>")
    return fetch


def test_discover_all_full_worklist_e2e(spark, registry):
    """One parallel job over all 329 member listings: every member yields
    exactly its matching monthly file; daily decoys and nav links are
    rejected; the processed-log anti-join removes replayed keys."""
    _fake_listing_fetcher = _make_fake_listing_fetcher()
    processed = spark.createDataFrame([], "run_key string")
    manifest = discover_all(registry, "tasmax", BASE_URL, monthly=True,
                            processed=processed,
                            fetcher=_fake_listing_fetcher).cache()
    assert manifest.count() == 329
    # s3 keys carry the /monthly prefix (P10) and group by pair correctly
    assert manifest.filter(~F.col("s3_key").startswith("/monthly/")).count() == 0
    assert manifest.select("model", "scenario").distinct().count() == 99
    # urls embed the member's own listing path
    one = manifest.limit(1).collect()[0]
    assert one["memberid"] in one["url"] and one["url"].endswith(".nc")
    # idempotency: replay half the work, only the rest comes back
    done = (manifest.limit(150).select(F.col("s3_key").alias("run_key"))
            .localCheckpoint())
    remaining = discover_all(registry, "tasmax", BASE_URL, monthly=True,
                             processed=done, fetcher=_fake_listing_fetcher)
    assert remaining.count() == 329 - 150


def test_member_listing_urls_shape(registry):
    urls = member_listing_urls(registry, "pr", BASE_URL)
    assert urls.count() == 329
    row = urls.filter((F.col("model") == "ACCESS-CM2")
                      & (F.col("scenario") == "historical")).limit(1).collect()[0]
    assert row["listing_url"] == (
        f"{BASE_URL}/ACCESS-CM2/cent/0p0625deg/{row['memberid']}/historical/pr/")
