"""Discovery pipeline unit tests: registry flatten, regex filter,
manifest projection, cursor progression, idempotency (mirrors the
reference's sensor tests, SURVEY §5.1 test_local2_sensors semantics)."""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

# test-local callables (fake fetchers) cross into executor workers where
# this module is not importable — pickle them by value instead
from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])

from downscaledclimatedata_spark.operators.discovery import (
    build_manifest, discover_all, file_pattern, filter_filenames, group_keys,
    monthly_prefixed_key, new_work, next_group, registry_from_nested,
)
from downscaledclimatedata_spark.streaming.cursor import ProcessedLog

# deliberately unsorted (the reference's fixture is too — sorting is
# under test)
TEST_MODELS = {
    "ZModel": {"historical": {"r1i1p1f1"}},
    "AModel": {"ssp245": {"r1i1p1f1", "r2i1p1f1"}, "historical": {"r1i1p1f1"}},
    "MModel": {"ssp585": {"r3i1p1f2"}},
}


def test_registry_flatten(spark):
    reg = registry_from_nested(spark, TEST_MODELS)
    assert reg.count() == 5
    assert reg.columns == ["model", "scenario", "memberid"]


def test_group_keys_sorted_distinct(spark):
    reg = registry_from_nested(spark, TEST_MODELS)
    keys = [r["ms"] for r in group_keys(reg).orderBy("ms").collect()]
    assert keys == ["AModel/historical", "AModel/ssp245", "MModel/ssp585",
                    "ZModel/historical"]


def test_cursor_progression(spark):
    """fresh -> first group; mid -> next group; exhausted -> None
    (reference cursor tests semantics)."""
    reg = registry_from_nested(spark, TEST_MODELS)
    assert next_group(reg, None) == ("AModel", "historical")
    assert next_group(reg, "AModel/historical") == ("AModel", "ssp245")
    assert next_group(reg, "AModel/ssp245") == ("MModel", "ssp585")
    assert next_group(reg, "ZModel/historical") is None


def test_file_pattern_monthly_vs_daily(spark):
    files = spark.createDataFrame(
        [("tasmax.AModel.ssp245.r1i1p1f1.2015-2044.LOCA_16thdeg_v20240915.monthly.cent.nc",),
         ("tasmax.AModel.ssp245.r1i1p1f1.2015-2044.LOCA_16thdeg_v20240915.cent.monthly.nc",),
         ("tasmax.AModel.ssp245.r1i1p1f1.2015-2044.LOCA_16thdeg_v20240915.cent.nc",),
         ("pr.AModel.ssp245.r1i1p1f1.2015-2044.LOCA_16thdeg_v20240915.monthly.cent.nc",),
         ("index.html",), ("../",), ("tasmax.ncks.tmp",)],
        "filename string")
    monthly = file_pattern("tasmax", "AModel", "ssp245", "r1i1p1f1", monthly=True)
    daily = file_pattern("tasmax", "AModel", "ssp245", "r1i1p1f1", monthly=False)
    # both monthly naming conventions accepted; daily + junk rejected
    assert filter_filenames(files, monthly).count() == 2
    assert filter_filenames(files, daily).count() == 1


def test_manifest_projection(spark):
    files = spark.createDataFrame(
        [("AModel", "ssp245", "r1i1p1f1",
          "tasmax.AModel.ssp245.r1i1p1f1.2015-2044.LOCA_16thdeg_v20240915.monthly.cent.nc")],
        "model string, scenario string, memberid string, filename string")
    m = build_manifest(files, "tasmax", "https://example.test/LOCA2/").collect()[0]
    assert m["url"] == ("https://example.test/LOCA2/AModel/cent/0p0625deg/r1i1p1f1/"
                        "ssp245/tasmax/tasmax.AModel.ssp245.r1i1p1f1.2015-2044."
                        "LOCA_16thdeg_v20240915.monthly.cent.nc")
    assert m["s3_key"].startswith("/AModel/ssp245/tasmax.")
    assert m["variable"] == "tasmax"


def test_monthly_key_prefix(spark):
    df = spark.createDataFrame([("/m/s/file.nc",)], "s3_key string")
    with_prefix = df.select(monthly_prefixed_key(F.col("s3_key"), True).alias("k"))
    without = df.select(monthly_prefixed_key(F.col("s3_key"), False).alias("k"))
    assert with_prefix.collect()[0]["k"] == "/monthly/m/s/file.nc"
    assert without.collect()[0]["k"] == "/m/s/file.nc"


def _fake_listing_fetcher(url: str) -> str:
    """Fake UCSD directory listing: the member id is embedded in the url
    (…/0p0625deg/<member>/<scenario>/<variable>/), yields two matching
    files, one daily file, and junk anchors."""
    member = url.rstrip("/").split("/0p0625deg/")[1].split("/")[0]
    scenario = url.rstrip("/").split("/")[-2]
    variable = url.rstrip("/").split("/")[-1]
    # infer model from the path start after base
    model = url.split("/cent/")[0].rstrip("/").rsplit("/", 1)[-1]
    stem = f"{variable}.{model}.{scenario}.{member}.2015-2044.LOCA_16thdeg_v20240915"
    return f"""<html><body>
      <a href="../">up</a>
      <a href="{stem}.monthly.cent.nc">f1</a>
      <a href="{stem}.cent.monthly.nc">f2</a>
      <a href="{stem}.cent.nc">daily</a>
      <a href="index.html">idx</a>
    </body></html>"""


def test_crawl_listings_extracts_anchors(spark):
    from downscaledclimatedata_spark.operators.discovery import crawl_listings
    seeds = spark.createDataFrame(
        [("https://x.test/LOCA2/AModel/cent/0p0625deg/r1i1p1f1/ssp245/tasmax/",)],
        "listing_url string")
    rows = crawl_listings(seeds, fetcher=_fake_listing_fetcher).collect()
    names = sorted(r["filename"] for r in rows)
    assert len(names) == 5 and "../" in names and "index.html" in names


def test_discovery_tick_end_to_end(spark):
    """Full tick parity with the reference's sensor tests: first tick
    emits the first group's files and advances the cursor; the regex
    keeps both monthly conventions and drops daily+junk; replayed keys
    are suppressed; an exhausted cursor yields (None, None)."""
    from downscaledclimatedata_spark.operators.discovery import (
        discovery_tick, registry_from_nested)
    reg = registry_from_nested(spark, TEST_MODELS)
    empty_log = spark.createDataFrame([], "run_key string")

    manifest, cur = discovery_tick(
        reg, None, "tasmax", "https://x.test/LOCA2", monthly=True,
        processed=empty_log, fetcher=_fake_listing_fetcher)
    assert cur == "AModel/historical"
    rows = manifest.collect()
    # 1 member x 2 monthly conventions
    assert len(rows) == 2
    assert all(r["s3_key"].startswith("/monthly/AModel/historical/") for r in rows)
    assert all(r["variable"] == "tasmax" for r in rows)
    assert all("r1i1p1f1" in r["url"] for r in rows)

    # replay suppression: mark one file processed, re-run the same tick
    log = spark.createDataFrame([(rows[0]["s3_key"],)], "run_key string")
    manifest2, _ = discovery_tick(
        reg, None, "tasmax", "https://x.test/LOCA2", monthly=True,
        processed=log, fetcher=_fake_listing_fetcher)
    assert manifest2.count() == 1

    # second tick: next group (2 members x 2 files), then exhaustion
    manifest3, cur3 = discovery_tick(
        reg, cur, "tasmax", "https://x.test/LOCA2", monthly=True,
        processed=empty_log, fetcher=_fake_listing_fetcher)
    assert cur3 == "AModel/ssp245"
    assert manifest3.count() == 4
    out = discovery_tick(
        reg, "ZModel/historical", "tasmax", "https://x.test/LOCA2",
        monthly=True, processed=empty_log, fetcher=_fake_listing_fetcher)
    assert out == (None, None)


# 2 models x 2 scenarios, 8 members in all
WORKLIST_MODELS = {
    "BModel": {"ssp585": {"r1i1p1f1", "r2i1p1f1"}, "historical": {"r1i1p1f1"}},
    "AModel": {"historical": {"r1i1p1f1", "r2i1p1f1"},
               "ssp245": {"r1i1p1f1", "r3i1p1f1", "r4i1p1f1"}},
}


def test_discover_all_full_worklist(spark, tmp_path):
    """One job over every group: each member yields its two monthly files
    (daily file and junk anchors rejected), keys carry the /monthly
    prefix, and keys appended to the processed log are not emitted
    again."""
    reg = registry_from_nested(spark, WORKLIST_MODELS)
    log = ProcessedLog(spark, str(tmp_path / "log"))

    manifest = discover_all(reg, "tasmax", "https://x.test/LOCA2", monthly=True,
                            processed=log.read(),
                            fetcher=_fake_listing_fetcher).cache()
    rows = manifest.collect()
    assert len(rows) == 8 * 2
    assert len({r["s3_key"] for r in rows}) == 16
    assert all(r["s3_key"].startswith(f"/monthly/{r['model']}/{r['scenario']}/")
               for r in rows)
    assert {(r["model"], r["scenario"]) for r in rows} == {
        ("AModel", "historical"), ("AModel", "ssp245"),
        ("BModel", "historical"), ("BModel", "ssp585")}

    log.append(manifest.filter(F.col("model") == "AModel"))
    remaining = discover_all(reg, "tasmax", "https://x.test/LOCA2", monthly=True,
                             processed=log.read(), fetcher=_fake_listing_fetcher)
    assert sorted(r["s3_key"] for r in remaining.collect()) == sorted(
        r["s3_key"] for r in rows if r["model"] == "BModel")


def test_idempotency_anti_join(spark):
    manifest = spark.createDataFrame(
        [("/a/1.nc",), ("/a/2.nc",), ("/a/3.nc",)], "s3_key string")
    processed = spark.createDataFrame(
        [("/a/1.nc",), ("/a/1.nc",)], "run_key string")  # dup log entries ok
    remaining = new_work(manifest, processed)
    keys = sorted(r["s3_key"] for r in remaining.collect())
    assert keys == ["/a/2.nc", "/a/3.nc"]
    # re-running with everything processed emits zero rows
    all_done = spark.createDataFrame(
        [("/a/1.nc",), ("/a/2.nc",), ("/a/3.nc",)], "run_key string")
    assert new_work(manifest, all_done).count() == 0
