"""Real listing sources (S6): filesystem tree via pruned binaryFile scan,
S3 via (fake-client) paginators on the executors, and the
catalog fixture e2e driven from a MATERIALIZED local directory tree
instead of an injected DataFrame.

The fs-listing tests walk a small synthetic tree in LOCA2 key grammar,
so they run everywhere; only the golden e2e needs the reference's real
catalog snapshot and is skipped without it.
"""

from __future__ import annotations

import contextlib
import csv
import io
import os

import pytest

from downscaledclimatedata_spark.operators.catalog import build_catalog
from downscaledclimatedata_spark.operators.listing import (
    listing_from_fs,
    listing_from_s3_distributed,
)

FIXTURE = "/root/reference/tests/assets/loca2_esm_catalog.csv"
BUCKET = "ees240146"
PREFIX = "netcdf/LOCA2/monthly/"

# {model}/{scenario}/{var}.{model}.{scenario}.{member}.{range}.{version}
# .monthly.cent.nc under the bucket prefix, plus one dirty `.ncks.tmp`
# key like the one in the real snapshot
SYNTHETIC_KEYS = [
    f"{PREFIX}{model}/{scenario}/{var}.{model}.{scenario}.r1i1p1f1.{rng}"
    ".LOCA_16thdeg_v20240915.monthly.cent.nc"
    for model in ("ACCESS-CM2", "CNRM-ESM2-1")
    for scenario, rng in (("historical", "1950-2014"),
                          ("ssp245", "2015-2044"))
    for var in ("pr", "tasmax")
] + [f"{PREFIX}ACCESS-CM2/ssp245/tasmax.ACCESS-CM2.ssp245.r1i1p1f1."
     "2015-2044.LOCA_16thdeg_v20240915.monthly.cent.nc.ncks.tmp"]


def _fixture_keys():
    with open(FIXTURE, newline="") as f:
        return [r["path"].removeprefix(f"s3://{BUCKET}/")
                for r in csv.DictReader(f)]


def _materialize(root, keys):
    """``keys`` as real files on disk under ``root``."""
    for key in keys:
        p = root / key
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(b"x")  # non-empty so size is meaningful
    return str(root)


@pytest.fixture(scope="module")
def synthetic_tree(tmp_path_factory):
    return _materialize(tmp_path_factory.mktemp("synthetic_tree"),
                        SYNTHETIC_KEYS)


@pytest.fixture(scope="module")
def fixture_tree(tmp_path_factory):
    """The reference catalog snapshot materialized as real files on disk."""
    return _materialize(tmp_path_factory.mktemp("bucket_tree"),
                        _fixture_keys())


def test_listing_from_fs_lists_all_keys(spark, synthetic_tree):
    got = listing_from_fs(spark, synthetic_tree).collect()
    assert {r.key for r in got} == set(SYNTHETIC_KEYS)
    assert all(r.size == 1 for r in got)
    assert all(r.last_modified for r in got)


def test_listing_from_fs_uri_root(spark, synthetic_tree):
    """A ``file:`` URI root lists the same bucket-style keys as the plain
    path. Hadoop prints local paths as ``file:/abs``, which a literal
    ``file:///abs`` root never matches."""
    for root in (f"file://{synthetic_tree}", f"file:{synthetic_tree}/"):
        got = listing_from_fs(spark, root).collect()
        assert {r.key for r in got} == set(SYNTHETIC_KEYS), root


def test_listing_from_fs_prunes_content(spark, synthetic_tree):
    """The listing must be metadata-only: the binaryFile scan's ReadSchema
    must not include the content column (else every byte is read)."""
    df = listing_from_fs(spark, synthetic_tree)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    read = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "content" not in read, f"listing scan reads file content: {read}"


@pytest.mark.skipif(not os.path.exists(FIXTURE),
                    reason="reference fixture not present")
def test_catalog_e2e_from_materialized_tree(spark, fixture_tree):
    """Full S6 path: real directory walk -> build_catalog == fixture."""
    listing = listing_from_fs(spark, fixture_tree)
    catalog, quarantine = build_catalog(listing, bucket=BUCKET, prefix=PREFIX)
    got = {tuple(r) for r in catalog.collect()}
    with open(FIXTURE, newline="") as f:
        want = {(r["variable"], r["model"], r["scheme"], r["experiment_id"],
                 r["time_range"], r["path"]) for r in csv.DictReader(f)}
    assert quarantine.count() == 0
    assert got == want


def _client_factory(pages_by_prefix):
    """A zero-arg factory of fake S3 clients whose ``list_objects_v2``
    pages are ``pages_by_prefix[prefix]``, shaped like botocore's. The
    classes are built INSIDE the factory: it runs on the executors, where
    classes defined at test-module level don't unpickle."""

    def factory():
        class Paginator:
            def paginate(self, Bucket, Prefix=""):
                return iter(pages_by_prefix.get(Prefix, [{}]))

        class Client:
            def get_paginator(self, name):
                assert name == "list_objects_v2"
                return Paginator()

        return Client()

    return factory


def _pages(prefix, n_keys, per_page=2):
    keys = [f"{prefix}model{i}/file.{i}.nc" for i in range(n_keys)]
    pages = []
    for i in range(0, n_keys, per_page):
        pages.append({"Contents": [
            {"Key": k, "Size": 10, "LastModified": "2024-01-01"}
            for k in keys[i:i + per_page]]})
    return pages or [{}]


def test_listing_from_s3_distributed_paginates(spark):
    factory = _client_factory({"a/": _pages("a/", 5)})
    df = listing_from_s3_distributed(spark, "bkt", ["a/"], client_factory=factory)
    rows = df.collect()
    assert len(rows) == 5
    assert {r.key for r in rows} == {f"a/model{i}/file.{i}.nc" for i in range(5)}
    assert all(r.size == 10 for r in rows)


def test_listing_from_s3_distributed_empty_prefix(spark):
    factory = _client_factory({})
    assert listing_from_s3_distributed(
        spark, "bkt", ["none/"], client_factory=factory).count() == 0


def test_listing_from_s3_distributed_runs_on_executors(spark):
    """Each prefix pages independently inside mapInPandas; the union of
    per-prefix listings must equal the flat listing."""
    factory = _client_factory({f"p{i}/": _pages(f"p{i}/", 3) for i in range(4)})
    df = listing_from_s3_distributed(
        spark, "bkt", [f"p{i}/" for i in range(4)], client_factory=factory)
    rows = df.collect()
    assert len(rows) == 12
    assert {r.key for r in rows} == {
        f"p{i}/model{j}/file.{j}.nc" for i in range(4) for j in range(3)}


def test_listing_feeds_catalog(spark):
    """The S3 listing relation plugs straight into build_catalog."""
    key = "netcdf/LOCA2/ACCESS-CM2/ssp245/pr.ACCESS-CM2.ssp245.r1i1p1f1.2015-2044.nc"
    factory = _client_factory({"": [{"Contents": [
        {"Key": key, "Size": 1, "LastModified": "2024-01-01"}]}]})
    listing = listing_from_s3_distributed(spark, "bkt", [""], client_factory=factory)
    catalog, quarantine = build_catalog(listing, bucket="bkt")
    row = catalog.collect()[0]
    assert quarantine.count() == 0
    assert (row.variable, row.model, row.scheme) == ("pr", "netcdf", "LOCA2")
