"""Fault injection over every writer that replaces a directory or a state
file through ``functions/publish.py``.

For each writer, one old version is built and then replaced while:

1. the write fails: the old version stays readable and unchanged, and
   no staging directory (or temp file) is left behind;
2. the rename of staging onto the target fails: the same; a writer that
   publishes more than one file (the catalog's spec and CSV) takes this
   fault at each of them;
3. (directories) the process is killed between the two renames, which
   leaves the old target aside and no target: the next read, where the
   writer has a reader that recovers, or else the next publish, renames
   it back; if the target was written again since, that call raises
   ``RuntimeError`` naming both paths.
"""

from __future__ import annotations

import csv
import json
import os
import re
from types import SimpleNamespace
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from downscaledclimatedata_spark.functions import publish
from tests.conftest import SF_SMOKE, cdf1_fetcher


def _fail_spark_writes(monkeypatch):
    """Every DataFrameWriter sink creates its output directory with one
    partial file and then raises, like a job that died part-way."""
    def failing(self, path, *args, **kwargs):
        local = urlparse(path).path if path.startswith("file:") else path
        os.makedirs(local, exist_ok=True)
        open(os.path.join(local, "part-00000.partial"), "w").close()
        raise OSError("injected write failure")

    for name in ("parquet", "save"):
        monkeypatch.setattr(DataFrameWriter, name, failing)


class Case:
    """One writer: ``setup`` builds the old version, ``publish`` replaces
    it, ``read`` is what a reader sees. ``reader_recovers``: ``read``
    goes through the package's own reader, which recovers an aside."""
    reader_recovers = False
    is_dir = True
    old = None  # the old version's snapshot, where the case pins it

    def target(self, d):
        raise NotImplementedError

    def renamed_targets(self, d):
        """Every path the publish renames something onto."""
        return [self.target(d)]

    def fail_write(self, spark, d, monkeypatch):
        _fail_spark_writes(monkeypatch)
        self.publish(spark, d)


class Lake(Case):
    old = 16

    def _write(self, spark, d, n_files, fetch):
        from downscaledclimatedata_spark.operators.ingest import (
            decode_netcdf_tidy, write_tidy_long)
        from downscaledclimatedata_spark.operators.netcdf3 import (
            netcdf3_tidy_decoder)
        manifest = spark.createDataFrame(
            [(f"https://x.test/f{i}.nc", "AModel", "ssp245", "r1", "tasmax")
             for i in range(n_files)],
            "url string, model string, scenario string, memberid string, "
            "variable string")
        write_tidy_long(decode_netcdf_tidy(manifest, fetch,
                                           netcdf3_tidy_decoder),
                        self.target(d))

    def target(self, d):
        return f"{d}/lake"

    def setup(self, spark, d):
        self._write(spark, d, 2, cdf1_fetcher())

    def publish(self, spark, d):
        self._write(spark, d, 3, cdf1_fetcher())

    def fail_write(self, spark, d, monkeypatch):
        fetch = cdf1_fetcher()

        def flaky(url):
            if url.endswith("f1.nc"):
                raise IOError("injected write failure")
            return fetch(url)

        self._write(spark, d, 3, flaky)

    def read(self, spark, d):
        return spark.read.parquet(self.target(d)).count()


class Catalog(Case):
    keys = ["m/s/pr.m.s.r1i1p1f1.1950-2014.v1.nc",
            "m2/s2/tasmax.m2.s2.r2i1p1f1.2015-2044.v1.nc",
            "m3/s3/tas.m3.s3.r3i1p1f1.2045-2074.v1.nc"]

    def _write(self, spark, d, keys):
        from downscaledclimatedata_spark.operators.catalog import (
            build_catalog, write_catalog)
        listing = spark.createDataFrame([(k,) for k in keys], "key string")
        catalog, _ = build_catalog(listing, bucket="bkt")
        write_catalog(catalog, f"{d}/cat", "c", "a catalog", "netcdf")

    def target(self, d):
        return f"{d}/cat/c.csv"

    def renamed_targets(self, d):
        return [f"{d}/cat/c.json", self.target(d)]

    def setup(self, spark, d):
        self._write(spark, d, self.keys[:2])

    def fail_write(self, spark, d, monkeypatch):
        """The driver's CSV writer writes the header and one row into
        staging, then raises."""
        real = csv.writer

        def partial(f, **kwargs):
            out = real(f, **kwargs)

            def writerows(rows):
                out.writerow(rows[0])
                raise OSError("injected write failure")
            return SimpleNamespace(writerow=out.writerow, writerows=writerows)

        monkeypatch.setattr(csv, "writer", partial)
        self.publish(spark, d)

    def publish(self, spark, d):
        self._write(spark, d, self.keys)

    def read(self, spark, d):
        import pandas as pd
        with open(f"{d}/cat/c.json") as f:
            csv = json.load(f)["catalog_file"]
        return sorted(pd.read_csv(csv)["path"])


class AuditPublish(Case):
    def _write(self, spark, d, rows):
        from downscaledclimatedata_spark.operators.maintenance import (
            write_audit_publish)
        df = spark.createDataFrame(rows, "k long, x long")
        report = write_audit_publish(spark, df, self.target(d),
                                     [("v_neg", F.col("x") < 0)])
        assert report["published"]

    def target(self, d):
        return f"{d}/published"

    def setup(self, spark, d):
        self._write(spark, d, [(1, 5), (2, 7)])

    def publish(self, spark, d):
        self._write(spark, d, [(3, 9)])

    def read(self, spark, d):
        return sorted(spark.read.parquet(self.target(d)).collect())


class Rollup(Case):
    reader_recovers = True

    def target(self, d):
        return f"{d}/state"

    def setup(self, spark, d):
        for i, rows in enumerate([[("a", 1, 100, 1.0, 1.0)],
                                  [("a", 2, 300, 1.5, 2.0),
                                   ("b", 1, 50, 0.5, 0.5)]]):
            spark.createDataFrame(
                rows, "key string, n bigint, sum_cents bigint, "
                      "min_v double, max_v double") \
                .coalesce(1).write.parquet(f"{self.target(d)}/batch={i}")

    def publish(self, spark, d):
        from downscaledclimatedata_spark.streaming.ivm import compact_rollup
        compact_rollup(spark, self.target(d))

    def read(self, spark, d):
        from downscaledclimatedata_spark.streaming.ivm import read_rollup
        return sorted(read_rollup(spark, self.target(d), "key").collect())


class NearDupIndex(Case):
    reader_recovers = True

    def target(self, d):
        return f"{d}/index"

    def setup(self, spark, d):
        for rows in ([(0, 11, 1), (1, 12, 1)], [(0, 11, 2), (1, 13, 2)]):
            spark.createDataFrame(
                rows, "band_id int, band_hash long, doc_id long") \
                .write.mode("append").parquet(self.target(d))

    def publish(self, spark, d):
        from downscaledclimatedata_spark.streaming.neardup import (
            compact_index)
        compact_index(spark, self.target(d))

    def read(self, spark, d):
        from downscaledclimatedata_spark.streaming.neardup import _load_index
        return sorted(_load_index(spark, self.target(d)).collect())


class AnnLists(Case):
    reader_recovers = True

    def target(self, d):
        return f"{d}/idx/lists"

    def setup(self, spark, d):
        from downscaledclimatedata_spark.operators.similarity import (
            ann_index_append, ann_index_build)
        from downscaledclimatedata_spark.sources.tables import load_table
        emb = load_table(spark, SF_SMOKE, "embeddings")
        is_delta = F.col("vec_id") % 5 == 3
        ann_index_build(emb.filter(~is_delta), f"{d}/idx")
        ann_index_append(emb.filter(is_delta), f"{d}/idx")

    def publish(self, spark, d):
        from downscaledclimatedata_spark.operators.similarity import (
            ann_index_compact)
        ann_index_compact(spark, f"{d}/idx")

    def read(self, spark, d):
        from downscaledclimatedata_spark.operators.similarity import (
            ann_index_search)
        return sorted(ann_index_search(spark, f"{d}/idx").collect())


class Sketch(Case):
    reader_recovers = True
    old = 4

    def _index(self, spark, d):
        from downscaledclimatedata_spark.streaming.sketches import (
            StreamingSketchIndex)
        return StreamingSketchIndex(spark, f"{d}/sketch")

    def target(self, d):
        return f"{d}/sketch/cms"

    def setup(self, spark, d):
        from downscaledclimatedata_spark.streaming.neardup import DOCS_SCHEMA
        idx = self._index(spark, d)
        for i in range(2):
            idx.process_batch(spark.createDataFrame(
                [(i, "alpha beta beta", "en", "web", 15)], DOCS_SCHEMA), i)

    def publish(self, spark, d):
        self._index(spark, d).compact()

    def read(self, spark, d):
        return self._index(spark, d).estimate(("beta",))["beta"]


class Cursor(Case):
    is_dir = False

    def _store(self, spark, d):
        from downscaledclimatedata_spark.streaming.cursor import CursorStore
        return CursorStore(spark, f"{d}/cursor")

    def target(self, d):
        return f"{d}/cursor/cursors.json"

    def setup(self, spark, d):
        self._store(spark, d).commit("s", "AModel/historical")

    def publish(self, spark, d):
        self._store(spark, d).commit("s", "AModel/ssp245")

    def fail_write(self, spark, d, monkeypatch):
        def failing_fsync(fd):
            raise OSError("injected write failure")
        monkeypatch.setattr(os, "fsync", failing_fsync)
        self.publish(spark, d)

    def read(self, spark, d):
        return self._store(spark, d).get("s")


CASES = [Lake(), Catalog(), AuditPublish(), Rollup(), NearDupIndex(),
         AnnLists(), Sketch(), Cursor()]


def _leftovers(target):
    """Siblings of ``target`` named after it (staging, aside, temp)."""
    parent, name = os.path.split(target)
    return sorted(n for n in os.listdir(parent) if name in n and n != name)


@pytest.mark.parametrize("case", CASES, ids=lambda c: type(c).__name__)
def test_failed_or_killed_publish_keeps_the_old_version(spark, tmp_path,
                                                        monkeypatch, case):
    d = str(tmp_path)
    target = case.target(d)
    case.setup(spark, d)
    old = case.read(spark, d)
    if case.old is not None:
        assert old == case.old

    # 1. the write fails
    with monkeypatch.context() as m:
        with pytest.raises(Exception, match="injected write failure"):
            case.fail_write(spark, d, m)
    assert case.read(spark, d) == old
    assert _leftovers(target) == []

    # 2. a rename that publishes fails
    real_rename, real_replace = os.rename, os.replace
    for renamed in case.renamed_targets(d):
        def failing_rename(src, dst):
            if dst == renamed and src in publish.staging_paths(renamed):
                raise OSError(18, "injected rename failure")
            return real_rename(src, dst)

        def failing_replace(src, dst):
            if dst == renamed:
                raise OSError(18, "injected rename failure")
            return real_replace(src, dst)

        with monkeypatch.context() as m:
            m.setattr(os, "rename", failing_rename)
            m.setattr(os, "replace", failing_replace)
            with pytest.raises(OSError, match="injected rename failure"):
                case.publish(spark, d)
        assert case.read(spark, d) == old
        assert _leftovers(renamed) == []

    case.publish(spark, d)
    new = case.read(spark, d)
    if not case.is_dir:
        assert new != old
        return

    # 3. killed between the two renames: the next read or publish
    # renames the aside back ...
    reopen = case.read if case.reader_recovers else case.publish
    aside = publish.aside_path(target)
    os.rename(target, aside)
    reopen(spark, d)
    assert case.read(spark, d) == new
    assert _leftovers(target) == []

    # ... unless the target was written again since
    os.rename(target, aside)
    os.makedirs(target)
    with pytest.raises(RuntimeError, match=re.escape(aside)):
        reopen(spark, d)
    assert os.path.isdir(aside) and os.listdir(target) == []
