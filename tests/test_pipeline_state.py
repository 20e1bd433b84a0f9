"""Cursor store, processed log, ingest operator, and streaming tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from downscaledclimatedata_spark.operators.discovery import new_work
from downscaledclimatedata_spark.operators.ingest import (
    ingest_and_convert, rewrite_extension,
)
from downscaledclimatedata_spark.streaming.cursor import (
    PROCESSED_SCHEMA, CursorStore, ProcessedLog,
)
from downscaledclimatedata_spark.streaming.stream import windowed_event_counts
from downscaledclimatedata_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_cursor_store_progression(spark, tmp_path):
    store = CursorStore(spark, str(tmp_path / "cursor"))
    assert store.get("tasmax_daily") is None
    store.commit("tasmax_daily", "AModel/historical")
    assert store.get("tasmax_daily") == "AModel/historical"
    store.commit("tasmax_daily", "AModel/ssp245")
    store.commit("pr_monthly", "BModel/ssp585")
    assert store.get("tasmax_daily") == "AModel/ssp245"
    assert store.get("pr_monthly") == "BModel/ssp585"


def test_processed_log_roundtrip(spark, tmp_path):
    log = ProcessedLog(spark, str(tmp_path / "log"))
    manifest = spark.createDataFrame(
        [("/a/1.nc",), ("/a/2.nc",)], "s3_key string")
    assert new_work(manifest, log.read()).count() == 2
    log.append(manifest.limit(1))
    remaining = new_work(manifest, log.read())
    assert remaining.count() == 1


def test_empty_processed_log_folds_the_anti_join(spark, tmp_path):
    """Before the first append the log is an empty relation the optimizer
    can see is empty: ``new_work`` against it is the manifest itself,
    with no join, collected in at most one job."""
    log = ProcessedLog(spark, str(tmp_path / "absent"))
    empty = log.read()
    assert [(f.name, f.dataType) for f in empty.schema.fields] == \
        [(f.name, f.dataType) for f in PROCESSED_SCHEMA.fields]
    assert empty.collect() == []
    manifest = spark.range(3).select(
        F.concat(F.lit("/a/"), F.col("id").cast("string")).alias("s3_key"))
    todo = new_work(manifest, log.read())
    assert "Join" not in todo._jdf.queryExecution().optimizedPlan().toString()
    sc = spark.sparkContext
    group = "empty-log-new-work"
    sc.setJobGroup(group, "new_work against an absent log")
    try:
        keys = sorted(r.s3_key for r in todo.collect())
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert keys == ["/a/0", "/a/1", "/a/2"]
    assert len(jobs) <= 1


def test_cursor_store_starts_no_spark_job(spark, tmp_path):
    sc = spark.sparkContext
    group = "cursor-store-no-job"
    sc.setJobGroup(group, "cursor commit and get")
    try:
        store = CursorStore(spark, str(tmp_path / "cursor"))
        store.commit("tasmax_daily", "AModel/historical")
        assert store.get("tasmax_daily") == "AModel/historical"
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # the tracker does see a job started in this group
        spark.range(1).count()
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_cursor_commit_failed_replace_keeps_previous(spark, tmp_path,
                                                    monkeypatch):
    store = CursorStore(spark, str(tmp_path / "cursor"))
    store.commit("tasmax_daily", "AModel/historical")

    def failing_replace(src, dst):
        raise OSError("replace failed")

    monkeypatch.setattr(os, "replace", failing_replace)
    with pytest.raises(OSError, match="replace failed"):
        store.commit("tasmax_daily", "AModel/ssp245")
    assert store.get("tasmax_daily") == "AModel/historical"


def test_cursor_malformed_file_raises(spark, tmp_path):
    store = CursorStore(spark, str(tmp_path / "cursor"))
    store.commit("tasmax_daily", "AModel/historical")
    with open(store.file, "w") as f:
        f.write('{"tasmax_daily": ')
    with pytest.raises(ValueError):
        store.get("tasmax_daily")


def test_ingest_and_convert_result_manifest(spark):
    manifest = spark.createDataFrame(
        [("https://x.test/f1.nc", "/m/s/f1.nc"),
         ("https://x.test/f2.nc", "/m/s/f2.nc")],
        "url string, s3_key string")
    result = ingest_and_convert(manifest)
    rows = {r["s3_key"]: r for r in result.collect()}
    assert len(rows) == 2
    assert rows["/m/s/f1.nc"]["status"] == "ok"
    assert rows["/m/s/f1.nc"]["output_path"] == "/tmp/converted/m/s/f1.zarr"
    assert rows["/m/s/f1.nc"]["n_bytes"] > 0


def test_ingest_row_level_error_tolerance(spark):
    """A failing row yields an error row; others still succeed (T7)."""
    def flaky_fetch(url: str) -> bytes:
        if "bad" in url:
            raise RuntimeError("boom")
        return b"ok"
    manifest = spark.createDataFrame(
        [("https://x.test/bad.nc", "/m/s/bad.nc"),
         ("https://x.test/good.nc", "/m/s/good.nc")],
        "url string, s3_key string")
    rows = {r["s3_key"]: r for r in ingest_and_convert(manifest, fetcher=flaky_fetch).collect()}
    assert rows["/m/s/bad.nc"]["status"] == "error"
    assert "boom" in rows["/m/s/bad.nc"]["error"]
    assert rows["/m/s/good.nc"]["status"] == "ok"


def test_decode_netcdf_tidy_fanout(spark):
    """One manifest row fans out to the full tidy grid with metadata
    columns attached; decode is deterministic."""
    from downscaledclimatedata_spark.operators.ingest import decode_netcdf_tidy
    manifest = spark.createDataFrame(
        [("https://x.test/f1.nc", "AModel", "ssp245", "r1i1p1f1", "tasmax"),
         ("https://x.test/f2.nc", "BModel", "historical", "r2i1p1f1", "pr")],
        "url string, model string, scenario string, memberid string, variable string")
    tidy = decode_netcdf_tidy(manifest)
    rows = tidy.collect()
    assert len(rows) == 2 * 8  # 2 files x (2 time x 2 lat x 2 lon)
    assert tidy.columns == ["model", "scenario", "memberid", "variable",
                            "time", "lat", "lon", "value"]
    a = {(r.model, r.time, r.lat, r.lon): r.value for r in rows}
    b = {(r.model, r.time, r.lat, r.lon): r.value
         for r in decode_netcdf_tidy(manifest).collect()}
    assert a == b


def test_tidy_long_partitioned_write_prunes(spark, tmp_path):
    """write_tidy_long lays out model=/scenario=/variable= partitions and
    a partition filter prunes to one directory."""
    from downscaledclimatedata_spark.operators.ingest import (
        decode_netcdf_tidy, write_tidy_long)
    manifest = spark.createDataFrame(
        [("https://x.test/f1.nc", "AModel", "ssp245", "r1", "tasmax"),
         ("https://x.test/f2.nc", "BModel", "ssp585", "r1", "pr")],
        "url string, model string, scenario string, memberid string, variable string")
    out = str(tmp_path / "tidy")
    write_tidy_long(decode_netcdf_tidy(manifest), out)
    import os
    assert sorted(d for d in os.listdir(out) if d.startswith("model=")) == \
        ["model=AModel", "model=BModel"]
    back = spark.read.parquet(out)
    pruned = back.filter(F.col("model") == "AModel")
    assert pruned.count() == 8
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "model" in plan


def test_ingest_output_path_anchored(spark):
    """Regression (SURVEY §7.5.3): a key with an interior '.nc' must only
    have its FINAL extension rewritten in the ingest hot path."""
    manifest = spark.createDataFrame(
        [("https://x.test/f.nc", "/m/tasmax.nc_backup/file.nc")],
        "url string, s3_key string")
    row = ingest_and_convert(manifest).collect()[0]
    assert row["output_path"] == "/tmp/converted/m/tasmax.nc_backup/file.zarr"


def test_rewrite_extension_anchored(spark):
    """Interior '.nc' must survive (the reference's unanchored replace
    would corrupt it — engine divergence, SURVEY §7.5.3)."""
    df = spark.createDataFrame([("/m/x.nc.archive/file.nc",)], "k string")
    out = df.select(rewrite_extension(F.col("k")).alias("k")).collect()[0]["k"]
    assert out == "/m/x.nc.archive/file.zarr"


def test_windowed_event_counts_static(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    out = windowed_event_counts(ev, window="1 hour")
    rows = out.collect()
    assert len(rows) > 0
    total = sum(r["n_events"] for r in rows)
    assert total == ev.count()


def test_manifest_stream_end_to_end(spark, tmp_path):
    """Streaming growth path: manifest files -> dedup -> foreachBatch."""
    from downscaledclimatedata_spark.streaming.stream import (
        MANIFEST_SCHEMA, manifest_stream, start_ingest_stream,
    )
    manifest_dir = str(tmp_path / "manifest")
    # two files with an overlapping run key: dedup must drop the replay
    batch1 = spark.createDataFrame(
        [("m", "s", "r1", "tasmax", "u1", "/m/s/f1.nc"),
         ("m", "s", "r1", "tasmax", "u2", "/m/s/f2.nc")], MANIFEST_SCHEMA)
    batch1.coalesce(1).write.mode("overwrite").parquet(manifest_dir)
    seen: list[str] = []

    def collect_batch(df, epoch_id):
        seen.extend(r["s3_key"] for r in df.collect())

    q = start_ingest_stream(
        manifest_stream(spark, manifest_dir), collect_batch,
        str(tmp_path / "ckpt"), trigger="1 seconds")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(seen) == ["/m/s/f1.nc", "/m/s/f2.nc"]
