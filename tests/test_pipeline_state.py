"""Cursor store, processed log, ingest operator, and streaming tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from downscaledclimatedata_spark.operators.discovery import (
    crawl_listings, discover_all, discovery_tick, new_work, registry_from_nested,
)
from downscaledclimatedata_spark.operators.ingest import (
    decode_netcdf_tidy, ingest_and_convert, write_tidy_long,
)
from downscaledclimatedata_spark.operators.netcdf3 import netcdf3_tidy_decoder
from downscaledclimatedata_spark.streaming.cursor import (
    PROCESSED_SCHEMA, CursorStore, ProcessedLog,
)
from downscaledclimatedata_spark.streaming.stream import windowed_event_counts
from downscaledclimatedata_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE, cdf1_fetcher


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
    # lambdas pickle by value; executors cannot import this module
    result = ingest_and_convert(manifest, lambda url: url.encode(),
                                lambda payload, out_path: len(payload))
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
    rows = {r["s3_key"]: r for r in
            ingest_and_convert(manifest, flaky_fetch,
                               lambda payload, out_path: len(payload)).collect()}
    assert rows["/m/s/bad.nc"]["status"] == "error"
    assert "boom" in rows["/m/s/bad.nc"]["error"]
    assert rows["/m/s/good.nc"]["status"] == "ok"


def test_transports_are_required(spark):
    """The ingest and discovery operators have no stand-in transport: a
    call without a fetcher raises before any row exists."""
    manifest = _lake_manifest(spark)
    registry = registry_from_nested(spark, {"AModel": {"ssp245": {"r1"}}})
    processed = spark.createDataFrame([], "run_key string")
    seeds = spark.createDataFrame([("https://x.test/",)], "listing_url string")
    with pytest.raises(TypeError):
        decode_netcdf_tidy(manifest)
    with pytest.raises(TypeError):
        decode_netcdf_tidy(manifest, cdf1_fetcher())
    with pytest.raises(TypeError):
        ingest_and_convert(manifest.withColumn("s3_key", F.col("url")))
    with pytest.raises(TypeError):
        crawl_listings(seeds)
    with pytest.raises(TypeError):
        discover_all(registry, "tasmax", "https://x.test/LOCA2", True, processed)
    with pytest.raises(TypeError):
        discovery_tick(registry, None, "tasmax", "https://x.test/LOCA2", True,
                       processed)


def _decode(manifest, fetcher=None):
    """``decode_netcdf_tidy`` over real CDF-1 bytes: a 2x2x2 grid per
    file unless another fetcher is given."""
    return decode_netcdf_tidy(manifest, fetcher or cdf1_fetcher(),
                              netcdf3_tidy_decoder)


def test_decode_netcdf_tidy_fanout(spark):
    """One manifest row fans out to the full tidy grid with metadata
    columns attached; decode is deterministic."""
    manifest = spark.createDataFrame(
        [("https://x.test/f1.nc", "AModel", "ssp245", "r1i1p1f1", "tasmax"),
         ("https://x.test/f2.nc", "BModel", "historical", "r2i1p1f1", "pr")],
        "url string, model string, scenario string, memberid string, variable string")
    tidy = _decode(manifest)
    rows = tidy.collect()
    assert len(rows) == 2 * 8  # 2 files x (2 time x 2 lat x 2 lon)
    assert tidy.columns == ["model", "scenario", "memberid", "variable",
                            "time", "lat", "lon", "value"]
    a = {(r.model, r.time, r.lat, r.lon): r.value for r in rows}
    b = {(r.model, r.time, r.lat, r.lon): r.value
         for r in _decode(manifest).collect()}
    assert a == b


def test_tidy_long_partitioned_write_prunes(spark, tmp_path):
    """write_tidy_long lays out model=/scenario=/variable= partitions and
    a partition filter prunes to one directory."""
    manifest = spark.createDataFrame(
        [("https://x.test/f1.nc", "AModel", "ssp245", "r1", "tasmax"),
         ("https://x.test/f2.nc", "BModel", "ssp585", "r1", "pr")],
        "url string, model string, scenario string, memberid string, variable string")
    out = str(tmp_path / "tidy")
    write_tidy_long(_decode(manifest), out)
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


def _lake_manifest(spark):
    return spark.createDataFrame(
        [("https://x.test/f1.nc", "AModel", "ssp245", "r1", "tasmax"),
         ("https://x.test/f2.nc", "BModel", "ssp585", "r1", "pr"),
         ("https://x.test/f3.nc", "BModel", "ssp585", "r2", "pr")],
        "url string, model string, scenario string, memberid string, variable string")


def _lake_parquet(root):
    return sorted(os.path.relpath(os.path.join(d, n), root)
                  for d, _, names in os.walk(root)
                  for n in names if n.endswith(".parquet"))


def test_tidy_long_rewrite_replaces_files(spark, tmp_path):
    """Writing one manifest twice into one path leaves the same file
    names, one per source file, and the same rows with no duplicates."""
    out = str(tmp_path / "tidy")
    tidy = _decode(_lake_manifest(spark))
    write_tidy_long(tidy, out)
    first = _lake_parquet(out)
    write_tidy_long(tidy, out)
    assert _lake_parquet(out) == first and len(first) == 3
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    back = spark.read.parquet(out)
    assert back.count() == 3 * 8 == back.distinct().count()


def test_tidy_long_returns_one_record_per_file(spark, tmp_path):
    out = str(tmp_path / "tidy")
    written = write_tidy_long(_decode(_lake_manifest(spark)), out)
    assert sorted(r.url for r in written) == \
        ["https://x.test/f1.nc", "https://x.test/f2.nc", "https://x.test/f3.nc"]
    assert sum(r.rows for r in written) == 3 * 8
    assert sorted(r.path for r in written) == _lake_parquet(out)


def test_tidy_long_failed_decode_raises_and_publishes_nothing(spark, tmp_path):
    """A fetcher that raises on one file fails the write: no ``*.parquet``
    becomes visible under a new path, an existing lake keeps its files,
    and no staging directory is left beside either."""
    fetch = cdf1_fetcher()

    def flaky_fetch(url):
        if url.endswith("f2.nc"):
            raise IOError("boom: unreadable source")
        return fetch(url)

    flaky = _decode(_lake_manifest(spark), flaky_fetch)
    out = str(tmp_path / "tidy")
    with pytest.raises(Exception, match="boom"):
        write_tidy_long(flaky, out)
    assert not os.path.exists(out) and os.listdir(tmp_path) == []

    write_tidy_long(_decode(_lake_manifest(spark)), out)
    before = _lake_parquet(out)
    with pytest.raises(Exception, match="boom"):
        write_tidy_long(flaky, out)
    assert _lake_parquet(out) == before and os.listdir(tmp_path) == ["tidy"]
    assert spark.read.parquet(out).count() == 3 * 8


def test_tidy_long_refuses_paths_workers_may_not_share(spark, tmp_path):
    """A scheme pyarrow's local writer cannot serve, or a bare path that
    Hadoop would resolve against a non-local ``fs.defaultFS``, raises
    before any work instead of writing somewhere else; a ``file:`` URI
    writes."""
    tidy = _decode(_lake_manifest(spark))
    for uri in ("s3a://bucket/lake", "hdfs://nn:8020/lake", "file://otherhost/lake"):
        with pytest.raises(ValueError, match="not on a local or mounted"):
            write_tidy_long(tidy, uri)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    prior = hconf.get("fs.defaultFS")
    hconf.set("fs.defaultFS", "hdfs://nn:8020")
    try:
        with pytest.raises(ValueError, match="fs.defaultFS"):
            write_tidy_long(tidy, str(tmp_path / "bare"))
    finally:
        if prior is None:
            hconf.unset("fs.defaultFS")
        else:
            hconf.set("fs.defaultFS", prior)
    assert os.listdir(tmp_path) == []
    written = write_tidy_long(tidy, f"file://{tmp_path}/tidy")
    assert sum(r.rows for r in written) == 3 * 8
    assert len(_lake_parquet(str(tmp_path / "tidy"))) == 3


def test_tidy_long_rejects_derived_frames(spark, tmp_path):
    tidy = _decode(_lake_manifest(spark))
    out = str(tmp_path / "tidy")
    with pytest.raises(TypeError, match="decode_netcdf_tidy"):
        write_tidy_long(tidy.filter(F.col("model") == "AModel"), out)
    assert not os.path.exists(out)


def test_ingest_output_path_anchored(spark):
    """Regression (SURVEY §7.5.3): a key with an interior '.nc' must only
    have its FINAL extension rewritten in the ingest hot path."""
    manifest = spark.createDataFrame(
        [("https://x.test/f.nc", "/m/tasmax.nc_backup/file.nc")],
        "url string, s3_key string")
    row = ingest_and_convert(manifest, lambda url: b"",
                             lambda payload, out_path: 0).collect()[0]
    assert row["output_path"] == "/tmp/converted/m/tasmax.nc_backup/file.zarr"


def test_ingest_rewrites_only_the_final_extension(spark):
    """The converter is handed each key's anchored rewrite under
    ``output_root``: only a FINAL '.nc' becomes '.zarr', an interior one
    survives and a key without the extension is kept whole."""
    want = {"/m/x.nc.archive/file.nc": "/out/m/x.nc.archive/file.zarr",
            "/m/f.nc.nc": "/out/m/f.nc.zarr",
            "/m/f.nc4": "/out/m/f.nc4"}
    manifest = spark.createDataFrame(
        [(f"https://x.test{key}", key) for key in want],
        "url string, s3_key string")
    rows = ingest_and_convert(manifest, lambda url: b"",
                              lambda payload, out_path: len(out_path),
                              output_root="/out").collect()
    assert {r["s3_key"]: r["output_path"] for r in rows} == want
    assert all(r["status"] == "ok" and r["n_bytes"] == len(want[r["s3_key"]])
               for r in rows)


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
