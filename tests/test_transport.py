"""Tests for the production transport implementations (operators/transport.py).

A local threaded HTTP server stands in for the remote data host, so the
requests-streaming path is exercised for real — including through the
Spark mapInPandas ingest plumbing (executor threads reach 127.0.0.1 in
local mode). S3 upload is verified against a duck-typed fake client
(upload_fileobj contract); xarray-backed paths skip when xarray is absent.
"""
from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from downscaledclimatedata_spark.operators.ingest import ingest_and_convert
from downscaledclimatedata_spark.operators.transport import (
    make_http_fetcher,
    make_s3_piping_fetcher,
)

FILES = {"/f1.nc": b"netcdf-bytes-one", "/f2.nc": b"netcdf-bytes-two" * 1000}


class _Handler(BaseHTTPRequestHandler):
    def do_GET(self):
        body = FILES.get(self.path)
        if body is None:
            self.send_error(404)
            return
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # quiet
        pass


@pytest.fixture(scope="module")
def http_server():
    srv = HTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_http_fetcher_streams_body(http_server):
    fetch = make_http_fetcher(chunk_size=64)
    assert fetch(http_server + "/f1.nc") == FILES["/f1.nc"]
    assert fetch(http_server + "/f2.nc") == FILES["/f2.nc"]


def test_http_fetcher_raises_on_404(http_server):
    fetch = make_http_fetcher()
    with pytest.raises(Exception):
        fetch(http_server + "/missing.nc")


class _FakeS3:
    """Records each upload's bytes and the type of object it was handed."""

    def __init__(self):
        self.objects = {}
        self.sources = {}

    def upload_fileobj(self, fileobj, bucket, key):
        self.sources[(bucket, key)] = type(fileobj)
        self.objects[(bucket, key)] = fileobj.read()


def test_real_fetcher_through_spark_ingest(spark, http_server):
    """The production requests fetcher driven by the actual mapInPandas
    ingest operator: executor threads fetch from the local server, error
    rows surface per-row (T7), successes record true byte counts."""
    manifest = spark.createDataFrame(
        [(http_server + "/f1.nc", "/m/f1.nc"),
         (http_server + "/f2.nc", "/m/f2.nc"),
         (http_server + "/gone.nc", "/m/gone.nc")],
        "url string, s3_key string")
    rows = {r["s3_key"]: r for r in
            ingest_and_convert(manifest, fetcher=make_http_fetcher(),
                               converter=lambda payload, out_path: len(payload)
                               ).collect()}
    assert rows["/m/f1.nc"]["status"] == "ok"
    assert rows["/m/f1.nc"]["n_bytes"] == len(FILES["/f1.nc"])
    assert rows["/m/f2.nc"]["n_bytes"] == len(FILES["/f2.nc"])
    assert rows["/m/gone.nc"]["status"] == "error"
    assert "404" in rows["/m/gone.nc"]["error"]


def test_s3_piping_fetcher_hand_off(http_server):
    """The huge-file variant: download piped to (fake) S3, sentinel
    payload carries the {bucket, s3_key} hand-off record."""
    import json
    store = _FakeS3()
    fetch = make_s3_piping_fetcher("bkt", "raw/", s3_client_factory=lambda: store)
    for name in ("f1.nc", "f2.nc"):
        sentinel = json.loads(fetch(f"{http_server}/{name}"))
        assert sentinel == {"bucket": "bkt", "s3_key": f"raw/{name}"}
        assert store.objects[("bkt", f"raw/{name}")] == FILES[f"/{name}"]


def test_s3_piping_fetcher_pipes_without_buffering(http_server):
    """The upload is handed the response's raw urllib3 stream, never the
    body, so the file's bytes are not held in the executor's memory."""
    from urllib3.response import HTTPResponse
    store = _FakeS3()
    fetch = make_s3_piping_fetcher("bkt", "raw/", s3_client_factory=lambda: store)
    fetch(http_server + "/f2.nc")
    assert issubclass(store.sources[("bkt", "raw/f2.nc")], HTTPResponse)
    assert store.objects[("bkt", "raw/f2.nc")] == FILES["/f2.nc"]


def test_xarray_paths_importable_or_skipped():
    xr = pytest.importorskip("xarray")
    # when xarray exists, a tiny in-memory dataset round-trips the decoder
    import io

    import numpy as np
    from downscaledclimatedata_spark.operators.transport import xarray_tidy_decoder
    ds = xr.Dataset(
        {"tasmax": (("time", "lat", "lon"), np.ones((1, 2, 2)))},
        coords={"time": [np.datetime64("1950-01-01")],
                "lat": [32.0, 32.0625], "lon": [-117.0, -116.9375]})
    buf = io.BytesIO()
    ds.to_netcdf(buf)
    tidy = xarray_tidy_decoder(buf.getvalue(), {"variable": "tasmax"})
    assert list(tidy.columns) == ["time", "lat", "lon", "value"]
    assert len(tidy) == 4
