"""Production transport + decode implementations for the ingest seam.

`operators/ingest.py` takes required ``fetcher``/``converter``/``decoder``
callables and has no defaults of its own. This module supplies the real
implementations for those seams, mirroring the reference's behavior:

- HTTP streaming download returning the body (``make_http_fetcher``);
- HTTP streaming download piped straight to object storage with zero
  local buffering (``make_s3_piping_fetcher``, reference loca2.py:31-44:
  ``requests.get(stream=True)`` + ``upload_fileobj(response.raw, ...)``),
  returning the ``{bucket, s3_key}`` hand-off record;
- NetCDF blob -> Zarr store conversion (reference loca2.py:84-100:
  ``xr.open_dataset`` + ``ds.to_zarr(mode='w', consolidated=True)``);
- NetCDF blob -> tidy-long DataFrame decode (the engine's analytics form,
  SURVEY §1.5b).

Import policy: ``requests`` and ``boto3`` are imported lazily inside each
closure so the functions pickle cleanly to executors and the module
imports even on minimal workers; ``xarray`` is optional and its absence
raises a clear error only when the xarray-backed callable is actually
invoked (tests skip via importorskip).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd


def make_http_fetcher(timeout: float = 60.0,
                      chunk_size: int = 1 << 20) -> Callable[[str], bytes]:
    """Real ``fetcher`` for ingest_and_convert: streaming HTTP GET.

    Returns the body as bytes — the seam's contract — which means peak
    memory is O(file size) (the chunks are joined into one buffer;
    streaming only avoids a second requests-internal copy). For the
    multi-GB NetCDF files this seam targets, use
    ``make_s3_piping_fetcher`` instead: it hands the raw stream to
    ``upload_fileobj`` and never materializes the body. HTTP errors raise so the ingest operator records them as
    row-level error rows (T7 tolerance).
    """
    _timeout, _chunk = timeout, chunk_size

    def fetch(url: str) -> bytes:
        import requests
        with requests.get(url, stream=True, timeout=_timeout) as resp:
            resp.raise_for_status()
            return b"".join(resp.iter_content(chunk_size=_chunk))

    return fetch


def make_s3_piping_fetcher(bucket: str, key_root: str,
                           s3_client_factory=None,
                           timeout: float = 60.0) -> Callable[[str], bytes]:
    """Production ``fetcher`` that pipes to S3 instead of returning bytes.

    For genuinely huge files the bytes-returning seam is wrong — this
    variant streams the download into ``s3://bucket/key_root<s3_key>`` and
    returns a small sentinel payload (the hand-off record, serialized), so
    ``ingest_and_convert``'s result manifest still records success/size
    per row while the data itself never transits the Python heap.

    ``s3_client_factory`` is a zero-arg callable creating the client on
    the EXECUTOR (clients don't pickle); default uses boto3's ambient
    credential chain.
    """
    _bucket, _root, _timeout = bucket, key_root, timeout
    _factory = s3_client_factory

    def fetch(url: str) -> bytes:
        import json
        import requests
        if _factory is None:
            import boto3
            client = boto3.client("s3")
        else:
            client = _factory()
        key = _root + url.rsplit("/", 1)[-1]
        with requests.get(url, stream=True, timeout=_timeout) as resp:
            resp.raise_for_status()
            client.upload_fileobj(resp.raw, _bucket, key)
        return json.dumps({"bucket": _bucket, "s3_key": key}).encode()

    return fetch


def xarray_zarr_converter(payload: bytes, out_path: str) -> int:
    """Real ``converter`` for ingest_and_convert: NetCDF blob -> Zarr
    store at ``out_path`` (blob-fidelity path, reference loca2.py:84-100:
    ``mode='w'`` overwrite + consolidated metadata).

    Requires ``xarray`` + a zarr backend on executors; raises a clear
    error otherwise.
    """
    try:
        import xarray as xr
    except ImportError as exc:  # pragma: no cover - exercised off-container
        raise ImportError(
            "xarray is required for NetCDF->Zarr conversion; install "
            "xarray+zarr on the cluster or inject a converter") from exc
    import io
    ds = xr.open_dataset(io.BytesIO(payload))
    try:
        ds.to_zarr(out_path, mode="w", consolidated=True)
        return len(payload)
    finally:
        ds.close()


def xarray_tidy_decoder(payload: bytes, meta: dict) -> "pd.DataFrame":
    """Real ``decoder`` for decode_netcdf_tidy: NetCDF blob -> tidy-long
    ``(time, lat, lon, value)`` rows for the engine's analytics form
    (SURVEY §1.5b). The variable to melt comes from ``meta['variable']``.

    Requires ``xarray`` (+ netcdf engine) on executors.
    """
    try:
        import xarray as xr
    except ImportError as exc:  # pragma: no cover - exercised off-container
        raise ImportError(
            "xarray is required for NetCDF decode; install xarray+netCDF4 "
            "on the cluster or inject a decoder") from exc
    import io
    ds = xr.open_dataset(io.BytesIO(payload))
    try:
        var = meta.get("variable") or next(iter(ds.data_vars))
        tidy = (ds[var]
                .to_dataframe()
                .reset_index()
                .rename(columns={var: "value"}))
        return tidy[["time", "lat", "lon", "value"]]
    finally:
        ds.close()
