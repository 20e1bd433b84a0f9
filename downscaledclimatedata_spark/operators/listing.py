"""Real bucket/filesystem listing sources for the catalog pipeline (S6).

``build_catalog`` (operators/catalog.py) consumes any 1-column ``key``
listing relation. The reference produces that listing with a boto3
``list_objects_v2`` paginator (reference loca2.py:176-202); these are the
engine's real counterparts behind the same seam:

- ``listing_from_fs``: any Hadoop-FS tree (local dir, HDFS, s3a://) via
  Spark's ``binaryFile`` reader with the content column pruned — the scan
  reads file METADATA only, and Spark parallelizes the directory walk
  across executors once it exceeds
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths.
- ``listing_from_s3_distributed``: the reference's boto3
  ``list_objects_v2`` paginator, one PER PREFIX running on executors via
  ``mapInPandas`` (pagination is sequential within a prefix), so a
  bucket with many models/scenarios (the reference's layout) lists in
  parallel with no driver materialization; one prefix is the
  reference's single listing. Import-lazy, client-injectable, same
  policy as operators/transport.py.

Caveat (documented, inherent to Hadoop listing): ``listing_from_fs``
skips hidden entries (``.``/``_`` prefixes), so a zarr store's
``.zmetadata`` key is absent from FS listings; store discovery is
unaffected because any data chunk key collapses to the same base path
(catalog.zarr_base_path).
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LISTING_SCHEMA = "key string, size long, last_modified string"


def listing_from_fs(spark: SparkSession, root: str) -> DataFrame:
    """List every file under ``root`` as bucket-style relative keys.

    Column-prunes ``binaryFile`` down to (path, length, modificationTime)
    so no file content is ever read — the plan's ReadSchema must not
    contain ``content`` (asserted in tests/test_listing.py). Keys are the
    path suffix after ``root``.
    """
    files = (spark.read.format("binaryFile")
             .option("recursiveFileLookup", "true")
             .load(root)
             .select("path", "length", "modificationTime"))
    # Hadoop reports a local file as ``file:/abs/path`` whatever form its
    # root took, so a ``file:`` root is matched by its absolute path
    if root.startswith("file:"):
        norm = os.path.abspath(re.sub(r"^file:(//)?", "", root))
    else:
        norm = root if "://" in root else os.path.abspath(root)
    norm = norm.rstrip("/") + "/"
    # locate the normalized root inside the (scheme-qualified) path and
    # take everything after it; unmatched paths pass through whole
    pos = F.locate(norm, F.col("path"))
    rel = F.when(pos > 0,
                 F.col("path").substr(pos + F.lit(len(norm)), F.length("path"))
                 ).otherwise(F.col("path"))
    return files.select(
        rel.alias("key"),
        F.col("length").alias("size"),
        F.date_format("modificationTime", "yyyy-MM-dd HH:mm:ss").alias("last_modified"))


def listing_from_s3_distributed(spark: SparkSession, bucket: str,
                                prefixes: list[str],
                                client_factory=None) -> DataFrame:
    """Parallel S3 listing: one paginator per prefix, run on EXECUTORS.

    The prefix list (e.g. one per model directory, the reference's layout)
    becomes a DataFrame repartitioned so each executor pages its own
    prefixes concurrently; keys never materialize on the driver.
    ``client_factory`` is a zero-arg callable built on the executor
    (clients don't pickle); default uses boto3's ambient credentials.
    """
    _bucket, _factory = bucket, client_factory

    def _page(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd
        if _factory is None:
            import boto3
            client = boto3.client("s3")
        else:
            client = _factory()
        for pdf in batches:
            for prefix in pdf["prefix"]:
                keys, sizes, mtimes = [], [], []
                for page in client.get_paginator("list_objects_v2").paginate(
                        Bucket=_bucket, Prefix=prefix):
                    for obj in page.get("Contents") or []:
                        keys.append(obj["Key"])
                        sizes.append(int(obj.get("Size", 0)))
                        mtimes.append(str(obj.get("LastModified", "")))
                yield pd.DataFrame(
                    {"key": keys, "size": sizes, "last_modified": mtimes})

    pref_df = spark.createDataFrame([(p,) for p in prefixes], "prefix string")
    n = max(len(prefixes), 1)
    return pref_df.repartition(n).mapInPandas(_page, LISTING_SCHEMA)
