"""Pipeline-state management: cursor file + processed-run log.

Reference semantics (SURVEY §2.9 T1-T7):
- cursor = last processed "model/scenario" string per stream, compared
  lexicographically, committed AFTER the work is emitted
  (loca2_sensor.py:161-163);
- run-key idempotency absorbs replays if a run dies between emit and
  cursor commit (two-layer safety, SURVEY §7.5.5).

The cursors are one small JSON object ``{stream: cursor}`` at
``{path}/cursors.json``, read and written on the driver without a Spark
job. A commit replaces the file with ``publish.replace_file`` (a hidden
temp file, ``fsync``, then ``os.replace``, atomic on POSIX), so a failed
commit leaves the previous cursors readable. The processed log is a Parquet
relation, because the idempotency anti-join reads it as one.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from downscaledclimatedata_spark.functions import publish
from downscaledclimatedata_spark.functions.rows import empty_relation

PROCESSED_SCHEMA = T.StructType([
    T.StructField("run_key", T.StringType(), False),
    T.StructField("processed_at", T.TimestampType(), True),
])


class CursorStore:
    """One cursor per stream, e.g. {"tasmax_daily": "ACCESS-CM2/historical"}.

    Commit ordering is the caller's contract: write the work manifest
    first, then ``commit`` — reproducing the reference's yield-then-
    update_cursor ordering (loca2_sensor.py:161-163). ``spark`` is taken
    for symmetry with ``ProcessedLog``; the cursors need no Spark job.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.path = path
        self.file = os.path.join(path, "cursors.json")

    def _load(self) -> dict:
        try:
            with open(self.file) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def get(self, stream: str) -> str | None:
        return self._load().get(stream)

    def commit(self, stream: str, cursor: str) -> None:
        cursors = {**self._load(), stream: cursor}
        os.makedirs(self.path, exist_ok=True)
        publish.replace_file(self.file, json.dumps(cursors, sort_keys=True))


class ProcessedLog:
    """Append-only run-key log backing the idempotency anti-join (J3)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        """The log, or before the first append an empty relation the
        optimizer can see is empty, so ``new_work`` against it runs no
        join and no Python task."""
        if not os.path.exists(self.path):
            return empty_relation(self.spark, PROCESSED_SCHEMA)
        return self.spark.read.parquet(self.path)

    def append(self, run_keys: DataFrame) -> None:
        """Append the ``s3_key`` of every row of ``run_keys``."""
        (run_keys.select(F.col("s3_key").alias("run_key"),
                         F.current_timestamp().alias("processed_at"))
         .write.mode("append").parquet(self.path))
