"""Parquet table sources for the synthetic star schema (TESTDATA.md).

Parquet is the engine's primary source/sink (the cloud-optimized role Zarr
plays in the reference — SURVEY.md §1.5). Reads go through
``spark.read.parquet`` so Catalyst gets predicate pushdown + column
pruning for free; callers must select only the columns they need.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to session-zoned TIMESTAMP.

    Test fixtures have shipped ``ts`` as TIMESTAMP(NANOS) (read as long
    nanos under ``nanosAsLong``) and as TIMESTAMP(MICROS) (read as
    TIMESTAMP_NTZ); real lakes mix both. Dispatch on the observed type so
    every downstream plan sees one schema. The session timezone is pinned
    to UTC (session.py), so the NTZ cast is value-identity.
    """
    from pyspark.sql import functions as F
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # long nanos -> truncate to micros (DuckDB's NS->US coercion)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    if name == "events":
        # nanosAsLong lets TIMESTAMP(NANOS) fixtures load at all; it is a
        # no-op for MICROS fixtures. Normalization dispatches on the type.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        return normalize_events_ts(df)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_table_parallel(spark: SparkSession, sf_dir: str, name: str,
                        key: str | None = None) -> DataFrame:
    """load_table + guaranteed scan parallelism for compute-heavy ops.

    On a cluster, parallelism comes from file splits; a small local table
    is ONE parquet file -> one partition -> hashing/shingling/vector math
    runs on a single core. Repartition (hash on ``key`` when given, else
    round-robin) up to the default parallelism — the few-MB shuffle is
    noise next to the per-row compute it unlocks, and at real scale the
    branch never triggers.
    """
    df = load_table(spark, sf_dir, name)
    try:
        target = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            from pyspark.sql import functions as F
            df = (df.repartition(target, F.col(key)) if key
                  else df.repartition(target))
    except Exception:
        pass  # e.g. Spark Connect: no sparkContext; keep the plain scan
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in TABLE_NAMES}

