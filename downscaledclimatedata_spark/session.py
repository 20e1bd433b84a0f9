"""SparkSession factory tuned for both local testing and cluster scale.

Local mode uses ``local[N]`` with a modest shuffle-partition count; the
same settings scale to a real cluster because they are expressed as
ratios/adaptive knobs (AQE coalesces shuffle partitions at runtime, so a
large static ``spark.sql.shuffle.partitions`` is safe at 100 TB while the
local value stays small for test latency).

On local masters (``local``, ``local[N]``, ``local-cluster[...]``: the
Python workers share the driver's filesystem) the session runs its Python
workers from the package's own daemon, ``worker_daemon``, which re-reads
the import archives on ``sys.path`` (``pyspark.zip``, py4j) only when a task
changed ``sys.path``; the stock daemon re-reads them on every task. Spark
starts the daemon with ``python -m`` in the driver's cwd, so
``spark.executorEnv.PYTHONPATH`` gets the package's parent directory and the
daemon imports from any cwd. ``extra_conf`` can name another
``spark.python.daemon.module``; a ``spark.executorEnv.PYTHONPATH`` it passes
is kept, ahead of the package's parent. Other masters, and sessions this
factory did not build, keep the stock ``pyspark.daemon``: same results,
without the saving.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Defaults chosen for the driver's local[32] / 128 GiB test box. On a real
# cluster these are overridden by spark-submit conf; everything important
# (AQE, skew join, broadcast threshold) is adaptive rather than hand-tuned.
_LOCAL_DEFAULTS = {
    # Adaptive execution: runtime shuffle-partition coalescing + skew-join
    # splitting. This is the scale story for the reference's skewed model
    # cardinalities (SURVEY.md §7.5: per-model counts vary ~17x).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Small-dim broadcast (region/nation/registry are tiny).
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Arrow for any pandas-UDF path (ingest/convert, NetCDF decode).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamps for oracle comparison.
    "spark.sql.session.timeZone": "UTC",
    # Don't let tiny test files create thousands of partitions locally.
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(app_name: str = "downscaledclimatedata-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the local parallelism; on a real
    cluster leave it large and let AQE coalesce.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_LOCAL_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else cpus
    )
    extra_conf = dict(extra_conf or {})
    if master.startswith("local"):
        conf["spark.python.daemon.module"] = f"{__package__}.worker_daemon"
        caller_path = extra_conf.pop("spark.executorEnv.PYTHONPATH", "")
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            filter(None, (caller_path, _PACKAGE_PARENT)))
    conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
