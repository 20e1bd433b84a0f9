#!/usr/bin/env python3
"""Benchmark of the paper's polling ETL on real NetCDF bytes.

    python3 perfbench/run.py --workload cold_ingest --seed 1 --seconds 10 --trace 0

Runs one workload in a single process on ``local[<cpus>]`` with one
closed-loop client, drives the package only through its public
functions, checks every output against DuckDB, and prints two JSON
lines: a report with provenance and the workload's own figures (wall
times included), then the result (``correct``, ``attempted``,
``failed``, ``metrics``). With ``--trace 0`` the metrics are the
end-to-end ones, in CPU seconds of the run's process tree
(``cputime.py``); with ``--trace 1`` the per-layer ones, from spans
around each layer call and from the Spark event log grouped by layer.
Everything it writes lives under ``.perfbench_work/`` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from workloads import SUITE  # noqa: E402

END_TO_END = {"setup_s": "s", "op_cpu_s": "s"}
# no operation starts this long after the run began once one is done
OP_DEADLINE_S = 80.0

LAYER_SPANS = ("listing", "discovery.manifest", "discovery.new_work",
               "cursor.log_read", "ingest.decode_write", "cursor.log_append",
               "cursor.commit", "catalog.build", "catalog.write", "lake.query",
               *(f"suite.{family}" for family in SUITE))
SPARK_PER_LAYER = ("jobs", "tasks", "executor_cpu_s")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run emits, with its unit."""
    from spans import SPARK_COUNTERS
    units = {
        "netcdf3.parse_mcells_per_s": "Mcells/s",
        "netcdf3.tidy_mcells_per_s": "Mcells/s",
        "ingest.decode_write_s": "s", "ingest.files_decoded": "count",
        "ingest.cells_written": "count", "ingest.lake_files": "count",
        "ingest.lake_bytes": "bytes",
        "listing.s": "s", "listing.keys": "count",
        "discovery.manifest_s": "s", "discovery.new_work_s": "s",
        "discovery.new_ratio": "ratio",
        "cursor.log_read_s": "s", "cursor.log_append_s": "s",
        "cursor.commit_s": "s", "cursor.log_rows": "count",
        "cursor.files_written": "count",
        "catalog.build_s": "s", "catalog.write_s": "s",
        "catalog.rows": "count", "catalog.quarantined": "count",
        "lake.query_s": "s", "lake.files_read_ratio": "ratio",
        "trace.overhead_ratio": "ratio", "trace.tick_coverage": "ratio",
        "trace.pass_coverage": "ratio", "jvm.jit_cpu_s": "s",
    }
    for family in SUITE:
        units[f"suite.{family}.construct_s"] = "s"
        units[f"suite.{family}.collect_s"] = "s"
    for c in SPARK_COUNTERS:
        units[f"spark.{c}"] = _counter_unit(c)
    for layer in LAYER_SPANS:
        for c in SPARK_PER_LAYER:
            units[f"spark.{layer}.{c}"] = _counter_unit(c)
    return units


def _counter_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    return "bytes" if name.endswith("_bytes") else "count"


def _parse(argv):
    from workloads import SIZES, WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full")
    return ap.parse_args(argv)


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _layer_metrics(res, event_log: str) -> dict:
    from spans import SPARK_COUNTERS, spark_counters_by_group
    out = dict.fromkeys(per_layer_units(), 0.0)
    out.update(res.layers)
    traced = [t for t, on in zip(res.op_s, res.traced) if on]
    plain = [t for t, on in zip(res.op_s, res.traced) if not on]
    if traced and plain:
        out["trace.overhead_ratio"] = (statistics.median(traced)
                                       / statistics.median(plain))
    groups = spark_counters_by_group(event_log)
    n = max(len(traced), 1)
    for layer in LAYER_SPANS:
        # a layer's group and its sub-spans' (suite.<family>.construct)
        gs = [g for name, g in groups.items()
              if name == layer or name.startswith(layer + ".")]
        calls = res.per_call.get(layer, n) or 1
        for c in SPARK_PER_LAYER:
            out[f"spark.{layer}.{c}"] = sum(g[c] for g in gs) / calls
    for c in SPARK_COUNTERS:
        out[f"spark.{c}"] = sum(g[c] for name, g in groups.items()
                                if name != "untraced"
                                and name not in res.per_call) / n
    lake_files = res.layers.get("ingest.lake_files", 0)
    queries = res.per_call.get("lake.query", 0)
    if "lake.query" in groups and lake_files and queries:
        out["lake.files_read_ratio"] = (groups["lake.query"]["files_read"]
                                        / (queries * lake_files))
    return out


def main(argv=None) -> int:
    started = time.perf_counter()
    args = _parse(argv)
    # record, never wait: a run must finish in bounded time
    os.environ.setdefault("SPARK_GRAFT_LOAD_WAITS", "0")
    import bench
    import pyspark

    from downscaledclimatedata_spark.session import get_spark
    from cputime import jit_cpu_s, tree_cpu_s
    from spans import Tracer
    from workloads import SIZES, WORKLOADS, Context

    provenance = bench.wait_for_quiet_box()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (work / "events").mkdir()
    os.environ["TMPDIR"] = str(work / "tmp")
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "tmp"),
        # a fixed-size heap: no run-to-run variance from heap resizing;
        # JIT compiler threads that never exit, so that tree_cpu_s can
        # leave out all the CPU time they used
        "spark.driver.extraJavaOptions":
            "-Xms2g -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    try:
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", shuffle_partitions=cpus,
                          extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        session_cpu_s = tree_cpu_s() - c0
        try:
            ctx = Context(spark, Tracer(spark.sparkContext, bool(args.trace)),
                          str(work), args.seed, args.seconds,
                          SIZES[args.scale], session_s, session_cpu_s,
                          started + OP_DEADLINE_S)
            t0 = time.perf_counter()
            res = WORKLOADS[args.workload](ctx)
            workload_s = time.perf_counter() - t0
            jit_s = jit_cpu_s()
            anchor = bench.host_anchor(spark)
            master = spark.sparkContext.master
        finally:
            _stop(spark)
        if args.trace:
            metrics = _layer_metrics(res, str(work / "events"))
            metrics["jvm.jit_cpu_s"] = jit_s
            units = per_layer_units()
        else:
            # the least CPU of the run's operations: a crowded host only
            # ever adds CPU time to an operation (shared caches and cores)
            metrics = {"setup_s": res.setup_cpu_s,
                       "op_cpu_s": min(res.op_cpu_s, default=0.0)}
            units = END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "scale": args.scale,
        "session_s": session_s, "session_cpu_s": session_cpu_s,
        "workload_s": workload_s, "jit_cpu_s": jit_s,
        "setup_wall_s": res.setup_s,
        "op_p50_ms": statistics.median(res.op_s) * 1e3, **res.report,
        "op_ms": [round(t * 1e3, 1) for t in res.op_s],
        "op_cpu_s": [round(t, 2) for t in res.op_cpu_s],
        "host_anchor_sec": anchor, "cpus": cpus, "master": master,
        "pyspark": pyspark.__version__, **provenance}}))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
