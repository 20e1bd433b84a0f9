"""The benchmark's workloads.

Each workload is a function ``(ctx) -> Result``. It sets up (measured
as ``setup_s``: the session start plus the median of ``SETUP_REPS``
repeated set-ups), warms up untimed, then one closed-loop client runs
operations while ``more_ops`` says so, then every output is checked
against DuckDB outside the timed region. Set-up and operations are
measured in wall seconds and in CPU seconds of the whole process tree
(``cputime.tree_cpu_s``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
from pyspark.sql import functions as F

from downscaledclimatedata_spark.operators.netcdf3 import (
    netcdf3_tidy_decoder, parse_netcdf3)

import checks
import loca2tree
import tables
from cputime import tree_cpu_s
from spans import Tracer
from tick import BUCKET, CATALOG_ID, State, run_tick

SETUP_REPS = 3
MIN_TICKS = 3
WARM_QUERIES = 2
QUERIES = 8
MIN_PASSES = 2
# the two fastest operations of a run must agree within this ratio of
# wall time, or the run adds another operation (see more_ops)
AGREE = 1.25

# Sizes per scale. "full" is what BENCHMARK.json measures; "tiny" is
# the smoke test's.
SIZES = {
    "full": {
        "cold_files": 16, "cold_grid": (12, 60, 80), "cold_models": 4,
        "tables": tables.SIZES["full"],
    },
    "tiny": {
        "cold_files": 3, "cold_grid": (12, 3, 4), "cold_models": 2,
        "tables": tables.SIZES["tiny"],
    },
}

# The headline_suite pass: per spec family, the headline specs that enter
# its modules (plans.relational, operators.dedup, operators.similarity,
# operators.prep, operators.textops, pipeline, operators.catalog), the
# cheapest one per module. A pass runs them in this order.
SUITE = {
    "relational": ("q05_region_revenue",),
    "dedup": ("dedup_minhash_lsh_pairs",),
    "similarity": ("similarity_cosine_topk",),
    "prep_text": ("prep_text_clean", "text_top_terms"),
    "pipeline": ("pipeline_corpus_build",),
    "catalog": ("catalog_build",),
}


@dataclass
class Result:
    """What a workload hands back to run.py."""
    setup_cpu_s: float
    setup_s: float                         # the same in wall seconds
    op_s: list[float]                      # operation latencies
    op_cpu_s: list[float]                  # operation CPU seconds
    traced: list[bool]                     # was op i traced
    attempted: int
    failed: int
    report: dict = field(default_factory=dict)   # workload-specific figures
    layers: dict = field(default_factory=dict)   # per-layer figures (trace)
    # layers whose Spark counters are per traced call, not per traced
    # operation: layer -> traced calls
    per_call: dict = field(default_factory=dict)


@dataclass
class Context:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    size: dict
    session_s: float
    session_cpu_s: float
    # perf_counter() after which no further operation starts once one is
    # done: a run on a crowded host still ends in bounded time
    deadline: float


def more_ops(ctx: Context, op_s: list[float], busy: float,
             least: int) -> bool:
    """Start another operation? Until ``ctx.seconds`` of operation time,
    ``least`` operations, and two operations whose wall times agree
    within AGREE: an operation slowed down by a burst of load from other
    tenants of the host gets a repeat. Never past ``ctx.deadline``."""
    if busy and time.perf_counter() > ctx.deadline:
        return False
    if busy < ctx.seconds or len(op_s) < least:
        return True
    fastest, second = sorted(op_s)[:2]
    return second > AGREE * fastest


def tail(values: list[float]) -> tuple[float, float, int]:
    """(percentile, value, n): the highest percentile with at least ten
    samples beyond it, or the maximum when there are ten or fewer."""
    n = len(values)
    s = sorted(values)
    if n <= 10:
        return 100.0, s[-1], n
    k = n - 11                      # index with exactly ten samples above
    return round(100.0 * (k + 1) / n, 1), s[k], n


def timed_setup(ctx: Context, build) -> tuple[float, float, object]:
    """Run ``build(rep)`` SETUP_REPS times; return (CPU seconds, wall
    seconds, last result), each the session start plus the median rep."""
    cpus, reps, out = [], [], None
    for rep in range(SETUP_REPS):
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        out = build(rep)
        reps.append(time.perf_counter() - t0)
        cpus.append(tree_cpu_s() - c0)
    return (ctx.session_cpu_s + statistics.median(cpus),
            ctx.session_s + statistics.median(reps), out)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _lake_stats(lake: str) -> tuple[int, int]:
    n = size = 0
    for d, _, names in os.walk(lake):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, name))
    return n, size


def _codec_rates(files: list[loca2tree.NcFile]) -> dict:
    """Mcells/s of parse_netcdf3 and netcdf3_tidy_decoder on payloads."""
    blobs = [(f, loca2tree.payload(f)) for f in files]
    cells = sum(f.cells for f, _ in blobs)
    t0 = time.perf_counter()
    for _, b in blobs:
        parse_netcdf3(b)
    t1 = time.perf_counter()
    for f, b in blobs:
        netcdf3_tidy_decoder(b, {"variable": f.variable})
    t2 = time.perf_counter()
    return {"netcdf3.parse_mcells_per_s": cells / (t1 - t0) / 1e6,
            "netcdf3.tidy_mcells_per_s": cells / (t2 - t1) / 1e6}


TICK_SPANS = ("listing", "discovery.manifest", "discovery.new_work",
              "cursor.log_read", "ingest.decode_write", "cursor.log_append",
              "cursor.commit", "catalog.build", "catalog.write")


def _tick_layers(ctx: Context, ticks: list, st: State, con) -> dict:
    """Per-tick medians of each layer's span time plus the tick funnel."""
    tr = ctx.tracer
    out = {("listing.s" if span == "listing" else f"{span}_s"):
           _median(tr.durations(span)) for span in TICK_SPANS}
    out.update({
        "listing.keys": _median([t.keys_listed for t in ticks]),
        "discovery.new_ratio": _median([t.files_decoded / t.keys_listed
                                        for t in ticks]),
        "ingest.files_decoded": _median([t.files_decoded for t in ticks]),
        "catalog.quarantined": _median([t.quarantined for t in ticks]),
        "cursor.log_rows": checks.log_rows(con, st.log),
        "trace.tick_coverage": _median(tr.child_coverage("tick")),
    })
    n_files, n_bytes = _lake_stats(st.lake)
    out["ingest.lake_files"] = n_files
    out["ingest.lake_bytes"] = n_bytes
    out["cursor.files_written"] = sum(
        len(names) for p in (st.log, st.cursor)
        for _, _, names in os.walk(p))
    return out


# --- cold_ingest -------------------------------------------------------------

def _timed_op(label: str, fn, cpu: list | None = None):
    """(seconds, result or None): a failed operation is reported, counted
    by the caller, and does not stop the run. With ``cpu`` given, the
    operation's CPU seconds (``tree_cpu_s``) are appended to it."""
    c0 = tree_cpu_s() if cpu is not None else 0.0
    t0 = time.perf_counter()
    try:
        out = fn()
    except Exception as exc:  # counted as failed; the run goes on
        print(f"{label} failed: {exc!r}", file=sys.stderr, flush=True)
        out = None
    dt = time.perf_counter() - t0
    if cpu is not None:
        cpu.append(tree_cpu_s() - c0)
    return dt, out


def cold_ingest(ctx: Context) -> Result:
    """Each operation is one full tick over a fresh tree no tick has seen.
    After the last one, one more tick over the same tree must find
    nothing new, decode 0 files and leave the log as it was; then a
    query service answers QUERIES coverage queries over the lake the
    last tick wrote (``serve_queries``)."""
    sz = ctx.size
    rng = np.random.default_rng(ctx.seed)
    grid = tuple(sz["cold_grid"])

    def new_tree(i: int) -> tuple[State, list]:
        st = State(f"{ctx.work}/cold{i:03d}")
        files = loca2tree.make_files(rng, sz["cold_files"], grid,
                                     sz["cold_models"])
        loca2tree.write_tree(st.tree, files)
        return st, files

    setup_cpu_s, setup_s, _ = timed_setup(ctx,
                                          lambda rep: new_tree(900 + rep))
    # warm the JVM and the Python workers on one tree of the same shape;
    # after a smaller warm-up the first measured tick ran about 25% slower
    t0 = time.perf_counter()
    warm, _ = new_tree(999)
    run_tick(ctx.spark, warm, Tracer(), 0)
    shutil.rmtree(warm.root, ignore_errors=True)
    warmup_s = time.perf_counter() - t0

    con = duckdb.connect()
    op_s, op_cpu_s, traced, ticks = [], [], [], []
    cells_per_s, bytes_per_cell, catalog_rows = [], [], []
    failed = attempted = 0
    busy = 0.0
    while more_ops(ctx, op_s, busy, MIN_TICKS):
        i = attempted
        st, files = new_tree(i)
        tracer = _tracer_for(ctx, i)
        dt, res = _timed_op("cold_ingest tick",
                            lambda: run_tick(ctx.spark, st, tracer, 1),
                            op_cpu_s)
        busy += dt
        attempted += 1
        if res is None:
            op_cpu_s.pop()
            failed += 1
            continue
        cells = sum(f.cells for f in files)
        bad_catalog, n_rows = checks.catalog_mismatches(
            con, st.catalog, CATALOG_ID, st.tree, BUCKET)
        failed += bool((res.files_decoded != len(files))
                       + checks.lake_mismatches(con, st.lake, files)
                       + bad_catalog
                       + (checks.log_rows(con, st.log) != len(files)))
        op_s.append(dt)
        traced.append(tracer.enabled)
        ticks.append(res)
        catalog_rows.append(n_rows)
        cells_per_s.append(cells / dt)
        bytes_per_cell.append(_lake_stats(st.lake)[1] / cells)
        if i >= 1:
            shutil.rmtree(f"{ctx.work}/cold{i - 1:03d}", ignore_errors=True)
    # the last tree again: nothing new, so nothing decoded or logged
    noop_s, again = _timed_op("cold_ingest no-op tick",
                              lambda: run_tick(ctx.spark, st, Tracer(), 2))
    attempted += 1
    failed += (again is None or again.files_decoded != 0
               or checks.log_rows(con, st.log) != len(files))
    served = serve_queries(ctx, st, files, con)
    attempted += served["queries"]
    failed += served.pop("failed")
    p, tv, n = tail(op_s)
    report = {"tick_s": _median(op_s), "tick_tail_s": tv,
              "tick_tail_pct": p, "ticks": n,
              "noop_tick_s": noop_s,
              "cells_per_tick": sum(f.cells for f in files),
              "warmup_s": warmup_s,
              "cells_per_s": _median(cells_per_s),
              "stored_bytes_per_cell": _median(bytes_per_cell), **served}
    layers, per_call = {}, {}
    if ctx.tracer.enabled:
        layers = _tick_layers(ctx, ticks, st, con)
        layers["ingest.cells_written"] = report["cells_per_tick"]
        layers["catalog.rows"] = _median(catalog_rows)
        layers.update(_codec_rates(files))
        queries = ctx.tracer.durations("lake.query")
        layers["lake.query_s"] = _median(queries)
        per_call["lake.query"] = len(queries)
    return Result(setup_cpu_s, setup_s, op_s, op_cpu_s, traced, attempted,
                  failed, report, layers, per_call)


# --- lake queries ------------------------------------------------------------

def _month(year: int, m: int) -> str:
    year += m // 12
    return f"{year:04d}-{m % 12 + 1:02d}-01 00:00:00"


def lake_plan(rng: np.random.Generator, files: list[loca2tree.NcFile],
              n: int) -> list[dict]:
    """A fixed seeded query sequence, half selective (one model/scenario,
    a 1-6 month window), half broad (every model, one month), in the
    pattern S B B S so that the even (traced) and odd positions each
    hold both kinds."""
    plan = []
    nt = files[0].grid[0]
    for q in range(n):
        f = files[int(rng.integers(len(files)))]
        m0 = int(rng.integers(nt))
        if q % 4 in (0, 3):
            span = int(rng.integers(1, 7))
            plan.append({"kind": "selective", "model": f.model,
                         "scenario": f.scenario,
                         "lo": _month(f.year, m0),
                         "hi": _month(f.year, min(m0 + span, nt))})
        else:
            plan.append({"kind": "broad", "model": None, "scenario": None,
                         "lo": _month(f.year, m0),
                         "hi": _month(f.year, m0 + 1)})
    return plan


def _where(q: dict) -> str:
    w = f"time >= TIMESTAMP '{q['lo']}' AND time < TIMESTAMP '{q['hi']}'"
    if q["model"] is not None:
        w += f" AND model = '{q['model']}' AND scenario = '{q['scenario']}'"
    return w


def _spark_query(lake, q: dict) -> tuple:
    cond = ((F.col("time") >= F.lit(q["lo"]).cast("timestamp"))
            & (F.col("time") < F.lit(q["hi"]).cast("timestamp")))
    if q["model"] is not None:
        cond = cond & (F.col("model") == q["model"]) \
            & (F.col("scenario") == q["scenario"])
    return tuple(lake.filter(cond).agg(
        F.count(F.lit(1)), F.sum("value"), F.min("value"),
        F.max("value")).collect()[0])


def serve_queries(ctx: Context, st: State, files: list, con) -> dict:
    """Read-side phase of ``cold_ingest``: a query service opens the lake
    the last tick wrote and answers a seeded sequence of coverage
    queries, each checked against DuckDB over the same Parquet files.
    Returns the report figures and, under ``failed``, the mismatches."""
    lake = ctx.spark.read.parquet(st.lake)
    for q in lake_plan(np.random.default_rng(ctx.seed + 1), files,
                       WARM_QUERIES):
        _spark_query(lake, q)              # warm-up, untimed
    plan = lake_plan(np.random.default_rng(ctx.seed + 2), files, QUERIES)
    op_s, answers = [], []
    for i, q in enumerate(plan):
        tracer = _tracer_for(ctx, i)

        def query():
            with tracer.span("lake.query"):
                return _spark_query(lake, q)

        dt, ans = _timed_op("lake query", query)
        op_s.append(dt)
        answers.append(ans)
    con.execute("CREATE OR REPLACE TABLE lake AS SELECT * FROM read_parquet("
                f"'{checks.lake_glob(st.lake)}', hive_partitioning=true)")
    failed = 0
    for q, ans in zip(plan, answers):
        want = con.execute(
            "SELECT count(*), sum(value), min(value), max(value) FROM lake "
            f"WHERE {_where(q)}").fetchone()
        failed += ans is None or tuple(ans) != tuple(want)
    kinds = {k: [dt for q, dt in zip(plan, op_s) if q["kind"] == k]
             for k in ("selective", "broad")}
    p, tv, n = tail([x * 1e3 for x in op_s])
    return {"query_p50_ms": _median(op_s) * 1e3, "query_tail_ms": tv,
            "query_tail_pct": p, "queries": n,
            "selective_p50_ms": _median(kinds["selective"]) * 1e3,
            "broad_p50_ms": _median(kinds["broad"]) * 1e3,
            "query_ms": [round(t * 1e3, 1) for t in op_s],
            "failed": failed}


# --- headline_suite ----------------------------------------------------------

def _suite_pass(ctx: Context, specs: dict, data: str, tracer: Tracer):
    """One pass over SUITE: construct each spec, then collect it.
    Returns (name, pandas frame or None) per spec."""
    out = []
    with tracer.span("pass"):
        for family, names in SUITE.items():
            for name in names:
                def run():
                    with tracer.span(f"suite.{family}.construct"):
                        df = specs[name].spark(ctx.spark, data)
                    with tracer.span(f"suite.{family}.collect"):
                        return df.toPandas()
                out.append((name, _timed_op(name, run)[1]))
    return out


def headline_suite(ctx: Context) -> Result:
    """Each operation is one warm pass over the SUITE headline specs on
    tables generated from the seed; every output is hash-compared with
    the spec's DuckDB oracle."""
    from downscaledclimatedata_spark.plans import all_specs
    specs = all_specs()
    names = [n for ns in SUITE.values() for n in ns]
    if not all(specs[n].headline for n in names):
        raise RuntimeError("a SUITE spec is no longer a headline spec")

    def build(rep: int) -> str:
        d = f"{ctx.work}/tables{rep}"
        tables.write(tables.build(ctx.seed, ctx.size["tables"]), d)
        return d

    setup_cpu_s, setup_s, data = timed_setup(ctx, build)
    # warm-up, untimed: one cold pass. Later passes keep getting a little
    # cheaper while the JVM compiles (CPU seconds, JIT excluded, of passes
    # 2-4: about 11, 10.4 and 9.6 on a 4-vCPU VM)
    t0 = time.perf_counter()
    _suite_pass(ctx, specs, data, Tracer())
    warmup_s = time.perf_counter() - t0
    op_s, op_cpu_s, traced, outputs, busy = [], [], [], [], 0.0
    while more_ops(ctx, op_s, busy, MIN_PASSES):
        tracer = _tracer_for(ctx, len(op_s))
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        outputs.extend(_suite_pass(ctx, specs, data, tracer))
        op_s.append(time.perf_counter() - t0)
        op_cpu_s.append(tree_cpu_s() - c0)
        busy += op_s[-1]
        traced.append(tracer.enabled)
    con = duckdb.connect()
    failed = checks.suite_mismatches(con, data, specs, outputs)
    report = {"suite_s": _median(op_s), "passes": len(op_s),
              "warmup_s": warmup_s,
              "specs": names}
    layers = {}
    if ctx.tracer.enabled:
        n = sum(traced)
        for family in SUITE:
            for part in ("construct", "collect"):
                span = f"suite.{family}.{part}"
                layers[f"{span}_s"] = sum(ctx.tracer.durations(span)) / n
        layers["trace.pass_coverage"] = _median(
            ctx.tracer.child_coverage("pass"))
    return Result(setup_cpu_s, setup_s, op_s, op_cpu_s, traced, len(outputs),
                  failed, report, layers)


# --- tracing -----------------------------------------------------------------

def _tracer_for(ctx: Context, i: int) -> Tracer:
    """Traced runs alternate traced and untraced operations, so that the
    run measures its own tracing overhead."""
    return ctx.tracer if i % 2 == 0 else Tracer()


WORKLOADS = {"cold_ingest": cold_ingest, "headline_suite": headline_suite}
