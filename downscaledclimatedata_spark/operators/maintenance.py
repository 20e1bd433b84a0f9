"""Table-maintenance operators: small-file compaction and skew diagnostics.

A 100 TB pipeline's steady-state enemies are (a) small files — every
incremental write (streaming micro-batch, per-model ingest like the
reference's one-run-per-NetCDF-file flow,
/root/reference/downscaled_climate_data/assets/loca2.py:18-50) fragments
the table until scans are dominated by open/seek overhead — and (b) key
skew, which turns one reducer into the job's critical path. Both fixes are
expressed here as plain DataFrame jobs.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from downscaledclimatedata_spark.functions import publish
from downscaledclimatedata_spark.plans import QuerySpec, register
from downscaledclimatedata_spark.sources.tables import load_table_parallel

DEFAULT_TARGET_BYTES = 128 << 20


def table_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` via the Hadoop FileSystem API (works for
    file://, hdfs://, s3a:// alike — no driver-side directory walking)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.getContentSummary(hpath).getLength()


def compact_parquet(spark: SparkSession, in_dir: str, out_dir: str,
                    target_bytes: int = DEFAULT_TARGET_BYTES,
                    sort_cols: list[str] | None = None) -> int:
    """Rewrite a fragmented parquet directory into ~target-sized files.

    Partition count = ceil(input_bytes / target_bytes) — sized from actual
    data, not the incoming split count. With ``sort_cols`` the rewrite
    uses repartitionByRange + sortWithinPartitions, so parquet min/max
    row-group stats become selective for those columns (data-skipping on
    later scans). Returns the partition count used.

    Compaction is idempotent (overwrite mode): re-running after a partial
    failure converges, matching the reference's re-materialization
    semantics (T4).
    """
    df = spark.read.parquet(in_dir)
    n = max(1, math.ceil(table_bytes(spark, in_dir) / target_bytes))
    if sort_cols:
        out = (df.repartitionByRange(n, *[F.col(c) for c in sort_cols])
               .sortWithinPartitions(*sort_cols))
    else:
        out = df.repartition(n)
    out.write.mode("overwrite").parquet(out_dir)
    return n


def overwrite_partitions(df: DataFrame, out_dir: str,
                         partition_cols: list[str]) -> None:
    """Overwrite ONLY the hive partitions present in ``df``; untouched
    partitions survive.

    This is the per-partition idempotent re-materialization an incremental
    pipeline needs (reference T4 overwrites a whole Zarr store per asset,
    /root/reference/downscaled_climate_data/assets/loca2.py:98 — here one
    model/scenario partition re-runs without clobbering its siblings).
    Writer-level option, so no session-wide config mutation.
    """
    (df.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(*partition_cols)
     .parquet(out_dir))


def key_skew_stats(df: DataFrame, key: str) -> DataFrame:
    """Distribution stats of per-key cardinalities: the pre-flight check
    before choosing a shuffle key (skew_factor = max/avg; ~1 is uniform,
    >> 1 means salt the key or enable AQE skew handling)."""
    counts = df.groupBy(key).agg(F.count("*").alias("cnt"))
    n_keys = F.count("*").cast("double")
    total = F.sum("cnt").cast("double")
    return counts.agg(
        F.count("*").alias("n_keys"),
        F.min("cnt").alias("min_cnt"),
        F.max("cnt").alias("max_cnt"),
        F.sum("cnt").alias("total_rows"),
        (F.max("cnt").cast("double") / (total / n_keys)).alias("skew_factor"))


def maintenance_skew_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table_parallel(spark, sf_dir, "events", key="user_id")
    return key_skew_stats(ev, "user_id")


_SKEW_SQL = """
WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id)
SELECT COUNT(*) AS n_keys, MIN(cnt) AS min_cnt, MAX(cnt) AS max_cnt,
  CAST(SUM(cnt) AS BIGINT) AS total_rows,
  CAST(MAX(cnt) AS DOUBLE)
    / (CAST(SUM(cnt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS skew_factor
FROM c
"""


register(QuerySpec("maintenance_key_skew", maintenance_skew_query, _SKEW_SQL,
                   description="per-key cardinality skew diagnostics (max/avg factor)"))


# --- incremental aggregate maintenance (materialized-view delta merge) ---------

AGG_STATE_COLS = ("n", "sum_cents", "min_v", "max_v")


def agg_state(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Mergeable per-key aggregate state: (key, n, sum_cents, min_v,
    max_v). Sums are ROUND(value*100) BIGINT cents so merged state is
    exact in any order; avg is derived at read time, never stored."""
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    return df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("sum_cents"),
        F.min(value_col).alias("min_v"),
        F.max(value_col).alias("max_v"))


def merge_agg_state(state: DataFrame, delta: DataFrame,
                    key_col: str) -> DataFrame:
    """Fold a delta batch's aggregate state into an existing state —
    the incremental-view-maintenance step that updates a 100 TB
    rollup from a 1 GB day of new data without touching history.

    Count/sum add, min/max combine; keys on either side only pass
    through. One outer join keyed on the (uniform) group key; the
    state relation is |keys|-bounded, not fact-bounded.
    """
    s = state.select(key_col, *[F.col(c).alias(f"s_{c}")
                                for c in AGG_STATE_COLS])
    d = delta.select(key_col, *[F.col(c).alias(f"d_{c}")
                                for c in AGG_STATE_COLS])
    j = s.join(d, key_col, "full_outer")
    z = F.lit(0).cast("bigint")
    return j.select(
        key_col,
        (F.coalesce(F.col("s_n"), z) + F.coalesce(F.col("d_n"), z))
        .alias("n"),
        (F.coalesce(F.col("s_sum_cents"), z)
         + F.coalesce(F.col("d_sum_cents"), z)).alias("sum_cents"),
        F.least(F.coalesce(F.col("s_min_v"), F.col("d_min_v")),
                F.coalesce(F.col("d_min_v"), F.col("s_min_v")))
        .alias("min_v"),
        F.greatest(F.coalesce(F.col("s_max_v"), F.col("d_max_v")),
                   F.coalesce(F.col("d_max_v"), F.col("s_max_v")))
        .alias("max_v"))


def maintenance_incremental_agg_query(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Split events into base (id % 10 != 0) and delta (id % 10 == 0),
    build state from the base, merge the delta's state in — the result
    must equal the one-shot aggregate over ALL events, which is exactly
    what the oracle computes. A green row is a machine-checked proof of
    the merge algebra, not just a unit anecdote."""
    from downscaledclimatedata_spark.sources.tables import load_table
    ev = load_table(spark, sf_dir, "events")
    base = agg_state(ev.filter(F.col("event_id") % 10 != 0),
                     "event_type", "value")
    delta = agg_state(ev.filter(F.col("event_id") % 10 == 0),
                      "event_type", "value")
    merged = merge_agg_state(base, delta, "event_type")
    return (merged.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_cents").cast("bigint").alias("sum_cents"),
        "min_v", "max_v",
        (F.col("sum_cents").cast("double") / 100.0
         / F.col("n").cast("double")).alias("avg_v"))
        .orderBy("event_type"))


_INC_AGG_SQL = """
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
  MIN(value) AS min_v, MAX(value) AS max_v,
  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
    / CAST(COUNT(*) AS DOUBLE) AS avg_v
FROM events GROUP BY event_type ORDER BY event_type
"""

register(QuerySpec(
    "maintenance_incremental_agg", maintenance_incremental_agg_query,
    _INC_AGG_SQL,
    description="incremental view maintenance: base+delta mergeable agg "
                "state (count/sum-cents/min/max) must equal the one-shot "
                "aggregate — merge algebra oracle-checked"))


# --- Z-order (Morton) layout clustering -----------------------------------------

ZORDER_BITS = 16        # per-dimension resolution (32-bit z keys)
ZORDER_BUCKETS = 64     # top 6 z-bits -> 3 high bits per dimension


def zorder_key(a, b):
    """Morton interleave of two normalized nonnegative int columns —
    even bits from ``a``, odd bits from ``b``. Pure Catalyst bit ops
    (unrolled ``ZORDER_BITS`` times), no UDF."""
    z = F.lit(0).cast("long")
    for i in range(ZORDER_BITS):
        # Column.bitwiseOR, not `|` (PySpark maps `|` to boolean OR)
        z = z.bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(a, i)
                        .bitwiseAND(F.lit(1)).cast("long"), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(b, i)
                        .bitwiseAND(F.lit(1)).cast("long"), 2 * i + 1))
    return z


def zorder_layout_stats(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Per-bucket locality report for a Z-ORDER file layout: normalize
    both dimensions to ``ZORDER_BITS``-bit grids (exact integer min/max
    scaling), Morton-interleave, split the key space into ``ZORDER_BUCKETS``
    contiguous ranges (= the files a `repartitionByRange(z) +
    sortWithinPartitions(z)` write would produce), and report each
    bucket's row count and RAW min/max/span per dimension.

    This is the number that justifies the layout: every bucket's span
    is structurally <= range / 2^(log2(ZORDER_BUCKETS)/2) in BOTH dimensions
    (each top z-bit pair constrains one bit of each dim), so parquet
    row-group min/max pruning skips files for predicates on EITHER
    column — the multi-dimensional clustering a single-column sort
    cannot give (sorting by a leaves b's span at ~full range per file).

    Scale: two scalar aggregates (broadcast bounds), one narrow
    projection (the unrolled interleave is whole-stage-codegen'd), one
    ``ZORDER_BUCKETS``-group aggregate with map-side partial combine. The
    layout WRITE this models is `repartitionByRange` on z — a single
    range shuffle, the same cost as any global sort the table was
    getting anyway.
    """
    zmax = (1 << (2 * ZORDER_BITS)) // ZORDER_BUCKETS
    bounds = F.broadcast(df.agg(
        F.min(col_a).alias("min_a"), F.max(col_a).alias("max_a"),
        F.min(col_b).alias("min_b"), F.max(col_b).alias("max_b")))
    top = (1 << ZORDER_BITS) - 1
    na = F.expr(f"CAST((({col_a} - min_a) * {top}) "
                f"div greatest(max_a - min_a, 1) AS BIGINT)")
    nb = F.expr(f"CAST((({col_b} - min_b) * {top}) "
                f"div greatest(max_b - min_b, 1) AS BIGINT)")
    z = zorder_key(na, nb)
    return (df.crossJoin(F.broadcast(bounds))
            .select(F.col(col_a).alias("a"), F.col(col_b).alias("b"),
                    (z / F.lit(zmax)).cast("long").alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").alias("n_rows"),
                 F.min("a").alias("min_a"), F.max("a").alias("max_a"),
                 F.min("b").alias("min_b"), F.max("b").alias("max_b"))
            .select("bucket", "n_rows", "min_a", "max_a", "min_b",
                    "max_b",
                    (F.col("max_a") - F.col("min_a")).alias("span_a"),
                    (F.col("max_b") - F.col("min_b")).alias("span_b")))


def maintenance_zorder_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order locality of orders over (o_custkey, order epoch-day) —
    the two columns an orders table is actually filtered by."""
    orders = load_table_parallel(spark, sf_dir, "orders", key="o_orderkey")
    df = orders.select(
        F.col("o_custkey"),
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.lit("1970-01-01").cast("date")).cast("long")
        .alias("o_day"))
    return zorder_layout_stats(df, "o_custkey", "o_day")


def _zorder_sql() -> str:
    top = (1 << ZORDER_BITS) - 1
    zmax = (1 << (2 * ZORDER_BITS)) // ZORDER_BUCKETS
    na = f"(((a - b0.min_a) * {top}) // greatest(b0.max_a - b0.min_a, 1))"
    nb = f"(((b - b0.min_b) * {top}) // greatest(b0.max_b - b0.min_b, 1))"
    z = " | ".join(
        [f"((({na} >> {i}) & 1) << {2 * i})" for i in range(ZORDER_BITS)]
        + [f"((({nb} >> {i}) & 1) << {2 * i + 1})"
           for i in range(ZORDER_BITS)])
    return f"""
WITH pts AS (
  SELECT o_custkey AS a,
    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS b
  FROM orders
), b0 AS (
  SELECT MIN(a) AS min_a, MAX(a) AS max_a,
         MIN(b) AS min_b, MAX(b) AS max_b FROM pts
), keyed AS (
  SELECT a, b, ({z}) // {zmax} AS bucket FROM pts, b0
)
SELECT bucket, COUNT(*) AS n_rows,
  MIN(a) AS min_a, MAX(a) AS max_a,
  MIN(b) AS min_b, MAX(b) AS max_b,
  MAX(a) - MIN(a) AS span_a, MAX(b) - MIN(b) AS span_b
FROM keyed GROUP BY bucket
"""


register(QuerySpec(
    "maintenance_zorder", maintenance_zorder_query, _zorder_sql(),
    description=f"Z-order layout clustering: Morton-interleaved "
                f"{ZORDER_BITS}-bit dims -> {ZORDER_BUCKETS} contiguous "
                "key ranges; per-bucket raw min/max/span certifies "
                "BOTH-dimension file-skipping locality"))


# --- one-pass column profiler -------------------------------------------------

PROFILE_RENDER_LEN = 64  # profiling grain: values render as <= 64-char strings


def table_profile(df: DataFrame, columns: list[str]) -> DataFrame:
    """One-pass per-column data-quality profile: row/null/distinct counts,
    rendered-length range, and the most frequent value — the profiling
    report every ingestion pipeline runs before accepting a new drop.

    Unpivot-based so the table is scanned ONCE for all columns: each row
    explodes into (col, val) pairs with ``val`` rendered as a string
    truncated to ``PROFILE_RENDER_LEN`` chars (the profiler's documented grain —
    distinct counts and top values are exact at that rendering, and the
    shuffle never carries more than ``PROFILE_RENDER_LEN`` chars per value no
    matter how wide a text column is). The (col, val) aggregate
    map-side combines, so the wide shuffle moves one row per DISTINCT
    rendered value, not per input row; the per-column rollup then runs
    over that distinct relation. Top-value ties break deterministically
    on md5(val) — an ASCII hex comparison, immune to the UTF-16 (Spark)
    vs UTF-8-byte (DuckDB) string-collation divergence on non-ASCII
    values.
    """
    from downscaledclimatedata_spark.functions.hashing import md5_long

    pairs = df.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("col"),
                 F.substring(F.col(c).cast("string"), 1, PROFILE_RENDER_LEN)
                 .alias("val"))
        for c in columns])).alias("p")).select("p.col", "p.val")
    grouped = pairs.groupBy("col", "val").agg(
        F.count(F.lit(1)).alias("cnt"))
    top = F.min(F.when(F.col("val").isNotNull(), F.struct(
        (-F.col("cnt")).alias("nc"),
        md5_long(F.col("val")).alias("h"),
        F.col("val").alias("v"))))
    return (grouped.groupBy("col").agg(
        F.sum("cnt").alias("n_rows"),
        F.coalesce(F.sum(F.when(F.col("val").isNull(), F.col("cnt"))),
                   F.lit(0)).alias("n_null"),
        F.count(F.when(F.col("val").isNotNull(), F.lit(1)))
        .alias("n_distinct"),
        F.min(F.when(F.col("val").isNotNull(), F.length("val")))
        .cast("int").alias("min_len"),
        F.max(F.when(F.col("val").isNotNull(), F.length("val")))
        .cast("int").alias("max_len"),
        top.alias("_top"))
        .select("col", "n_rows", "n_null", "n_distinct", "min_len",
                "max_len",
                F.col("_top.v").alias("top_value"),
                (-F.col("_top.nc")).alias("top_count"))
        .orderBy("col"))


DOC_PROFILE_COLS = ("doc_id", "lang", "n_chars", "source", "text")


def maintenance_profile_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return table_profile(docs, list(DOC_PROFILE_COLS))


def _profile_sql() -> str:
    from downscaledclimatedata_spark.functions.hashing import md5_long_sql
    unions = "\n  UNION ALL ".join(
        f"SELECT '{c}' AS col, substr(CAST({c} AS VARCHAR), 1, "
        f"{PROFILE_RENDER_LEN}) AS val FROM documents"
        for c in DOC_PROFILE_COLS)
    h = md5_long_sql("val")
    return f"""
WITH pairs AS (
  {unions}
), grouped AS (
  SELECT col, val, COUNT(*) AS cnt FROM pairs GROUP BY col, val
), rolled AS (
  SELECT col,
    CAST(SUM(cnt) AS BIGINT) AS n_rows,
    CAST(COALESCE(SUM(CASE WHEN val IS NULL THEN cnt END), 0) AS BIGINT)
      AS n_null,
    CAST(COUNT(CASE WHEN val IS NOT NULL THEN 1 END) AS BIGINT)
      AS n_distinct,
    CAST(MIN(CASE WHEN val IS NOT NULL THEN length(val) END) AS INTEGER)
      AS min_len,
    CAST(MAX(CASE WHEN val IS NOT NULL THEN length(val) END) AS INTEGER)
      AS max_len,
    MIN(CASE WHEN val IS NOT NULL THEN
      struct_pack(nc := -cnt, h := {h}, v := val) END) AS top
  FROM grouped GROUP BY col
)
SELECT col, n_rows, n_null, n_distinct, min_len, max_len,
  top.v AS top_value, CAST(-top.nc AS BIGINT) AS top_count
FROM rolled ORDER BY col
"""


register(QuerySpec(
    "maintenance_table_profile", maintenance_profile_query, _profile_sql(),
    description="one-pass unpivot column profiler: null/distinct/top-value "
                "per column, single table scan, shuffle bounded by the "
                "rendering grain"))


# --- CDC apply: snapshot + change-log delta -> new snapshot -------------------

def cdc_fold(changes: DataFrame) -> DataFrame:
    """Fold a change-log to its net effect per key: the LAST operation
    in (ts, event_id) order wins — an upsert yields (key, value, ts),
    a delete yields a tombstone. One map-side-combined max-struct
    aggregate; no window, no per-key sort."""
    return (changes.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "op", "cents"))
                 .alias("last"))
            .select("user_id", F.col("last.op").alias("op"),
                    F.col("last.cents").alias("cents"),
                    F.col("last.ts").alias("ts")))


def cdc_apply(snapshot: DataFrame, delta: DataFrame) -> DataFrame:
    """Apply a folded change-log delta to a keyed snapshot — the MERGE
    step of dimension maintenance, with DELETES (which the pure-additive
    `merge_agg_state` algebra cannot express). Per key: a delta upsert
    replaces the snapshot row, a delta tombstone removes it, no delta
    keeps it. One keys-bounded full-outer join; nothing corpus-sized
    moves — the 100 TB shape is 'update a billion-row dimension from a
    GB of change-log' and the join carries only (key, value, ts)."""
    d = cdc_fold(delta)
    s = snapshot.select("user_id", F.col("cents").alias("s_cents"),
                        F.col("ts").alias("s_ts"))
    merged = s.join(d, "user_id", "full_outer")
    return (merged
            .filter(F.when(F.col("op").isNotNull(), F.col("op") == "U")
                    .otherwise(F.lit(True)))
            .select("user_id",
                    F.coalesce(F.when(F.col("op") == "U", F.col("cents")),
                               F.col("s_cents")).alias("cents"),
                    F.coalesce(F.when(F.col("op") == "U", F.col("ts")),
                               F.col("s_ts")).alias("ts")))


def maintenance_cdc_apply_query(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The merge algebra checked against direct recomputation: events
    are a CDC log (purchase = delete the user's row, anything else =
    upsert the event's value). The stream splits at its midpoint
    timestamp (computed in-plan, broadcast — no collect): the first
    half folds into the SNAPSHOT, the second half is the DELTA, and
    `cdc_apply(snapshot, delta)` must equal the oracle's one-shot fold
    over the whole log — delete-then-upsert resurrection, upsert-then-
    delete removal, and untouched-key passthrough all land in the same
    hash. Output ordered by user for a stable grain."""
    from downscaledclimatedata_spark.sources.tables import load_table

    ev = (load_table(spark, sf_dir, "events")
          .select("user_id", "ts", "event_id",
                  F.when(F.col("event_type") == "purchase", "D")
                  .otherwise("U").alias("op"),
                  F.round(F.col("value") * 100).cast("bigint")
                  .alias("cents")))
    bounds = (ev.agg(F.min(F.unix_micros("ts")).alias("lo"),
                     F.max(F.unix_micros("ts")).alias("hi"))
              .select(F.expr("lo + (hi - lo) DIV 2").alias("cut")))
    tagged = ev.crossJoin(F.broadcast(bounds))
    hist = tagged.filter(F.unix_micros("ts") < F.col("cut")).drop("cut")
    delta = tagged.filter(F.unix_micros("ts") >= F.col("cut")).drop("cut")
    snapshot = cdc_fold(hist).filter(F.col("op") == "U").drop("op")
    # no trailing orderBy: one row per user — corpus-proportional
    return cdc_apply(snapshot, delta)


_CDC_SQL = """
WITH log AS (
  SELECT user_id, ts, event_id,
    CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), ranked AS (
  SELECT user_id, op, cents, ts,
    ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
  FROM log
)
SELECT user_id, cents, ts FROM ranked
WHERE rn = 1 AND op = 'U'
ORDER BY user_id
"""

register(QuerySpec(
    "maintenance_cdc_apply", maintenance_cdc_apply_query, _CDC_SQL,
    description="CDC merge with deletes: snapshot + folded delta via one "
                "keys-bounded full-outer join must equal the one-shot "
                "fold over the whole change-log"))


# --- incremental JOIN maintenance (delta-join algebra) ------------------------

def incremental_join(a_old: DataFrame, a_delta: DataFrame,
                     b_old: DataFrame, b_delta: DataFrame,
                     on: str) -> DataFrame:
    """Maintain a materialized join under inserts on BOTH inputs with
    the delta-join identity:

        (A ∪ ΔA) ⋈ (B ∪ ΔB) = (A ⋈ B)  ∪  ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB

    so refreshing the view costs three delta-sized joins instead of
    re-joining two 100 TB inputs (the old-old term is the already-
    materialized view, passed through untouched). Insert-only IVM —
    deletes need the tombstone algebra of `cdc_apply`; production
    engines (Materialize, DBSP) generalize exactly this identity to
    Z-sets.

    Returns ONLY the incremental terms (everything new since the last
    refresh): union of the three delta joins. Scale: each term joins a
    delta against a base or another delta — the base sides shuffle
    only the join column + payload, and when the delta is small
    Catalyst broadcasts it, so the refresh never rescans base⋈base.
    """
    return (a_delta.join(b_old, on)
            .unionByName(a_old.join(b_delta, on))
            .unionByName(a_delta.join(b_delta, on)))


def maintenance_incremental_join_query(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """The identity checked against direct recomputation: orders and
    lineitem each split into base/delta by a deterministic md5 of the
    order key (so delta rows on both sides correlate — the hard case:
    the ΔA ⋈ ΔB term is non-empty and dropping it silently
    undercounts). The maintained view = materialized base⋈base PLUS
    the three incremental terms; the oracle computes the full join
    from scratch. Aggregated to per-priority counts/revenue so the
    compare is the view's content, not its row order."""
    from downscaledclimatedata_spark.functions.hashing import md5_long
    from downscaledclimatedata_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.round(F.col("l_extendedprice") * 100)
        .cast("bigint").alias("cents"))
    o_is_delta = md5_long(F.col("o_orderkey").cast("string"), "ivmo") % 5 == 0
    l_is_delta = md5_long(F.col("l_orderkey").cast("string"), "ivml") % 7 == 0
    a_old, a_delta = orders.filter(~o_is_delta), orders.filter(o_is_delta)
    b_old, b_delta = li.filter(~l_is_delta), li.filter(l_is_delta)

    renamed_b = [b.withColumnRenamed("l_orderkey", "o_orderkey")
                 for b in (b_old, b_delta)]
    view = (a_old.join(renamed_b[0], "o_orderkey")  # materialized base⋈base
            .unionByName(incremental_join(a_old, a_delta,
                                          renamed_b[0], renamed_b[1],
                                          "o_orderkey")))
    return (view.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum("cents").alias("revenue_cents"))
            .orderBy("o_orderpriority"))


_IVM_JOIN_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_items,
  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
    AS revenue_cents
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

register(QuerySpec(
    "maintenance_incremental_join", maintenance_incremental_join_query,
    _IVM_JOIN_SQL,
    description="delta-join view maintenance: base view + three "
                "delta-sized joins must equal the from-scratch join "
                "(insert-only IVM identity incl. the delta-delta term)"))


# --- data-quality constraint suite (Deequ-style checks in one pass) ----------

CC_NULL_MOD = 97     # plant a NULL o_custkey
CC_DUP_MOD = 101     # plant a duplicated o_orderkey
CC_FK_MOD = 103      # plant an orphan o_custkey (negated key)
CC_DOM_MOD = 109     # plant an out-of-domain o_orderstatus
CC_PRICE_LO = 5000.0
CC_PRICE_HI = 300000.0
CC_MIN_ROWS = 100
PPM = 1_000_000


def constraint_check(checked: DataFrame, dim_keys: DataFrame) -> DataFrame:
    """Deequ-style data-quality verification as plain DataFrame jobs:
    completeness, domain membership, numeric range, key uniqueness,
    referential integrity, and a minimum-row-count gate — each reported
    as (constraint, n_checked, n_violations, compliance_ppm, passed).

    Scale design (100 TB): the three ROW-level constraints (not-null /
    domain / range) ride ONE shuffle-free conditional-aggregate scan —
    adding a row rule never adds a pass. Uniqueness is a count per key
    on the uniform key column (one shuffle, map-side combined); RI is a
    keys-only projection anti-joined to the dimension's key projection
    (one shuffle — the dimension at this scale is itself fact-sized, so
    no broadcast). Compliance ratios are exact-integer ppm via
    DECIMAL(38,0) DIV, hash-identical cross-engine.
    """
    row = checked.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("bigint").alias("v_null"),
        F.sum(F.when(F.col("o_orderstatus").isin("O", "F", "P"), 0)
              .otherwise(1)).cast("bigint").alias("v_dom"),
        F.sum(F.when(F.col("o_totalprice").between(CC_PRICE_LO, CC_PRICE_HI),
                     0).otherwise(1)).cast("bigint").alias("v_rng"),
    ).localCheckpoint(eager=False)

    uniq = (checked.groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .agg(F.sum(F.col("cnt") - 1).cast("bigint").alias("v_uniq"),
                 F.lit(1).alias("k")))
    orphans = (checked.select("o_custkey").filter(F.col("o_custkey").isNotNull())
               .join(dim_keys.select(F.col("c_custkey").alias("o_custkey")),
                     "o_custkey", "left_anti")
               .agg(F.count(F.lit(1)).cast("bigint").alias("v_fk"),
                    F.lit(1).alias("k")))
    wide = (row.withColumn("k", F.lit(1))
            .join(uniq, "k").join(orphans, "k")
            .withColumn("v_cnt",
                        F.when(F.col("n_rows") >= CC_MIN_ROWS, F.lit(0))
                        .otherwise(F.lit(1)).cast("bigint")))
    report = wide.selectExpr(
        "n_rows",
        "stack(6, "
        "'completeness_custkey', v_null, "
        "'domain_orderstatus',  v_dom, "
        "'range_totalprice',    v_rng, "
        "'unique_orderkey',     v_uniq, "
        "'fk_custkey_customer', v_fk, "
        "'min_row_count',       v_cnt) AS (constraint, n_violations)")
    return report.select(
        "constraint",
        F.col("n_rows").alias("n_checked"),
        "n_violations",
        F.expr(f"CAST(CAST(n_rows - n_violations AS DECIMAL(38,0)) * {PPM} "
               f"DIV CAST(n_rows AS DECIMAL(38,0)) AS BIGINT)")
        .alias("compliance_ppm"),
        (F.col("n_violations") <= 0).alias("passed"),
    ).orderBy("constraint")


def _perturbed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders with deterministically planted defects (the sf tables are
    clean, so every constraint class must be made non-vacuous): NULL
    custkeys, duplicated orderkeys, orphaned custkeys, bad statuses."""
    base = load_table_parallel(spark, sf_dir, "orders", key="o_orderkey")
    unioned = base.unionAll(base.filter(F.col("o_orderkey") % CC_DUP_MOD == 0))
    return unioned.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % CC_NULL_MOD == 0, F.lit(None))
        .when(F.col("o_orderkey") % CC_FK_MOD == 0, -F.col("o_custkey"))
        .otherwise(F.col("o_custkey")).alias("o_custkey"),
        F.when(F.col("o_orderkey") % CC_DOM_MOD == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
        "o_totalprice")


def maintenance_constraint_query(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    cust = load_table_parallel(spark, sf_dir, "customer", key="c_custkey")
    return constraint_check(_perturbed_orders(spark, sf_dir),
                            cust.select("c_custkey"))


_CONSTRAINT_SQL = f"""
WITH checked AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % {CC_NULL_MOD} = 0 THEN NULL
         WHEN o_orderkey % {CC_FK_MOD} = 0 THEN -o_custkey
         ELSE o_custkey END AS o_custkey,
    CASE WHEN o_orderkey % {CC_DOM_MOD} = 0 THEN 'X'
         ELSE o_orderstatus END AS o_orderstatus,
    o_totalprice
  FROM (SELECT * FROM orders
        UNION ALL
        SELECT * FROM orders WHERE o_orderkey % {CC_DUP_MOD} = 0)
), rowagg AS (
  SELECT COUNT(*) AS n_rows,
    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS v_null,
    CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END)
      AS BIGINT) AS v_dom,
    CAST(SUM(CASE WHEN o_totalprice BETWEEN {CC_PRICE_LO} AND {CC_PRICE_HI}
             THEN 0 ELSE 1 END) AS BIGINT) AS v_rng
  FROM checked
), uniq AS (
  SELECT CAST(SUM(cnt - 1) AS BIGINT) AS v_uniq
  FROM (SELECT o_orderkey, COUNT(*) AS cnt FROM checked GROUP BY 1)
), fk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v_fk
  FROM checked ch
  WHERE ch.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c
                    WHERE c.c_custkey = ch.o_custkey)
), stacked AS (
  SELECT r.n_rows, v.constraint, v.n_violations
  FROM rowagg r, uniq u, fk f,
  LATERAL (VALUES
    ('completeness_custkey', r.v_null),
    ('domain_orderstatus',  r.v_dom),
    ('range_totalprice',    r.v_rng),
    ('unique_orderkey',     u.v_uniq),
    ('fk_custkey_customer', f.v_fk),
    ('min_row_count', CAST(CASE WHEN r.n_rows >= {CC_MIN_ROWS}
                           THEN 0 ELSE 1 END AS BIGINT))
  ) AS v("constraint", n_violations)
)
SELECT "constraint", CAST(n_rows AS BIGINT) AS n_checked, n_violations,
  CAST(CAST(n_rows - n_violations AS HUGEINT) * {PPM} // n_rows AS BIGINT)
    AS compliance_ppm,
  n_violations <= 0 AS passed
FROM stacked ORDER BY "constraint"
"""

register(QuerySpec(
    "maintenance_constraint_check", maintenance_constraint_query,
    _CONSTRAINT_SQL,
    description="Deequ-style constraint suite: completeness/domain/range "
                "in ONE conditional-agg scan, uniqueness on the uniform "
                "key, keys-only anti-join RI; exact ppm compliance"))


# --- partition content checksums (replica / migration diff) -------------------

def partition_checksums(li: DataFrame) -> DataFrame:
    """Per-partition content fingerprints for certifying that two copies
    of a table are identical without moving either: (year, month) of
    l_shipdate -> row count, order-independent XOR of a portable 60-bit
    row hash, exact-decimal revenue mass, and the orderkey zone-map
    bounds. Two replicas (or a pre/post-migration pair) compare
    |partitions| summary rows; only mismatched partitions are ever
    re-read.

    Determinism: the row hash feeds md5 a canonical rendering — integer
    surrogates for every money column (cents via ROUND(x*100), the
    functions/money.py contract), the DATE-cast ship date, and '|'
    separators — so both engines hash byte-identical strings. XOR is
    order- and partitioning-independent and cannot overflow; the
    revenue mass aggregates as DECIMAL (exact, order-independent).

    Scale design (100 TB): one scan, everything partial-aggregates
    map-side; the only shuffle is the |partitions|-row final combine.
    This is the standard fleet pattern for replication validation /
    storage-format migration sign-off, and the zone-map bounds double
    as free data-skipping stats for the partition.
    """
    from downscaledclimatedata_spark.functions.hashing import md5_long
    from downscaledclimatedata_spark.functions.money import dec, dsum

    cents = lambda c: F.round(F.col(c) * 100).cast("bigint").cast("string")
    rowstr = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_partkey").cast("string"),
        F.col("l_suppkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        cents("l_quantity"), cents("l_extendedprice"),
        cents("l_discount"), cents("l_tax"),
        F.coalesce(F.col("l_returnflag"), F.lit("")),
        F.coalesce(F.col("l_linestatus"), F.lit("")),
        F.col("l_shipdate").cast("date").cast("string"))
    return (li.select(
                F.year("l_shipdate").alias("part_year"),
                F.month("l_shipdate").alias("part_month"),
                md5_long(rowstr, seed="pc0").alias("rh"),
                dec(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                    scale=4).alias("rev"),
                F.col("l_orderkey"))
            .groupBy("part_year", "part_month")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.bit_xor(F.col("rh")).alias("xor_fp"),
                 dsum(F.col("rev"), "sum_revenue"),
                 F.min("l_orderkey").alias("min_orderkey"),
                 F.max("l_orderkey").alias("max_orderkey")))


def maintenance_checksums_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return partition_checksums(
        load_table_parallel(spark, sf_dir, "lineitem", key="l_orderkey"))


def _checksums_sql(from_clause: str = "lineitem") -> str:
    from downscaledclimatedata_spark.functions.hashing import md5_long_sql
    from downscaledclimatedata_spark.functions.money import dec_sql
    cents = lambda c: f"CAST(CAST(ROUND({c} * 100) AS BIGINT) AS VARCHAR)"
    rowstr = (
        "concat_ws('|', CAST(l_orderkey AS VARCHAR), "
        "CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR), "
        "CAST(l_linenumber AS VARCHAR), "
        f"{cents('l_quantity')}, {cents('l_extendedprice')}, "
        f"{cents('l_discount')}, {cents('l_tax')}, "
        "coalesce(l_returnflag, ''), coalesce(l_linestatus, ''), "
        "CAST(CAST(l_shipdate AS DATE) AS VARCHAR))")
    rev = dec_sql("l_extendedprice * (1 - l_discount)", scale=4)
    return f"""
SELECT
  CAST(year(l_shipdate) AS INTEGER) AS part_year,
  CAST(month(l_shipdate) AS INTEGER) AS part_month,
  count(*) AS n_rows,
  bit_xor({md5_long_sql(rowstr, seed="pc0")}) AS xor_fp,
  CAST(SUM({rev}) AS DOUBLE) AS sum_revenue,
  min(l_orderkey) AS min_orderkey,
  max(l_orderkey) AS max_orderkey
FROM {from_clause}
GROUP BY 1, 2
"""


register(QuerySpec(
    "maintenance_partition_checksums", maintenance_checksums_query,
    _checksums_sql(),
    description="per-partition replica-diff fingerprints: one-scan "
                "map-side partial aggregation to order-independent XOR "
                "row hashes, exact decimal mass, and zone-map bounds — "
                "compare |partitions| rows, re-read only mismatches"))


# --- retention planning + partition expiry (VACUUM analog) --------------------

RETAIN_MONTHS = 60  # keep the trailing N months of l_shipdate partitions


def retention_plan(li: DataFrame,
                   retain_months: int = RETAIN_MONTHS) -> DataFrame:
    """Time-based retention report over the (year, month) partition
    layout: classify every partition keep/expire against a horizon
    measured BACK FROM THE TABLE'S OWN MAX month (deterministic — a
    wall-clock cutoff would make the result time-dependent and
    unhashable), with per-partition row counts and exact byte-proxy
    mass, plus each side's share of the table.

    Plan shape: one scan partial-aggregates to the |partitions|-row
    relation; the max-month horizon is a single-row aggregate joined
    back by broadcast. The expiry itself is `expire_partitions` below
    — a metadata-only partition-directory delete in a real lake format
    (here: dynamic-overwrite of survivors), never a row-level rewrite.
    The report is what an operator reviews BEFORE destructive expiry —
    planning and acting are deliberately separate steps.
    """
    parts = (li.select(
                F.year("l_shipdate").alias("part_year"),
                F.month("l_shipdate").alias("part_month"),
                F.length(F.concat_ws(
                    "|", F.col("l_orderkey").cast("string"),
                    F.col("l_returnflag"),
                    F.col("l_linestatus"))).alias("row_bytes"))
             .groupBy("part_year", "part_month")
             .agg(F.count(F.lit(1)).alias("n_rows"),
                  F.sum(F.col("row_bytes").cast("bigint")).alias("approx_bytes")))
    parts = parts.withColumn(
        "mkey", F.col("part_year") * 12 + F.col("part_month") - 1)
    horizon = parts.agg(F.max("mkey").alias("max_mkey"))
    tot = parts.agg(F.sum("n_rows").alias("total_rows"))
    return (parts.crossJoin(F.broadcast(horizon))
            .crossJoin(F.broadcast(tot))
            .select(
                "part_year", "part_month", "n_rows", "approx_bytes",
                (F.col("mkey") > F.col("max_mkey") - retain_months)
                .alias("keep"),
                (F.col("n_rows").cast("double")
                 / F.col("total_rows").cast("double")).alias("row_share"))
            )


def expire_partitions(spark: SparkSession, in_dir: str, out_dir: str,
                      retain_months: int = RETAIN_MONTHS) -> dict:
    """Materialize the survivors of :func:`retention_plan` as a
    (part_year, part_month)-partitioned table and report what was
    dropped. Hive-partitioned write, so a lake engine's partition
    pruning (and any later `overwrite_partitions` backfill) applies."""
    li = spark.read.parquet(in_dir)
    plan = retention_plan(li, retain_months)
    keep = plan.filter(F.col("keep"))
    out = (li.withColumn("part_year", F.year("l_shipdate"))
           .withColumn("part_month", F.month("l_shipdate"))
           .join(F.broadcast(keep.select("part_year", "part_month")),
                 ["part_year", "part_month"]))
    out.write.mode("overwrite").partitionBy("part_year", "part_month") \
        .parquet(out_dir)
    agg = plan.agg(
        F.sum(F.when(F.col("keep"), 0).otherwise(F.col("n_rows"))).alias("dropped_rows"),
        F.sum(F.when(F.col("keep"), F.col("n_rows")).otherwise(0)).alias("kept_rows"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("dropped_parts"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept_parts"),
    ).collect()[0]
    return {k: (0 if agg[k] is None else int(agg[k]))
            for k in ("dropped_rows", "kept_rows",
                      "dropped_parts", "kept_parts")}


def maintenance_retention_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retention_plan(
        load_table_parallel(spark, sf_dir, "lineitem", key="l_orderkey"))


_RETENTION_SQL = f"""
WITH parts AS (
  SELECT CAST(year(l_shipdate) AS INTEGER) AS part_year,
    CAST(month(l_shipdate) AS INTEGER) AS part_month,
    count(*) AS n_rows,
    CAST(SUM(CAST(length(concat_ws('|', CAST(l_orderkey AS VARCHAR),
        l_returnflag, l_linestatus)) AS BIGINT)) AS BIGINT) AS approx_bytes
  FROM lineitem GROUP BY 1, 2
), k AS (
  SELECT *, part_year * 12 + part_month - 1 AS mkey FROM parts
), h AS (SELECT max(mkey) AS max_mkey FROM k),
t AS (SELECT SUM(n_rows) AS total_rows FROM k)
SELECT part_year, part_month, n_rows, approx_bytes,
  mkey > max_mkey - {RETAIN_MONTHS} AS keep,
  CAST(n_rows AS DOUBLE) / CAST(total_rows AS DOUBLE) AS row_share
FROM k CROSS JOIN h CROSS JOIN t
"""

register(QuerySpec(
    "maintenance_retention_plan", maintenance_retention_query,
    _RETENTION_SQL,
    description="time-based retention report: one scan to the "
                "|partitions|-row relation, horizon anchored at the "
                "table's own max month (deterministic), keep/expire "
                "verdict + shares; the destructive expiry is a "
                "separate partition-level (metadata-only) step"))


# --- orphan-file report (VACUUM dry-run) -----------------------------------------

def orphan_file_report(spark: SparkSession, root: str,
                       manifest: DataFrame | None = None) -> DataFrame:
    """Files under a table root that do not belong to the table — the
    dry-run every lake VACUUM runs before deleting. Three orphan
    classes, each a real incident shape:

    - ``bad_suffix``: not a data file (editor droppings, temp files a
      crashed writer left behind),
    - ``bad_layout``: parked under a directory that is not Hive
      ``col=value`` partition layout (a stray subtree a manual copy
      created),
    - ``unreferenced``: on disk but absent from the given manifest
      relation (``key`` column) — the snapshot-diff class a lake
      format's metadata makes precise; pass the previous
      :func:`~..operators.listing.listing_from_fs` snapshot or a
      format manifest.

    Scale: the listing is the executor-parallel metadata-only
    ``binaryFile`` walk (no content reads, plan-asserted in
    test_listing.py); classification is a shuffle-free projection;
    the manifest check is a key-keyed left anti join. Planning and
    deleting are separate steps, like :func:`retention_plan`.

    Caveat (inherent to Hadoop listings): names starting with ``_`` or
    ``.`` (``_SUCCESS``, ``.crc``) are invisible to the walk, so they
    never appear — they are also invisible to every reader, hence
    harmless by the same rule that hides them.
    """
    from downscaledclimatedata_spark.operators.listing import (
        listing_from_fs)

    listing = listing_from_fs(spark, root)
    dirs = F.slice(F.split(F.col("key"), "/"), 1,
                   F.greatest(F.size(F.split(F.col("key"), "/")) - 1,
                              F.lit(0)))
    classified = listing.select(
        "key", "size",
        (~F.col("key").endswith(".parquet")).alias("bad_suffix"),
        F.exists(dirs, lambda d: ~d.contains("=")).alias("bad_layout"))
    if manifest is not None:
        known = manifest.select(F.col("key")).distinct()
        unref = (listing.join(known, "key", "left_anti")
                 .select("key", F.lit(True).alias("unreferenced")))
        classified = (classified.join(unref.hint("merge"), "key", "left")
                      .withColumn("unreferenced",
                                  F.coalesce("unreferenced",
                                             F.lit(False))))
    else:
        classified = classified.withColumn("unreferenced", F.lit(False))
    return (classified
            .filter(F.col("bad_suffix") | F.col("bad_layout")
                    | F.col("unreferenced"))
            .select("key", "size", "bad_suffix", "bad_layout",
                    "unreferenced")
            .orderBy("key"))


def delete_orphans(spark: SparkSession, root: str,
                   manifest: DataFrame | None = None) -> dict:
    """Apply step for :func:`orphan_file_report` — the destructive half
    of VACUUM, deliberately a separate call (plan, review, then act;
    the retention_plan/expire_partitions discipline). Deletes exactly
    the files the report lists, via the driver-side filesystem for
    local paths (the report is |orphans|-bounded — orphans are
    incidents, not data volume), and returns counts + reclaimed bytes.
    Refuses to touch anything the report did not flag.
    """
    import os

    rep = orphan_file_report(spark, root, manifest).collect()
    base = os.path.abspath(root)
    n = 0
    freed = 0
    for r in rep:
        path = os.path.join(base, r.key)
        # the key is root-relative by construction; never follow ..
        if not os.path.abspath(path).startswith(base + os.sep):
            continue
        if os.path.isfile(path):
            freed += os.path.getsize(path)
            os.remove(path)
            n += 1
    return {"n_deleted": n, "bytes_reclaimed": freed,
            "n_flagged": len(rep)}


# --- write-audit-publish (WAP) ----------------------------------------------------

def write_audit_publish(spark: SparkSession, df: DataFrame,
                        final_dir: str,
                        audits: list) -> dict:
    """The write-audit-publish pattern: materialize to a STAGING
    location, audit WHAT WAS WRITTEN (re-read from disk — auditing the
    logical plan would miss writer bugs, schema coercions, and partial
    files), and only then atomically publish by directory rename.
    A failed audit leaves staging in place for inspection and the
    final location untouched — downstream readers never see bad data,
    which is the entire point of the pattern.

    ``audits`` is a list of (name, violation_condition Column) pairs;
    all are evaluated in ONE conditional-aggregate pass over the
    staged bytes. Publish is a local directory swap (two renames,
    ``functions/publish.py``); on object stores a real deployment
    substitutes the table format's commit, same seam.
    """
    return publish_audited(
        spark, final_dir, audits,
        lambda staging: df.write.mode("errorifexists").format("parquet")
        .save(staging))


def publish_audited(spark: SparkSession, final_dir: str, audits: list,
                    write_fn) -> dict:
    """Generalized WAP core: ``write_fn(staging_dir)`` materializes the
    table with ANY writer (plain save, hive-partitioned shard write,
    ...); the audit + aside-rename publish are shared. This is the seam
    the corpus builder's ``audits=`` option publishes through. Staging
    and publishing are ``functions/publish.py``'s: a failed write or a
    failed publishing rename leaves ``final_dir`` as it was."""
    from pyspark.errors.exceptions.captured import AnalysisException

    with publish.staged(final_dir) as staging:
        write_fn(staging)
        try:
            staged = spark.read.format("parquet").load(staging)
            aggs = [F.count(F.lit(1)).alias("_n")]
            for name, cond in audits:
                aggs.append(F.sum(F.when(cond, 1).otherwise(0))
                            .cast("bigint").alias(name))
            row = staged.agg(*aggs).collect()[0]
            report = {name: int(row[name]) for name, _ in audits}
            report["n_rows"] = int(row["_n"])
        except AnalysisException as e:
            # an EMPTY staged write leaves no footers to infer a schema
            # from; zero rows trivially satisfy every audit, and an empty
            # corpus must still publish (atomically replacing any prior
            # snapshot with the honest empty result)
            if "UNABLE_TO_INFER_SCHEMA" not in str(e):
                raise
            report = {name: 0 for name, _ in audits}
            report["n_rows"] = 0
        passed = all(v == 0 for k, v in report.items() if k != "n_rows")
        report["passed"] = passed
        report["staging"] = staging
        report["published"] = False
        if passed:
            publish.swap(staging, final_dir)
            report["published"] = True
            report["staging"] = None
    return report


# --- schema evolution: read drifted parquet generations as one table ----------------

_INTEGRAL_WIDTH = ["tinyint", "smallint", "int", "bigint"]
_FLOAT_WIDTH = ["float", "double"]
_DECIMAL_RE = re.compile(r"^decimal\((\d+),(\d+)\)$")


def _widen(a: str, b: str) -> str:
    """Widest of two Spark simpleString types under the parquet/Iceberg
    evolution rules: integrals widen among themselves, float widens to
    double, and an int/smallint/tinyint vs float/double drift widens to
    double (lossless: double's 53-bit mantissa holds every int32). A
    bigint-vs-float/double drift RAISES — long does not fit a double
    exactly above 2^53, so "widening" it would silently corrupt large
    ids, the very class evolution readers must refuse. Non-numeric
    types must match exactly (a silent string<->numeric coercion is a
    data bug, not evolution)."""
    if a == b:
        return a
    if a in _INTEGRAL_WIDTH and b in _INTEGRAL_WIDTH:
        return _INTEGRAL_WIDTH[max(_INTEGRAL_WIDTH.index(a),
                                   _INTEGRAL_WIDTH.index(b))]
    if a in _FLOAT_WIDTH and b in _FLOAT_WIDTH:
        return _FLOAT_WIDTH[max(_FLOAT_WIDTH.index(a),
                                _FLOAT_WIDTH.index(b))]
    pair = {a, b}
    if pair & set(_INTEGRAL_WIDTH) and pair & set(_FLOAT_WIDTH):
        if "bigint" in pair:
            raise ValueError(
                f"incompatible schema evolution: {a} vs {b} "
                "(bigint does not fit a double exactly above 2^53; "
                "refusing lossy widening)")
        return "double"
    da, db = _DECIMAL_RE.match(a), _DECIMAL_RE.match(b)
    if da and db:
        # decimal(p,s) -> decimal(p',s): SAME-scale precision growth is
        # the Iceberg/parquet decimal evolution rule — exact (every
        # decimal(p,s) value IS a decimal(p',s) value for p' > p, no
        # float transit). A SCALE change is refused: rescaling either
        # rounds (shrink) or re-interprets unscaled longs (grow), and
        # both silently alter stored values.
        pa, sa = int(da.group(1)), int(da.group(2))
        pb, sb = int(db.group(1)), int(db.group(2))
        if sa != sb:
            raise ValueError(
                f"incompatible schema evolution: {a} vs {b} "
                "(decimal SCALE changed; refusing a value-altering "
                "rescale — only same-scale precision growth is exact)")
        return f"decimal({max(pa, pb)},{sa})"
    raise ValueError(f"incompatible schema evolution: {a} vs {b}")


def read_evolved(spark: SparkSession, paths: list,
                 renames: dict | None = None) -> DataFrame:
    """Read parquet generations whose schemas DRIFTED — added columns,
    widened numeric types, and RENAMED columns — as one table. Spark's
    own ``mergeSchema`` handles added columns but REFUSES a type
    widening (int files next to long files fail the footer merge);
    years of accumulated pipeline output have exactly that drift.

    Per generation: read with its own schema, cast every shared column
    to the union-widened type, and ``unionByName`` with missing
    columns null-filled. Casting happens per-generation at scan time
    (a projection — no shuffle); incompatible non-numeric drift raises
    instead of coercing. Column order follows first appearance across
    generations, so adding ``paths`` in write order keeps the table
    stable.

    ``renames`` maps HISTORICAL column name -> CURRENT name — the
    field-id-style identity Iceberg keeps in metadata and raw parquet
    loses: without it a renamed column reads as drop + add and NULLs
    the history. Each generation is renamed before the widening union,
    so rename composes with widening (old name at int, new name at
    bigint reads as one bigint column, no NULL rows). Every historical
    alias maps directly to the CURRENT name (for a -> b -> c pass
    ``{"a": "c", "b": "c"}``). AMBIGUOUS mappings refuse loudly: a
    generation carrying both the old and the new name cannot be
    resolved (which one is the field?), nor can two aliases of the
    same field co-occurring in one generation.
    """
    renames = dict(renames or {})
    for old, new in renames.items():
        if old == new:
            raise ValueError(f"rename maps {old!r} to itself")
    dfs = []
    for p in paths:
        df = spark.read.parquet(p)
        have = {f.name for f in df.schema.fields}
        pending = {o: n for o, n in renames.items() if o in have}
        for old, new in pending.items():
            if new in have:
                raise ValueError(
                    f"ambiguous rename {old!r} -> {new!r}: generation "
                    f"{p} carries BOTH names; refusing to guess which "
                    "is the field")
        targets = sorted(pending.values())
        dup = {t for t in targets if targets.count(t) > 1}
        if dup:
            raise ValueError(
                f"ambiguous rename: aliases of {sorted(dup)} co-occur "
                f"in generation {p}")
        dfs.append(df.withColumnsRenamed(pending) if pending else df)
    merged: dict = {}
    for df in dfs:
        for f in df.schema.fields:
            t = f.dataType.simpleString()
            merged[f.name] = (_widen(merged[f.name], t)
                              if f.name in merged else t)
    out = None
    for df in dfs:
        have = {f.name for f in df.schema.fields}
        cols = [(F.col(n).cast(t) if n in have
                 else F.lit(None).cast(t)).alias(n)
                for n, t in merged.items()]
        part = df.select(*cols)
        out = part if out is None else out.unionByName(part)
    return out


def maintenance_read_evolved_query(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Three drifted parquet generations MATERIALIZED from ``orders``
    (int vs bigint key, int vs bigint cents, float vs double score, a
    column added mid-stream) read back as one table via
    :func:`read_evolved`, then summarized. The oracle re-derives the
    same union relationally from ``orders``, so the widening ladder,
    the per-generation casts, and the null-fill are all under the hash
    gate — not just unit-asserted. (Spark's own ``mergeSchema`` refuses
    this exact tree: int files next to bigint files fail the footer
    merge.)

    Score is quarters (k/4 — exact in float AND double), summed as
    ``score*4`` BIGINT so the cross-engine sum is integer-exact.
    """
    import shutil
    import tempfile

    from downscaledclimatedata_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100)
    score = (F.col("o_orderkey") % 1000).cast("double") / 4
    base = tempfile.mkdtemp(prefix="dcd_evolved_")
    try:
        # the int-vs-bigint drift evidence lives on CENTS (price
        # magnitudes are scale-invariant, so the int32 domain holds at
        # any SF); keys stay bigint — replica-shifted orderkeys exceed
        # int32 on the sf1+ ladder rungs, which is a data-domain fact,
        # not schema drift
        # decimal drift rides an INTEGER-derived value (okey % 100000
        # cast to decimal: fractional part .00 exact in both engines —
        # a double->decimal cast would hit rounding-mode divergence)
        dval = F.col("o_orderkey") % 100000
        g1 = orders.filter(F.col("o_orderkey") % 3 == 0).select(
            F.col("o_orderkey").cast("bigint").alias("okey"),
            cents.cast("int").alias("cents"),
            dval.cast("decimal(12,2)").alias("dval"))
        g2 = orders.filter(F.col("o_orderkey") % 3 == 1).select(
            F.col("o_orderkey").cast("bigint").alias("okey"),
            cents.cast("bigint").alias("cents"),
            F.col("o_orderpriority").alias("priority"),
            score.cast("float").alias("score"))
        g3 = orders.filter(F.col("o_orderkey") % 3 == 2).select(
            F.col("o_orderkey").cast("bigint").alias("okey"),
            score.cast("double").alias("score"),
            dval.cast("decimal(18,2)").alias("dval"))
        paths = []
        for i, g in enumerate((g1, g2, g3)):
            p = f"{base}/gen{i}"
            g.write.parquet(p)
            paths.append(p)
        u = read_evolved(spark, paths)
        got_types = [f.dataType.simpleString() for f in u.schema.fields]
        if got_types != ["bigint", "bigint", "decimal(18,2)", "string",
                         "double"]:
            raise ValueError(f"unified schema mismatch: {u.schema}")
        return u.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("okey").cast("bigint").alias("sum_okey"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.sum(F.col("cents").isNull().cast("bigint"))
            .cast("bigint").alias("n_null_cents"),
            F.count("priority").cast("bigint").alias("n_priority"),
            F.sum((F.col("score") * 4).cast("bigint"))
            .cast("bigint").alias("sum_score_q"),
            F.sum((F.col("dval") * 100).cast("bigint"))
            .cast("bigint").alias("sum_dval_c"),
            F.sum(F.col("dval").isNull().cast("bigint"))
            .cast("bigint").alias("n_null_dval")).localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


_READ_EVOLVED_SQL = """
WITH g1 AS (
  SELECT o_orderkey AS okey,
    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
    CAST(o_orderkey % 100000 AS DECIMAL(12,2)) AS dval,
    NULL AS priority, CAST(NULL AS DOUBLE) AS score
  FROM orders WHERE o_orderkey % 3 = 0),
g2 AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT),
    CAST(NULL AS DECIMAL(18,2)),
    o_orderpriority, CAST(o_orderkey % 1000 AS DOUBLE) / 4
  FROM orders WHERE o_orderkey % 3 = 1),
g3 AS (
  SELECT o_orderkey, NULL, CAST(o_orderkey % 100000 AS DECIMAL(18,2)),
    NULL, CAST(o_orderkey % 1000 AS DOUBLE) / 4
  FROM orders WHERE o_orderkey % 3 = 2),
u AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2
      UNION ALL SELECT * FROM g3)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(okey) AS BIGINT) AS sum_okey,
  CAST(SUM(cents) AS BIGINT) AS sum_cents,
  CAST(SUM(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_null_cents,
  CAST(COUNT(priority) AS BIGINT) AS n_priority,
  CAST(SUM(CAST(score * 4 AS BIGINT)) AS BIGINT) AS sum_score_q,
  CAST(SUM(CAST(dval * 100 AS BIGINT)) AS BIGINT) AS sum_dval_c,
  CAST(SUM(CASE WHEN dval IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_null_dval
FROM u
"""

register(QuerySpec(
    "maintenance_read_evolved", maintenance_read_evolved_query,
    _READ_EVOLVED_SQL,
    description="schema-evolution reader: drifted parquet generations "
                "(key/cents widening, float->double, added column) as "
                "one table; union summary oracle-checked"))


def maintenance_read_renamed_query(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Three-generation rename tree (r11 advice #7) materialized from
    ``orders`` and read back through :func:`read_evolved` with a
    rename mapping: gen0 writes ``amount_cents`` int, gen1 RENAMES it
    to ``cents`` (still int, plus an added ``priority`` column), gen2
    keeps ``cents`` but WIDENS it to bigint — so the mapping must
    compose with both the null-fill and the widening ladder. The pin
    that matters: ``n_null_cents = 0`` — without the mapping the gen0
    history would read as a dropped column and NULL a third of the
    rows. The oracle re-derives the union relationally.
    """
    import shutil
    import tempfile

    from downscaledclimatedata_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100)
    base = tempfile.mkdtemp(prefix="dcd_renamed_")
    try:
        g0 = orders.filter(F.col("o_orderkey") % 3 == 0).select(
            F.col("o_orderkey").cast("bigint").alias("okey"),
            cents.cast("int").alias("amount_cents"))
        g1 = orders.filter(F.col("o_orderkey") % 3 == 1).select(
            F.col("o_orderkey").cast("bigint").alias("okey"),
            cents.cast("int").alias("cents"),
            F.col("o_orderpriority").alias("priority"))
        g2 = orders.filter(F.col("o_orderkey") % 3 == 2).select(
            F.col("o_orderkey").cast("bigint").alias("okey"),
            cents.cast("bigint").alias("cents"))
        paths = []
        for i, g in enumerate((g0, g1, g2)):
            p = f"{base}/gen{i}"
            g.write.parquet(p)
            paths.append(p)
        u = read_evolved(spark, paths, renames={"amount_cents": "cents"})
        got_fields = [(f.name, f.dataType.simpleString())
                      for f in u.schema.fields]
        if got_fields != [("okey", "bigint"), ("cents", "bigint"),
                          ("priority", "string")]:
            raise ValueError(f"unified schema mismatch: {u.schema}")
        return u.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("okey").cast("bigint").alias("sum_okey"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.sum(F.col("cents").isNull().cast("bigint"))
            .cast("bigint").alias("n_null_cents"),
            F.count("priority").cast("bigint").alias("n_priority")
        ).localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


_READ_RENAMED_SQL = """
WITH u AS (
  SELECT o_orderkey AS okey,
    CAST(round(o_totalprice * 100) AS BIGINT) AS cents, NULL AS priority
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT),
    o_orderpriority
  FROM orders WHERE o_orderkey % 3 = 1
  UNION ALL
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT), NULL
  FROM orders WHERE o_orderkey % 3 = 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(okey) AS BIGINT) AS sum_okey,
  CAST(SUM(cents) AS BIGINT) AS sum_cents,
  CAST(SUM(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_null_cents,
  CAST(COUNT(priority) AS BIGINT) AS n_priority
FROM u
"""

register(QuerySpec(
    "maintenance_read_renamed", maintenance_read_renamed_query,
    _READ_RENAMED_SQL,
    description="schema-evolution reader with a field-id-style rename "
                "mapping: orig -> renamed -> renamed+widened tree reads "
                "as one bigint column with ZERO nulls (raw parquet "
                "would read the rename as drop+add and null the "
                "history); ambiguous mappings refuse"))


def streaming_rollup_ivm_query(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The streaming incremental rollup (streaming/ivm.py) driven
    end-to-end: events re-staged as 4 files, streamed one file per
    micro-batch through ``start_rollup_stream`` (each batch writing its
    idempotent delta partition), compacted, and read back merged. The
    oracle is the ONE-SHOT aggregate over all events — a green row
    proves delta decomposition + merge + all-or-nothing compaction
    reproduce the batch answer exactly.
    """
    import shutil
    import tempfile

    from downscaledclimatedata_spark.sources.tables import load_table
    from downscaledclimatedata_spark.streaming.ivm import (
        compact_rollup, read_rollup, start_rollup_stream)

    ev = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="dcd_rollup_")
    try:
        edir = f"{base}/events"
        ev.repartition(4).write.parquet(edir)
        staged = spark.read.parquet(edir)
        stream = (spark.readStream.schema(staged.schema)
                  .option("maxFilesPerTrigger", 1).parquet(edir))
        q = start_rollup_stream(stream, f"{base}/state", f"{base}/ckpt")
        q.awaitTermination(300)
        compact_rollup(spark, f"{base}/state")
        out = read_rollup(spark, f"{base}/state").select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("sum_cents").cast("bigint").alias("sum_cents"),
            "min_v", "max_v")
        return out.localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


_ROLLUP_IVM_SQL = """
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
  MIN(value) AS min_v, MAX(value) AS max_v
FROM events GROUP BY event_type
"""

register(QuerySpec(
    "streaming_rollup_ivm", streaming_rollup_ivm_query, _ROLLUP_IVM_SQL,
    description="streaming incremental materialized rollup: per-batch "
                "idempotent delta partitions, one-groupBy merged read, "
                "atomic-swap compaction — merged state equals the "
                "one-shot aggregate (oracle-checked)"))


# --- compaction bin-packing planner (OPTIMIZE small-file planning) ---------------

COMPACT_TARGET = 100_000_000  # target bin size (simulated bytes = cents)


def compaction_plan(files: DataFrame,
                    target: int = COMPACT_TARGET) -> DataFrame:
    """Plan small-file compaction bins per table partition — the
    planning half of Delta/Iceberg ``OPTIMIZE``: group each partition's
    files into output bins of at most ``target`` bytes using
    next-fit-DECREASING (sort by size descending, open a new bin
    whenever the next file no longer fits; a single file larger than
    ``target`` gets its own bin).

    Bin packing is a true sequential recurrence — each file's bin
    depends on the FILL the previous decision left behind, which no
    window function carries — so it runs via ``applyInPandas``:
    sequential WITHIN a partition's file list (bounded: file counts per
    table partition are thousands, not corpus rows), parallel ACROSS
    partitions. Pure python-int arithmetic (no numpy wrap). The oracle
    is the same recurrence as a DuckDB linear recursive CTE.

    Output: one row per planned bin — (part, bin_id, n_files,
    bin_bytes) — the work list a compaction executor would consume.
    """
    import pandas as pd

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["size_bytes", "file_id"],
                              ascending=[False, True])
        bins, fills, nfiles = [], [], []
        bin_id, fill, nf = 0, 0, 0
        for s in pdf["size_bytes"]:
            s = int(s)
            if nf > 0 and fill + s > target:
                bins.append((bin_id, nf, fill))
                bin_id, fill, nf = bin_id + 1, 0, 0
            fill += s
            nf += 1
        if nf > 0:
            bins.append((bin_id, nf, fill))
        out = pd.DataFrame(bins, columns=["bin_id", "n_files",
                                          "bin_bytes"])
        out.insert(0, "part", pdf["part"].iloc[0])
        return out

    return files.groupBy("part").applyInPandas(
        pack, "part string, bin_id long, n_files long, "
              "bin_bytes long")


def maintenance_compaction_query(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    orders = load_table_parallel(spark, sf_dir, "orders", key="o_orderkey")
    files = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("part"),
        F.col("o_orderkey").alias("file_id"),
        F.round(F.col("o_totalprice") * 100).cast("bigint")
        .alias("size_bytes"))
    return compaction_plan(files)


_COMPACT_SQL = f"""
WITH RECURSIVE files AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS part,
    o_orderkey AS file_id,
    CAST(round(o_totalprice * 100) AS BIGINT) AS size_bytes
  FROM orders
), numbered AS (
  SELECT part, file_id, size_bytes,
    ROW_NUMBER() OVER (PARTITION BY part
                       ORDER BY size_bytes DESC, file_id) AS rn
  FROM files
), walk(part, rn, size_bytes, bin_id, fill) AS (
  SELECT part, rn, size_bytes, 0, size_bytes FROM numbered WHERE rn = 1
  UNION ALL
  SELECT n.part, n.rn, n.size_bytes,
    CASE WHEN w.fill + n.size_bytes > {COMPACT_TARGET}
         THEN w.bin_id + 1 ELSE w.bin_id END,
    CASE WHEN w.fill + n.size_bytes > {COMPACT_TARGET}
         THEN n.size_bytes ELSE w.fill + n.size_bytes END
  FROM walk w
  JOIN numbered n ON n.part = w.part AND n.rn = w.rn + 1
)
SELECT part, CAST(bin_id AS BIGINT) AS bin_id,
  CAST(COUNT(*) AS BIGINT) AS n_files,
  CAST(SUM(size_bytes) AS BIGINT) AS bin_bytes
FROM walk GROUP BY part, bin_id
"""

register(QuerySpec(
    "maintenance_compaction_plan", maintenance_compaction_query,
    _COMPACT_SQL,
    description="compaction bin-packing planner (OPTIMIZE): next-fit-"
                "decreasing per table partition via applyInPandas "
                "(sequential within a partition's bounded file list, "
                "parallel across partitions), recursive-CTE oracle"))


# --- snapshot manifest diff (partition-granularity change detection) -------------

MANIFEST_DEL_MOD = 101  # snapshot B deletes l_orderkey % 101 == 0 rows
MANIFEST_UPD_MOD = 97   # ...and bumps quantity on % 97 == 0 rows


def manifest_diff(snap_a: DataFrame, snap_b: DataFrame) -> DataFrame:
    """Partition-granularity diff of two table snapshots — the
    incremental-maintenance planner's first question ("which partitions
    changed since the last run?") answered WITHOUT reading either
    snapshot twice: each side collapses to its
    :func:`partition_checksums` summary (one scan, map-side partial
    aggregation), and the diff is a FULL OUTER join of two
    |partitions|-row relations. Status per partition: ``added`` /
    ``removed`` / ``changed`` (count or order-independent XOR
    fingerprint differs) / ``unchanged`` — downstream recomputation
    touches only the non-unchanged partitions.
    """
    ca = partition_checksums(snap_a).select(
        "part_year", "part_month",
        F.col("n_rows").alias("rows_a"), F.col("xor_fp").alias("fp_a"))
    cb = partition_checksums(snap_b).select(
        "part_year", "part_month",
        F.col("n_rows").alias("rows_b"), F.col("xor_fp").alias("fp_b"))
    j = ca.join(cb, ["part_year", "part_month"], "full_outer")
    status = (F.when(F.col("fp_a").isNull(), F.lit("added"))
              .when(F.col("fp_b").isNull(), F.lit("removed"))
              .when((F.col("fp_a") == F.col("fp_b"))
                    & (F.col("rows_a") == F.col("rows_b")),
                    F.lit("unchanged"))
              .otherwise(F.lit("changed")))
    return j.select(
        "part_year", "part_month", status.alias("status"),
        F.coalesce(F.col("rows_a"), F.lit(0)).cast("bigint")
        .alias("rows_a"),
        F.coalesce(F.col("rows_b"), F.lit(0)).cast("bigint")
        .alias("rows_b"))


def maintenance_manifest_diff_query(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Snapshot B simulates a CDC day: every ``% 101`` orderkey's rows
    deleted, every ``% 97``'s quantity bumped — partitions holding
    neither class must report ``unchanged``."""
    li = load_table_parallel(spark, sf_dir, "lineitem", key="l_orderkey")
    upd = F.col("l_orderkey") % MANIFEST_UPD_MOD == 0
    snap_b = (li.filter(F.col("l_orderkey") % MANIFEST_DEL_MOD != 0)
              .withColumn("l_quantity",
                          F.when(upd, F.col("l_quantity") + 1)
                          .otherwise(F.col("l_quantity"))))
    return manifest_diff(li, snap_b)


def _manifest_diff_sql() -> str:
    snap_b = f"""(
  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
    CASE WHEN l_orderkey % {MANIFEST_UPD_MOD} = 0
         THEN l_quantity + 1 ELSE l_quantity END AS l_quantity,
    l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
    l_shipdate
  FROM lineitem WHERE l_orderkey % {MANIFEST_DEL_MOD} <> 0
)"""
    return f"""
WITH ca AS ({_checksums_sql()}),
cb AS ({_checksums_sql(snap_b)})
SELECT coalesce(a.part_year, b.part_year) AS part_year,
  coalesce(a.part_month, b.part_month) AS part_month,
  CASE WHEN a.xor_fp IS NULL THEN 'added'
       WHEN b.xor_fp IS NULL THEN 'removed'
       WHEN a.xor_fp = b.xor_fp AND a.n_rows = b.n_rows
            THEN 'unchanged'
       ELSE 'changed' END AS status,
  CAST(coalesce(a.n_rows, 0) AS BIGINT) AS rows_a,
  CAST(coalesce(b.n_rows, 0) AS BIGINT) AS rows_b
FROM ca a FULL JOIN cb b
  ON a.part_year = b.part_year AND a.part_month = b.part_month
"""


register(QuerySpec(
    "maintenance_manifest_diff", maintenance_manifest_diff_query,
    _manifest_diff_sql(),
    description="snapshot manifest diff: two one-scan checksum "
                "summaries full-outer-joined at partition granularity "
                "— added/removed/changed/unchanged without a row-level "
                "compare"))
