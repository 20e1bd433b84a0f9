"""Structured Streaming growth path (SURVEY §7.4).

The reference is a polling incremental pipeline (sensors with minimum
intervals, loca2_sensor.py:19-22); v0 of the engine keeps that shape as
batch-incremental (cursor.py). This module lifts the manifest source to
Structured Streaming: a file source watching a manifest directory,
exactly-once via checkpoint + dropDuplicates on run_key (T3), processing
cadence via trigger intervals mirroring the reference's sensor periods.

No watermarks/session windows are scheduled — no reference semantics
need them (SURVEY §2.9 [abs]) — but `windowed_event_counts` demonstrates
the event-time tumbling-window capability over the events table shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from downscaledclimatedata_spark.operators.discovery import MANIFEST_COLUMNS

# the discovery manifest's columns, all strings
MANIFEST_SCHEMA = T.StructType([T.StructField(c, T.StringType())
                                for c in MANIFEST_COLUMNS])

# reference sensor cadences (loca2_sensor.py:19, :22)
DAILY_TRIGGER = "7200 seconds"
MONTHLY_TRIGGER = "600 seconds"

# ~bytes of stream input one state-store partition should own. State
# partition count is pinned into the checkpoint at batch 0, and every
# stateful micro-batch pays per-partition state-store open/commit cost
# with AQE disabled — 32 partitions on a KB-scale replay spent 5x the
# wall on store bookkeeping (r13: attribution stream 22.7 s -> 4.6 s
# at 4 partitions, identical rows). Scale-adaptive, not a local tune:
# a real deployment sizes state partitions to throughput the same way.
STATE_PARTITION_BYTES = 64 * 1024 * 1024


def scaled_state_partitions(spark: SparkSession, input_bytes: int,
                            floor: int = 4) -> "_StatePartitions":
    """Context manager: size ``spark.sql.shuffle.partitions`` (= state
    partition count) to the stream's input volume for the duration of
    a bounded streaming run, then restore the session value.

    ``max(floor, input_bytes // STATE_PARTITION_BYTES)`` capped at the
    session default — large inputs keep the session's parallelism,
    KB-scale replays stop paying 32 state-store commits per stage per
    batch. The value is read at query start and pinned into the
    checkpoint, so restoring after the drain cannot affect the stream.
    """
    return _StatePartitions(spark, input_bytes, floor)


class _StatePartitions:
    _KEY = "spark.sql.shuffle.partitions"

    def __init__(self, spark: SparkSession, input_bytes: int, floor: int):
        self._spark = spark
        self._bytes = input_bytes
        self._floor = floor

    def __enter__(self) -> int:
        self._old = self._spark.conf.get(self._KEY)
        cap = max(int(self._old), 1)
        n = min(cap, max(self._floor,
                         self._bytes // STATE_PARTITION_BYTES))
        self._spark.conf.set(self._KEY, str(n))
        return n

    def __exit__(self, *exc) -> None:
        self._spark.conf.set(self._KEY, self._old)
        return None


def dir_bytes(path: str) -> int:
    """Total size of the staged stream-input files under ``path``."""
    import os
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table with the same timestamp
    normalization as the batch reader (sources/tables.py), so streaming
    and batch plans see an identical schema. The stream source needs an
    explicit schema, so sniff it from a batch scan of the same file —
    this handles both the long-nanos and TIMESTAMP(MICROS) fixture
    shapes without hard-coding either.

    ASSUMPTION: one timestamp shape per watched directory. The sniff
    happens once at stream-definition time, so a directory that later
    receives files of the OTHER shape would mis-parse or fail mid-stream.
    A mixed-shape lake needs per-batch normalization instead (foreachBatch
    re-reading each batch's files through ``normalize_events_ts``)."""
    import os

    from ..sources.tables import normalize_events_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")).schema
    # the streaming file source requires a directory path: watch sf_dir
    # and glob down to the events table file(s)
    raw = (spark.readStream.schema(raw_schema)
           .option("pathGlobFilter", "events.parquet")
           .parquet(sf_dir))
    return normalize_events_ts(raw)


def manifest_stream(spark: SparkSession, manifest_dir: str) -> DataFrame:
    """File-source stream over the discovery manifest directory."""
    return (spark.readStream.schema(MANIFEST_SCHEMA)
            .option("maxFilesPerTrigger", 1)  # one listing batch per tick
            .parquet(manifest_dir))


def dedup_run_keys(stream: DataFrame) -> DataFrame:
    """Exactly-once per s3_key across the stream (reference T3 run-key
    suppression). State is unbounded like the reference's run-key store;
    a production deployment ages it with a watermark on an ingest-time
    column."""
    return stream.dropDuplicates(["s3_key"])


def dedup_events_bounded(events: DataFrame, key: str = "event_id",
                         watermark: str = "10 minutes") -> DataFrame:
    """BOUNDED-state streaming dedup: the production variant of
    :func:`dedup_run_keys`. ``dropDuplicates`` keeps one state row per
    key FOREVER — on an unbounded key domain (event ids, s3 keys over
    years of crawl) that state grows without limit and eventually OOMs
    the streaming job. ``dropDuplicatesWithinWatermark`` keeps a key's
    state only until the event-time watermark passes its first-seen
    time + the delay: duplicates arriving within the horizon are
    suppressed, state is EVICTED afterwards, and a very-late replay of
    an old key is re-emitted (the documented trade: exactly-once
    within the horizon, at-least-once beyond it — the right contract
    when upstream retries are bounded in time, which file-source
    redelivery and queue retries are).

    At 100 TB/day this is the difference between state ∝ keys-ever-seen
    and state ∝ keys-per-horizon."""
    return (events.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark([key]))


def start_ingest_stream(stream: DataFrame, process_batch, checkpoint_dir: str,
                        trigger: str = MONTHLY_TRIGGER,
                        available_now: bool = False):
    """foreachBatch sink: each micro-batch is a normal DataFrame handed to
    the batch ingest operator (operators/ingest.py), so batch and
    streaming share one code path.

    ``available_now=True`` is the catch-up mode (reference behavior after
    sensor downtime: the next tick drains the whole backlog): process all
    currently-available input in rate-limited micro-batches, then stop —
    exactly-once state and checkpoints behave identically to the
    continuous trigger, so the two modes can be alternated on one
    checkpoint dir.
    """
    writer = (dedup_run_keys(stream)
              .writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger)
    return writer.start()


def attribution_join(events: DataFrame, window: str = "10 minutes",
                     watermark: str = "1 hour",
                     how: str = "inner") -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks within the preceding ``window`` (ad-attribution shape).

    Works identically on static DataFrames and on streams; in streaming,
    the watermarks bound both sides' join state so it never grows
    unboundedly (Spark drops click state older than watermark + window).

    ``how="leftOuter"`` keeps purchases with NO qualifying click as
    NULL-click rows. In streaming this is the watermark-DELAYED
    emission semantics: an unmatched purchase cannot be emitted when
    first seen (a matching click may still arrive), so Spark holds it
    in state and emits the NULL row only once the watermark proves the
    join window closed — the batch answer arrives, just later. The
    interval condition is what makes the outer join legal on streams:
    it bounds how long either side must wait.
    """
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("p_ts"))
                 .withWatermark("p_ts", watermark))
    clicks = (events.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("c_ts"))
              .withWatermark("c_ts", watermark))
    cond = ((F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {window}")))
    return (purchases.join(clicks, cond, how)
            .select(F.col("p_user").alias("user_id"), "purchase_id",
                    "click_id", "p_ts", "c_ts"))


RUNNING_COUNT_SCHEMA = "user_id bigint, n_events bigint, total_value double"


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running event count + value sum
    via ``applyInPandasWithState`` — the hook for stateful logic Spark's
    built-in aggregations can't express (per-key custom state machines).

    Emits one updated row per user per micro-batch; state persists in the
    checkpoint across batches. The self-contained closure keeps executors
    independent of this package (pickled by value).
    """
    def update(key, pdfs, state):
        import pandas as _pd
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield _pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                             "total_value": [total]})

    from pyspark.sql.streaming.state import GroupStateTimeout
    return (events.groupBy("user_id")
            .applyInPandasWithState(
                update, RUNNING_COUNT_SCHEMA,
                "n bigint, total double",
                "update", GroupStateTimeout.NoTimeout))


def windowed_event_counts(events: DataFrame, window: str = "5 minutes",
                          watermark: str = "10 minutes") -> DataFrame:
    """Event-time tumbling-window counts with late-data watermark —
    the streaming-agg capability demo over the events schema (works on
    both a static DataFrame and a stream)."""
    return (events.withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("win"), "event_type")
            .agg(F.count("*").alias("n_events"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    "event_type", "n_events"))
