"""Streaming incremental rollup: the maintenance IVM algebra
(operators/maintenance.py ``agg_state`` / ``merge_agg_state``) kept
current by a stream — a 100 TB materialized aggregate updated by each
micro-batch without re-reading history.

Exactly-once by IDEMPOTENT LAYOUT (the sketch index's pattern, not
read-modify-write): every micro-batch writes ITS OWN delta partition
``state_dir/batch=N/`` holding the batch's mergeable per-key state
(n, sum_cents, min_v, max_v). A replayed batch overwrites the same
partition with identical bytes — no applied-marker bookkeeping, no
crash window between "state merged" and "batch recorded". Reads merge
across partitions with ONE groupBy (count/sum add, min/max combine —
the state is mergeable by construction), and ``compact`` folds old
partitions into a base to bound file counts.

Per-batch delta size is |keys in batch| rows — bounded by the key
domain, never by history — so a year of stream at 100 TB/day reads its
rollup from |keys| x |uncompacted batches| summary rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from downscaledclimatedata_spark.functions import publish
from downscaledclimatedata_spark.operators.maintenance import (
    AGG_STATE_COLS, agg_state)

_STATE_SCHEMA = ("key string, n bigint, sum_cents bigint, "
                 "min_v double, max_v double")


def start_rollup_stream(stream: DataFrame, state_dir: str,
                        checkpoint_dir: str,
                        key_col: str = "event_type",
                        value_col: str = "value"):
    """Attach the incremental rollup to a stream; returns the query.
    Uses availableNow so tests and backfills drain the source and
    stop; a production run would use a processing-time trigger."""

    publish.recover(state_dir)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        delta = agg_state(batch_df, key_col, value_col) \
            .withColumnRenamed(key_col, "key")
        (delta.coalesce(1).write.mode("overwrite")
         .parquet(f"{state_dir}/batch={int(batch_id)}"))

    return (stream.writeStream.foreachBatch(_fold)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def read_rollup(spark: SparkSession, state_dir: str,
                key_col: str = "event_type") -> DataFrame:
    """Merged rollup across all delta partitions: one groupBy over the
    bounded summary rows (count/sum add, min/max combine) — identical
    algebra to ``merge_agg_state``, realized as a single aggregate so N
    partitions merge in one pass instead of N-1 pairwise joins.

    Raises if a tree was recreated beside a compaction's stranded aside:
    reading past it would silently drop the history stranded there."""
    publish.recover(state_dir)
    df = (spark.read.schema(_STATE_SCHEMA)
          .option("basePath", state_dir)
          .parquet(f"{state_dir}/batch=*"))
    return (df.groupBy("key")
            .agg(F.sum("n").alias("n"),
                 F.sum("sum_cents").alias("sum_cents"),
                 F.min("min_v").alias("min_v"),
                 F.max("max_v").alias("max_v"))
            .withColumnRenamed("key", key_col))


def compact_rollup(spark: SparkSession, state_dir: str) -> int:
    """Fold every delta partition into the ``batch=-1`` base (bounds
    file count like the sketch/near-dup compactions). Returns the
    number of partitions folded.

    A superset tree is NOT safe here — summed state read alongside its
    own inputs double-counts — so the merged base is written into a
    staging tree that replaces the whole state directory
    (``publish.write_dir``): a failed or killed compaction leaves the
    old tree, or, killed between the two renames, an aside that the
    next read, append or compaction recovers."""
    import glob

    publish.recover(state_dir)
    parts = glob.glob(f"{glob.escape(state_dir)}/batch=*")
    if len(parts) <= 1:
        return 0
    merged = read_rollup(spark, state_dir, key_col="key")
    publish.write_dir(
        state_dir, lambda staging: merged.select("key", *AGG_STATE_COLS)
        .coalesce(1).write.parquet(f"{staging}/batch=-1"))
    return len(parts)
