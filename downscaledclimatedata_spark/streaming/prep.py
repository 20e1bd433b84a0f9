"""Streaming twin of the training-data prep pipeline.

The batch prep family (operators/prep.py) cleans, PII-redacts, and
exact-dedups a static corpus; a growing corpus needs the incremental
twin: as new documents arrive, clean them and emit only those whose
cleaned content has never been seen — across batches and restarts.

Design mirrors streaming/neardup.py (the proven foreachBatch pattern):
the dedup state is an append-only partitioned Parquet relation of
content hashes, shared with batch jobs and restart-safe, not
operator-local streaming state. Each micro-batch:

1. runs the SAME ``clean_documents`` projection the batch pipeline uses
   (one code path for batch and streaming — reference T4 idempotency
   discipline, loca2.py:98);
2. hashes the cleaned content (60-bit md5, same key as batch dedup);
3. keeps the min-doc_id representative within the batch (identical to
   the batch pipeline's min-id representative);
4. anti-joins against the stored hash index -> survivors (shuffle is
   bounded by the batch, never the corpus; at 100 TB the index is
   bucketed by content_hash so the anti-join co-locates);
5. reports the survivors, then appends their hashes to the index.

Exactly-once comes from the stream checkpoint: a replayed batch
re-appends hashes already present, which the anti-join makes harmless
for every LATER batch, and the replayed report is idempotent for a sink
keyed on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from downscaledclimatedata_spark.functions.hashing import md5_long
from downscaledclimatedata_spark.operators.prep import (
    clean_documents, quality_filter)


def _load_hash_index(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """The stored content-hash index, or None only when it genuinely does
    not exist yet. As in neardup._load_index, existence is checked
    explicitly so a transient read failure PROPAGATES and the stream
    retries — silently treating it as empty would re-admit every
    duplicate of the corpus so far."""
    hp = spark._jvm.org.apache.hadoop.fs.Path(index_dir)
    if not hp.getFileSystem(spark._jsc.hadoopConfiguration()).exists(hp):
        return None
    return spark.read.parquet(index_dir)


def batch_prep_survivors(batch: DataFrame, index: DataFrame | None,
                         keep_cols: tuple[str, ...] = ("source",),
                         quality_gate: bool = False
                         ) -> tuple[DataFrame, DataFrame]:
    """(survivors, new_hashes) for one micro-batch against the stored
    hash index — pure DataFrame logic shared by the streaming sink and
    any batch backfill.

    Survivors carry the full cleaned projection (clean_text, n_pii,
    content_text, n_content_tokens + keep_cols) so downstream stages
    (quota, shards) compose without re-cleaning.

    ``quality_gate=True`` drops documents failing the batch engine's
    Gopher-style rule chain (operators/prep.py ``quality_filter``) BEFORE
    cleaning/dedup — the same code path as the batch filter, so a doc is
    admitted by the stream iff the batch pipeline would admit it. The
    gate is a per-row projection + semi-join bounded by the micro-batch.
    """
    if quality_gate:
        passing = quality_filter(batch).filter(F.col("passes")) \
            .select("doc_id")
        batch = batch.join(passing, "doc_id", "left_semi")
    cleaned = clean_documents(batch, keep_cols=keep_cols)
    hashed = cleaned.withColumn(
        "content_hash", md5_long(F.col("content_text")))
    # within-batch representative: min doc_id per hash, exactly like the
    # batch pipeline's min-id dedup (struct-min partial-aggregates
    # map-side; doc_id is unique so later fields never decide)
    rep = (hashed.groupBy("content_hash")
           .agg(F.min(F.struct("doc_id", *keep_cols, "clean_text", "n_pii",
                               "content_text", "n_content_tokens"))
                .alias("best"))
           .select("content_hash", "best.*"))
    if index is not None:
        rep = rep.join(index.select("content_hash"),
                       "content_hash", "left_anti")
    return rep, rep.select("content_hash")


def start_prep_stream(stream: DataFrame, index_dir: str, report,
                      checkpoint_dir: str,
                      keep_cols: tuple[str, ...] = ("source",),
                      available_now: bool = True,
                      quality_gate: bool = False):
    """foreachBatch sink: clean + cross-batch exact dedup, reporting
    survivors per micro-batch via ``report(survivors_df, epoch_id)``.

    ``available_now=True`` drains the backlog then stops (catch-up mode,
    reference sensor-downtime behavior); pass False for a continuous
    trigger.
    """
    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        index = _load_hash_index(spark, index_dir)
        survivors, new_hashes = batch_prep_survivors(
            batch_df, index, keep_cols, quality_gate=quality_gate)
        # report BEFORE appending: every crash window then reports each
        # survivor at least once (crash before append -> replay reports
        # again; crash after append -> the replay's report is suppressed
        # by the anti-join, but the original report already fired).
        # Duplicate reports are idempotent for a doc_id-keyed sink.
        report(survivors, epoch_id)
        new_hashes.write.mode("append").parquet(index_dir)

    writer = (stream.writeStream.foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
