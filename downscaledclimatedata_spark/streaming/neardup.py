"""Incremental near-duplicate detection over a document stream.

The batch dedup pipeline (operators/dedup.py) answers "which existing
docs are near-dups of each other"; a growing corpus needs the streaming
twin: as new documents arrive, flag which ones near-duplicate SOMETHING
ALREADY INGESTED, without rescanning the corpus.

Design: the LSH band index is the state, persisted as an append-only
partitioned Parquet relation (band_id, band_hash, doc id) — restart-safe
and shared with batch jobs, unlike operator-local streaming state. Each
micro-batch:

1. computes minhash signatures for the batch's docs (the SAME batch
   operator — one code path);
2. explodes them to band hashes;
3. equi-joins the batch's bands against the stored index -> candidate
   (new_doc, existing_doc) pairs (shuffle ∝ batch + matched buckets,
   never the corpus);
4. reports the candidates, then appends the batch's bands to the index.

At 100 TB the index is bucketed by band_hash so step 3 is a co-located
join; exactly-once comes from the stream checkpoint (a replayed batch
re-appends the same band rows, which the distinct() in step 3 and
min-id representative downstream make harmless).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from downscaledclimatedata_spark.functions import publish
from downscaledclimatedata_spark.operators.dedup import (
    SIMHASH_BITS,
    SIMHASH_BLOCKS,
    SIMHASH_HAM_MAX,
    _banded,
    minhash_signatures,
    simhash,
)

DOCS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
])


def docs_stream(spark: SparkSession, docs_dir: str,
                max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over a directory of document parquet files."""
    return (spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(docs_dir))


def batch_neardup_candidates(batch: DataFrame, index: DataFrame | None,
                             text_col: str = "text",
                             id_col: str = "doc_id") -> tuple[DataFrame, DataFrame]:
    """(candidates, new_bands) for one batch against the stored index.

    Pure DataFrame logic shared by the streaming sink and any batch
    backfill: candidates are (new_id, match_id) pairs whose docs share at
    least one LSH band bucket with an already-indexed doc.
    """
    sigs = minhash_signatures(batch, text_col, id_col)
    bands = _banded(sigs, id_col)
    if index is None:
        spark = batch.sparkSession
        candidates = spark.createDataFrame(
            [], f"new_id long, match_id long")
    else:
        candidates = (bands.alias("n")
                      .join(index.alias("e"), ["band_id", "band_hash"])
                      .select(F.col(f"n.{id_col}").alias("new_id"),
                              F.col(f"e.{id_col}").alias("match_id"))
                      .filter(F.col("new_id") != F.col("match_id"))
                      .distinct())
    return candidates, bands


# --- multi-signal index: minhash bands + simhash blocks -----------------------
#
# The generalized bucket index carries BOTH near-dup signals in one
# append-only relation (signal, k1, k2, doc_id, fp): minhash rows are
# (band_id, band_hash) buckets with NULL fp; simhash rows are
# (block_index, block_value) buckets carrying the doc's full 60-bit
# fingerprint so cross-batch candidates can be hamming-VERIFIED exactly
# (the batch twin's bit_count(xor) <= 3), not just bucket-matched.
# Doc-in-doc containment is NOT streamed: its candidate generation needs
# per-shingle document frequencies over the whole corpus, which an
# append-only bucket index cannot maintain incrementally — run the batch
# ``containment_pairs`` over the accumulated corpus instead.

def batch_multi_signal_entries(batch: DataFrame, text_col: str = "text",
                               id_col: str = "doc_id") -> DataFrame:
    """(signal, k1, k2, doc_id, fp) bucket entries for one batch — the
    SAME minhash banding and Manku block construction as the batch
    operators, one code path."""
    sigs = minhash_signatures(batch, text_col, id_col)
    bands = _banded(sigs, id_col).select(
        F.lit("minhash").alias("signal"),
        F.col("band_id").cast("int").alias("k1"),
        F.col("band_hash").cast("long").alias("k2"),
        F.col(id_col).alias("doc_id"),
        F.lit(None).cast("long").alias("fp"))
    bits_per = SIMHASH_BITS // SIMHASH_BLOCKS
    mask = (1 << bits_per) - 1
    fps = simhash(batch, text_col, id_col)
    blocks = fps.select(
        F.col(id_col).alias("doc_id"), "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("k1"),
                F.shiftright(F.col("simhash"), bits_per * b)
                .bitwiseAND(F.lit(mask)).cast("long").alias("k2"))
            for b in range(SIMHASH_BLOCKS)])).alias("bv"),
    ).select(F.lit("simhash").alias("signal"),
             F.col("bv.k1").cast("int").alias("k1"),
             F.col("bv.k2").alias("k2"),
             "doc_id",
             F.col("simhash").alias("fp"))
    return bands.unionByName(blocks)


def batch_multi_signal_candidates(batch: DataFrame, index: DataFrame | None,
                                  text_col: str = "text",
                                  id_col: str = "doc_id") -> tuple[DataFrame, DataFrame]:
    """(candidates, new_entries) for one batch against the multi-signal
    index. Candidates are (new_id, match_id, signal): minhash rows are
    LSH bucket matches (verify downstream, as in batch); simhash rows
    are exact — hamming(new, indexed) <= 3 computed from the stored
    fingerprints."""
    entries = batch_multi_signal_entries(batch, text_col, id_col)
    if index is None:
        spark = batch.sparkSession
        candidates = spark.createDataFrame(
            [], "new_id long, match_id long, signal string")
    else:
        candidates = (entries.alias("n")
                      .join(index.alias("e"), ["signal", "k1", "k2"])
                      .filter(F.col(f"n.doc_id") != F.col(f"e.doc_id"))
                      .filter((F.col("signal") != "simhash")
                              | (F.bit_count(F.col("n.fp")
                                             .bitwiseXOR(F.col("e.fp")))
                                 <= SIMHASH_HAM_MAX))
                      .select(F.col("n.doc_id").alias("new_id"),
                              F.col("e.doc_id").alias("match_id"),
                              "signal")
                      .distinct())
    return candidates, entries


def _load_index(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """The stored band index, or None only when it genuinely doesn't
    exist yet. Existence is checked explicitly instead of catching
    exceptions around the read, so a transient read failure (corrupt
    footer, permissions) PROPAGATES and the stream retries the batch —
    silently treating it as an empty index would permanently and
    invisibly drop every candidate this batch should have matched.
    """
    root = publish.local_dir(spark, index_dir)
    publish.recover(root)
    if not os.path.isdir(root):
        return None
    return spark.read.parquet(index_dir)


def compact_index(spark: SparkSession, index_dir: str,
                  target_bytes: int | None = None,
                  sort_cols: list[str] | None = None) -> None:
    """Rewrite the append-only band index into few band_hash-sorted files.

    The foreachBatch append adds one small file per micro-batch forever;
    without this the index read slows linearly with stream age. Sorting
    by band_hash makes row-group min/max stats selective for the band
    equi-join's key. The rewrite replaces the index (on a ``file:``
    path) by ``publish.write_dir``. Single-writer by construction:
    called from the stream's own foreachBatch.
    """
    from downscaledclimatedata_spark.operators.maintenance import (
        DEFAULT_TARGET_BYTES, compact_parquet)
    publish.write_dir(
        publish.local_dir(spark, index_dir),
        lambda staging: compact_parquet(
            spark, index_dir, f"file://{staging}",
            target_bytes=target_bytes or DEFAULT_TARGET_BYTES,
            sort_cols=sort_cols or ["band_hash"]))


def start_neardup_stream(stream: DataFrame, index_dir: str,
                         report, checkpoint_dir: str,
                         text_col: str = "text", id_col: str = "doc_id",
                         available_now: bool = True,
                         compact_every: int | None = 16,
                         candidate_builder=batch_neardup_candidates,
                         compact_sort: list[str] | None = None):
    """foreachBatch sink maintaining the bucket index and reporting
    candidates per micro-batch via ``report(candidates_df, epoch_id)``.

    ``candidate_builder`` selects the index flavor: the default
    minhash-band builder, or ``batch_multi_signal_candidates`` for the
    band + simhash-block index (pass ``compact_sort=["signal", "k2"]``
    so compaction sorts on that schema's join key).

    ``available_now=True`` drains the backlog then stops (catch-up mode);
    pass False for a continuous trigger. Every ``compact_every`` epochs
    the index is compacted in place (None disables), bounding its file
    count at ~compact_every + compacted-file count regardless of stream
    age.
    """
    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        index = _load_index(spark, index_dir)
        candidates, entries = candidate_builder(
            batch_df, index, text_col, id_col)
        # report BEFORE appending so a doc never matches itself via its
        # own just-written bands
        report(candidates, epoch_id)
        entries.write.mode("append").parquet(index_dir)
        if compact_every and (epoch_id + 1) % compact_every == 0:
            compact_index(spark, index_dir, sort_cols=compact_sort)

    writer = (stream.writeStream.foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
