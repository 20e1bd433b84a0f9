"""Incremental frequency/membership sketches over a document stream.

The batch sketches (operators/textops.py: `cms_estimate`,
`bloom_membership`) are mergeable BY CONSTRUCTION — CMS cells add
cell-wise, Bloom bits OR by union — and this module is where that
property earns its keep: each micro-batch folds into a persistent
sketch without ever re-reading ingested data.

Exactly-once by IDEMPOTENT LAYOUT, not by ordering: each batch writes
its OWN delta partition (``cms/batch=N/``, ``bloom/batch=N/``) computed
with the same deterministic md5 hash family the batch operators use. A
replayed batch overwrites the same partition with identical bytes, so
no applied-marker bookkeeping is needed and there is no crash window
between "state updated" and "batch recorded" (a read-modify-write
design has exactly that window: crash after the merged write, before
the marker, and the replay double-counts). Point queries MERGE across
partitions at read time — cell-wise sums / bit union, the sketch's
defining property — and ``compact()`` folds old partitions into a base
partition to bound file counts, exactly like the near-dup index's
compaction.

At 100 TB/stream-day every partition stays bounded (≤ depth·width
cells, ≤ m bits): this is the structure whose whole point is that
per-batch summaries combine without the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from downscaledclimatedata_spark.functions import publish
from downscaledclimatedata_spark.functions.hashing import md5_long
from downscaledclimatedata_spark.operators.textops import (
    BLOOM_K,
    BLOOM_M,
    CMS_DEPTH,
    CMS_WIDTH,
    _tokens,
)


def batch_cms_cells(batch: DataFrame, text_col: str = "text",
                    depth: int = CMS_DEPTH,
                    width: int = CMS_WIDTH) -> DataFrame:
    """(d, cell, n) CMS counters for ONE batch — the same md5 hash
    family as the batch operator, so a batch sketch and a stream-folded
    sketch agree bit-for-bit."""
    toks = batch.select(F.explode(_tokens(F.col(text_col))).alias("token"))
    rows = None
    for d in range(depth):
        r = toks.select(F.lit(d).alias("d"),
                        (md5_long(F.col("token"), seed=f"cms{d}:") % width)
                        .alias("cell"))
        rows = r if rows is None else rows.unionAll(r)
    return rows.groupBy("d", "cell").agg(F.count("*").alias("n"))


def batch_bloom_bits(batch: DataFrame, text_col: str = "text",
                     k: int = BLOOM_K, m: int = BLOOM_M) -> DataFrame:
    """DISTINCT (bit) rows set by ONE batch."""
    toks = batch.select(F.explode(_tokens(F.col(text_col))).alias("token"))
    exprs = [(md5_long(F.col("token"), seed=f"bloom{i}:") % m)
             for i in range(k)]
    return toks.select(F.explode(F.array(*exprs)).alias("bit")).distinct()


class StreamingSketchIndex:
    """foreachBatch sink folding a document stream into persistent CMS +
    Bloom state with idempotent per-batch delta partitions.

    State layout under ``state_dir``:
      cms/batch=N/     (d int, cell bigint, n bigint)  — batch N's cells
      bloom/batch=N/   (bit bigint)                    — batch N's bits
    ``batch=-1`` holds the compacted base.
    """

    def __init__(self, spark: SparkSession, state_dir: str,
                 text_col: str = "text"):
        self.spark = spark
        self.state_dir = state_dir.rstrip("/")
        self.text_col = text_col

    def _read_all(self, sub: str, schema: str) -> DataFrame | None:
        import glob
        publish.recover(f"{self.state_dir}/{sub}")
        if not glob.glob(f"{self.state_dir}/{sub}/batch=*/*.parquet"):
            return None
        return (self.spark.read.schema(schema)
                .option("basePath", f"{self.state_dir}/{sub}")
                .parquet(f"{self.state_dir}/{sub}/batch=*"))

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        for sub in ("cms", "bloom"):
            publish.recover(f"{self.state_dir}/{sub}")
        batch = batch.localCheckpoint()  # one evaluation for both sketches
        batch_cms_cells(batch, self.text_col).coalesce(1) \
            .write.mode("overwrite") \
            .parquet(f"{self.state_dir}/cms/batch={int(batch_id)}")
        batch_bloom_bits(batch, self.text_col).coalesce(1) \
            .write.mode("overwrite") \
            .parquet(f"{self.state_dir}/bloom/batch={int(batch_id)}")

    def attach(self, stream: DataFrame):
        """writeStream.foreachBatch wiring; returns the StreamingQuery."""
        return (stream.writeStream
                .foreachBatch(self.process_batch)
                .option("checkpointLocation", f"{self.state_dir}/_ckpt")
                .trigger(availableNow=True)
                .start())

    def compact(self) -> None:
        """Fold every delta partition into the ``batch=-1`` base — the
        file-count bound for long streams. Merge = the sketches' own
        algebra (cell-wise sum / bit union), so compaction commutes
        with queries. ``cms/`` and ``bloom/`` are each replaced by
        ``publish.write_dir``, so a failed compaction keeps the state."""
        cms = self._read_all("cms", "d int, cell bigint, n bigint")
        if cms is not None:
            cells = cms.groupBy("d", "cell").agg(F.sum("n").alias("n"))
            publish.write_dir(
                f"{self.state_dir}/cms", lambda staging: cells.coalesce(1)
                .write.parquet(f"{staging}/batch=-1"))
        bloom = self._read_all("bloom", "bit bigint")
        if bloom is not None:
            bits = bloom.select("bit").distinct()
            publish.write_dir(
                f"{self.state_dir}/bloom", lambda staging: bits.coalesce(1)
                .write.parquet(f"{staging}/batch=-1"))

    # --- queries over the folded state ---------------------------------

    def estimate(self, terms: tuple[str, ...]) -> dict[str, int]:
        """CMS point estimates for probe terms: cell-wise sum across
        batch partitions, min over the hash family."""
        import hashlib
        cms = self._read_all("cms", "d int, cell bigint, n bigint")
        if cms is None:
            return {t: 0 for t in terms}
        merged = cms.groupBy("d", "cell").agg(F.sum("n").alias("n"))
        cells = {(r.d, r.cell): r.n for r in merged.collect()}

        def h(d: int, t: str) -> int:
            return int(hashlib.md5(f"cms{d}:{t}".encode()).hexdigest()[:15],
                       16) % CMS_WIDTH
        return {t: min(cells.get((d, h(d, t)), 0) for d in range(CMS_DEPTH))
                for t in terms}

    def might_contain(self, terms: tuple[str, ...]) -> dict[str, bool]:
        import hashlib
        bloom = self._read_all("bloom", "bit bigint")
        bits = ({r.bit for r in bloom.select("bit").distinct().collect()}
                if bloom is not None else set())

        def h(i: int, t: str) -> int:
            return int(hashlib.md5(f"bloom{i}:{t}".encode()).hexdigest()[:15],
                       16) % BLOOM_M
        return {t: all(h(i, t) in bits for i in range(BLOOM_K))
                for t in terms}
