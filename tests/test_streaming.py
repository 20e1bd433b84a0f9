"""Structured Streaming surface: the streaming plans must emit exactly
what their batch twins compute (SURVEY §7.4 growth path), and run-key
dedup must be exactly-once across micro-batches (reference T3,
loca2_sensor.py:117).
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from downscaledclimatedata_spark.sources.tables import load_table
from downscaledclimatedata_spark.streaming.stream import (
    MANIFEST_SCHEMA,
    dedup_run_keys,
    events_stream,
    manifest_stream,
    windowed_event_counts,
)
from tests.conftest import SF_SMOKE


def _run_to_memory(stream_df, mode: str):
    name = "t" + uuid.uuid4().hex[:12]
    q = (stream_df.writeStream.format("memory")
         .queryName(name).outputMode(mode).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return name


def _sorted_rows(df):
    return sorted([tuple(r) for r in df.collect()], key=repr)


def test_windowed_counts_stream_equals_batch(spark):
    stream = events_stream(spark, SF_SMOKE)
    name = _run_to_memory(windowed_event_counts(stream), "complete")
    got = _sorted_rows(spark.table(name))
    want = _sorted_rows(
        windowed_event_counts(load_table(spark, SF_SMOKE, "events")))
    assert got == want and len(got) > 0


def test_session_window_stream_equals_batch(spark):
    def sessions(df):
        return (df.groupBy("user_id",
                           F.session_window("ts", "30 minutes").alias("w"))
                .agg(F.count("*").alias("n_events"))
                .select("user_id", F.col("w.start").alias("session_start"),
                        "n_events"))

    stream = events_stream(spark, SF_SMOKE)
    name = _run_to_memory(sessions(stream), "complete")
    got = _sorted_rows(spark.table(name))
    want = _sorted_rows(sessions(load_table(spark, SF_SMOKE, "events")))
    assert got == want and len(got) > 0


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState must accumulate per-user state across
    micro-batches: final emission per user == batch groupBy totals."""
    from downscaledclimatedata_spark.sources.tables import normalize_events_ts
    from downscaledclimatedata_spark.streaming.stream import running_user_totals

    # split the smoke events into 3 files => 3 micro-batches
    edir = str(tmp_path / "events")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")
    raw.repartition(3).write.parquet(edir)

    stream = normalize_events_ts(
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1).parquet(edir))
    name = _run_to_memory(running_user_totals(stream), "update")

    # update mode accumulates emissions; the running count is monotone so
    # the per-user max is the final state
    final = {r.user_id: (r.n_events, r.total_value)
             for r in (spark.table(name)
                       .orderBy("n_events")
                       .collect())}
    batch = {r.user_id: (r.n, r.total) for r in
             (spark.read.parquet(edir)
              .groupBy("user_id")
              .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
              .collect())}
    assert set(final) == set(batch)
    for uid, (n, _total) in batch.items():
        assert final[uid][0] == n
        assert abs(final[uid][1] - _total) < 1e-6


def test_stream_stream_interval_join_equals_batch(spark):
    """The attribution join (stream-stream interval join with watermarks
    on both sides) must emit exactly the rows the batch join produces."""
    from downscaledclimatedata_spark.streaming.stream import attribution_join

    stream = events_stream(spark, SF_SMOKE)
    name = _run_to_memory(attribution_join(stream), "append")
    got = _sorted_rows(spark.table(name))
    want = _sorted_rows(
        attribution_join(load_table(spark, SF_SMOKE, "events")))
    assert got == want and len(got) > 0


def test_watermark_drops_late_events(spark, tmp_path):
    """Append-mode windowed agg with a watermark: an event arriving after
    its window was finalized must not change the emitted count."""
    import uuid as _uuid
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("ts", T.TimestampType()),
                           T.StructField("k", T.StringType())])
    edir = str(tmp_path / "ev")
    name = "t" + _uuid.uuid4().hex[:12]

    from datetime import datetime
    base = datetime(2024, 1, 1, 0, 0, 0)

    def write_batch(rows):
        (spark.createDataFrame(rows, schema)
         .coalesce(1).write.mode("append").parquet(edir))

    # batch 1: two events in window [00:00, 00:01) and one far ahead that
    # pushes the watermark (10s delay) past that window's end
    write_batch([(base.replace(second=10), "a"),
                 (base.replace(second=20), "a"),
                 (base.replace(minute=5), "a")])

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 10).parquet(edir)
    agg = (stream.withWatermark("ts", "10 seconds")
           .groupBy(F.window("ts", "1 minute").alias("w"), "k")
           .agg(F.count("*").alias("n"))
           .select(F.col("w.start").alias("ws"), "k", "n"))
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        # batch 2: a LATE event for the already-finalized first window
        write_batch([(base.replace(second=30), "a")])
        q.processAllAvailable()
    finally:
        q.stop()

    out = {(r.ws, r.k): r.n for r in spark.table(name).collect()}
    first_window = (base, "a")
    assert out.get(first_window) == 2, (
        f"late event must be dropped, got {out}")


def test_manifest_stream_dedup_exactly_once(spark, tmp_path):
    mdir = str(tmp_path / "manifest")
    rows1 = [("m1", "historical", "r1i1p1f1", "tasmax", "u1", "/m1/h/f1.nc"),
             ("m1", "historical", "r1i1p1f1", "tasmax", "u2", "/m1/h/f2.nc")]
    rows2 = [("m1", "historical", "r1i1p1f1", "tasmax", "u2", "/m1/h/f2.nc"),  # dup
             ("m2", "ssp245", "r1i1p1f1", "tasmax", "u3", "/m2/s/f3.nc")]
    for rows in (rows1, rows2):
        (spark.createDataFrame(rows, MANIFEST_SCHEMA)
         .coalesce(1).write.mode("append").parquet(mdir))

    name = _run_to_memory(dedup_run_keys(manifest_stream(spark, mdir)), "append")
    out = spark.table(name).collect()
    keys = [r.s3_key for r in out]
    assert sorted(keys) == ["/m1/h/f1.nc", "/m1/h/f2.nc", "/m2/s/f3.nc"]
    assert len(keys) == len(set(keys)), "run-key emitted more than once"


def test_available_now_drains_backlog_and_stops(spark, tmp_path):
    """Catch-up mode: a multi-file backlog is fully processed in
    rate-limited micro-batches (maxFilesPerTrigger=1) and the query
    terminates on its own — the reference's after-downtime sensor tick."""
    from downscaledclimatedata_spark.streaming.stream import start_ingest_stream

    mdir = str(tmp_path / "manifest")
    ckpt = str(tmp_path / "ckpt")
    all_rows = []
    for i in range(3):
        rows = [("m1", "historical", "r1i1p1f1", "tasmax",
                 f"u{i}", f"/m1/h/f{i}.nc")]
        all_rows += rows
        (spark.createDataFrame(rows, MANIFEST_SCHEMA)
         .coalesce(1).write.mode("append").parquet(mdir))

    seen: list[tuple[int, list[str]]] = []

    def process(batch_df, batch_id):
        seen.append((batch_id, [r.s3_key for r in batch_df.collect()]))

    q = start_ingest_stream(manifest_stream(spark, mdir), process, ckpt,
                            available_now=True)
    assert q.awaitTermination(120), "availableNow query must self-terminate"
    drained = sorted(k for _, ks in seen for k in ks)
    assert drained == sorted(r[5] for r in all_rows)
    assert len(seen) >= 3, "maxFilesPerTrigger=1 backlog must micro-batch"

    # restart on the same checkpoint: nothing new -> no re-emission
    seen.clear()
    q2 = start_ingest_stream(manifest_stream(spark, mdir), process, ckpt,
                             available_now=True)
    assert q2.awaitTermination(120)
    assert [ks for _, ks in seen if ks] == [], f"re-emitted: {seen}"


def test_incremental_neardup_across_batches(spark, tmp_path):
    """Streaming near-dup: a doc arriving in batch 2 that duplicates a
    batch-1 doc is flagged against the persisted band index; unrelated
    docs are not. Batch 1 itself reports nothing (empty index)."""
    from downscaledclimatedata_spark.streaming.neardup import (
        DOCS_SCHEMA, docs_stream, start_neardup_stream)

    docs_dir = str(tmp_path / "docs")
    shared = "the quick brown fox jumps over the lazy dog again and again"
    b1 = spark.createDataFrame(
        [(1, shared, "en", "web", len(shared)),
         (2, "completely different words about spark physical plans and shuffles",
          "en", "web", 66)], DOCS_SCHEMA)
    b2 = spark.createDataFrame(
        [(3, shared, "en", "web", len(shared)),
         (4, "yet another unrelated document mentioning neither foxes nor dogs here",
          "en", "web", 69)], DOCS_SCHEMA)
    # flat single files: the streaming file source does not recurse into
    # the directory-per-dataset layout spark.write.parquet produces
    import os
    os.makedirs(docs_dir, exist_ok=True)
    b1.toPandas().to_parquet(docs_dir + "/b1.parquet", index=False)
    b2.toPandas().to_parquet(docs_dir + "/b2.parquet", index=False)

    seen: dict[int, set] = {}

    def report(cands, epoch_id):
        seen[epoch_id] = {(r.new_id, r.match_id) for r in cands.collect()}

    q = start_neardup_stream(
        docs_stream(spark, docs_dir), str(tmp_path / "index"),
        report, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    all_pairs = set().union(*seen.values()) if seen else set()
    assert (3, 1) in all_pairs, f"cross-batch near-dup missed: {seen}"
    assert all(p[0] not in (2, 4) for p in all_pairs), \
        f"unrelated docs flagged: {all_pairs}"


def test_incremental_neardup_restart_resumes_from_checkpoint(spark, tmp_path):
    """Exactly-once across restarts: after draining batch 1 and stopping,
    a restart on the same checkpoint processes ONLY newly arrived files —
    batch-1 docs are not re-reported, and the index keeps accumulating."""
    from downscaledclimatedata_spark.streaming.neardup import (
        DOCS_SCHEMA, docs_stream, start_neardup_stream)
    import os

    docs_dir = str(tmp_path / "docs")
    os.makedirs(docs_dir, exist_ok=True)
    shared = "an identical sentence repeated across separate ingest runs here"
    b1 = spark.createDataFrame(
        [(1, shared, "en", "web", len(shared))], DOCS_SCHEMA)
    b1.toPandas().to_parquet(docs_dir + "/b1.parquet", index=False)

    runs: list[tuple[int, set]] = []

    def report(cands, epoch_id):
        runs.append((epoch_id, {(r.new_id, r.match_id) for r in cands.collect()}))

    index_dir, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    q = start_neardup_stream(docs_stream(spark, docs_dir), index_dir, report, ckpt)
    q.awaitTermination(120)
    first_run_batches = len(runs)
    assert first_run_batches >= 1 and all(not s for _, s in runs)

    # second run, same checkpoint: only the new file is processed
    b2 = spark.createDataFrame(
        [(2, shared, "en", "web", len(shared))], DOCS_SCHEMA)
    b2.toPandas().to_parquet(docs_dir + "/b2.parquet", index=False)
    q = start_neardup_stream(docs_stream(spark, docs_dir), index_dir, report, ckpt)
    q.awaitTermination(120)

    new_pairs = set().union(*(s for _, s in runs[first_run_batches:]))
    assert new_pairs == {(2, 1)}, f"restart should flag only (2,1): {runs}"


def test_neardup_index_compaction_bounds_files(spark, tmp_path):
    """20 micro-batches with compact_every=5: the index must stay
    bounded in file count (an uncompacted stream accretes >= 20 part
    files), keep its full content (a doc duplicating batch-1 text still
    matches after several compactions), and restart semantics must
    survive the rewrites."""
    import glob
    import os
    from downscaledclimatedata_spark.streaming.neardup import (
        DOCS_SCHEMA, docs_stream, start_neardup_stream)

    docs_dir = str(tmp_path / "docs")
    os.makedirs(docs_dir, exist_ok=True)
    shared = "a sentence shared between the first and the last batch here"
    rows = [(0, shared, "en", "web", len(shared))]
    spark.createDataFrame(rows, DOCS_SCHEMA).toPandas().to_parquet(
        docs_dir + "/b0.parquet", index=False)
    for i in range(1, 19):
        txt = f"unique filler document number {i} with its own words entirely"
        spark.createDataFrame([(i, txt, "en", "web", len(txt))],
                              DOCS_SCHEMA).toPandas().to_parquet(
            docs_dir + f"/b{i:02d}.parquet", index=False)
    spark.createDataFrame([(99, shared, "en", "web", len(shared))],
                          DOCS_SCHEMA).toPandas().to_parquet(
        docs_dir + "/b99.parquet", index=False)

    seen: dict[int, set] = {}

    def report(cands, epoch_id):
        seen[epoch_id] = {(r.new_id, r.match_id) for r in cands.collect()}

    index_dir, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    q = start_neardup_stream(docs_stream(spark, docs_dir), index_dir,
                             report, ckpt, compact_every=5)
    q.awaitTermination(240)

    assert len(seen) == 20, f"expected 20 epochs, got {len(seen)}"
    all_pairs = set().union(*seen.values())
    assert (99, 0) in all_pairs, f"dup lost across compactions: {all_pairs}"
    part_files = glob.glob(os.path.join(index_dir, "part-*"))
    assert len(part_files) <= 10, (
        f"compaction failed to bound index files: {len(part_files)}")

    # restart on the same checkpoint still works after in-place rewrites
    b_new = spark.createDataFrame([(100, shared, "en", "web", len(shared))],
                                  DOCS_SCHEMA)
    b_new.toPandas().to_parquet(docs_dir + "/b_new.parquet", index=False)
    before = len(seen)
    q = start_neardup_stream(docs_stream(spark, docs_dir), index_dir,
                             report, ckpt, compact_every=5)
    q.awaitTermination(240)
    new_pairs = set().union(*(v for k, v in seen.items())) - all_pairs
    assert len(seen) == before + 1
    assert (100, 0) in new_pairs and (100, 99) in new_pairs, \
        f"post-restart match missing: {new_pairs}"


def test_streaming_prep_twin_equals_batch(spark, tmp_path):
    """Stream-vs-batch equivalence for the prep family: clean + exact
    dedup over 2 micro-batches (including a cross-batch duplicate and a
    within-batch duplicate) must emit exactly the batch pipeline's
    cleaned, min-id-deduped survivors — same ids, same cleaned columns.
    A restart on the same checkpoint re-emits nothing."""
    import os
    from downscaledclimatedata_spark.functions.hashing import md5_long
    from downscaledclimatedata_spark.operators.prep import clean_documents
    from downscaledclimatedata_spark.streaming.neardup import (
        DOCS_SCHEMA, docs_stream)
    from downscaledclimatedata_spark.streaming.prep import start_prep_stream

    dup = "contact me at bob@example.com about the spark shuffle plan"
    rows_b1 = [
        (1, dup, "en", "web", len(dup)),
        (2, "an unrelated document visiting https://example.org today",
         "en", "web", 57),
    ]
    rows_b2 = [
        (3, dup, "en", "web", len(dup)),              # cross-batch dup of 1
        (4, "fresh words with an address 10.0.0.1 inside", "en", "web", 44),
        (5, "fresh words with an address 10.0.0.1 inside", "en", "web", 44),
    ]                                                  # 5 = in-batch dup of 4
    docs_dir = str(tmp_path / "docs")
    os.makedirs(docs_dir, exist_ok=True)
    spark.createDataFrame(rows_b1, DOCS_SCHEMA).toPandas().to_parquet(
        docs_dir + "/b1.parquet", index=False)
    spark.createDataFrame(rows_b2, DOCS_SCHEMA).toPandas().to_parquet(
        docs_dir + "/b2.parquet", index=False)

    got: dict[int, list] = {}

    def report(survivors, epoch_id):
        got[epoch_id] = [
            (r.doc_id, r.source, r.clean_text, r.n_pii, r.content_text,
             r.n_content_tokens)
            for r in survivors.collect()]

    q = start_prep_stream(docs_stream(spark, docs_dir),
                          str(tmp_path / "index"), report,
                          str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)
    assert len(got) == 2, f"expected 2 epochs, got {len(got)}"

    # batch twin: same clean projection + min-id exact dedup on all docs
    all_docs = spark.createDataFrame(rows_b1 + rows_b2, DOCS_SCHEMA)
    cleaned = clean_documents(all_docs, keep_cols=("source",))
    batch = (cleaned.withColumn("content_hash",
                                md5_long(F.col("content_text")))
             .groupBy("content_hash")
             .agg(F.min(F.struct("doc_id", "source", "clean_text", "n_pii",
                                 "content_text", "n_content_tokens"))
                  .alias("best"))
             .select("best.*"))
    expect = {(r.doc_id, r.source, r.clean_text, r.n_pii, r.content_text,
               r.n_content_tokens) for r in batch.collect()}
    streamed = {t for rows in got.values() for t in rows}
    assert streamed == expect, f"stream != batch: {streamed ^ expect}"
    assert {t[0] for t in streamed} == {1, 2, 4}, streamed
    # cleaning really ran: PII was redacted and counted
    by_id = {t[0]: t for t in streamed}
    assert "<EMAIL>" in by_id[1][4] and by_id[1][3] == 1
    assert "<IP>" in by_id[4][4] and by_id[4][3] == 1

    # restart on the same checkpoint: nothing new -> no re-emission
    got.clear()
    q = start_prep_stream(docs_stream(spark, docs_dir),
                          str(tmp_path / "index"), report,
                          str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)
    assert all(not rows for rows in got.values()), f"re-emitted: {got}"


def test_multi_signal_stream_simhash_cross_batch(spark, tmp_path):
    """The multi-signal index: a batch-2 doc that is a tiny perturbation
    of a batch-1 doc surfaces as BOTH a minhash candidate and a
    hamming-verified simhash match; an unrelated doc matches nothing.
    Replay idempotency comes from the same checkpoint mechanics as the
    band-only stream."""
    import os
    from downscaledclimatedata_spark.streaming.neardup import (
        DOCS_SCHEMA,
        batch_multi_signal_candidates,
        docs_stream,
        start_neardup_stream,
    )

    base = " ".join(f"token{i} filler{i} word{i}" for i in range(60))
    near = base.replace("token7", "token7x")
    other = " ".join(f"zzz{i} qqq{i} vvv{i}" for i in range(60))
    docs_dir = str(tmp_path / "docs")
    os.makedirs(docs_dir, exist_ok=True)
    spark.createDataFrame([(1, base, "en", "web", len(base))],
                          DOCS_SCHEMA).toPandas().to_parquet(
        docs_dir + "/b0.parquet", index=False)
    spark.createDataFrame(
        [(2, near, "en", "web", len(near)),
         (3, other, "en", "web", len(other))],
        DOCS_SCHEMA).toPandas().to_parquet(docs_dir + "/b1.parquet", index=False)

    seen: dict[int, set] = {}

    def report(cands, epoch_id):
        seen[epoch_id] = {(r.new_id, r.match_id, r.signal)
                          for r in cands.collect()}

    index_dir, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    q = start_neardup_stream(
        docs_stream(spark, docs_dir), index_dir, report, ckpt,
        candidate_builder=batch_multi_signal_candidates,
        compact_sort=["signal", "k2"], compact_every=2)
    q.awaitTermination(240)

    assert len(seen) == 2, seen
    assert seen[0] == set()          # nothing indexed yet
    assert (2, 1, "simhash") in seen[1], seen[1]
    assert (2, 1, "minhash") in seen[1], seen[1]
    assert not any(pair[0] == 3 for pair in seen[1]), seen[1]

    # the index carries both signals, compacted on the new sort key
    idx = spark.read.parquet(index_dir)
    kinds = {r.signal for r in idx.select("signal").distinct().collect()}
    assert kinds == {"minhash", "simhash"}
    # simhash rows store the full fingerprint (needed for verification)
    assert idx.filter("signal = 'simhash' AND fp IS NULL").count() == 0
    assert idx.filter("signal = 'minhash' AND fp IS NOT NULL").count() == 0


def test_streaming_prep_quality_gate_matches_batch_filter(spark, tmp_path):
    """quality_gate=True must admit a doc iff the BATCH quality_filter
    passes it — same code path, stream-vs-batch equivalence across two
    micro-batches (a failing doc in each)."""
    import os
    from downscaledclimatedata_spark.operators.prep import quality_filter
    from downscaledclimatedata_spark.streaming.neardup import (
        DOCS_SCHEMA, docs_stream)
    from downscaledclimatedata_spark.streaming.prep import start_prep_stream

    good = " ".join([f"wordy{i:02d}" for i in range(36)]
                    + ["the", "the", "of", "of"])
    rows_b1 = [
        (1, good, "en", "web", len(good)),
        (2, "too short of a doc", "en", "web", 18),     # fails token count
    ]
    rows_b2 = [
        (3, " ".join(["xx"] * 30), "en", "web", 89),    # fails word len
        (4, good + " extra tailwords here", "en", "web", 0),
    ]
    docs_dir = str(tmp_path / "docs")
    os.makedirs(docs_dir, exist_ok=True)
    spark.createDataFrame(rows_b1, DOCS_SCHEMA).toPandas().to_parquet(
        docs_dir + "/b1.parquet", index=False)
    spark.createDataFrame(rows_b2, DOCS_SCHEMA).toPandas().to_parquet(
        docs_dir + "/b2.parquet", index=False)

    emitted: set[int] = set()

    def report(survivors, epoch_id):
        emitted.update(r.doc_id for r in survivors.collect())

    q = start_prep_stream(docs_stream(spark, docs_dir),
                          str(tmp_path / "index"), report,
                          str(tmp_path / "ckpt"), quality_gate=True)
    assert q.awaitTermination(120)

    all_docs = spark.createDataFrame(rows_b1 + rows_b2, DOCS_SCHEMA)
    batch_pass = {r.doc_id for r in
                  quality_filter(all_docs).filter("passes").collect()}
    assert emitted == batch_pass == {1, 4}


def test_streaming_semantic_index_cross_batch(spark, tmp_path):
    """Streaming SemDeDup admission gate: a batch-2 vector near-identical
    to a batch-1 vector is reported with exact cosine; an orthogonal
    batch-2 vector is not. Replay on the same checkpoint emits nothing."""
    import os
    from downscaledclimatedata_spark.streaming.annindex import (
        EMB_SCHEMA, batch_semantic_candidates, emb_stream)
    from downscaledclimatedata_spark.streaming.neardup import (
        start_neardup_stream)

    v = [1.0] * 64
    v_near = [1.0] * 63 + [0.999]
    u = [1.0] * 32 + [-1.0] * 32          # orthogonal to v
    rows_b1 = [(1, v, 0), (2, u, 0)]
    rows_b2 = [(10, v_near, 0),           # near-dup of 1
               (11, [-1.0] * 32 + [1.0] * 32, 0)]  # -u: bucket differs from v/u
    emb_dir = str(tmp_path / "emb")
    os.makedirs(emb_dir, exist_ok=True)
    spark.createDataFrame(rows_b1, EMB_SCHEMA).toPandas().to_parquet(
        emb_dir + "/b1.parquet", index=False)
    spark.createDataFrame(rows_b2, EMB_SCHEMA).toPandas().to_parquet(
        emb_dir + "/b2.parquet", index=False)

    got: dict[int, list] = {}

    def report(candidates, epoch_id):
        got[epoch_id] = [(r.new_id, r.match_id, r.cosine)
                         for r in candidates.collect()]

    q = start_neardup_stream(
        emb_stream(spark, emb_dir), str(tmp_path / "index"), report,
        str(tmp_path / "ckpt"), text_col="embedding", id_col="vec_id",
        candidate_builder=lambda b, i, tc, ic:
            batch_semantic_candidates(b, i, tc, ic, tau=0.9),
        compact_sort=["bucket"])
    assert q.awaitTermination(120)
    assert len(got) == 2
    assert got[0] == []                       # nothing indexed yet
    assert len(got[1]) == 1
    new_id, match_id, cosine = got[1][0]
    assert (new_id, match_id) == (10, 1) and cosine > 0.999

    # replay: no new files -> no batches -> no re-emission
    got.clear()
    q = start_neardup_stream(
        emb_stream(spark, emb_dir), str(tmp_path / "index"), report,
        str(tmp_path / "ckpt"), text_col="embedding", id_col="vec_id",
        candidate_builder=lambda b, i, tc, ic:
            batch_semantic_candidates(b, i, tc, ic, tau=0.9),
        compact_sort=["bucket"])
    assert q.awaitTermination(120)
    assert all(not rows for rows in got.values()), got


def test_streaming_sketch_fold_equals_batch_sketch(spark, tmp_path):
    """Mergeability through the stream: two micro-batches folded into
    the persistent CMS/Bloom state give EXACTLY the sketch the batch
    operators compute over the union corpus (the same md5 family), and
    the point queries answer from state alone."""
    import os

    from downscaledclimatedata_spark.operators.textops import (
        bloom_membership, cms_estimate)
    from downscaledclimatedata_spark.streaming.neardup import (
        DOCS_SCHEMA, docs_stream)
    from downscaledclimatedata_spark.streaming.sketches import (
        StreamingSketchIndex)

    docs_dir = str(tmp_path / "docs")
    os.makedirs(docs_dir, exist_ok=True)
    b1 = spark.createDataFrame(
        [(1, "alpha beta beta gamma", "en", "web", 21),
         (2, "alpha delta", "en", "web", 11)], DOCS_SCHEMA)
    b2 = spark.createDataFrame(
        [(3, "beta epsilon epsilon epsilon", "en", "web", 28)], DOCS_SCHEMA)
    b1.toPandas().to_parquet(docs_dir + "/b1.parquet", index=False)
    b2.toPandas().to_parquet(docs_dir + "/b2.parquet", index=False)

    idx = StreamingSketchIndex(spark, str(tmp_path / "state"))
    q = idx.attach(docs_stream(spark, docs_dir, max_files_per_trigger=1))
    q.awaitTermination(120)

    union = b1.unionByName(b2)
    probes = ("alpha", "beta", "epsilon", "nosuchterm")
    batch_cms = {r["term"]: r["cms_est"] for r in
                 cms_estimate(union, "text", "doc_id",
                              terms=probes).collect()}
    assert idx.estimate(probes) == batch_cms
    batch_bloom = {r["term"]: r["in_filter"] for r in
                   bloom_membership(union, probes=probes).collect()}
    assert idx.might_contain(probes) == batch_bloom
    assert idx.estimate(("beta",))["beta"] >= 3  # 2 (b1) + 1 (b2), CMS >=


def test_streaming_sketch_replay_does_not_double_count(spark, tmp_path):
    """Idempotent per-batch partitions: reprocessing the same batch id
    overwrites its own delta with identical bytes, so CMS counts are
    unchanged — there is NO read-modify-write crash window (the design
    this replaced could double-count if it crashed between the merged
    state write and its applied-marker write). A genuinely new batch
    adds; compaction preserves every answer while folding partitions."""
    from downscaledclimatedata_spark.streaming.neardup import DOCS_SCHEMA
    from downscaledclimatedata_spark.streaming.sketches import (
        StreamingSketchIndex)

    b = spark.createDataFrame(
        [(1, "alpha alpha beta", "en", "web", 16)], DOCS_SCHEMA)
    idx = StreamingSketchIndex(spark, str(tmp_path / "state"))
    idx.process_batch(b, 0)
    first = idx.estimate(("alpha", "beta"))
    idx.process_batch(b, 0)  # replay
    assert idx.estimate(("alpha", "beta")) == first
    idx.process_batch(b, 1)  # genuinely new batch doubles
    assert idx.estimate(("alpha",))["alpha"] == 2 * first["alpha"]
    # compaction: same answers, one base partition
    before = idx.estimate(("alpha", "beta"))
    bloom_before = idx.might_contain(("alpha", "nosuchterm"))
    idx.compact()
    assert idx.estimate(("alpha", "beta")) == before
    assert idx.might_contain(("alpha", "nosuchterm")) == bloom_before
    import glob
    assert glob.glob(str(tmp_path / "state" / "cms" / "batch=-1" / "*.parquet"))


def test_bounded_dedup_suppresses_within_horizon_reemits_after(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics pinned: a duplicate key
    inside the watermark horizon is suppressed; once the watermark
    passes the key's expiration its state is EVICTED and a very-late
    replay is re-emitted — bounded state (∝ keys-per-horizon) traded
    for at-least-once beyond the horizon."""
    import datetime as dt
    import time

    import pandas as pd

    from downscaledclimatedata_spark.streaming.stream import (
        dedup_events_bounded)

    d = str(tmp_path / "ev")
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    batches = [
        # batch 1: first occurrences
        [(1, t0, 7, "view", 1.0, ""), (2, t0, 8, "click", 1.0, "")],
        # batch 2: id 1 again 1 min later (inside 10-min horizon) ->
        # suppressed
        [(1, t0 + dt.timedelta(minutes=1), 7, "view", 1.0, "")],
        # batches 3-4: watermark pushers — the watermark computed from
        # batch N's data only takes effect in batch N+1, and state
        # cleanup runs with that batch's own watermark, so id 1's state
        # (expires 10:11) needs a full batch running at watermark 11:50+
        # before a replay sees it gone
        [(3, t0 + dt.timedelta(hours=2), 9, "view", 1.0, "")],
        [(4, t0 + dt.timedelta(hours=2, minutes=5), 9, "view", 1.0, "")],
        # batch 5: id 1 replayed 2h later -> state evicted -> re-emitted
        [(1, t0 + dt.timedelta(hours=2, minutes=6), 7, "view", 1.0, "")],
    ]
    import os
    os.makedirs(d, exist_ok=True)
    for i, rows in enumerate(batches):
        pd.DataFrame(rows, columns=[
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ]).to_parquet(f"{d}/b{i}.parquet", index=False,
                      coerce_timestamps="us", allow_truncated_timestamps=True)
        time.sleep(0.05)  # order file mtimes -> deterministic batch order

    stream = (spark.readStream
              .schema("event_id long, ts timestamp, user_id long, "
                      "event_type string, value double, props string")
              .option("maxFilesPerTrigger", 1).parquet(d))
    name = _run_to_memory(dedup_events_bounded(stream), "append")
    out = spark.table(name).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r.event_id, []).append(r.ts)
    assert sorted(by_id[2]) == [t0]
    assert sorted(by_id[3]) == [t0 + dt.timedelta(hours=2)]
    assert sorted(by_id[4]) == [t0 + dt.timedelta(hours=2, minutes=5)]
    # id 1: first occurrence + the post-eviction replay, NOT the
    # within-horizon duplicate
    assert sorted(by_id[1]) == [t0, t0 + dt.timedelta(hours=2, minutes=6)]


def test_streaming_rollup_matches_batch_and_compacts(spark, tmp_path):
    """The streamed incremental rollup must equal the one-shot batch
    aggregate over the same events after any number of micro-batches;
    compaction folds deltas into one base without changing the merged
    answer; a replayed delta partition (idempotent overwrite) does not
    double-count."""
    from downscaledclimatedata_spark.operators.maintenance import (
        agg_state)
    from downscaledclimatedata_spark.streaming.ivm import (
        compact_rollup, read_rollup, start_rollup_stream)
    from downscaledclimatedata_spark.sources.tables import (
        normalize_events_ts)
    from tests.conftest import SF_SMOKE

    edir = str(tmp_path / "events")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")
    raw.repartition(4).write.parquet(edir)

    state = str(tmp_path / "state")
    stream = normalize_events_ts(
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1).parquet(edir))
    q = start_rollup_stream(stream, state, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    want = {r.event_type: (r.n, r.sum_cents, r.min_v, r.max_v)
            for r in agg_state(normalize_events_ts(
                spark.read.parquet(edir)), "event_type", "value")
            .collect()}
    got = {r.event_type: (r.n, r.sum_cents, r.min_v, r.max_v)
           for r in read_rollup(spark, state).collect()}
    assert got == want

    # replay: re-writing one delta partition is a byte-identical
    # overwrite, so the merged rollup is unchanged
    import glob
    one = sorted(glob.glob(state + "/batch=*"))[0]
    # materialize before self-overwrite (lazy read would see the
    # deleted files)
    delta = spark.read.parquet(one).localCheckpoint()
    delta.coalesce(1).write.mode("overwrite").parquet(one)
    got2 = {r.event_type: (r.n, r.sum_cents, r.min_v, r.max_v)
            for r in read_rollup(spark, state).collect()}
    assert got2 == want

    # compaction: many deltas -> one base, same answer
    n_folded = compact_rollup(spark, state)
    assert n_folded >= 2
    assert len(glob.glob(state + "/batch=*")) == 1
    got3 = {r.event_type: (r.n, r.sum_cents, r.min_v, r.max_v)
            for r in read_rollup(spark, state).collect()}
    assert got3 == want


def test_rollup_compaction_crash_recovery(spark, tmp_path):
    """Compaction's two-rename swap under failure: (a) if the second
    rename FAILS, the old tree is restored and the error propagates —
    readers never see an empty dir; (b) a hard crash BETWEEN the two
    renames strands the aside tree, and once a restarted stream has
    recreated the live tree every read/append fails LOUDLY instead of
    silently under-reporting the stranded history; (c) with the live
    tree still absent, the next read renames the aside back."""
    import os

    import pytest

    from downscaledclimatedata_spark.functions import publish
    from downscaledclimatedata_spark.streaming.ivm import (
        compact_rollup, read_rollup, start_rollup_stream)

    state = str(tmp_path / "state")
    aside = publish.aside_path(state)
    for i, rows in enumerate([[("a", 1, 100, 1.0, 1.0)],
                              [("a", 2, 300, 1.5, 2.0),
                               ("b", 1, 50, 0.5, 0.5)]]):
        spark.createDataFrame(
            rows, "key string, n bigint, sum_cents bigint, "
                  "min_v double, max_v double") \
            .coalesce(1).write.parquet(f"{state}/batch={i}")
    want = {r.key: (r.n, r.sum_cents, r.min_v, r.max_v)
            for r in read_rollup(spark, state, key_col="key").collect()}
    assert want == {"a": (3, 400, 1.0, 2.0), "b": (1, 50, 0.5, 0.5)}

    # (a) second rename fails -> old tree restored, error propagates
    real_rename = os.rename

    def flaky(src, dst):
        if dst == state and src in publish.staging_paths(state):
            raise OSError("simulated publish failure")
        real_rename(src, dst)

    os.rename = flaky
    try:
        with pytest.raises(OSError, match="simulated"):
            compact_rollup(spark, state)
    finally:
        os.rename = real_rename
    assert not os.path.exists(aside) and publish.staging_paths(state) == []
    got = {r.key: (r.n, r.sum_cents, r.min_v, r.max_v)
           for r in read_rollup(spark, state, key_col="key").collect()}
    assert got == want

    # (b) crash BETWEEN renames, live tree recreated -> loud refusal
    real_rename(state, aside)
    os.makedirs(state)  # restarted stream would recreate it empty
    with pytest.raises(RuntimeError, match="aside"):
        read_rollup(spark, state, key_col="key").collect()
    with pytest.raises(RuntimeError, match="aside"):
        start_rollup_stream(
            spark.readStream.format("rate").load(), state,
            str(tmp_path / "ckpt2"))

    # (c) live tree absent -> the next read restores the aside
    os.rmdir(state)
    got2 = {r.key: (r.n, r.sum_cents, r.min_v, r.max_v)
            for r in read_rollup(spark, state, key_col="key").collect()}
    assert got2 == want and not os.path.exists(aside)


def test_attribution_join_left_outer_static_nulls(spark):
    """how='leftOuter' on a static frame: a purchase with no click in
    its window survives with NULL click columns."""
    import datetime as dt

    from downscaledclimatedata_spark.streaming.stream import (
        attribution_join)

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 7, "click", 0.0, "{}"),
        (2, t0 + dt.timedelta(minutes=5), 7, "purchase", 0.0, "{}"),
        (3, t0 + dt.timedelta(hours=3), 7, "purchase", 0.0, "{}"),  # no click
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    got = {r.purchase_id: r.click_id
           for r in attribution_join(ev, how="leftOuter").collect()}
    assert got == {2: 1, 3: None}


def test_streaming_left_outer_emits_null_rows(spark):
    """The REAL streaming run emits watermark-flushed NULL-click rows
    (not just matched pairs) — the semantics the spec exists to pin."""
    from downscaledclimatedata_spark.plans.temporal import (
        streaming_left_outer_join_query)

    out = streaming_left_outer_join_query(
        spark, "/root/testdata/sf0.001").collect()
    nulls = [r for r in out if r.click_id is None]
    matched = [r for r in out if r.click_id is not None]
    assert nulls and matched
    assert all(r.c_s is None for r in nulls)
