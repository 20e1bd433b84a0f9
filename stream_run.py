#!/usr/bin/env python
"""Recorded streaming end-to-end sweep: drive the streaming twins
(exact-dedup prep, minhash near-dup index, LSH semantic ANN index,
CMS+Bloom sketch index, multi-signal minhash+simhash index,
bounded-state watermark dedup, incremental IVM rollup, left-outer
null-emission flush) over micro-batched corpora,
then verify each against its BATCH twin / exact ground truth, and emit
STREAM_r{N}.json — the committed artifact for the exactly-once and
stream==batch claims (round-7 advice #8).

Checks per phase (all booleans recorded; n_bad counts failures):

* prep          — survivor doc_id set == the batch pipeline's global
                  min-id exact-dedup winners over the same corpus.
* neardup       — every planted cross-batch duplicate is flagged
                  against its original; no self-pairs; pair count
                  recorded.
* ann           — every planted duplicate vector is flagged; every
                  reported candidate re-verifies cosine >= SEM_TAU
                  against the raw vectors in batch.
* sketches      — folded CMS cells == batch one-shot cells cell-wise;
                  CMS point estimates >= exact counts (overestimate
                  only); Bloom has no false negatives over a probe set.
* multisignal   — every planted cross-batch duplicate flagged by BOTH
                  signals; every reported simhash match re-verifies
                  hamming <= max against batch fingerprints.
* bounded_dedup — within-horizon duplicate suppressed; first
                  occurrences emitted once; a very-late replay after
                  watermark eviction is re-emitted (the documented
                  bounded-state trade).
* rollup        — the streamed incremental rollup equals the one-shot
                  batch aggregate; compaction folds deltas to one base
                  without changing the merged answer.
* left_outer_flush — stream-stream LEFT OUTER: unmatched purchases are
                  flushed as NULL rows exactly once, and ONLY when a
                  watermark advance closes their window (the same
                  staged stream without the flush tail emits no NULL
                  row) — emission is watermark-driven, not
                  end-of-stream.
* pysource_replay — the Python DataSource stream is KILLED mid-sequence
                  and restarted from its checkpoint; the final agg
                  equals the generative oracle (readBetweenOffsets
                  replay: no gaps, no double-counts across the crash).

Throughput (docs/sec wall-clock per phase, micro-batch count) is
recorded so the stream surface has a number, like bench.py gives the
batch surface. Run: ``python stream_run.py --round 8``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import tempfile
import time
from pathlib import Path


def _write_batches(pdf, dup, out_dir: str, n_batches: int) -> int:
    """Originals sliced into ``n_batches - 1`` flat parquet files plus
    the planted duplicates as the FINAL file — every duplicate arrives
    in a strictly later micro-batch than its original, so a correct
    cross-batch index must flag all of them."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(pdf) // (n_batches - 1))
    n = 0
    for b in range(n_batches - 1):
        part = pdf.iloc[b * step:(b + 1) * step]
        if len(part):
            part.to_parquet(f"{out_dir}/b{b:03d}.parquet", index=False)
            n += 1
    dup.to_parquet(f"{out_dir}/b{n_batches - 1:03d}_dups.parquet",
                   index=False)
    return n + 1


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--n-docs", type=int, default=3000)
    ap.add_argument("--batches", type=int, default=8)
    ap.add_argument("--dup-every", type=int, default=25)
    args = ap.parse_args()

    import sys
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    from pyspark.sql import functions as F

    from downscaledclimatedata_spark.functions.hashing import md5_long
    from downscaledclimatedata_spark.operators.prep import clean_documents
    from downscaledclimatedata_spark.session import get_spark
    from downscaledclimatedata_spark.streaming.annindex import (
        batch_semantic_candidates, emb_stream)
    from downscaledclimatedata_spark.streaming.neardup import (
        docs_stream, start_neardup_stream)
    from downscaledclimatedata_spark.streaming.prep import start_prep_stream
    from downscaledclimatedata_spark.streaming.sketches import (
        StreamingSketchIndex, batch_cms_cells)

    from downscaledclimatedata_spark.sources.corpusgen import (
        CorpusGenDataSource)

    spark = get_spark("dcd-spark-stream", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(CorpusGenDataSource)
    work = tempfile.mkdtemp(prefix="dcd_stream_run_")
    out: dict = {"round": args.round, "n_docs": args.n_docs,
                 "n_batches": args.batches, "dup_every": args.dup_every,
                 "phases": {}}

    try:
        # ---- corpus: corpusgen docs + planted cross-batch duplicates ----
        docs = (spark.read.format("corpusgen")
                .option("n_docs", args.n_docs)
                .option("seed", f"stream{args.round}").load())
        pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
        dup = pdf[pdf.doc_id % args.dup_every == 0].copy()
        dup["doc_id"] = dup["doc_id"] + 10_000_000  # larger id, later batch
        planted = set(zip(dup["doc_id"], dup["doc_id"] - 10_000_000))
        full = __import__("pandas").concat([pdf, dup], ignore_index=True)
        docs_dir = f"{work}/docs"
        n_files = _write_batches(pdf, dup, docs_dir, args.batches)
        full_df = spark.createDataFrame(full).localCheckpoint()
        n_rows = len(full)

        # ---- phase 1: streaming exact-dedup prep vs batch twin ----------
        survivors: list = []
        t0 = time.time()
        q = start_prep_stream(
            docs_stream(spark, docs_dir), f"{work}/prep_index",
            lambda df, _e: survivors.extend(r.doc_id for r in
                                            df.select("doc_id").collect()),
            f"{work}/prep_ckpt")
        q.awaitTermination(600)
        el = time.time() - t0
        want = {r.keep_id for r in
                clean_documents(full_df)
                .withColumn("h", md5_long(F.col("content_text")))
                .groupBy("h").agg(F.min("doc_id").alias("keep_id"))
                .collect()}
        out["phases"]["prep"] = {
            "elapsed_sec": round(el, 2), "docs_per_sec": round(n_rows / el),
            "batches": n_files, "survivors": len(survivors),
            "checks": {"stream_equals_batch_winners":
                       set(survivors) == want,
                       "no_duplicate_reports":
                       len(survivors) == len(set(survivors))}}

        # ---- phase 2: streaming near-dup index ---------------------------
        pairs: set = set()
        t0 = time.time()
        q = start_neardup_stream(
            docs_stream(spark, docs_dir), f"{work}/nd_index",
            lambda df, _e: pairs.update((r.new_id, r.match_id)
                                        for r in df.collect()),
            f"{work}/nd_ckpt", compact_every=4)
        q.awaitTermination(600)
        el = time.time() - t0
        out["phases"]["neardup"] = {
            "elapsed_sec": round(el, 2), "docs_per_sec": round(n_rows / el),
            "batches": n_files, "pairs_reported": len(pairs),
            "checks": {"planted_dups_all_flagged":
                       all(p in pairs for p in planted),
                       "no_self_pairs":
                       all(a != b for a, b in pairs)}}

        # ---- phase 3: streaming semantic ANN index -----------------------
        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        epdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
        nz_mask = epdf["embedding"].map(
            lambda v: any(float(x) != 0.0 for x in v))
        edup = epdf[(epdf.vec_id % args.dup_every == 0) & nz_mask].copy()
        edup["vec_id"] = edup["vec_id"] + 10_000_000
        eplanted = set(zip(edup["vec_id"], edup["vec_id"] - 10_000_000))
        efull = __import__("pandas").concat([epdf, edup], ignore_index=True)
        emb_dir = f"{work}/emb"
        en_files = _write_batches(epdf, edup, emb_dir, args.batches)
        cands: list = []
        t0 = time.time()
        q = start_neardup_stream(
            emb_stream(spark, emb_dir), f"{work}/ann_index",
            lambda df, _e: cands.extend(
                (r.new_id, r.match_id, r.cosine) for r in df.collect()),
            f"{work}/ann_ckpt", text_col="embedding", id_col="vec_id",
            candidate_builder=batch_semantic_candidates, compact_every=4,
            compact_sort=["bucket"])
        q.awaitTermination(600)
        el = time.time() - t0
        # re-verify every reported cosine >= tau from raw vectors, batch
        from downscaledclimatedata_spark.operators.similarity import (
            SEM_TAU, int_dot, quantize, sq_norm)
        efull_df = spark.createDataFrame(efull)
        qn = (efull_df.select(F.col("vec_id"),
                              quantize(F.col("embedding")).alias("qv"))
              .withColumn("n2", sq_norm(F.col("qv"))))
        cpairs = spark.createDataFrame(
            [(a, b) for a, b, _ in cands], "new_id long, match_id long")
        bad_cos = (cpairs
                   .join(qn.select(F.col("vec_id").alias("new_id"),
                                   F.col("qv").alias("aq"),
                                   F.col("n2").alias("an2")), "new_id")
                   .join(qn.select(F.col("vec_id").alias("match_id"),
                                   F.col("qv").alias("bq"),
                                   F.col("n2").alias("bn2")), "match_id")
                   .withColumn("cos",
                               int_dot(F.col("aq"), F.col("bq"))
                               .cast("double")
                               / (F.sqrt(F.col("an2").cast("double"))
                                  * F.sqrt(F.col("bn2").cast("double"))))
                   .filter(F.col("cos") < SEM_TAU).count()) if cands else 0
        flagged = {(a, b) for a, b, _ in cands}
        out["phases"]["ann"] = {
            "elapsed_sec": round(el, 2),
            "vecs_per_sec": round(len(efull) / el),
            "batches": en_files, "candidates_reported": len(cands),
            "checks": {"planted_dups_all_flagged":
                       all(p in flagged for p in eplanted),
                       "all_candidates_verify_tau": bad_cos == 0}}

        # ---- phase 4: streaming CMS + Bloom sketch index -----------------
        idx = StreamingSketchIndex(spark, f"{work}/sketch")
        t0 = time.time()
        q = idx.attach(docs_stream(spark, docs_dir))
        q.awaitTermination(600)
        idx.compact()
        el = time.time() - t0
        # fold == batch: folded cells equal the one-shot batch cells
        folded = {(r.d, r.cell): r.n for r in
                  idx._read_all("cms", "d int, cell bigint, n bigint")
                  .groupBy("d", "cell").agg(F.sum("n").alias("n")).collect()}
        oneshot = {(r.d, r.cell): r.n
                   for r in batch_cms_cells(full_df).collect()}
        probe = ["key", "spark", "window", "zzz_absent_term"]
        exact = {t: full_df.select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("t"))
            .filter(F.col("t") == t).count() for t in probe}
        est = idx.estimate(tuple(probe))
        memb = idx.might_contain(tuple(probe))
        out["phases"]["sketches"] = {
            "elapsed_sec": round(el, 2), "docs_per_sec": round(n_rows / el),
            "batches": n_files,
            "checks": {"fold_equals_batch_cells": folded == oneshot,
                       "cms_overestimates_only":
                       all(est[t] >= exact[t] for t in probe),
                       "cms_absent_term_small":
                       exact["zzz_absent_term"] == 0,
                       "bloom_no_false_negatives":
                       all(memb[t] for t in probe if exact[t] > 0)}}

        # ---- phase 5: multi-signal (minhash + simhash) index -------------
        from downscaledclimatedata_spark.operators.dedup import (
            SIMHASH_HAM_MAX, simhash)
        from downscaledclimatedata_spark.streaming.neardup import (
            batch_multi_signal_candidates)

        ms_pairs: set = set()
        t0 = time.time()
        q = start_neardup_stream(
            docs_stream(spark, docs_dir), f"{work}/ms_index",
            lambda df, _e: ms_pairs.update((r.new_id, r.match_id, r.signal)
                                           for r in df.collect()),
            f"{work}/ms_ckpt",
            candidate_builder=batch_multi_signal_candidates,
            compact_every=4, compact_sort=["signal", "k2"])
        q.awaitTermination(600)
        el = time.time() - t0
        # every reported simhash match must hamming-verify against the
        # batch-computed fingerprints of the full corpus
        sim_pairs = [(a, b) for a, b, s in ms_pairs if s == "simhash"]
        if sim_pairs:
            fps = simhash(full_df, "text", "doc_id")
            sp = spark.createDataFrame(sim_pairs,
                                       "new_id long, match_id long")
            bad_ham = (sp.join(fps.select(F.col("doc_id").alias("new_id"),
                                          F.col("simhash").alias("fa")),
                               "new_id")
                       .join(fps.select(F.col("doc_id").alias("match_id"),
                                        F.col("simhash").alias("fb")),
                             "match_id")
                       .filter(F.bit_count(F.col("fa").bitwiseXOR(
                           F.col("fb"))) > SIMHASH_HAM_MAX).count())
        else:
            bad_ham = 0
        by_sig = {s: {(a, b) for a, b, s2 in ms_pairs if s2 == s}
                  for s in ("minhash", "simhash")}
        out["phases"]["multisignal"] = {
            "elapsed_sec": round(el, 2), "docs_per_sec": round(n_rows / el),
            "batches": n_files, "pairs_reported": len(ms_pairs),
            "checks": {
                # planted dups are EXACT copies in a later batch: both
                # signals must flag every one against its original
                "planted_dups_flagged_by_minhash":
                all(p in by_sig["minhash"] for p in planted),
                "planted_dups_flagged_by_simhash":
                all(p in by_sig["simhash"] for p in planted),
                "all_simhash_matches_hamming_verify": bad_ham == 0,
                "no_self_pairs":
                all(a != b for a, b, _s in ms_pairs)}}

        # ---- phase 6: bounded-state streaming dedup ----------------------
        import datetime as dt

        import pandas as pd

        from downscaledclimatedata_spark.streaming.stream import (
            dedup_events_bounded)

        ev_dir = f"{work}/ev"
        os.makedirs(ev_dir, exist_ok=True)
        e0 = dt.datetime(2024, 1, 1, 10, 0, 0)
        ev_batches = [
            [(1, e0, 7, "view", 1.0, ""), (2, e0, 8, "click", 1.0, "")],
            # id 1 again inside the 10-min horizon -> suppressed
            [(1, e0 + dt.timedelta(minutes=1), 7, "view", 1.0, "")],
            # watermark pushers (cleanup runs a batch behind the data)
            [(3, e0 + dt.timedelta(hours=2), 9, "view", 1.0, "")],
            [(4, e0 + dt.timedelta(hours=2, minutes=5), 9, "view",
              1.0, "")],
            # very-late replay of id 1 -> state evicted -> re-emitted
            [(1, e0 + dt.timedelta(hours=2, minutes=6), 7, "view",
              1.0, "")],
        ]
        for i, rows in enumerate(ev_batches):
            pd.DataFrame(rows, columns=[
                "event_id", "ts", "user_id", "event_type", "value", "props"
            ]).to_parquet(f"{ev_dir}/b{i}.parquet", index=False,
                          coerce_timestamps="us",
                          allow_truncated_timestamps=True)
            time.sleep(0.05)  # mtime order -> deterministic batch order
        ev_stream = (spark.readStream
                     .schema("event_id long, ts timestamp, user_id long, "
                             "event_type string, value double, "
                             "props string")
                     .option("maxFilesPerTrigger", 1).parquet(ev_dir))
        t0 = time.time()
        q = (dedup_events_bounded(ev_stream)
             .writeStream.format("memory").queryName("stream_run_bd")
             .outputMode("append")
             .option("checkpointLocation", f"{work}/bd_ckpt")
             .trigger(availableNow=True).start())
        q.awaitTermination(600)
        el = time.time() - t0
        by_id: dict = {}
        for r in spark.table("stream_run_bd").collect():
            by_id.setdefault(r.event_id, []).append(r.ts)
        out["phases"]["bounded_dedup"] = {
            "elapsed_sec": round(el, 2),
            "batches": len(ev_batches),
            "emitted": sum(len(v) for v in by_id.values()),
            "checks": {
                "first_occurrences_emitted":
                sorted(by_id.get(2, [])) == [e0]
                and sorted(by_id.get(3, []))
                == [e0 + dt.timedelta(hours=2)]
                and sorted(by_id.get(4, []))
                == [e0 + dt.timedelta(hours=2, minutes=5)],
                "within_horizon_duplicate_suppressed":
                e0 + dt.timedelta(minutes=1) not in by_id.get(1, []),
                "post_eviction_replay_reemitted":
                sorted(by_id.get(1, []))
                == [e0, e0 + dt.timedelta(hours=2, minutes=6)]}}

        # ---- phase 7: incremental rollup (streaming IVM) -----------------
        from downscaledclimatedata_spark.operators.maintenance import (
            agg_state)
        from downscaledclimatedata_spark.sources.tables import (
            normalize_events_ts)
        from downscaledclimatedata_spark.streaming.ivm import (
            compact_rollup, read_rollup, start_rollup_stream)

        iv_src = f"{work}/iv_events"
        raw = normalize_events_ts(
            spark.read.parquet("/root/testdata/sf0.01/events.parquet"))
        raw.repartition(args.batches).write.parquet(iv_src)
        schema_df = spark.read.parquet(iv_src)
        state = f"{work}/iv_state"
        t0 = time.time()
        q = start_rollup_stream(
            spark.readStream.schema(schema_df.schema)
            .option("maxFilesPerTrigger", 1).parquet(iv_src),
            state, f"{work}/iv_ckpt")
        q.awaitTermination(600)
        el = time.time() - t0
        want = {r.event_type: (r.n, r.sum_cents, r.min_v, r.max_v)
                for r in agg_state(schema_df, "event_type", "value")
                .collect()}
        got = {r.event_type: (r.n, r.sum_cents, r.min_v, r.max_v)
               for r in read_rollup(spark, state).collect()}
        import glob as _glob
        n_folded = compact_rollup(spark, state)
        got_c = {r.event_type: (r.n, r.sum_cents, r.min_v, r.max_v)
                 for r in read_rollup(spark, state).collect()}
        n_events = schema_df.count()
        out["phases"]["rollup"] = {
            "elapsed_sec": round(el, 2),
            "events_per_sec": round(n_events / el),
            "deltas_folded": n_folded,
            "checks": {
                "stream_rollup_equals_batch": got == want,
                "compacted_rollup_unchanged": got_c == want,
                "compaction_bounds_files":
                len(_glob.glob(state + "/batch=*")) == 1}}

        # ---- phase 8: LEFT-OUTER null emission is watermark-driven -------
        # Planted users: matched pair, purchase with no click, purchase
        # whose only click is AFTER it (outside the window), two-click
        # purchase. The same staged stream runs TWICE: with two trailing
        # far-future heartbeat files (watermark flush) and WITHOUT them —
        # null rows must appear ONLY in the flushed run, proving emission
        # is the watermark closing the window, not end-of-stream.
        import glob as _glob2
        import uuid as _uuid

        from downscaledclimatedata_spark.streaming.stream import (
            attribution_join)

        t0 = time.time()
        B = 1_700_000_000
        hb_user = -(2 ** 61)

        def _ev(rows):
            return spark.createDataFrame(
                rows, "event_id long, user_id long, event_type string, "
                      "t_s long") \
                .select("event_id", "user_id", "event_type",
                        F.timestamp_seconds(F.col("t_s")).alias("ts"))

        f0 = _ev([(1, 1, "click", B + 10), (2, 4, "click", B + 5),
                  (3, 4, "click", B + 15), (4, 2, "purchase", B + 30)])
        f1 = _ev([(5, 1, "purchase", B + 20), (6, 3, "purchase", B + 40),
                  (7, 3, "click", B + 100), (8, 4, "purchase", B + 20)])
        f2 = _ev([(-1, hb_user, "click", B + 20_000),
                  (-2, hb_user - 1, "purchase", B + 20_000)])
        f3 = _ev([(-3, hb_user, "click", B + 40_000),
                  (-4, hb_user - 1, "purchase", B + 40_000)])

        def _run_outer(files, tag):
            edir = f"{work}/outer_{tag}/events"
            _os.makedirs(edir)
            t00 = int(time.time()) - 3600
            for idx, df in enumerate(files):
                pdir = f"{work}/outer_{tag}/tmp{idx}"
                df.coalesce(1).write.parquet(pdir)
                part = _glob2.glob(f"{pdir}/part-*.parquet")[0]
                dst = f"{edir}/f{idx}.parquet"
                _sh.move(part, dst)
                _os.utime(dst, (t00 + 100 * idx, t00 + 100 * idx))
            schema = spark.read.parquet(edir).schema
            stream = (spark.readStream.schema(schema)
                      .option("maxFilesPerTrigger", 1).parquet(edir))
            joined = attribution_join(stream, watermark="10 minutes",
                                      how="leftOuter")
            name = f"souter_{_uuid.uuid4().hex[:8]}"
            q = (joined.writeStream.format("memory").queryName(name)
                 .outputMode("append")
                 .option("checkpointLocation",
                         f"{work}/outer_{tag}/ckpt")
                 .trigger(availableNow=True).start())
            q.awaitTermination(300)
            return [r for r in spark.table(name).collect()
                    if r.user_id > hb_user]  # excludes hb_user, hb_user-1

        flushed = _run_outer([f0, f1, f2, f3], "flush")
        unflushed = _run_outer([f0, f1], "noflush")
        nulls = sorted(r.purchase_id for r in flushed
                       if r.click_id is None)
        matched = sorted((r.purchase_id, r.click_id) for r in flushed
                         if r.click_id is not None)
        out["phases"]["left_outer_flush"] = {
            "elapsed_sec": round(time.time() - t0, 2),
            "checks": {
                "unmatched_flushed_once": nulls == [4, 6],
                "matched_equal_batch": matched == [(5, 1), (8, 2),
                                                   (8, 3)],
                "no_nulls_without_flush":
                all(r.click_id is not None for r in unflushed),
                "matched_emitted_without_flush":
                sorted((r.purchase_id, r.click_id)
                       for r in unflushed) == [(5, 1), (8, 2), (8, 3)]}}

        # ---- phase 9: pysource checkpoint replay/recovery ---------------
        # The Python DataSource's crash-recovery claim ("the generator is
        # its own write-ahead log", corpusgen.py readBetweenOffsets) is
        # proven, not just documented: a checkpointed stream over the
        # source is KILLED mid-sequence, restarted from the same
        # checkpoint (which makes Spark replay the committed-but-unfinished
        # batch through readBetweenOffsets), run to completion, and the
        # final per-(lang, source) aggregate is compared against the
        # GENERATIVE oracle — the same md5 derivation evaluated directly.
        # Equality proves no gaps and no double-counts across the restart.
        import hashlib as _hl
        import uuid as _uuid2

        from downscaledclimatedata_spark.sources.corpusgen import _doc_row

        t0 = time.time()
        RP_MAX, RP_BATCH, RP_SEED = 900, 60, "replay12"
        ckpt = f"{work}/pysrc_replay/ckpt"

        def _start(name, trigger_sec):
            # Run 1 is throttled (one micro-batch per trigger tick) so a
            # fast box cannot finish all RP_MAX docs before the poll
            # observes a partial total; run 2 is unthrottled.
            stream = (spark.readStream.format("corpusgen")
                      .option("batch_docs", RP_BATCH)
                      .option("max_docs", RP_MAX)
                      .option("seed", RP_SEED).load())
            agg = (stream.groupBy("lang", "source")
                   .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                        F.sum("doc_id").cast("bigint").alias("sum_id"),
                        F.sum("n_chars").cast("bigint").alias("sum_chars")))
            return (agg.writeStream.format("memory").queryName(name)
                    .outputMode("complete")
                    .option("checkpointLocation", ckpt)
                    .trigger(processingTime=
                             f"{int(trigger_sec * 1000)} milliseconds")
                    .start())

        def _total(name):
            # The memory-sink table registers asynchronously after
            # start(); treat not-yet-registered as zero docs seen.
            try:
                row = spark.table(name).agg(F.sum("n_docs")).first()
            except Exception:
                return 0
            return int(row[0] or 0)

        n1 = f"rp1_{_uuid2.uuid4().hex[:8]}"
        q1 = _start(n1, 0.5)
        deadline = time.time() + 120
        seen_partial = 0
        while time.time() < deadline:
            seen_partial = _total(n1)
            if seen_partial >= RP_MAX // 3:
                break
            time.sleep(0.05)
        q1.stop()          # kill mid-sequence: state + offsets persist,
        q1.awaitTermination(60)   # the in-flight batch does not commit
        killed_midway = 0 < seen_partial < RP_MAX

        n2 = f"rp2_{_uuid2.uuid4().hex[:8]}"
        q2 = _start(n2, 0)
        deadline = time.time() + 180
        total = 0
        while time.time() < deadline:
            total = _total(n2)
            if total >= RP_MAX:
                break
            time.sleep(0.3)
        q2.stop()
        q2.awaitTermination(60)
        got = {(r.lang, r.source): (r.n_docs, r.sum_id, r.sum_chars)
               for r in spark.table(n2).collect()}
        want: dict = {}
        for i in range(RP_MAX):
            doc_id, text, lang, source, n_chars = _doc_row(RP_SEED, i)
            n, s, c = want.get((lang, source), (0, 0, 0))
            want[(lang, source)] = (n + 1, s + doc_id, c + n_chars)
        out["phases"]["pysource_replay"] = {
            "elapsed_sec": round(time.time() - t0, 2),
            "docs_at_kill": seen_partial,
            "checks": {
                "killed_midway": killed_midway,
                "resumed_to_completion": total >= RP_MAX,
                "agg_matches_generative_oracle": got == want}}

        n_bad = sum(1 for ph in out["phases"].values()
                    for ok in ph["checks"].values() if not ok)
        out["n_bad"] = n_bad
        path = Path(__file__).resolve().parent / \
            f"STREAM_r{args.round:02d}.json"
        path.write_text(json.dumps(out, indent=1))
        print(json.dumps({"stream": str(path), "n_bad": n_bad,
                          "phases": {k: v["elapsed_sec"]
                                     for k, v in out["phases"].items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
