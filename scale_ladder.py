#!/usr/bin/env python
"""Scale-ladder harness: empirical evidence the headline plans survive a
10x scale-up.

Builds an sf1-equivalent dataset by unioning K=10 id-shifted copies of
the driver's sf0.1 parquet (every id column shifts by copy * 10^9, so
foreign-key relationships stay intact and the fixed-size query/centroid
samples — `id % spacing = 0 AND id < bound` — stay bounded by
construction), then times the headline query set at both scales and
prints ONE JSON line with per-query wall-clock ratios.

A ~linear ratio (≈10x work -> ≈10x-or-less time on fixed cores) is the
cheapest empirical check that no plan degrades super-linearly; a
query whose ratio far exceeds the data ratio pinpoints the next weak
operator. Results are recorded in BENCH_SCALE.md.

Usage: python scale_ladder.py [--copies 10]
The scaled data lands in .scale/sf1/ (gitignored, rebuilt if missing).

A second rung (`--rung sf10`) adds a 100-copy dataset for the queries
whose sf0.1->sf1 ratio exceeded 3x (q09, text_top_terms,
dedup_repeated_spans, dedup_ngram_jaccard) plus the prep and IVF-PQ
headliners: those plans claim "work scales linearly with data, width
scales with partitions", and a second decade of data on fixed cores is
the cheapest test of that claim (sf1->sf10 ratios should stay <=10 and
ideally flatten per-token as fixed overhead amortizes). Only the tables
those queries read (documents, events, embeddings) are materialized at
100x.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

BASE_SF = "/root/testdata/sf0.1"
SCALE_DIR = str(Path(__file__).resolve().parent / ".scale" / "sf1")
COPIES = 10
ID_STRIDE = 1_000_000_000  # > any base id; multiples preserve id % spacing == 0 only for copy 0

# id columns to shift per table; one shared stride keeps FKs consistent
SHIFT_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIM_TABLES = ("region", "nation")  # fixed-size dims: copied once, unscaled

SCALE10_DIR = str(Path(__file__).resolve().parent / ".scale" / "sf10")
# tables the sf10 target queries actually read — events (q09),
# documents (text/dedup/prep), embeddings (IVF-PQ)
SF10_TABLES = ("events", "documents", "embeddings")
SF10_TARGETS = (
    "q09_user_event_running", "text_top_terms", "dedup_repeated_spans",
    "dedup_ngram_jaccard", "prep_text_clean", "q55_corpus_prep",
    "similarity_ivfpq_topk", "similarity_ivf_k256",
)

# Third decade (sf10 -> sf100, documents only, 50M docs): the four
# queries whose second-decade ratio stayed >= 5x — one more decade
# decides "fixed overhead amortizing" vs "creeping super-linear"
# (r7 advice #7). All four are per-doc or broadcast-join shapes, so
# the perturbation scheme's period-260 permutation reuse (verbatim
# cross-copy clones at >= 260 copies) is NOT a data-character hazard
# here: none of them is pair- or cluster-keyed across documents.
SCALE100_DIR = str(Path(__file__).resolve().parent / ".scale" / "sf100")
SF100_TABLES = ("documents",)
SF100_TARGETS = ("dedup_decontaminate", "text_lm_familiarity",
                 "dedup_repeated_spans", "text_top_terms")

# Third decade, EMBEDDINGS rung (sf10 -> sf100, 10M vectors): r9's
# verdict asked for knn_triangles' third decade — its two merge-pinned
# joins over the k-bounded edge relation are the likeliest place for
# skew to appear at 10x more cells. Separate dir: the documents sf100
# build above stays untouched (ensure_scaled markers are per-dir).
SCALE100E_DIR = str(Path(__file__).resolve().parent / ".scale" / "sf100emb")
SF100E_TABLES = ("embeddings",)
SF100E_TARGETS = ("similarity_knn_triangles",)

# FOURTH decade, embeddings (sf100 -> sf1000, 20M vectors): the r12
# verdict's #6 — the similarity ladder stopped at 2M while the 100 TB
# story claims two more decades. Speed ratios for the all-vectors
# headliners (kNN graph, SemDeDup) plus the recall / removal-rate
# quality columns at the scheduled codebook. The perturbation scheme's
# (i % 10, i // 10) pair stays unique through 10,000 copies, so no two
# copies are verbatim clones.
SCALE1000E_DIR = str(Path(__file__).resolve().parent / ".scale" / "sf1000emb")
SF1000E_TARGETS = ("similarity_knn_graph", "dedup_semantic")

# copy-specific text perturbation with period 260: vowel rotation keyed
# by i % 10 composed with a lowercase Caesar shift keyed by i // 10.
# For i < 10 the shift is 0, so the sf1 build is byte-identical to the
# historical vowel-rotation-only build; at 100 copies no two copies get
# the same composite permutation, so replicated docs are never
# cross-copy near-duplicates (verbatim clones would plant deep
# duplicate groups and quadratically inflate the dedup queries — a
# data-character change, not a scale measurement).
_VOWEL_ROT = ["aeiou", "eioua", "iouae", "ouaei", "uaeio",
              "aeiuo", "eioau", "iouea", "ouaie", "uaeoi"]
_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _perturb_text(col, copy: int):
    from pyspark.sql import functions as F
    out = F.translate(col, "aeiou", _VOWEL_ROT[copy % 10])
    shift = (copy // 10) % 26
    if shift:
        out = F.translate(out, _ALPHA, _ALPHA[shift:] + _ALPHA[:shift])
    return out


def build_scaled(spark, src: str, dst: str, copies: int,
                 tables: tuple[str, ...] | None = None) -> None:
    from pyspark.sql import functions as F
    os.makedirs(dst, exist_ok=True)
    # events: copy ts in whatever physical shape the driver file uses
    # (long nanos under nanosAsLong, or native micros) — the engine's
    # loader normalizes either (sources/tables.py normalize_events_ts)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name in DIM_TABLES:
        if tables is not None and name not in tables:
            continue
        df = spark.read.parquet(os.path.join(src, f"{name}.parquet"))
        df.write.mode("overwrite").parquet(os.path.join(dst, f"{name}.parquet"))
    for name, cols in SHIFT_COLS.items():
        if tables is not None and name not in tables:
            continue
        df = spark.read.parquet(os.path.join(src, f"{name}.parquet"))
        out = None
        for i in range(copies):
            copy = df
            for c in cols:
                copy = copy.withColumn(c, F.col(c) + F.lit(i * ID_STRIDE))
            if name == "documents" and i > 0:
                copy = copy.withColumn("text", _perturb_text(F.col("text"), i))
            if name == "embeddings" and i > 0:
                # bounded copy-dependent shift: the uniform component cycles
                # with period 10 (max 10 * 0.0017 = 0.017 at any copy count,
                # so copy index can't correlate with coarse-list assignment
                # at the 100-copy rung), and a tiny dimension-dependent term
                # keyed by i // 10 keeps copies sharing a cycle position
                # distinct. For i < 10 both reduce to the historical
                # i * 0.0017 uniform shift, so the sf1 build is unchanged.
                base_shift = ((i - 1) % 10 + 1) * 0.0017
                decade = i // 10
                copy = copy.withColumn(
                    "embedding",
                    F.transform(
                        "embedding",
                        lambda x, j: (x + F.lit(base_shift)
                                      + F.lit(decade * 0.00013)
                                      * ((j % 7) - F.lit(3))).cast("float")))
            out = copy if out is None else out.unionAll(copy)
            # flush every 50 copies: a 1000-way union tree (the sf100
            # rung) is quadratic to plan; chunked appends keep each job
            # a 50-way union with identical data
            if (i + 1) % 50 == 0 or i == copies - 1:
                (out.repartition(32).write
                 .mode("append" if i + 1 > 50 else "overwrite")
                 .parquet(os.path.join(dst, f"{name}.parquet")))
                out = None


def ensure_scaled(spark, src: str, dst: str, copies: int,
                  tables: tuple[str, ...] | None = None) -> None:
    """Build `dst` at `copies` copies unless an up-to-date build exists.

    A `_build.json` marker records the copies count (and table subset)
    used; a marker mismatch forces a rebuild so sf_base/sf_scaled labels
    can never disagree with the data actually on disk.
    """
    marker = os.path.join(dst, "_build.json")
    want = {"copies": copies, "tables": sorted(tables) if tables else None}
    if os.path.exists(marker):
        with open(marker) as f:
            have = json.load(f)
        if have == want:
            return
        shutil.rmtree(dst)
    elif os.path.exists(dst):
        # pre-marker build of unknown provenance: rebuild
        shutil.rmtree(dst)
    build_scaled(spark, src, dst, copies, tables=tables)
    with open(marker, "w") as f:
        json.dump(want, f)


def _load_emb(spark, sf_dir: str):
    from downscaledclimatedata_spark.sources.tables import load_table_parallel
    return load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")


# --- clustered-but-not-cloned rung family (r13) -----------------------------------
#
# The r12 recall evidence bracketed reality from both sides: the
# uniform-random fixture (structureless worst case, recall 0.11-0.20)
# and the replica-clone rungs (the clones ARE the true neighbors,
# recall ~0.97). A real embedding corpus sits between: topically
# CLUSTERED, but with no exact or near-exact clones. This family
# synthesizes that regime deterministically and fully JVM-side: a
# mixture of Gaussians-ish clusters — cluster centers md5-hashed into
# [-1,1]^64, per-vector noise md5-hashed at sigma — with DENSE ids
# 0..N-1, so the fixed-window query/centroid samples stay valid at
# every rung without the replica family's stride workarounds.
#
# Geometry: |center|^2 ~ 64/3, |noise|^2 ~ 64*sigma^2/3, so expected
# within-cluster cosine ~ 1/(1+sigma^2) ~ 0.86 at sigma=0.4 — close
# neighbors without clones; cross-cluster cosine ~ 0. Average cluster
# depth CLUSTER_PER=200 is comparable to the scheduled codebook's mean
# cell size at every rung, which is exactly the regime where a
# corpus-sampled codebook can split topics across cells.

CLUSTERED_BASE = str(Path(__file__).resolve().parent / ".scale" / "clustered")
CLUSTER_PER = 200
CLUSTER_SIGMA = 0.4
CLUSTER_RUNGS = (("20k", 20_000), ("200k", 200_000), ("2m", 2_000_000))


def clustered_embeddings(spark, n_rows: int, per_cluster: int = CLUSTER_PER,
                         sigma: float = CLUSTER_SIGMA, seed: str = "mog13"):
    """(vec_id, embedding) mixture-of-clusters corpus, deterministic in
    (n_rows, per_cluster, sigma, seed) and independent of partitioning."""
    from pyspark.sql import functions as F

    from downscaledclimatedata_spark.functions.hashing import md5_long

    n_clusters = max(2, n_rows // per_cluster)
    df = (spark.range(0, n_rows, 1, 32)
          .select(F.col("id").alias("vec_id")))
    cid = md5_long(F.col("vec_id").cast("string"),
                   seed=f"{seed}:c:") % n_clusters

    def _unit(col):  # md5 -> uniform in [-1, 1], 2001 levels
        return ((col % 2001) - 1000).cast("double") / 1000.0

    def component(j):
        center = _unit(md5_long(
            F.concat_ws(":", F.col("cid").cast("string"),
                        j.cast("string")), seed=f"{seed}:mu:"))
        noise = _unit(md5_long(
            F.concat_ws(":", F.col("vec_id").cast("string"),
                        j.cast("string")), seed=f"{seed}:eps:"))
        return (center + F.lit(float(sigma)) * noise).cast("float")

    return (df.withColumn("cid", cid)
            .select("vec_id",
                    F.transform(F.sequence(F.lit(0), F.lit(63)),
                                component).alias("embedding")))


def ensure_clustered(spark, dst: str, n_rows: int) -> None:
    marker = os.path.join(dst, "_build.json")
    want = {"n_rows": n_rows, "per": CLUSTER_PER, "sigma": CLUSTER_SIGMA}
    if os.path.exists(marker):
        with open(marker) as f:
            if json.load(f) == want:
                return
        shutil.rmtree(dst)
    elif os.path.exists(dst):
        shutil.rmtree(dst)
    os.makedirs(dst, exist_ok=True)
    clustered_embeddings(spark, n_rows).write.mode("overwrite") \
        .parquet(os.path.join(dst, "embeddings.parquet"))
    with open(marker, "w") as f:
        json.dump(want, f)


SERVE_METHODS = ("ivfpq", "pq_rerank", "index_serve",
                 "index_serve_probe2", "index_serve_routed",
                 "graph_search")


def measure_serve_recall(spark, sf_dir: str, n_queries: int = 100,
                         k: int = None,
                         methods: tuple = SERVE_METHODS) -> dict:
    """Top-k recall of the SERVE-path searchers — IVF-PQ, ADC-shortlist
    + exact rerank, and the persisted index (`ann_index_search`) —
    against exact truth on a query sample, under the flat SCALED
    codebook (`scaled_codebook(n)`, the serve family's schedule). The
    r12 verdict's #2: these are the searchers a product actually reads
    from, and their recall was measured only at the toy configuration.

    Requires DENSE ids 0..N-1 (the clustered rung family), where the
    fixed-window samples with scaled spacing are uniform by
    construction. Each L2-metric searcher is scored against exact
    squared-L2 truth; the cosine-serving persisted index against exact
    cosine truth — each searcher against its own metric.
    """
    import shutil as _sh
    import tempfile
    import time as _t

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from downscaledclimatedata_spark.operators.similarity import (
        PQ_KS, RERANK_M_SUB, TOP_K, _fixed_sample, ann_index_build,
        ann_index_search, int_dot, ivfpq_topk, pq_rerank, quantize,
        scaled_codebook, sq_norm)
    if k is None:
        k = TOP_K
    emb = _load_emb(spark, sf_dir)
    n = emb.count()
    mod, kc = scaled_codebook(n)
    q_every = max(1, n // n_queries)

    base = (emb.select(F.col("vec_id"),
                       quantize(F.col("embedding")).alias("qv"),
                       sq_norm(quantize(F.col("embedding"))).alias("n2"))
            .filter(F.col("n2") > 0))
    queries = (base.filter(_fixed_sample("vec_id", q_every, n_queries))
               .select(F.col("vec_id").alias("query_id"),
                       F.col("qv").alias("qq"), F.col("n2").alias("qn2")))
    scored = (base.crossJoin(F.broadcast(queries))
              .filter(F.col("vec_id") != F.col("query_id"))
              .select("query_id", F.col("vec_id").alias("match_id"),
                      (F.col("qn2") + F.col("n2")
                       - 2 * int_dot(F.col("qq"), F.col("qv")))
                      .alias("l2"),
                      (int_dot(F.col("qq"), F.col("qv")).cast("double")
                       / (F.sqrt(F.col("qn2").cast("double"))
                          * F.sqrt(F.col("n2").cast("double"))))
                      .alias("cosine")))
    w_l2 = Window.partitionBy("query_id").orderBy("l2", "match_id")
    w_cos = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                                   "match_id")
    truth_l2 = truth_cos = None
    if {"ivfpq", "pq_rerank"} & set(methods):
        truth_l2 = (scored.withColumn("rnk", F.row_number().over(w_l2))
                    .filter(F.col("rnk") <= k)
                    .select("query_id", "match_id").localCheckpoint())
    if {"index_serve", "index_serve_probe2", "index_serve_routed",
            "graph_search"} & set(methods):
        truth_cos = (scored.withColumn("rnk", F.row_number().over(w_cos))
                     .filter(F.col("rnk") <= k)
                     .select("query_id", "match_id").localCheckpoint())

    def _recall(truth, approx_df):
        got = (approx_df.select("query_id", "match_id")
               .withColumn("hit", F.lit(1)))
        agg = (truth.join(F.broadcast(got), ["query_id", "match_id"],
                          "left")
               .groupBy("query_id")
               .agg(F.count(F.lit(1)).alias("nt"),
                    F.sum(F.coalesce("hit", F.lit(0))).alias("nh"))
               .agg(F.avg(F.col("nh").cast("double")
                          / F.col("nt").cast("double")).alias("mean"),
                    F.count(F.lit(1)).alias("q")).first())
        return float(agg["mean"]), int(agg["q"])

    out = {"n_vectors": n, "k": k,
           "codebook": {"centroid_mod": mod, "n_centroids": kc},
           "n_queries": n_queries}
    if "ivfpq" in methods:
        t0 = _t.perf_counter()
        r, q = _recall(truth_l2, ivfpq_topk(
            emb, k=k, query_mod=q_every, n_queries=n_queries,
            centroid_mod=mod, n_centroids=kc))
        out["ivfpq"] = {"mean_recall": round(r, 4), "queries": q,
                        "sec": round(_t.perf_counter() - t0, 1)}
    if "pq_rerank" in methods:
        t0 = _t.perf_counter()
        r, q = _recall(truth_l2, pq_rerank(
            emb, k=k, query_mod=q_every, n_queries=n_queries,
            centroid_mod=mod))
        out["pq_rerank"] = {"mean_recall": round(r, 4), "queries": q,
                            "sec": round(_t.perf_counter() - t0, 1)}
    if {"index_serve", "index_serve_probe2"} & set(methods):
        t0 = _t.perf_counter()
        idx = tempfile.mkdtemp(prefix="dcd_serveidx_")
        try:
            ann_index_build(emb, idx, centroid_mod=mod, n_centroids=kc)
            if "index_serve" in methods:
                r, q = _recall(truth_cos, ann_index_search(
                    spark, idx, k=k, query_mod=q_every,
                    n_queries=n_queries))
                out["index_serve"] = {
                    "mean_recall": round(r, 4), "queries": q,
                    "sec": round(_t.perf_counter() - t0, 1)}
            if "index_serve_probe2" in methods:
                t0 = _t.perf_counter()
                r, q = _recall(truth_cos, ann_index_search(
                    spark, idx, k=k, query_mod=q_every,
                    n_queries=n_queries, nprobe=2))
                out["index_serve_probe2"] = {
                    "mean_recall": round(r, 4), "queries": q,
                    "sec": round(_t.perf_counter() - t0, 1)}
        finally:
            _sh.rmtree(idx, ignore_errors=True)
    if "index_serve_routed" in methods:
        # the ROUTED build (three-level assignment at the graph
        # family's schedule): the serve-path fix for the flat N^1.5
        # build wall — the configuration that makes 2M+ feasible
        from downscaledclimatedata_spark.operators.similarity import (
            scaled_codebook_three_level)
        m3, k3, s1, s2, ev = scaled_codebook_three_level(n)
        t0 = _t.perf_counter()
        idx = tempfile.mkdtemp(prefix="dcd_serveidx3_")
        try:
            ann_index_build(emb, idx, centroid_mod=m3, n_centroids=k3,
                            n_super=s1, n_super2=s2, spread_every=ev)
            r, q = _recall(truth_cos, ann_index_search(
                spark, idx, k=k, query_mod=q_every,
                n_queries=n_queries))
        finally:
            _sh.rmtree(idx, ignore_errors=True)
        out["index_serve_routed"] = {
            "mean_recall": round(r, 4), "queries": q,
            "codebook": {"centroid_mod": m3, "n_centroids": k3,
                         "n_super": s1, "n_super2": s2,
                         "spread_every": ev},
            "sec": round(_t.perf_counter() - t0, 1)}
    if "graph_search" in methods:
        # graph-expansion serving (r13): IVF probe-1 seeds under the
        # serve family's flat scaled codebook, expanded over the
        # probe-2 kNN graph built at the GRAPH family's schedule — the
        # cross-cell edges recover the boundary neighbors whose loss
        # is the measured per-decade single-probe decay
        from downscaledclimatedata_spark.operators.similarity import (
            graph_search, knn_graph, scaled_codebook_three_level)
        m3, k3, s1, s2, ev = scaled_codebook_three_level(n)
        t0 = _t.perf_counter()
        edges = knn_graph(emb, centroid_mod=m3, n_centroids=k3,
                          n_super=s1, n_super2=s2, spread_every=ev,
                          nprobe=2)
        r, q = _recall(truth_cos, graph_search(
            emb, edges=edges, k=k, query_mod=q_every,
            n_queries=n_queries, centroid_mod=mod, n_centroids=kc))
        out["graph_search"] = {
            "mean_recall": round(r, 4), "queries": q,
            "seed_codebook": {"centroid_mod": mod, "n_centroids": kc},
            "graph_codebook": {"centroid_mod": m3, "n_centroids": k3,
                               "n_super": s1, "n_super2": s2,
                               "spread_every": ev},
            "sec": round(_t.perf_counter() - t0, 1)}
    return out


RECALL_QUERIES = 200  # hash-sampled query budget per rung


def measure_recall(spark, sf_dir: str, n_queries: int = RECALL_QUERIES) -> dict:
    """Edge recall@k of the kNN graph at ``sf_dir``'s corpus under the
    SCHEDULED three-level codebook, nprobe 1 and 2 — the r11 verdict's
    #1: neighbor QUALITY per decade next to the time ratio. Queries are
    hash-sampled (``query_hash=True``) because the rungs' strided ids
    would make the fixed-window sample degenerate (near-clone queries).
    """
    import time as _t

    from pyspark.sql import functions as F

    from downscaledclimatedata_spark.operators.similarity import (
        knn_graph_recall, scaled_codebook_three_level)
    emb = _load_emb(spark, sf_dir)
    n = emb.count()
    mod, k, s1, s2, ev = scaled_codebook_three_level(n)
    out = {"n_vectors": n,
           "codebook": {"centroid_mod": mod, "n_centroids": k,
                        "n_super": s1, "n_super2": s2, "spread_every": ev}}
    for nprobe in (1, 2):
        t0 = _t.perf_counter()
        agg = (knn_graph_recall(
            emb, nprobe=nprobe, centroid_mod=mod, n_centroids=k,
            n_super=s1, n_super2=s2, spread_every=ev,
            query_every=max(1, n // n_queries), query_hash=True)
            .agg(F.count(F.lit(1)).alias("q"),
                 F.avg("recall").alias("mean"),
                 F.avg((F.col("recall") >= 1.0).cast("double"))
                 .alias("frac_perfect")).first())
        out[f"nprobe{nprobe}"] = {
            "queries": int(agg["q"]),
            "mean_recall": round(float(agg["mean"]), 4),
            "frac_perfect": round(float(agg["frac_perfect"]), 4),
            "sec": round(_t.perf_counter() - t0, 1)}
    return out


def measure_sem_recall(spark, sf_dir: str,
                       n_queries: int = RECALL_QUERIES,
                       tau: float | None = None) -> dict:
    """SemDeDup pair recall at tau per decade under the SCHEDULED
    codebook — the dedup-family twin of :func:`measure_recall`: missed
    >= tau pairs are duplicates the prune never sees."""
    import time as _t

    from pyspark.sql import functions as F

    from downscaledclimatedata_spark.operators.similarity import (
        scaled_codebook_three_level, semantic_pair_recall)
    from downscaledclimatedata_spark.operators.similarity import SEM_TAU
    emb = _load_emb(spark, sf_dir)
    n = emb.count()
    mod, k, s1, s2, ev = scaled_codebook_three_level(n)
    t0 = _t.perf_counter()
    agg = (semantic_pair_recall(
        emb, tau=(SEM_TAU if tau is None else tau),
        centroid_mod=mod, n_centroids=k, n_super=s1, n_super2=s2,
        spread_every=ev, query_every=max(1, n // n_queries),
        query_hash=True)
        .agg(F.count(F.lit(1)).alias("q"),
             F.avg("recall").alias("mean"),
             F.sum("n_truth").alias("nt"),
             F.sum("n_hit").alias("nh")).first())
    return {"n_vectors": n,
            "codebook": {"centroid_mod": mod, "n_centroids": k,
                         "n_super": s1, "n_super2": s2,
                         "spread_every": ev},
            "queries_with_truth": int(agg["q"]),
            "mean_recall": round(float(agg["mean"]), 4),
            "truth_pairs": int(agg["nt"]), "hit_pairs": int(agg["nh"]),
            "micro_recall": round(int(agg["nh"]) / max(1, int(agg["nt"])),
                                  4),
            "sec": round(_t.perf_counter() - t0, 1)}


def time_knn_ab(spark, sf_dir: str) -> dict:
    """Same-box A/B of the two-level vs three-level schedules on
    knn_graph at ``sf_dir`` (r11 verdict #2: the +18.5% bench
    regression confounded host drift with the three-level routing
    constant — this isolates the code share). Best-of-2 wall each,
    interleaved A/B/A/B so slow drift cancels; recall recorded too,
    so a tiering decision sees what quality it trades."""
    import time as _t

    from pyspark.sql import functions as F

    from downscaledclimatedata_spark.operators.similarity import (
        knn_graph, knn_graph_recall, scaled_codebook_three_level,
        scaled_codebook_two_level)
    emb = _load_emb(spark, sf_dir)
    n = emb.count()
    m2, k2, s2 = scaled_codebook_two_level(n)
    m3, k3, s31, s32, ev3 = scaled_codebook_three_level(n)
    configs = {
        "two_level": dict(centroid_mod=m2, n_centroids=k2, n_super=s2),
        "three_level": dict(centroid_mod=m3, n_centroids=k3, n_super=s31,
                            n_super2=s32, spread_every=ev3),
    }
    out: dict = {"n_vectors": n}
    walls = {name: [] for name in configs}
    for _ in range(2):  # interleaved: A B A B
        for name, kw in configs.items():
            t0 = _t.perf_counter()
            knn_graph(emb, **kw).collect()
            walls[name].append(_t.perf_counter() - t0)
    for name, kw in configs.items():
        mean = (knn_graph_recall(
            emb, query_every=max(1, n // RECALL_QUERIES),
            query_hash=True, **kw)
            .agg(F.avg("recall")).first()[0])
        out[name] = {"codebook": kw,
                     "best_sec": round(min(walls[name]), 3),
                     "runs_sec": [round(w, 3) for w in walls[name]],
                     "mean_recall": round(float(mean), 4)}
    out["three_over_two"] = round(
        out["three_level"]["best_sec"] / out["two_level"]["best_sec"], 3)
    return out


PRUNE_N_DOCS = 2_000_000
PRUNE_REMOVED_IDS = (200, 10_000, 20_000, 100_000, 500_000)


def time_prune_tiers(spark) -> dict:
    """Both arms of ``prune_corpus``'s driver tier on a
    ``PRUNE_N_DOCS``-row corpus, per count in ``PRUNE_REMOVED_IDS``:
    the inlined ``NOT IN`` filter (``PRUNE_ISIN_MAX_IDS`` above the
    count) against the labels relation + anti-join (cap -1). The pair
    graph holds one edge per removed id, so the union-find and edge
    checkpoint both arms share cost the same in each. Best of 2 warm
    runs, arms interleaved."""
    from pyspark.sql import functions as F

    from downscaledclimatedata_spark.operators import dedup as D

    docs = (spark.range(PRUNE_N_DOCS)
            .select(F.col("id").alias("doc_id"), F.lit("x").alias("text"))
            .localCheckpoint())
    orig = D.PRUNE_ISIN_MAX_IDS
    out = {}
    try:
        for n_rm in PRUNE_REMOVED_IDS:
            step = PRUNE_N_DOCS // n_rm
            pairs = spark.range(n_rm).select(
                (F.col("id") * step).alias("id_a"),
                (F.col("id") * step + 1).alias("id_b"))
            walls = {"not_in": [], "anti_join": []}
            for _ in range(2):
                for arm, cap in (("not_in", 10**9), ("anti_join", -1)):
                    D.PRUNE_ISIN_MAX_IDS = cap
                    t0 = time.perf_counter()
                    kept = D.prune_corpus(docs, pairs).count()
                    walls[arm].append(time.perf_counter() - t0)
                    assert kept == PRUNE_N_DOCS - n_rm, (arm, kept)
            out[n_rm] = {arm: round(min(w), 2) for arm, w in walls.items()}
    finally:
        D.PRUNE_ISIN_MAX_IDS = orig
    return {"n_docs": PRUNE_N_DOCS, "sec": out}


def time_headlines(spark, sf_dir: str,
                   names: tuple[str, ...] | None = None) -> dict[str, float]:
    from downscaledclimatedata_spark.plans import all_specs
    registered = all_specs()
    if names is None:
        specs = {n: s for n, s in registered.items() if s.headline}
    else:
        unknown = set(names) - set(registered)
        if unknown:
            raise ValueError(f"unknown spec names: {sorted(unknown)}")
        specs = {n: s for n, s in registered.items() if n in names}
    if not specs:
        raise ValueError("no specs selected to time")
    warm = specs.get("q02_revenue_forecast") or next(iter(specs.values()))
    warm.spark(spark, sf_dir).collect()
    timings: dict[str, float] = {}
    for name in sorted(specs):
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            specs[name].spark(spark, sf_dir).collect()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
    return timings


def time_builders(spark, sf_dir: str) -> dict:
    """Both corpus-builder shapes (min_id funnel; quality-elected +
    write-audit-publish) end-to-end at ``sf_dir``, with the PER-STAGE
    wall split from build_training_corpus's eager boundaries — the
    attribution hook for any decade curvature (r10 verdict #2: the
    builders' first decade was overhead-dominated, i.e. untested where
    it costs)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from downscaledclimatedata_spark.functions.hashing import md5_long
    from downscaledclimatedata_spark.pipeline import (
        _quality_build_audits, build_training_corpus)

    out = {}
    for shape, kw in (("min_id", {}),
                      ("quality_wap", {"keep": "quality",
                                       "audits": _quality_build_audits()})):
        stages: dict = {}
        tmp = tempfile.mkdtemp(prefix="dcd_ladder_builder_")
        try:
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            is_eval = (md5_long(F.col("doc_id").cast("string"),
                                seed="decon:") % 41 == 0)
            t0 = time.perf_counter()
            build_training_corpus(
                docs.filter(~is_eval), f"{tmp}/corpus",
                budget_tokens=200_000, n_shards=8,
                eval_docs=docs.filter(is_eval),
                stage_times=stages, **kw)
            total = round(time.perf_counter() - t0, 3)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        out[shape] = {"total_sec": total, "stages": stages}
    return out


def main() -> None:
    copies = COPIES
    if "--copies" in sys.argv:
        copies = int(sys.argv[sys.argv.index("--copies") + 1])
    rung = "sf1"
    if "--rung" in sys.argv:
        rung = sys.argv[sys.argv.index("--rung") + 1]
    names = None  # default: the headline set (sf1) / SF10_TARGETS (sf10)
    if "--names" in sys.argv:
        names = tuple(sys.argv[sys.argv.index("--names") + 1].split(","))
    if "--rebuild" in sys.argv:
        for d in (SCALE_DIR, SCALE10_DIR):
            if os.path.exists(d):
                shutil.rmtree(d)
    from downscaledclimatedata_spark.session import get_spark
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("dcd-spark-scale-ladder", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    from bench import host_anchor  # pinned JVM micro-anchor (bench.py)
    anchor = host_anchor(spark)
    if rung == "prune":
        # the prune tier's crossover: where the inlined NOT IN filter
        # stops beating the anti-join (sets PRUNE_ISIN_MAX_IDS)
        print(json.dumps({"metric": "prune_tier_crossover",
                          "host_anchor_sec": anchor,
                          **time_prune_tiers(spark)}))
        return
    if rung == "builders100":
        # THIRD decade (sf10 -> sf100, 5M docs) for both corpus-builder
        # shapes with the per-stage split (r11 verdict #4): the second
        # decade showed the quality scan reaching linearity with every
        # other stage overhead-dominated — one more decade decides
        # whether any stage curves once overhead stops dominating.
        ensure_scaled(spark, BASE_SF, SCALE10_DIR, copies * 10,
                      tables=SF10_TABLES)
        ensure_scaled(spark, BASE_SF, SCALE100_DIR, copies * 100,
                      tables=SF100_TABLES)
        base = time_builders(spark, SCALE10_DIR)
        scaled = time_builders(spark, SCALE100_DIR)
        ratios = {s: round(scaled[s]["total_sec"] / base[s]["total_sec"], 2)
                  for s in base}
        stage_ratios = {
            s: {st: (round(scaled[s]["stages"][st]
                           / base[s]["stages"][st], 2)
                     if base[s]["stages"].get(st) else None)
                for st in scaled[s]["stages"]}
            for s in base}
        print(json.dumps({
            "metric": "scale_ladder_builders", "data_ratio": 10,
            "host_anchor_sec": anchor,
            "sf_base": 1.0 * copies, "sf_scaled": 10.0 * copies,
            "base": base, "scaled": scaled, "time_ratio": ratios,
            "stage_ratios": stage_ratios}))
        return
    if rung == "builders":
        # second decade (sf1 -> sf10) for BOTH corpus-builder shapes,
        # quality/WAP path on, with the per-stage wall split
        ensure_scaled(spark, BASE_SF, SCALE_DIR, copies)
        ensure_scaled(spark, BASE_SF, SCALE10_DIR, copies * 10,
                      tables=SF10_TABLES)
        base = time_builders(spark, SCALE_DIR)
        scaled = time_builders(spark, SCALE10_DIR)
        ratios = {s: round(scaled[s]["total_sec"] / base[s]["total_sec"], 2)
                  for s in base}
        stage_ratios = {
            s: {st: (round(scaled[s]["stages"][st]
                           / base[s]["stages"][st], 2)
                     if base[s]["stages"].get(st) else None)
                for st in scaled[s]["stages"]}
            for s in base}
        print(json.dumps({
            "metric": "scale_ladder_builders", "data_ratio": 10,
            "host_anchor_sec": anchor,
            "sf_base": 0.1 * copies, "sf_scaled": 1.0 * copies,
            "base": base, "scaled": scaled, "time_ratio": ratios,
            "stage_ratios": stage_ratios}))
        return
    if rung == "recall":
        # recall-per-decade for the kNN graph (r12): sf0.1 base plus the
        # sf1 / sf10 / sf100emb embedding rungs, nprobe 1 and 2 at each
        ensure_scaled(spark, BASE_SF, SCALE_DIR, copies)
        ensure_scaled(spark, BASE_SF, SCALE10_DIR, copies * 10,
                      tables=SF10_TABLES)
        ensure_scaled(spark, BASE_SF, SCALE100E_DIR, copies * 100,
                      tables=SF100E_TABLES)
        rungs = {}
        for label, d in (("sf0.1", BASE_SF), ("sf1", SCALE_DIR),
                         ("sf10", SCALE10_DIR), ("sf100", SCALE100E_DIR)):
            rungs[label] = measure_recall(spark, d)
        print(json.dumps({"metric": "knn_recall_ladder",
                          "host_anchor_sec": anchor, "k": 3,
                          "rungs": rungs}))
        return
    if rung == "sf1000emb":
        # fourth decade (2M -> 20M vectors): speed ratios for the
        # all-vectors headliners + the quality columns (kNN recall@3,
        # SemDeDup removals per pass) at the scheduled codebook
        from downscaledclimatedata_spark.operators.similarity import (
            semantic_dedup_converged)
        ensure_scaled(spark, BASE_SF, SCALE100E_DIR, copies * 100,
                      tables=SF100E_TABLES)
        ensure_scaled(spark, BASE_SF, SCALE1000E_DIR, copies * 1000,
                      tables=SF100E_TABLES)
        base = time_headlines(spark, SCALE100E_DIR,
                              names=names or SF1000E_TARGETS)
        scaled = time_headlines(spark, SCALE1000E_DIR,
                                names=names or SF1000E_TARGETS)
        ratios = {n: (round(scaled[n] / base[n], 2) if base[n] > 0
                      else None) for n in base}
        out = {"metric": "scale_ladder", "data_ratio": 10,
               "host_anchor_sec": anchor,
               "sf_base": 10.0 * copies, "sf_scaled": 100.0 * copies,
               "base_sec": base, "scaled_sec": scaled,
               "time_ratio": ratios}
        out["recall_20m"] = measure_recall(spark, SCALE1000E_DIR,
                                           n_queries=100)
        counts: list = []
        t0 = time.perf_counter()
        row = semantic_dedup_converged(
            _load_emb(spark, SCALE1000E_DIR), max_passes=3,
            pass_counts=counts).first()
        out["semdedup_20m"] = {
            "n_input": row["n_input"], "n_kept": row["n_kept"],
            "removed_per_pass": counts,
            "sec": round(time.perf_counter() - t0, 1)}
        print(json.dumps(out))
        return
    if rung == "recallclustered":
        # kNN-graph recall per decade on the clustered-but-not-cloned
        # family (r13): the realistic regime between the uniform-random
        # worst case and the replica-clone rungs
        rungs = {}
        for label, n_rows in CLUSTER_RUNGS:
            d = os.path.join(CLUSTERED_BASE, label)
            ensure_clustered(spark, d, n_rows)
            rungs[label] = measure_recall(spark, d)
        print(json.dumps({"metric": "knn_recall_ladder_clustered",
                          "host_anchor_sec": anchor, "k": 3,
                          "per_cluster": CLUSTER_PER,
                          "sigma": CLUSTER_SIGMA,
                          "rungs": rungs}))
        return
    if rung == "recallserve":
        # serve-path recall per decade (r13): IVF-PQ, ADC+rerank, and
        # the persisted index vs exact truth, on the clustered family
        # (dense ids), under the flat scaled codebook. At 2M only the
        # ROUTED index build runs: the serve family's FLAT N·k coarse
        # assignment is compute-prohibitive there under the scaled
        # codebook (k ∝ √N ⇒ N^1.5 work — measured as a >30 min single
        # stage) — the routed build (N·3k^(1/3)) is the fix, and its
        # 2M recall cell is the measurement that certifies it.
        rungs = {}
        selected = [r for r in CLUSTER_RUNGS
                    if names is None or r[0] in names]
        for label, n_rows in selected:
            d = os.path.join(CLUSTERED_BASE, label)
            ensure_clustered(spark, d, n_rows)
            meths = (("index_serve_routed",) if n_rows > 500_000
                     else SERVE_METHODS)
            rungs[label] = measure_serve_recall(spark, d, methods=meths)
        print(json.dumps({"metric": "serve_recall_ladder",
                          "host_anchor_sec": anchor,
                          "rungs": rungs}))
        return
    if rung == "semconv":
        # SemDeDup convergence curve per decade (r13): survivors per
        # pass until a pass removes nothing (capped), on the replica
        # family where the shattering was measured
        from downscaledclimatedata_spark.operators.similarity import (
            semantic_dedup_converged)
        ensure_scaled(spark, BASE_SF, SCALE_DIR, copies)
        ensure_scaled(spark, BASE_SF, SCALE10_DIR, copies * 10,
                      tables=SF10_TABLES)
        ensure_scaled(spark, BASE_SF, SCALE100E_DIR, copies * 100,
                      tables=SF100E_TABLES)
        rungs = {}
        for label, d in (("sf0.1", BASE_SF), ("sf1", SCALE_DIR),
                         ("sf10", SCALE10_DIR), ("sf100", SCALE100E_DIR)):
            counts: list = []
            t0 = time.perf_counter()
            row = semantic_dedup_converged(
                _load_emb(spark, d), max_passes=5,
                pass_counts=counts).first()
            rungs[label] = {
                "n_input": row["n_input"], "n_kept": row["n_kept"],
                "removed_per_pass": counts,
                "n_passes": sum(1 for c in counts if c > 0),
                "sec": round(time.perf_counter() - t0, 1)}
        print(json.dumps({"metric": "semantic_dedup_convergence",
                          "host_anchor_sec": anchor, "rungs": rungs}))
        return
    if rung == "recallsem":
        # SemDeDup pair recall per decade (dedup-family quality twin)
        ensure_scaled(spark, BASE_SF, SCALE_DIR, copies)
        ensure_scaled(spark, BASE_SF, SCALE10_DIR, copies * 10,
                      tables=SF10_TABLES)
        ensure_scaled(spark, BASE_SF, SCALE100E_DIR, copies * 100,
                      tables=SF100E_TABLES)
        rungs = {}
        for label, d in (("sf0.1", BASE_SF), ("sf1", SCALE_DIR),
                         ("sf10", SCALE10_DIR), ("sf100", SCALE100E_DIR)):
            rungs[label] = measure_sem_recall(spark, d)
        print(json.dumps({"metric": "semantic_pair_recall_ladder",
                          "host_anchor_sec": anchor,
                          "rungs": rungs}))
        return
    if rung == "ab":
        # two-level vs three-level schedule A/B at the small rungs
        ensure_scaled(spark, BASE_SF, SCALE_DIR, copies)
        rungs = {}
        for label, d in (("sf0.1", BASE_SF), ("sf1", SCALE_DIR)):
            rungs[label] = time_knn_ab(spark, d)
        print(json.dumps({"metric": "knn_schedule_ab",
                          "host_anchor_sec": anchor, "rungs": rungs}))
        return
    if rung == "sf100emb":
        # third decade on the embeddings rung (10M vectors)
        ensure_scaled(spark, BASE_SF, SCALE10_DIR, copies * 10,
                      tables=SF10_TABLES)
        ensure_scaled(spark, BASE_SF, SCALE100E_DIR, copies * 100,
                      tables=SF100E_TABLES)
        base = time_headlines(spark, SCALE10_DIR,
                              names=names or SF100E_TARGETS)
        scaled = time_headlines(spark, SCALE100E_DIR,
                                names=names or SF100E_TARGETS)
        ratios = {n: (round(scaled[n] / base[n], 2) if base[n] > 0 else None)
                  for n in base}
        print(json.dumps({
            "metric": "scale_ladder", "data_ratio": 10,
            "host_anchor_sec": anchor,
            "sf_base": 1.0 * copies, "sf_scaled": 10.0 * copies,
            "base_sec": base, "scaled_sec": scaled, "time_ratio": ratios,
            "base_total_sec": round(sum(base.values()), 3),
            "scaled_total_sec": round(sum(scaled.values()), 3)}))
        return
    if rung == "sf100":
        # third decade: sf10 -> sf100 on the documents-only >=5x set;
        # both rungs built here (sf1 is not needed)
        ensure_scaled(spark, BASE_SF, SCALE10_DIR, copies * 10,
                      tables=SF10_TABLES)
        ensure_scaled(spark, BASE_SF, SCALE100_DIR, copies * 100,
                      tables=SF100_TABLES)
        base = time_headlines(spark, SCALE10_DIR, names=names or SF100_TARGETS)
        scaled = time_headlines(spark, SCALE100_DIR,
                                names=names or SF100_TARGETS)
        sf_base, sf_scaled = 1.0 * copies, 10.0 * copies
        ratios = {n: (round(scaled[n] / base[n], 2) if base[n] > 0 else None)
                  for n in base}
        print(json.dumps({
            "metric": "scale_ladder", "data_ratio": 10,
            "host_anchor_sec": anchor,
            "sf_base": sf_base, "sf_scaled": sf_scaled,
            "base_sec": base, "scaled_sec": scaled, "time_ratio": ratios,
            "base_total_sec": round(sum(base.values()), 3),
            "scaled_total_sec": round(sum(scaled.values()), 3)}))
        return
    ensure_scaled(spark, BASE_SF, SCALE_DIR, copies)
    if rung == "sf10":
        # second decade: sf1 -> sf10 on the >=3x-ratio queries + the
        # prep / IVF-PQ headliners; only the tables they read are built
        ensure_scaled(spark, BASE_SF, SCALE10_DIR, copies * 10,
                      tables=SF10_TABLES)
        base = time_headlines(spark, SCALE_DIR, names=names or SF10_TARGETS)
        scaled = time_headlines(spark, SCALE10_DIR, names=names or SF10_TARGETS)
        sf_base, sf_scaled = 0.1 * copies, 1.0 * copies
    else:
        base = time_headlines(spark, BASE_SF, names=names)
        scaled = time_headlines(spark, SCALE_DIR, names=names)
        sf_base, sf_scaled = 0.1, 0.1 * copies
    ratios = {n: (round(scaled[n] / base[n], 2) if base[n] > 0 else None)
              for n in base}
    print(json.dumps({
        "metric": "scale_ladder",
        "data_ratio": copies,
        "host_anchor_sec": anchor,
        "sf_base": sf_base,
        "sf_scaled": sf_scaled,
        "base_sec": base,
        "scaled_sec": scaled,
        "time_ratio": ratios,
        "base_total_sec": round(sum(base.values()), 3),
        "scaled_total_sec": round(sum(scaled.values()), 3),
    }))


if __name__ == "__main__":
    main()
