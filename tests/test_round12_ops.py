"""Round-12 operator tests: kNN-graph recall measurement + floor gate,
and nprobe=2 on the three-level (scaled) assignment path.

The r11 verdict's #1: the scaled codebook's SPEED is laddered to sf100
but its neighbor QUALITY was certified only at the degenerate-exact toy
configuration. `knn_graph_recall` turns quality into a measured number;
these tests pin its invariants and a floor at the oracle fixture, and
the ladder (`scale_ladder.py --rung recall`) records it per decade.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from downscaledclimatedata_spark.operators.similarity import (
    ivf_assign_three_level, knn_graph, knn_graph_recall)
from downscaledclimatedata_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"

# Measured at the static oracle configuration on the synthetic fixture:
# mean recall@3 = 0.2211 (nprobe=1) / 0.3503 (nprobe=2). The synthetic
# embeddings are near-uniform random — the structureless WORST case for
# any cell-restricted ANN (real embedding corpora cluster, which is why
# the clustered-data test below clears 0.7) — so the floor guards
# against REGRESSION of the assignment/probe machinery, not against the
# data's intrinsic difficulty.
RECALL_FLOOR_P1 = 0.15
RECALL_FLOOR_P2 = 0.25


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _clustered_rows(n_clusters=4, per=20, seed=23):
    import random
    rnd = random.Random(seed)
    rows = []
    for c in range(n_clusters):
        center = [(1.0 if d % n_clusters == c else -0.2) for d in range(64)]
        for i in range(per):
            rows.append((c * per + i,
                         [x + rnd.uniform(-0.15, 0.15) for x in center]))
    return rows


def test_knn_recall_floor_and_invariants(spark):
    rows = {r["query_id"]: r
            for r in knn_graph_recall(
                load_table(spark, SF, "embeddings")).collect()}
    assert len(rows) == 50  # ids 0,10,...,490 all nonzero-norm
    for r in rows.values():
        assert 1 <= r["n_truth"] <= 3
        assert 0 <= r["n_hit"] <= r["n_truth"]
        assert abs(r["recall"] - r["n_hit"] / r["n_truth"]) < 1e-12
    mean = sum(r["recall"] for r in rows.values()) / len(rows)
    assert mean >= RECALL_FLOOR_P1, mean


def test_knn_recall_probe2_lift_at_fixture(spark):
    emb = load_table(spark, SF, "embeddings")

    def mean_recall(nprobe):
        agg = (knn_graph_recall(emb, nprobe=nprobe)
               .agg(F.avg("recall")).first())
        return agg[0]

    r1, r2 = mean_recall(1), mean_recall(2)
    assert r2 >= RECALL_FLOOR_P2, r2
    assert r2 > r1, (r1, r2)


def test_knn_recall_query_hash_sampling(spark):
    """Hash sampling must draw a comparable query count and identical
    per-query semantics (n_truth/n_hit bounds) on the same corpus."""
    emb = load_table(spark, SF, "embeddings")
    out = knn_graph_recall(emb, query_every=10, query_hash=True).collect()
    assert 20 <= len(out) <= 100  # ~N/10 = 50 expected, hash variance ok
    assert all(1 <= r["n_truth"] <= 3 for r in out)


def test_three_level_probe2_schema_and_disjoint_cells(spark):
    """nprobe=2 adds a nullable cid2 that is never the primary cid
    (each centroid maps to exactly one sid1, so the two probed cells
    are disjoint); nprobe=1 output is unchanged (4 columns)."""
    emb = load_table(spark, SF, "embeddings")
    p1 = ivf_assign_three_level(emb)
    assert p1.columns == ["vec_id", "super2_cid", "super_cid", "cid"]
    p2 = ivf_assign_three_level(emb, nprobe=2)
    assert p2.columns == ["vec_id", "super2_cid", "super_cid", "cid",
                          "cid2"]
    rows = p2.collect()
    assert len(rows) == p1.count()
    assert all(r["cid2"] != r["cid"] for r in rows
               if r["cid2"] is not None)
    # primary assignment is identical with and without the probe
    base = {r["vec_id"]: r["cid"] for r in p1.collect()}
    assert all(base[r["vec_id"]] == r["cid"] for r in rows)


def test_three_level_probe2_nprobe_validated(spark):
    emb = load_table(spark, SF, "embeddings")
    with pytest.raises(ValueError, match="nprobe"):
        ivf_assign_three_level(emb, nprobe=3)


def test_knn_graph_hierarchical_probe2_recall_on_clustered_data(spark):
    """On cluster-structured data the THREE-LEVEL-routed graph with
    nprobe=2 must recover at least as many true top-1 neighbors as
    nprobe=1 — the scaled path's recall knob actually lifts (the flat
    path's equivalent is test_round6_ops.py's clustered gate)."""
    df = _emb(spark, _clustered_rows(n_clusters=8, per=16))
    truth = {r["vec_id"]: r["neighbor_id"] for r in
             knn_graph(df, k=1, centroid_mod=1, n_centroids=1).collect()}

    def recall(nprobe):
        got = {r["vec_id"]: r["neighbor_id"] for r in
               knn_graph(df, k=1, centroid_mod=8, n_centroids=16,
                         n_super=4, n_super2=2, nprobe=nprobe).collect()}
        return sum(1 for v in truth if got.get(v) == truth[v]) / len(truth)

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1, (r1, r2)
    assert r2 >= 0.5, r2


def test_knn_graph_hierarchical_probe2_spread_sampling(spark):
    """The hierarchical probe composes with hash-spread centroid
    sampling (the scaled-ladder configuration): striped ids still
    produce a full graph and the probe never duplicates an edge."""
    rows = [(i + (i % 3) * 1_000_000_000, v)
            for i, (vid, v) in enumerate(_clustered_rows(4, 16))]
    df = _emb(spark, rows)
    out = knn_graph(df, k=2, centroid_mod=1, n_centroids=16,
                    n_super=6, n_super2=2, spread_every=4,
                    nprobe=2).collect()
    seen = set()
    for r in out:
        key = (r["vec_id"], r["neighbor_id"])
        assert key not in seen
        seen.add(key)
    assert len({r["vec_id"] for r in out}) >= 50


def test_tiered_band_two_level_survives_offset_ids(spark):
    """The [1600, THREE_LEVEL_MIN_N) tier routes two-level — and must
    use the hash-spread centroid sample there: with window sampling an
    all-offset id layout (no ids below mod*k) would yield an EMPTY
    codebook and a silently empty graph (the r10 saturation class)."""
    import random

    from downscaledclimatedata_spark.operators.similarity import (
        ivf_assign_two_level, knn_graph, scaled_codebook_three_level)
    rnd = random.Random(41)
    n = 1700
    rows = [(5_000_000_000 + i,
             [rnd.uniform(-1, 1) for _ in range(64)]) for i in range(n)]
    df = _emb(spark, rows)
    mod, k, s1, s2, ev = scaled_codebook_three_level(n)
    assert s2 == s1 and ev is not None  # the band config under test
    assign = ivf_assign_two_level(df, centroid_mod=mod, n_centroids=k,
                                  n_super=s1, spread_every=ev).collect()
    assert len(assign) == n  # every vector assigned exactly once
    cells = {r["cid"] for r in assign}
    assert len(cells) > 10, len(cells)  # codebook sampled despite offset
    out = knn_graph(df, centroid_mod=mod, n_centroids=k, n_super=s1,
                    n_super2=s2, spread_every=ev).collect()
    assert len({r["vec_id"] for r in out}) > 0.9 * n


def test_semantic_pair_recall_floor_and_invariants(spark):
    """SemDeDup pair recall at the static fixture: the cluster-scoped
    pass must see a stable fraction of the true >= tau pairs (measured
    0.325 mean / 0.42 micro on landing — uniform-random vectors, the
    worst case); invariants pin the accounting."""
    from downscaledclimatedata_spark.operators.similarity import (
        semantic_pair_recall)
    rows = semantic_pair_recall(
        load_table(spark, SF, "embeddings")).collect()
    assert rows, "no query had a true partner — tau drifted?"
    for r in rows:
        assert r["n_truth"] >= 1
        assert 0 <= r["n_hit"] <= r["n_truth"]
    mean = sum(r["recall"] for r in rows) / len(rows)
    assert mean >= 0.2, mean


def test_semantic_pair_recall_perfect_with_one_cell(spark):
    """With a single coarse cell the cluster scope is the whole corpus,
    so recall must be exactly 1.0 for every query."""
    from downscaledclimatedata_spark.operators.similarity import (
        semantic_pair_recall)
    df = _emb(spark, _clustered_rows(n_clusters=2, per=20))
    rows = semantic_pair_recall(df, tau=0.5, centroid_mod=1,
                                n_centroids=1, query_every=4,
                                query_hash=True).collect()
    assert rows
    assert all(r["recall"] == 1.0 for r in rows)


def test_semantic_dedup_iterated_reunites_shattered_groups(spark):
    """Planted shattering: 3 clusters x 40 perturbed clones with a
    pass-1 codebook drawn FROM the corpus (several centroids inside
    each cluster) leaves shard survivors; pass 2 on the survivors with
    a one-cell codebook converges to exactly one keeper per cluster."""
    from downscaledclimatedata_spark.operators.similarity import (
        semantic_dedup_iterated)
    df = _emb(spark, _clustered_rows(n_clusters=3, per=40, seed=7))

    def schedule(n):
        if n > 50:  # pass 1: ~24 hash-spread centroids -> ~8 per cluster
            return (1, 24, 24, 24, 5)
        return (1, 1, 1, 1, None)  # pass 2: single cell (vec 0 exists)

    r = semantic_dedup_iterated(df, tau=0.5, schedule=schedule).first()
    assert r["n_input"] == 120
    assert r["n_removed_p1"] + r["n_removed_p2"] + r["n_kept"] == 120
    kept_after_p1 = r["n_input"] - r["n_removed_p1"]
    assert kept_after_p1 > 3, kept_after_p1   # pass 1 shattered
    assert r["n_kept"] == 3, r["n_kept"]      # pass 2 converged


def test_ann_index_persist_roundtrip_and_partition_pruning(spark, tmp_path):
    """Persistence must change nothing (results == inline searcher) and
    the serve-side scan must be DYNAMICALLY PARTITION-PRUNED to the
    probed inverted lists — the build-once/serve-many contract."""
    from downscaledclimatedata_spark.operators.similarity import (
        ann_index_build, ann_index_search, ivf_topk)
    from downscaledclimatedata_spark.sources.tables import load_table
    emb = load_table(spark, SF, "embeddings")
    base = str(tmp_path / "idx")
    ann_index_build(emb, base)
    served = ann_index_search(spark, base)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), plan[:800]
    got = {(r["query_id"], r["rnk"]): r["match_id"]
           for r in served.collect()}
    want = {(r["query_id"], r["rnk"]): r["match_id"]
            for r in ivf_topk(emb).collect()}
    assert got == want
