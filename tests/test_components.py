"""Connected components: crafted graphs with known component structure."""

from __future__ import annotations

import random

import pytest

from downscaledclimatedata_spark.operators import dedup as D


def union_find_components(edges):
    """Pure-Python reference: {node: min id of its component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # resolve to component minimum
    return {n: find(n) for n in parent}


@pytest.fixture(params=["driver", "star"])
def star_cc(request, monkeypatch):
    """``connected_components_star`` pinned to one size tier: the driver
    union-find (default cap) or the iterative alternating stars (cap -1,
    so every graph iterates, the empty one too)."""
    if request.param == "star":
        monkeypatch.setattr(D, "CC_DRIVER_MAX_EDGES", -1)

    def run(spark, edges):
        pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        return D.connected_components_star(pairs).collect()
    return run


def test_random_graphs_match_union_find(spark, star_cc):
    """Property: the star components equal a reference union-find on
    deterministic pseudo-random graphs of varying shape."""
    rng = random.Random(7)
    for trial in range(3):
        n_nodes = 30 + trial * 20
        edges = sorted({tuple(sorted((rng.randrange(n_nodes),
                                      rng.randrange(n_nodes))))
                        for _ in range(n_nodes)})
        edges = [(a, b) for a, b in edges if a != b]
        want = union_find_components(edges)
        got = {r.id: r.comp for r in star_cc(spark, edges)}
        assert got == want, f"trial {trial}: {got} != {want}"


def _random_cases():
    rng = random.Random(13)
    for trial in range(2):
        n_nodes = 25 + 15 * trial
        yield pytest.param(sorted({tuple(sorted((rng.randrange(n_nodes),
                                                 rng.randrange(n_nodes))))
                                   for _ in range(n_nodes)}),
                           id=f"random{trial}")


GRAPH_CASES = [
    pytest.param([], id="empty"),
    pytest.param([(i, i + 1) for i in range(12)], id="long_chain"),
    pytest.param([(1, 2), (2, 3), (10, 11)], id="chain_and_pair"),
    pytest.param([(5, 6), (6, 7), (5, 7)], id="triangle"),
    pytest.param([(30, 31), (31, 30), (30, 31), (30, 30)],
                 id="repeats_self_loop"),
    pytest.param([(a, b) for a in range(20, 26) for b in range(a + 1, 26)],
                 id="clique6"),
    *_random_cases(),
]


@pytest.mark.parametrize("edges", GRAPH_CASES)
def test_star_matches_union_find_on_chains_and_cliques(spark, star_cc, edges):
    """Chains, cliques, pseudo-random graphs and the empty graph against
    the reference; redundant edges never duplicate a node's row and
    self-loops are ignored."""
    rows = star_cc(spark, edges)
    got = {r.id: r.comp for r in rows}
    assert len(rows) == len(got), f"duplicate rows: {rows}"
    assert got == union_find_components([e for e in edges if e[0] != e[1]])


def test_pair_graph_stats_on_known_graph(spark):
    """Hand-checkable: a triangle plus a pendant edge -> 1 triangle,
    4 nodes, 4 edges, 5 open triads (degrees 2,2,3,1 give C(2,2) +
    C(2,2) + C(3,2) + C(1,2) = 1+1+3+0 = 5), coefficient 3/5."""
    from downscaledclimatedata_spark.operators.dedup import pair_graph_stats

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "id_a long, id_b long")
    (r,) = pair_graph_stats(pairs).collect()
    assert (r.n_nodes, r.n_edges, r.n_triangles, r.n_triads) == (4, 4, 1, 5)
    assert abs(r.clustering_coefficient - 0.6) < 1e-12
    # duplicate and reversed edges collapse
    noisy = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (1, 3), (3, 4), (4, 3)],
        "id_a long, id_b long")
    (r2,) = pair_graph_stats(noisy).collect()
    assert (r2.n_edges, r2.n_triangles) == (4, 1)
    # empty graph
    empty = spark.createDataFrame([], "id_a long, id_b long")
    (r3,) = pair_graph_stats(empty).collect()
    assert (r3.n_nodes, r3.n_triangles) == (0, 0)
    assert r3.clustering_coefficient == 0.0


def test_prune_tiers_identical(spark):
    """r14: prune_corpus / prune_corpus_quality gained a driver-tier
    fast path (inlined IN-predicate / literal VALUES election) — force
    every tier combination over deterministic random corpora+graphs and
    require identical survivor sets. Covers: the isin path, the
    below-tier relation fallback (PRUNE_ISIN_MAX_IDS = -1), and the
    distributed star path (CC_DRIVER_MAX_EDGES = -1)."""
    rng = random.Random(41)
    words = ["alpha", "beta", "the", "and", "is", "gamma", "zz1", "qq"]
    orig_cc, orig_in = D.CC_DRIVER_MAX_EDGES, D.PRUNE_ISIN_MAX_IDS
    try:
        for trial in range(3):
            n = rng.randint(8, 25)
            docs = spark.createDataFrame(
                [(i, " ".join(rng.choices(words, k=rng.randint(3, 30))))
                 for i in range(n)] + [(n, None)],
                "doc_id bigint, text string")
            edges = [(rng.randint(0, n - 1), rng.randint(0, n - 1))
                     for _ in range(rng.randint(2, 12))]
            pairs = spark.createDataFrame(
                [e for e in edges if e[0] != e[1]] or [(0, 1)],
                "id_a bigint, id_b bigint")
            for fn in (D.prune_corpus, D.prune_corpus_quality):
                outs = []
                for cc_cap, in_cap in ((10**9, 10**9), (10**9, -1),
                                       (-1, orig_in)):
                    D.CC_DRIVER_MAX_EDGES = cc_cap
                    D.PRUNE_ISIN_MAX_IDS = in_cap
                    outs.append({r.doc_id
                                 for r in fn(docs, pairs).collect()})
                assert outs[0] == outs[1] == outs[2], \
                    f"{fn.__name__} trial {trial}: {outs}"
        # no-pair graph: every doc survives on every tier
        docs1 = spark.createDataFrame([(1, "a b c")],
                                      "doc_id bigint, text string")
        nopairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
        for cc_cap in (10**9, -1):
            D.CC_DRIVER_MAX_EDGES = cc_cap
            assert D.prune_corpus(docs1, nopairs).count() == 1
            assert D.prune_corpus_quality(docs1, nopairs).count() == 1
    finally:
        D.CC_DRIVER_MAX_EDGES = orig_cc
        D.PRUNE_ISIN_MAX_IDS = orig_in
