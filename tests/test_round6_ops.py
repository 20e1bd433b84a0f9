"""Unit tests for the round-6 operator family: quality rule-chain,
domain-mixture sampling, paragraph dedup, BM25 retrieval, kNN graph and
semantic (SemDeDup) prune.

The registered specs are oracle-gated by the parity suites; these tests
pin the semantics the synthetic corpus cannot exercise: each quality rule
firing on crafted inputs, mixture up-weighting of small sources,
first-occurrence-wins paragraph removal and reassembly, a hand-computed
BM25 score, within-cell kNN vs brute force, and the keep-min prune rule.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from downscaledclimatedata_spark.operators.dedup import boilerplate_strip, paragraph_dedup
from downscaledclimatedata_spark.operators.prep import (
    QF_MIN_TOKENS, domain_mixture_sample, quality_filter)
from downscaledclimatedata_spark.operators.similarity import (
    knn_graph, semantic_dedup)
from downscaledclimatedata_spark.operators.textops import bm25_topk


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long")


# --- quality_filter -------------------------------------------------------------

def test_quality_filter_each_rule_fires(spark):
    # 40 tokens: 36 distinct 6+-char words + 2x"the" + 2x"of" ->
    # top-token ratio 0.05, mean word len ~5.6, 2 distinct stopwords
    long_ok = " ".join([f"wordy{i:02d}" for i in range(36)]
                       + ["the", "the", "of", "of"])
    rows = [
        (1, long_ok, "s", 0),                        # passes everything
        (2, "too short of a doc", "s", 0),           # < QF_MIN_TOKENS
        (3, "a a " * 20 + "the end of it", "s", 0),  # top-token ratio
        (4, ("!! ?? ## $$ " * 10) + long_ok, "s", 0),  # symbol ratio
        (5, " ".join(["xx"] * 30), "s", 0),          # mean word len + stopwords
    ]
    got = {r["doc_id"]: r for r in quality_filter(_docs(spark, rows)).collect()}
    assert got[1]["passes"] and got[1]["n_failed"] == 0
    assert not got[2]["r_token_count"] and not got[2]["passes"]
    assert got[2]["n_tokens"] < QF_MIN_TOKENS
    assert not got[3]["r_top_token_ratio"]
    assert not got[4]["r_symbol_ratio"]
    assert not got[5]["r_mean_word_len"]      # mean len 2 < 4.0
    assert not got[5]["r_stopwords"] and got[5]["n_stopwords"] == 0
    assert got[5]["n_failed"] >= 2


def test_quality_filter_empty_and_null(spark):
    got = {r["doc_id"]: r
           for r in quality_filter(_docs(spark, [(1, "", "s", 0),
                                                 (2, None, "s", 0)])).collect()}
    for i in (1, 2):
        assert got[i]["n_tokens"] == 0
        assert got[i]["mean_word_len"] == 0.0
        assert not got[i]["passes"]


# --- domain_mixture_sample ------------------------------------------------------

def test_mixture_upweights_small_sources(spark):
    # big: 100 docs x 20 tokens; small: 5 docs x 20 tokens
    rows = [(i, "w " * 20, "big", 0) for i in range(100)]
    rows += [(1000 + i, "w " * 20, "small", 0) for i in range(5)]
    out = {r["source"]: r
           for r in domain_mixture_sample(_docs(spark, rows),
                                          budget_tokens=1000).collect()}
    big, small = out["big"], out["small"]
    assert big["tok_s"] == 2000 and small["tok_s"] == 100
    # temperature 1/2: rate ratio = sqrt(tok_small)/sqrt(tok_big) scaled
    # by tok mass — small source's rate must exceed proportional share
    assert small["rate"] > big["rate"]
    w_big, w_small = math.isqrt(2000), math.isqrt(100)
    tot = w_big + w_small
    assert abs(big["rate"] - min(1.0, 1000 * w_big / (tot * 2000))) < 1e-12
    assert abs(small["rate"] - min(1.0, 1000 * w_small / (tot * 100))) < 1e-12
    assert 0 <= big["n_sampled"] <= 100 and 0 <= small["n_sampled"] <= 5
    assert big["tok_sampled"] == 20 * big["n_sampled"]


def test_mixture_rate_caps_at_one_and_is_deterministic(spark):
    rows = [(i, "w w w", "only", 0) for i in range(10)]
    df = _docs(spark, rows)
    out1 = domain_mixture_sample(df, budget_tokens=10**9).collect()
    assert out1[0]["rate"] == 1.0
    assert out1[0]["n_sampled"] == 10  # rate 1.0 keeps everything
    out2 = domain_mixture_sample(df, budget_tokens=10**9).collect()
    assert out1 == out2


# --- paragraph_dedup ------------------------------------------------------------

def test_paragraph_dedup_first_occurrence_wins(spark):
    # block=3: "x y z" appears in docs 1, 2, 3 — kept only in doc 1
    rows = [
        (1, "x y z a b c", "s", 0),
        (2, "x y z d e f", "s", 0),
        (3, "q r s x y z", "s", 0),
    ]
    got = {r["doc_id"]: r
           for r in paragraph_dedup(_docs(spark, rows), block=3).collect()}
    assert got[1]["n_paras"] == 2 and got[1]["n_kept"] == 2
    assert got[1]["dedup_text"] == "x y z a b c"
    assert got[2]["n_kept"] == 1 and got[2]["dedup_text"] == "d e f"
    assert got[3]["n_kept"] == 1 and got[3]["dedup_text"] == "q r s"


def test_paragraph_dedup_fully_duplicate_doc(spark):
    rows = [(1, "x y z", "s", 0), (2, "x y z", "s", 0)]
    got = {r["doc_id"]: r
           for r in paragraph_dedup(_docs(spark, rows), block=3).collect()}
    assert got[1]["n_kept"] == 1
    assert got[2]["n_kept"] == 0 and got[2]["dedup_text"] == ""


def test_paragraph_dedup_within_doc_and_tail_blocks(spark):
    # the same 2-token block twice within ONE doc + a 1-token tail
    rows = [(1, "p q p q r", "s", 0)]
    got = paragraph_dedup(_docs(spark, rows), block=2).collect()[0]
    assert got["n_paras"] == 3           # "p q", "p q", "r"
    assert got["n_kept"] == 2            # second "p q" dropped
    assert got["dedup_text"] == "p q r"  # order preserved


# --- bm25_topk ------------------------------------------------------------------

def test_bm25_hand_computed(spark):
    rows = [
        (1, "cat dog cat", "s", 0),
        (2, "dog dog dog dog", "s", 0),
        (3, "bird", "s", 0),
    ]
    out = bm25_topk(_docs(spark, rows), "text", "doc_id",
                    terms=("cat",), k1=1.2, b=0.75, topn=3).collect()
    by_id = {r["doc_id"]: r for r in out}
    # N=3, df(cat)=1, avgdl=8/3; idf = (3-1+0.5)/(1+0.5) = 5/3
    idf = 2.5 / 1.5
    tf, dl, avgdl = 2, 3, 8 / 3
    expect = idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    assert abs(by_id[1]["bm25"] - expect) < 1e-12
    assert by_id[2]["bm25"] == 0.0 and by_id[3]["bm25"] == 0.0
    assert by_id[1]["tf_cat"] == 2
    # top-1 is the only matching doc
    assert out[0]["doc_id"] == 1


def test_bm25_topn_and_tiebreak(spark):
    rows = [(i, "cat", "s", 0) for i in range(10)]
    out = bm25_topk(_docs(spark, rows), "text", "doc_id",
                    terms=("cat",), topn=4).collect()
    # identical scores -> id ascending
    assert [r["doc_id"] for r in out] == [0, 1, 2, 3]


# --- knn_graph ------------------------------------------------------------------

def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_knn_graph_matches_brute_force_within_cell(spark):
    import random
    rnd = random.Random(7)
    dim = 64
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(dim)]) for i in range(60)]
    df = _emb(spark, rows)
    out = knn_graph(df, k=2, centroid_mod=10, n_centroids=4).collect()
    # per-vector: at most k neighbors, ranks 1..k, cosine non-increasing
    per = {}
    for r in out:
        per.setdefault(r["vec_id"], []).append(r)
    for vid, rs in per.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 2
        cosines = [r["cosine"] for r in rs]
        assert cosines == sorted(cosines, reverse=True)
        assert all(-1.0001 <= c <= 1.0001 for c in cosines)
        assert all(r["neighbor_id"] != vid for r in rs)


def test_knn_graph_identical_vectors_are_top_neighbors(spark):
    v = [1.0] * 64
    u = [1.0] * 32 + [-1.0] * 32
    rows = [(0, v), (1, v), (2, u), (3, u)]
    out = knn_graph(_emb(spark, rows), k=1,
                    centroid_mod=1, n_centroids=1).collect()
    best = {r["vec_id"]: r for r in out}
    assert best[0]["neighbor_id"] == 1 and abs(best[0]["cosine"] - 1.0) < 1e-9
    assert best[1]["neighbor_id"] == 0
    assert best[2]["neighbor_id"] == 3 and abs(best[2]["cosine"] - 1.0) < 1e-9


# --- semantic_dedup -------------------------------------------------------------

def test_semantic_dedup_keep_min_rule(spark):
    v = [1.0] * 64
    w = [-1.0] * 64
    # ids 0,1,2 near-identical; 3 is their antipode (cos = -1, kept)
    rows = [(0, v), (1, v), (2, v), (3, w)]
    out = semantic_dedup(_emb(spark, rows), tau=0.9,
                         centroid_mod=1, n_centroids=1).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_vectors"] == 4
    assert r["n_removed"] == 2      # 1 and 2 (0 is the keeper), 3 survives
    assert r["n_kept"] == 2


def test_semantic_dedup_no_pairs_below_threshold(spark):
    import random
    rnd = random.Random(11)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(64)]) for i in range(20)]
    out = semantic_dedup(_emb(spark, rows), tau=0.999,
                         centroid_mod=1, n_centroids=1).collect()
    assert sum(r["n_removed"] for r in out) == 0
    assert sum(r["n_kept"] for r in out) == 20


# --- cross_corpus_matches -------------------------------------------------------

def test_cross_corpus_flags_only_new_side_dups(spark):
    from downscaledclimatedata_spark.operators.dedup import cross_corpus_matches
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    ref = _docs(spark, [
        (1, base, "ref", 0),
        (2, "totally different reference content about other things "
            "entirely unrelated to the planted document text", "ref", 0),
    ])
    new = _docs(spark, [
        (10, base, "new", 0),                       # verbatim dup of ref 1
        (11, "fresh new document with its own words never seen in the "
             "reference corpus at all whatsoever", "new", 0),
    ])
    got = {r["new_id"]: r for r in cross_corpus_matches(new, ref).collect()}
    assert 10 in got and got[10]["first_ref_id"] == 1
    assert got[10]["n_ref_matches"] == 1
    assert 11 not in got  # novel doc not flagged


def test_cross_corpus_ref_mega_bucket_capped(spark):
    from downscaledclimatedata_spark.operators.dedup import cross_corpus_matches
    boiler = "same boilerplate text repeated across every reference doc here"
    ref = _docs(spark, [(i, boiler, "ref", 0) for i in range(8)])
    new = _docs(spark, [(100, boiler, "new", 0)])
    # cap below the ref bucket size: the mega-bucket is dropped
    out = cross_corpus_matches(new, ref, max_bucket=4).collect()
    assert out == []
    # with a generous cap the match is found against all 8
    out2 = cross_corpus_matches(new, ref, max_bucket=100).collect()
    assert len(out2) == 1 and out2[0]["n_ref_matches"] == 8


# --- property tests vs pure-Python reference implementations --------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_WORD = st.sampled_from(["aa", "bb", "cc", "dd"])  # tiny vocab forces collisions
_DOC_TEXT = st.lists(_WORD, min_size=0, max_size=9).map(" ".join)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(_DOC_TEXT, min_size=1, max_size=8))
def test_paragraph_dedup_matches_python_reference(spark, texts):
    block = 2
    rows = [(i, t, "s", 0) for i, t in enumerate(texts)]
    got = {r["doc_id"]: r
           for r in paragraph_dedup(_docs(spark, rows), block=block).collect()}

    # pure-Python reference: first (doc_id, idx) occurrence of each block wins
    seen: set[str] = set()
    expect: dict[int, tuple[int, int, str]] = {}
    for i, t in enumerate(texts):
        toks = [w for w in t.split(" ") if w]
        blocks = [" ".join(toks[s:s + block])
                  for s in range(0, len(toks), block)]
        kept = []
        for b in blocks:
            if b not in seen:
                seen.add(b)
                kept.append(b)
        if blocks:
            expect[i] = (len(blocks), len(kept), " ".join(kept))

    assert set(got) == set(expect)
    for i, (n_paras, n_kept, text) in expect.items():
        assert got[i]["n_paras"] == n_paras, (i, texts)
        assert got[i]["n_kept"] == n_kept, (i, texts)
        assert got[i]["dedup_text"] == text, (i, texts)
    # global invariant: every distinct paragraph kept exactly once
    assert sum(v[1] for v in expect.values()) == len(seen)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(sizes=st.lists(st.tuples(st.integers(1, 6), st.integers(1, 40)),
                      min_size=1, max_size=5),
       budget=st.integers(1, 2000))
def test_mixture_rates_match_python_reference(spark, sizes, budget):
    rows = []
    did = 0
    for s, (n_docs, n_tok) in enumerate(sizes):
        for _ in range(n_docs):
            rows.append((did, "w " * n_tok, f"s{s}", 0))
            did += 1
    out = {r["source"]: r
           for r in domain_mixture_sample(_docs(spark, rows),
                                          budget_tokens=budget).collect()}
    toks = {f"s{s}": n_docs * n_tok for s, (n_docs, n_tok) in enumerate(sizes)}
    total_w = sum(math.isqrt(t) for t in toks.values())
    for src, t in toks.items():
        want = min(1.0, budget * math.isqrt(t) / (total_w * t))
        assert abs(out[src]["rate"] - want) < 1e-12, (src, sizes, budget)
        assert out[src]["tok_s"] == t


# --- ivf_assign_two_level -------------------------------------------------------

def test_two_level_degenerates_to_flat_when_all_super(spark):
    """With n_super == n_centroids every centroid is its own super-cell
    root, so the hierarchical route must reproduce flat assignment
    EXACTLY (each centroid maps to itself at level 1, and level 2
    scans... the same codebook)."""
    import random
    from downscaledclimatedata_spark.operators.similarity import (
        ivf_assign, ivf_assign_two_level)
    rnd = random.Random(3)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(64)]) for i in range(80)]
    df = _emb(spark, rows)
    flat = {r["vec_id"]: r["cid"]
            for r in ivf_assign(df, centroid_mod=10, n_centroids=8).collect()}
    two = {r["vec_id"]: r["cid"]
           for r in ivf_assign_two_level(df, centroid_mod=10, n_centroids=8,
                                         n_super=8).collect()}
    assert two == flat


def test_scaled_codebook_two_level_shape(spark):
    """Below the growth threshold the two-level sizing returns the
    static flat codebook with n_super == n_centroids (degenerate-exact,
    so the oracle-scale plan routes through flat ivf_assign); above it,
    k grows ∝ N^(2/3) (faster than the flat √N schedule — affordable
    because two-level assignment is N·√k) and n_super ≈ √k."""
    import math
    from downscaledclimatedata_spark.operators.similarity import (
        CENTROID_MOD, KNN_CODEBOOK_BASE_N, N_CENTROIDS,
        scaled_codebook, scaled_codebook_two_level)
    for n in (0, 1, KNN_CODEBOOK_BASE_N, 4 * KNN_CODEBOOK_BASE_N - 1):
        assert scaled_codebook_two_level(n) == \
            (CENTROID_MOD, N_CENTROIDS, N_CENTROIDS)
    for n in (4 * KNN_CODEBOOK_BASE_N, 100 * KNN_CODEBOOK_BASE_N,
              10_000 * KNN_CODEBOOK_BASE_N):
        mod, k, s = scaled_codebook_two_level(n)
        _, k_flat = scaled_codebook(n)
        assert k >= k_flat, (k, k_flat)   # N^(2/3) >= sqrt(N) growth
        assert s == max(1, math.isqrt(k))
        # candidate-id window stays inside the dense id range, so the
        # fixed-sample predicate always finds its k centroids
        assert mod * k <= n, (mod, k, n)


def test_assigned_corpus_two_level_route_matches_flat_in_degenerate(spark):
    """_assigned_corpus(n_super=k) and n_super=None must be the same
    relation (the oracle-scale guarantee), and an aggressive real
    two-level route (n_super < k) still covers every nonzero vector
    exactly once with valid centroid cells."""
    import random
    from downscaledclimatedata_spark.operators.similarity import (
        _assigned_corpus)
    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(64)]) for i in range(120)]
    df = _emb(spark, rows)
    flat = {r["vec_id"]: r["cid"]
            for r in _assigned_corpus(df, 10, 8, None).collect()}
    degen = {r["vec_id"]: r["cid"]
             for r in _assigned_corpus(df, 10, 8, 8).collect()}
    assert degen == flat
    routed = _assigned_corpus(df, 10, 8, 2).collect()
    assert len(routed) == len(flat)  # every vector assigned exactly once
    cents = {i for i in range(120) if i % 10 == 0 and i < 80}
    assert {r["cid"] for r in routed} <= cents


def test_two_level_agreement_gate(spark):
    """Single-probe hierarchical routing must agree with flat assignment
    on a majority of the sf0.01 corpus (measured 0.57 on landing)."""
    from downscaledclimatedata_spark.operators.similarity import (
        ivf_assign, ivf_assign_two_level)
    from downscaledclimatedata_spark.sources.tables import load_table
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    flat = {r["vec_id"]: r["cid"] for r in ivf_assign(emb).collect()}
    two = {r["vec_id"]: r["cid"] for r in ivf_assign_two_level(emb).collect()}
    assert set(two) == set(flat)
    agree = sum(1 for k in flat if two[k] == flat[k]) / len(flat)
    assert agree >= 0.5, agree


# --- ivf_assign_three_level ------------------------------------------------------

def test_three_level_degenerates_to_flat_when_all_super(spark):
    """With n_super2 == n_super == n_centroids both routing levels are
    the full codebook, so three-level assignment must reproduce flat
    assignment EXACTLY (the canon-scale guarantee)."""
    import random
    from downscaledclimatedata_spark.operators.similarity import (
        ivf_assign, ivf_assign_three_level)
    rnd = random.Random(11)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(64)]) for i in range(80)]
    df = _emb(spark, rows)
    flat = {r["vec_id"]: r["cid"]
            for r in ivf_assign(df, centroid_mod=10, n_centroids=8).collect()}
    three = {r["vec_id"]: r["cid"]
             for r in ivf_assign_three_level(
                 df, centroid_mod=10, n_centroids=8, n_super=8,
                 n_super2=8).collect()}
    assert three == flat


def test_scaled_codebook_three_level_shape(spark):
    """Below the growth threshold: static flat codebook (degenerate-
    exact, spread_every=None so consumers route flat and canon oracles
    hold). Above: k ∝ N^(3/4) (faster than the two-level N^(2/3)
    schedule — affordable because three-level assignment is N·k^(1/3)),
    s1 ≈ k^(2/3), s2 ≈ k^(1/3), and spread_every ≈ N/k so the hash
    sample draws ~k centroids from ANY id layout."""
    from downscaledclimatedata_spark.operators.similarity import (
        CENTROID_MOD, KNN_CODEBOOK_BASE_N, N_CENTROIDS,
        scaled_codebook_three_level, scaled_codebook_two_level)
    from downscaledclimatedata_spark.operators.similarity import (
        KNN_THREE_LEVEL_MIN_N)
    for n in (0, 1, KNN_CODEBOOK_BASE_N, 4 * KNN_CODEBOOK_BASE_N - 1):
        assert scaled_codebook_three_level(n) == \
            (CENTROID_MOD, N_CENTROIDS, N_CENTROIDS, N_CENTROIDS, None)
    # tiered band (r12 measured crossover): two-level config — n_super2
    # == n_super routes ivf_assign_two_level, spread_every None
    for n in (4 * KNN_CODEBOOK_BASE_N, KNN_THREE_LEVEL_MIN_N - 1):
        mod, k, s1, s2, ev = scaled_codebook_three_level(n)
        assert (mod, k, s1) == scaled_codebook_two_level(n)
        # n_super2 == n_super routes two-level; hash-spread sampling so
        # the band survives striped/offset id layouts
        assert s2 == s1 and ev == max(1, n // k)
    for n in (KNN_THREE_LEVEL_MIN_N, 100 * KNN_CODEBOOK_BASE_N,
              10_000 * KNN_CODEBOOK_BASE_N):
        mod, k, s1, s2, ev = scaled_codebook_three_level(n)
        _, k2, _ = scaled_codebook_two_level(n)
        assert k >= k2, (k, k2)          # N^(3/4) >= N^(2/3) growth
        assert 1 <= s2 < s1 < k, (s2, s1, k)
        assert ev >= 1 and abs(n // ev - k) <= k, (n, ev, k)


def test_three_level_spread_sample_survives_strided_ids(spark):
    """THE r10 sf100 regression: the flat window sample (id % mod == 0
    AND id < mod·k) saturates at the base-corpus size when ids are
    striped by a large stride (scale_ladder replicas: i·1e9 + base), so
    the codebook silently stops growing and cell scoring goes quadratic.
    The hash-spread sample must draw centroids from EVERY stripe and
    assign every vector."""
    import random
    from downscaledclimatedata_spark.operators.similarity import (
        ivf_assign_three_level)
    rnd = random.Random(5)
    rows = [(copy * 1_000_000_000 + j,
             [rnd.uniform(-1, 1) for _ in range(64)])
            for copy in range(3) for j in range(120)]
    df = _emb(spark, rows)
    out = ivf_assign_three_level(
        df, n_centroids=24, n_super=8, n_super2=3,
        spread_every=len(rows) // 24).collect()
    assert len(out) == len(rows)  # every vector assigned exactly once
    stripes = {r["cid"] // 1_000_000_000 for r in out}
    assert len(stripes) >= 2, stripes  # centroids from multiple stripes
    # hierarchy is consistent: each cid routes under its own super cells
    for r in out:
        assert r["super2_cid"] is not None and r["super_cid"] is not None


def test_three_level_agreement_gate(spark):
    """Single-probe three-level routing must agree with flat assignment
    on a majority of the sf0.01 corpus (one more approximate hand-off
    than two-level, so a weaker bound would hide a routing bug)."""
    from downscaledclimatedata_spark.operators.similarity import (
        ivf_assign, ivf_assign_three_level)
    from downscaledclimatedata_spark.sources.tables import load_table
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    flat = {r["vec_id"]: r["cid"] for r in ivf_assign(emb).collect()}
    three = {r["vec_id"]: r["cid"]
             for r in ivf_assign_three_level(emb).collect()}
    assert set(three) == set(flat)
    agree = sum(1 for k in flat if three[k] == flat[k]) / len(flat)
    assert agree >= 0.4, agree


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(_DOC_TEXT, min_size=1, max_size=6))
def test_bm25_matches_python_reference(spark, texts):
    terms = ("aa", "bb")
    k1, b = 1.2, 0.75
    rows = [(i, t, "s", 0) for i, t in enumerate(texts)]
    out = {r["doc_id"]: r["bm25"]
           for r in bm25_topk(_docs(spark, rows), "text", "doc_id",
                              terms=terms, k1=k1, b=b,
                              topn=len(texts)).collect()}

    toks = [[w for w in t.split(" ") if w] for t in texts]
    n_docs = len(texts)
    sum_dl = sum(len(t) for t in toks)
    avgdl = sum_dl / n_docs if sum_dl > 0 else 1.0
    dfs = [sum(1 for t in toks if term in t) for term in terms]
    for i, t in enumerate(toks):
        score = 0.0
        for j, term in enumerate(terms):
            tf = t.count(term)
            idf = (n_docs - dfs[j] + 0.5) / (dfs[j] + 0.5)
            score = score + idf * ((tf * (k1 + 1.0))
                                   / (tf + k1 * (1 - b + b * len(t) / avgdl)))
        assert abs(out[i] - score) < 1e-9, (i, texts)


def test_paragraph_dedup_rejects_bad_block(spark):
    import pytest
    with pytest.raises(ValueError):
        paragraph_dedup(_docs(spark, [(1, "a b", "s", 0)]), block=0)


# --- all-signal cluster composition ---------------------------------------------

def test_all_signal_cluster_found_only_via_embedding(spark):
    """Two docs with unrelated TEXT but near-identical EMBEDDINGS must
    cluster via the embedding channel alone, with provenance naming it."""
    from downscaledclimatedata_spark.operators.dedup import (
        multi_signal_clusters, multi_signal_pairs)
    from downscaledclimatedata_spark.operators.similarity import semantic_pairs
    docs = _docs(spark, [
        (0, "alpha beta gamma delta epsilon zeta eta theta", "s", 0),
        (1, "one two three four five six seven eight nine ten", "s", 0),
    ])
    v = [1.0] * 64
    emb = _emb(spark, [(0, v), (1, v)])  # id 0 present: the 1-centroid
                                         # fixed sample needs it
    text_pairs = multi_signal_pairs(docs, "text", "doc_id")
    assert text_pairs.count() == 0  # no lexical evidence at all
    epairs = (semantic_pairs(emb, tau=0.9, centroid_mod=1, n_centroids=1)
              .select("id_a", "id_b", F.lit("embedding").alias("signal")))
    out = multi_signal_clusters(text_pairs.unionByName(epairs)).collect()
    assert len(out) == 1
    assert out[0]["cluster_size"] == 2
    assert out[0]["signals"] == "embedding"


def test_knn_graph_nprobe2_finds_cross_cell_neighbor(spark):
    """A vector whose true nearest neighbor sits across the coarse-cell
    boundary: nprobe=1 misses it, nprobe=2 finds it at rank 1."""
    e1 = [1.0] + [0.0] * 63
    e2 = [0.0, 1.0] + [0.0] * 62
    x = [0.6, 0.55] + [0.0] * 62   # assigned to e1's cell (closer to e1)
    y = [0.5, 0.65] + [0.0] * 62   # assigned to e2's cell; cos(x,y)≈0.985
    # centroids = ids 0 and 10 (mod=10, n=2)
    rows = [(0, e1), (10, e2), (1, x), (2, y)]
    df = _emb(spark, rows)
    one = {r["vec_id"]: r for r in
           knn_graph(df, k=1, centroid_mod=10, n_centroids=2,
                     nprobe=1).collect()}
    two = {r["vec_id"]: r for r in
           knn_graph(df, k=1, centroid_mod=10, n_centroids=2,
                     nprobe=2).collect()}
    assert one[1]["neighbor_id"] != 2          # y invisible from x's cell
    assert two[1]["neighbor_id"] == 2          # probe 2 reaches y's cell
    assert two[1]["cosine"] > 0.98
    # candidates never duplicate: rank-1 rows are unique per vector
    assert len(two) == len({r for r in two})


def test_knn_graph_rejects_bad_nprobe(spark):
    import pytest
    with pytest.raises(ValueError):
        knn_graph(_emb(spark, [(0, [1.0] * 64)]), nprobe=3)


# --- prune_corpus ---------------------------------------------------------------

def test_prune_corpus_keeps_representatives_and_unpaired(spark):
    from downscaledclimatedata_spark.operators.dedup import prune_corpus
    docs = _docs(spark, [(i, f"doc {i}", "s", 0) for i in range(6)])
    # components: {0,1,2} (rep 0), {4,5} (rep 4); 3 unpaired
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long")
    kept = sorted(r["doc_id"]
                  for r in prune_corpus(docs, pairs).collect())
    assert kept == [0, 3, 4]


def test_prune_corpus_no_pairs_keeps_everything(spark):
    from downscaledclimatedata_spark.operators.dedup import prune_corpus
    docs = _docs(spark, [(i, "x", "s", 0) for i in range(4)])
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert prune_corpus(docs, pairs).count() == 4


# --- corpus_drift ---------------------------------------------------------------

def test_corpus_drift_identical_and_disjoint(spark):
    from downscaledclimatedata_spark.operators.textops import corpus_drift
    same_a = _docs(spark, [(1, "x y z", "s", 0)])
    same_b = _docs(spark, [(2, "x y z", "s", 0)])
    out = corpus_drift(same_a, same_b).collect()
    assert all(r["tv_distance"] == 0.0 for r in out)

    dis_a = _docs(spark, [(1, "aa bb", "s", 0)])
    dis_b = _docs(spark, [(2, "cc dd", "s", 0)])
    out2 = corpus_drift(dis_a, dis_b).collect()
    assert out2 and all(r["tv_distance"] == 1.0 for r in out2)
    # disjoint vocab: each token fully one-sided
    for r in out2:
        assert (r["c_ref"] == 0) != (r["c_new"] == 0)


def test_corpus_drift_hand_computed(spark):
    from downscaledclimatedata_spark.operators.textops import corpus_drift
    # ref: a a b (n=3); new: a b b b (n=4)
    ref = _docs(spark, [(1, "a a b", "s", 0)])
    new = _docs(spark, [(2, "a b b b", "s", 0)])
    out = {r["token"]: r for r in corpus_drift(ref, new).collect()}
    # drift_num(a) = |2*4 - 1*3| = 5 ; drift_num(b) = |1*4 - 3*3| = 5
    assert out["a"]["drift_num"] == 5 and out["b"]["drift_num"] == 5
    # tv = (5+5) / (2*3*4) = 10/24
    assert abs(out["a"]["tv_distance"] - 10 / 24) < 1e-15


_QF_WORD = st.sampled_from(["aa", "bb", "the", "of", "longerword", "!!", "x"])
_QF_TEXT = st.lists(_QF_WORD, min_size=0, max_size=25).map(" ".join)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(_QF_TEXT, min_size=1, max_size=6))
def test_quality_filter_matches_python_reference(spark, texts):
    from downscaledclimatedata_spark.operators.prep import (
        QF_MAX_SYMBOL_RATIO, QF_MAX_TOKENS, QF_MAX_TOP_TOKEN_RATIO,
        QF_MAX_MEAN_WLEN, QF_MIN_MEAN_WLEN, QF_MIN_STOPWORDS,
        QF_MIN_TOKENS, STOPWORDS)
    import re
    rows = [(i, t, "s", 0) for i, t in enumerate(texts)]
    got = {r["doc_id"]: r for r in quality_filter(_docs(spark, rows)).collect()}
    for i, text in enumerate(texts):
        low = text.lower()
        toks = [w for w in low.split(" ") if w]
        n = len(toks)
        mean_wl = sum(len(w) for w in toks) / n if n else 0.0
        top = max((toks.count(w) for w in set(toks)), default=0)
        top_ratio = top / n if n else 0.0
        sym = len(re.findall(r"[^a-z0-9 ]", low)) / len(low) if low else 0.0
        n_stop = len(set(toks) & set(STOPWORDS))
        rules = {
            "r_token_count": QF_MIN_TOKENS <= n <= QF_MAX_TOKENS,
            "r_mean_word_len": QF_MIN_MEAN_WLEN <= mean_wl <= QF_MAX_MEAN_WLEN,
            "r_symbol_ratio": sym <= QF_MAX_SYMBOL_RATIO,
            "r_top_token_ratio": top_ratio <= QF_MAX_TOP_TOKEN_RATIO,
            "r_stopwords": n_stop >= QF_MIN_STOPWORDS,
        }
        r = got[i]
        for name, want in rules.items():
            assert r[name] == want, (i, name, text)
        assert r["n_failed"] == sum(1 for v in rules.values() if not v)
        assert r["passes"] == all(rules.values())
        assert abs(r["mean_word_len"] - mean_wl) < 1e-12


# --- graph_pagerank -------------------------------------------------------------

def test_pagerank_matches_python_simulation(spark):
    from downscaledclimatedata_spark.operators.similarity import (
        PR_BASE, PR_DDEN, PR_DNUM, PR_INIT, graph_pagerank)
    # directed graph: 1->2, 1->3, 2->3, 3->1  (3 is the hub)
    edges = [(1, 2), (1, 3), (2, 3), (3, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r for r in graph_pagerank(df, rounds=3).collect()}

    outdeg = {1: 2, 2: 1, 3: 1}
    ranks = {n: PR_INIT for n in (1, 2, 3)}
    for _ in range(3):
        s = {n: 0 for n in ranks}
        for a, b in edges:
            s[b] += ranks[a] // outdeg[a]
        ranks = {n: PR_BASE + (PR_DNUM * s[n]) // PR_DDEN for n in ranks}
    for n in (1, 2, 3):
        assert got[n]["rank"] == ranks[n], (n, got[n]["rank"], ranks[n])
        assert got[n]["out_degree"] == outdeg[n]
    # hub 3 collects from 1 and 2: highest rank
    assert ranks[3] == max(ranks.values())


def test_pagerank_sink_node_keeps_base_rank(spark):
    from downscaledclimatedata_spark.operators.similarity import (
        PR_BASE, graph_pagerank)
    # 1 -> 2; node 2 has no out-edges, node 1 no in-edges
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    got = {r["id"]: r for r in graph_pagerank(df, rounds=2).collect()}
    assert got[1]["rank"] == PR_BASE      # no in-edges after round 1
    assert got[2]["out_degree"] == 0


# --- partitioning invariance ----------------------------------------------------

def test_round6_ops_invariant_under_partitioning(spark):
    """Every round-6 operator must produce identical results whether its
    input arrives as 1 partition or 7 — no dependence on task layout
    (the determinism contract task retries and AQE re-splits rely on)."""
    from downscaledclimatedata_spark.operators.dedup import prune_corpus
    from downscaledclimatedata_spark.operators.textops import corpus_drift
    rows = [(i,
             " ".join(f"w{(i * 13 + j * 7) % 23}" for j in range(5 + i % 17))
             + (" the of" if i % 3 == 0 else ""),
             f"s{i % 4}", 0) for i in range(60)]
    base = _docs(spark, rows)

    def runs(fn):
        outs = []
        for parts in (1, 7):
            df = base.repartition(parts)
            outs.append(sorted(map(tuple, fn(df).collect())))
        return outs

    for fn in (
        lambda d: quality_filter(d),
        lambda d: domain_mixture_sample(d, budget_tokens=300),
        lambda d: paragraph_dedup(d, block=2),
        lambda d: bm25_topk(d, "text", "doc_id", terms=("w1", "w2")),
        lambda d: corpus_drift(d.filter("doc_id % 2 = 0"),
                               d.filter("doc_id % 2 = 1")),
    ):
        a, b = runs(fn)
        assert a == b

    pairs = spark.createDataFrame([(0, 1), (2, 3)], "id_a long, id_b long")
    a, b = runs(lambda d: prune_corpus(d, pairs))
    assert a == b


def test_paragraph_dedup_newline_mode(spark):
    """Real-corpus mode: blank-line paragraphs, shared boilerplate kept
    only at its first occurrence, reassembly preserves \\n\\n joins."""
    boiler = "subscribe to our newsletter"
    rows = [
        (1, f"unique intro one\n\n{boiler}\n\nunique body one", "s", 0),
        (2, f"{boiler}\n \t\n unique body two", "s", 0),
        (3, "no duplicates here at all", "s", 0),
    ]
    got = {r["doc_id"]: r
           for r in paragraph_dedup(_docs(spark, rows),
                                    split="newlines").collect()}
    assert got[1]["n_paras"] == 3 and got[1]["n_kept"] == 3
    assert got[1]["dedup_text"] == \
        f"unique intro one\n\n{boiler}\n\nunique body one"
    assert got[2]["n_paras"] == 2 and got[2]["n_kept"] == 1
    assert got[2]["dedup_text"] == "unique body two"
    assert got[3]["n_kept"] == 1
    import pytest
    with pytest.raises(ValueError):
        paragraph_dedup(_docs(spark, rows), split="sentences")


def test_knn_graph_recall_vs_brute_force_on_clustered_data(spark):
    """On cluster-structured data the IVF-cell graph must recover most
    true top-1 neighbors (brute force = the same operator with one
    cell); nprobe=2 recall >= nprobe=1 recall."""
    import random
    rnd = random.Random(23)
    rows = []
    for c in range(4):
        center = [(1.0 if d % 4 == c else -0.2) for d in range(64)]
        for i in range(20):
            vid = c * 20 + i
            rows.append((vid, [x + rnd.uniform(-0.15, 0.15)
                               for x in center]))
    df = _emb(spark, rows)
    truth = {r["vec_id"]: r["neighbor_id"] for r in
             knn_graph(df, k=1, centroid_mod=1, n_centroids=1).collect()}

    def recall(nprobe):
        got = {r["vec_id"]: r["neighbor_id"] for r in
               knn_graph(df, k=1, centroid_mod=20, n_centroids=4,
                         nprobe=nprobe).collect()}
        return sum(1 for v in truth if got.get(v) == truth[v]) / len(truth)

    r1, r2 = recall(1), recall(2)
    assert r1 >= 0.7, r1
    assert r2 >= r1


# --- lsh_eval -------------------------------------------------------------------

def test_lsh_eval_counts_and_invariants(spark):
    from downscaledclimatedata_spark.operators.dedup import lsh_eval
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi")
    rows = [
        (1, base, "s", 0),
        (2, base, "s", 0),                          # exact dup of 1
        (3, "completely different words in this one here nothing shared "
            "with the pair above at all", "s", 0),
    ]
    r = lsh_eval(_docs(spark, rows)).collect()[0]
    assert (r["n_truth"], r["n_candidates"], r["tp"]) == (1, 1, 1)
    assert r["precision"] == 1.0 and r["recall"] == 1.0
    # invariants on the sf0.01 corpus run are covered by the oracle spec


def test_lsh_eval_empty_corpus_defines_ratios(spark):
    from downscaledclimatedata_spark.operators.dedup import lsh_eval
    r = lsh_eval(_docs(spark, [(1, "solo", "s", 0)])).collect()[0]
    assert r["n_truth"] == 0 and r["n_candidates"] == 0
    assert r["precision"] == 1.0 and r["recall"] == 1.0
# --- boilerplate_strip ------------------------------------------------------------

def test_boilerplate_strip_removes_all_occurrences(spark):
    # block=3, min_docs=3: "x y z" in docs 1,2,3 -> removed EVERYWHERE
    # (incl. the first occurrence paragraph_dedup would keep);
    # "d e f" in only docs 2,4 -> kept in both.
    rows = [
        (1, "x y z a b c", "s", 0),
        (2, "x y z d e f", "s", 0),
        (3, "q r s x y z", "s", 0),
        (4, "d e f", "s", 0),
    ]
    got = {r["doc_id"]: r
           for r in boilerplate_strip(_docs(spark, rows), block=3,
                                      min_docs=3).collect()}
    assert got[1]["n_blocks"] == 2 and got[1]["n_removed"] == 1
    assert got[1]["clean_text"] == "a b c"
    assert got[2]["clean_text"] == "d e f"
    assert got[3]["clean_text"] == "q r s"
    assert got[4]["n_removed"] == 0 and got[4]["clean_text"] == "d e f"


def test_boilerplate_strip_within_doc_repeats_dont_trigger(spark):
    # "p q" twice inside ONE doc: countDistinct(doc_id) == 1 < 2, kept;
    # frequency is across documents, not occurrences.
    rows = [(1, "p q p q", "s", 0), (2, "m n", "s", 0)]
    got = {r["doc_id"]: r
           for r in boilerplate_strip(_docs(spark, rows), block=2,
                                      min_docs=2).collect()}
    assert got[1]["n_removed"] == 0 and got[1]["clean_text"] == "p q p q"


def test_boilerplate_strip_fully_boiler_doc_empties(spark):
    rows = [(1, "x y", "s", 0), (2, "x y", "s", 0), (3, "x y z w", "s", 0)]
    got = {r["doc_id"]: r
           for r in boilerplate_strip(_docs(spark, rows), block=2,
                                      min_docs=2).collect()}
    assert got[1]["clean_text"] == "" and got[1]["n_removed"] == 1
    assert got[3]["clean_text"] == "z w"


def test_boilerplate_strip_min_docs_validated(spark):
    import pytest as _pytest
    with _pytest.raises(ValueError):
        boilerplate_strip(_docs(spark, [(1, "a", "s", 0)]), min_docs=1)
