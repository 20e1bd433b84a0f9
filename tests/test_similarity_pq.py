"""Product-quantization ANN tests (operators/similarity.py PQ section).

The registered specs are oracle-gated by the parity suites; here we check
the properties an oracle can't see: code structure, recall against exact
search, and that the search plan broadcasts the small sides.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from downscaledclimatedata_spark.operators.similarity import (
    CENTROID_MOD, M_SUB, N_QUERIES, PQ_KS, QUERY_MOD, _fixed_sample,
    _sq_l2, pq_encode, pq_rerank, pq_topk, quantize)
from downscaledclimatedata_spark.sources.tables import load_table

SF_SMOKE = "/root/testdata/sf0.001"


def _exact_top5(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    q = (base.filter(_fixed_sample("vec_id", QUERY_MOD, N_QUERIES))
         .select(F.col("vec_id").alias("query_id"), F.col("qv").alias("a")))
    c = base.select(F.col("vec_id").alias("match_id"), F.col("qv").alias("b"))
    ex = (c.crossJoin(F.broadcast(q))
          .filter("match_id != query_id")
          .select("query_id", "match_id",
                  _sq_l2(F.col("a"), F.col("b")).alias("d")))
    w = Window.partitionBy("query_id").orderBy("d", "match_id")
    return {(r.query_id, r.match_id) for r in
            ex.withColumn("rn", F.row_number().over(w))
            .filter("rn <= 5").collect()}


def test_pq_encode_shape_and_codebook_membership(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    codes = pq_encode(emb).collect()
    n_vecs = emb.count()
    assert len(codes) == n_vecs * M_SUB
    per_vec = {}
    for r in codes:
        per_vec.setdefault(r.vec_id, set()).add(r.m)
    assert all(ms == set(range(M_SUB)) for ms in per_vec.values())
    # every code is a sampled centroid id
    sampled = {r.vec_id for r in
               emb.filter(_fixed_sample("vec_id", CENTROID_MOD, PQ_KS))
               .select("vec_id").collect()}
    assert {r.code for r in codes} <= sampled


def test_pq_rerank_recall_gate(spark):
    """The shortlist+rerank pipeline must recover most of the exact top-5
    (deterministic corpus + codebook => the measured 0.74 is stable;
    gate leaves margin only for fixture regeneration)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    exact = _exact_top5(spark)
    approx = {(r.query_id, r.match_id) for r in pq_rerank(emb).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"pq_rerank recall@5 collapsed: {recall}"
    # and rerank must beat the raw ADC ranking it refines
    raw = {(r.query_id, r.match_id) for r in pq_topk(emb).collect()}
    raw_recall = len(exact & raw) / len(exact)
    assert recall > raw_recall, (recall, raw_recall)


def test_pq_trained_codebooks_raise_recall(spark):
    """Per-subspace Lloyd's training must beat the raw sampled-slice
    codebooks at the same pool size (measured 0.88 vs 0.74 on this
    corpus; gates leave margin only for fixture regeneration)."""
    from downscaledclimatedata_spark.operators.similarity import (
        pq_rerank_trained, pq_train_codebooks, RERANK_M_SUB)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    exact = _exact_top5(spark)
    untrained = {(r.query_id, r.match_id) for r in pq_rerank(emb).collect()}
    trained = {(r.query_id, r.match_id)
               for r in pq_rerank_trained(emb).collect()}
    r_untrained = len(exact & untrained) / len(exact)
    r_trained = len(exact & trained) / len(exact)
    assert r_trained > r_untrained, (r_trained, r_untrained)
    assert r_trained >= 0.8, f"trained recall@5 collapsed: {r_trained}"
    # trained codebooks cover every subspace with at least 2 surviving
    # centroids (Lloyd's may drop empty clusters, but not collapse)
    cb = pq_train_codebooks(emb).collect()
    per_m = {}
    for r in cb:
        per_m.setdefault(r.m, set()).add(r.cid)
    assert set(per_m) == set(range(RERANK_M_SUB))
    assert all(len(cids) >= 2 for cids in per_m.values())


def test_pq_search_broadcasts_small_sides(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    plan = pq_topk(emb)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_ivfpq_candidates_come_from_probed_lists(spark):
    from downscaledclimatedata_spark.operators.similarity import (
        N_CENTROIDS, NPROBE, int_dot, ivfpq_topk, sq_norm)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    got = ivfpq_topk(emb).collect()
    assert got, "ivfpq returned nothing"
    per_q = {}
    for r in got:
        per_q.setdefault(r.query_id, []).append(r.rnk)
    for rnks in per_q.values():
        assert sorted(rnks) == list(range(1, len(rnks) + 1))

    # rebuild the coarse index independently and check every match sits
    # in one of its query's probed lists
    base = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"),
                      sq_norm(quantize(F.col("embedding"))).alias("n2"))
    cents = (base.filter(_fixed_sample("vec_id", CENTROID_MOD, N_CENTROIDS))
             .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"),
                     F.col("n2").alias("cn2")))
    ranked = (base.crossJoin(F.broadcast(cents))
              .select("vec_id", "cid",
                      (F.col("n2") + F.col("cn2")
                       - 2 * int_dot(F.col("qv"), F.col("cv"))).alias("d")))
    w = Window.partitionBy("vec_id").orderBy("d", "cid")
    ranked = ranked.withColumn("rn", F.row_number().over(w)).collect()
    assign = {r.vec_id: r.cid for r in ranked if r.rn == 1}
    probes = {}
    for r in ranked:
        if r.rn <= NPROBE:
            probes.setdefault(r.vec_id, set()).add(r.cid)
    for r in got:
        assert assign[r.match_id] in probes[r.query_id], r


def test_mmr_empty_input_is_an_empty_typed_relation(spark):
    """No query vector (empty or all-zero input): an empty result with
    the selection's column types, not an error."""
    from downscaledclimatedata_spark.operators.similarity import mmr_select

    for rows in ([], [(1, [0.0, 0.0])]):
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = mmr_select(emb, k=4, pool=8)
        assert out.dtypes == [("rank", "int"), ("vec_id", "bigint"),
                              ("rel", "double"),
                              ("max_sim_to_selected", "double")]
        assert out.collect() == []


def test_mmr_matches_reference_and_diversifies(spark):
    """The engine's MMR selection equals an independent reference
    greedy over the same pool, and its selected set is more diverse
    (lower max pairwise cosine) than plain top-k when redundant
    near-clones dominate the pool."""
    import math

    from downscaledclimatedata_spark.operators.similarity import mmr_select

    # query (id 0) + a tight clone cluster near it + spread-out points
    def v(*xs):
        return [float(x) for x in xs]
    rows = [(0, v(10, 0, 0, 0))]
    rows += [(i, v(9, 1 + 0.01 * i, 0, 0)) for i in range(1, 6)]  # clones
    rows += [(10, v(7, 7, 0, 0)), (11, v(7, 0, 7, 0)), (12, v(7, 0, 0, 7))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = mmr_select(emb, k=4, pool=8, lam=0.5).collect()
    got = [(r.rank, r.vec_id) for r in out]

    # independent reference over the same pool definition
    from downscaledclimatedata_spark.operators.similarity import QUANT

    def quant(x):
        return [math.floor(t * QUANT + 0.5) for t in x]
    vecs = {i: quant(x) for i, x in rows}

    def cos(a, b):
        d = sum(p * q for p, q in zip(a, b))
        return d / (math.sqrt(sum(p * p for p in a))
                    * math.sqrt(sum(q * q for q in b)))
    q = vecs[0]
    rels = {i: cos(vecs[i], q) for i in vecs if i != 0}
    pool = sorted(rels, key=lambda i: (-rels[i], i))[:8]
    sel, ref = [], []
    for rank in range(4):
        best = None
        for i in sorted(pool):
            if i in sel:
                continue
            ms = max((cos(vecs[i], vecs[j]) for j in sel), default=0.0)
            score = 0.5 * rels[i] - 0.5 * ms
            key = (-score, i)
            if best is None or key < best[0]:
                best = (key, i)
        sel.append(best[1])
        ref.append((rank, best[1]))
    assert got == ref

    # diversity: the MMR set includes the orthogonal spread points
    # instead of three more clones
    chosen = {i for _, i in got}
    assert {10, 11, 12} & chosen, chosen
    assert len(chosen & {1, 2, 3, 4, 5}) <= 2


def test_ivfpq_residual_candidates_from_probed_cells_only(spark):
    """Every reported match must live in one of its query's nprobe
    probed coarse cells (the candidate restriction is carried by the
    (cid, m, code) join itself, so this certifies the join shape), and
    the trained residual codebook must be non-degenerate (more than one
    distinct code in use per subspace somewhere)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from downscaledclimatedata_spark.operators.similarity import (
        N_CENTROIDS, NPROBE, CENTROID_MOD, N_QUERIES, QUERY_MOD,
        _fixed_sample, int_dot, ivf_assign, ivfpq_residual_topk,
        quantize, sq_norm)
    from downscaledclimatedata_spark.sources.tables import (
        load_table_parallel)

    sf = "/root/testdata/sf0.001"
    emb = load_table_parallel(spark, sf, "embeddings", key="vec_id")
    out = ivfpq_residual_topk(emb).collect()
    assert out, "residual IVFADC returned nothing"

    assign = {r.vec_id: r.cid for r in ivf_assign(emb).collect()}
    base = emb.select(F.col("vec_id"),
                      quantize(F.col("embedding")).alias("qv"),
                      sq_norm(quantize(F.col("embedding"))).alias("n2"))
    cents = (base.filter(_fixed_sample("vec_id", CENTROID_MOD, N_CENTROIDS))
             .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"),
                     F.col("n2").alias("cn2")))
    qranked = (base.filter(_fixed_sample("vec_id", QUERY_MOD, N_QUERIES))
               .crossJoin(F.broadcast(cents))
               .select("vec_id", "cid",
                       (F.col("n2") + F.col("cn2")
                        - 2 * int_dot(F.col("qv"), F.col("cv")))
                       .alias("dist")))
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    probes = {}
    for r in (qranked.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= NPROBE).collect()):
        probes.setdefault(r.vec_id, set()).add(r.cid)
    for r in out:
        assert assign[r.match_id] in probes[r.query_id], (
            f"match {r.match_id} outside query {r.query_id}'s probes")


def test_knn_classify_perfect_on_separable_clusters(spark):
    """Two well-separated label clusters must classify perfectly
    (diagonal confusion matrix); the synthetic corpus' ~chance accuracy
    is a data property, so the metric needs a positive control."""
    from downscaledclimatedata_spark.operators.similarity import (
        DIM, knn_classify_confusion)

    rows = []
    for i in range(40):
        base = [0.0] * DIM
        if i % 2 == 0:
            base[0] = 10.0 + (i % 7) * 0.01   # cluster A along dim 0
            label = 0
        else:
            base[1] = 10.0 + (i % 7) * 0.01   # cluster B along dim 1
            label = 1
        base[2] = (i % 5) * 0.001             # tiny within-cluster jitter
        rows.append((i, base, label))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = knn_classify_confusion(emb, centroid_mod=4, n_centroids=2)
    cells = {(r.true_label, r.pred_label): r.n for r in out.collect()}
    assert all(t == p for (t, p) in cells), f"off-diagonal cells: {cells}"
    assert sum(cells.values()) > 0
