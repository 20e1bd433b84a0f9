"""Tiered nearest-centroid assignment kernel (r13 optimization).

The flat IVF assignment family dispatches on codebook size
(similarity.ARROW_ASSIGN_MIN_K): the codegen'd relational argmin below
the measured crossover, the vectorized Arrow/NumPy matmul kernel above
it. These tests pin that BOTH tiers produce identical assignments —
including the NULL-distance semantics of the zip_with fold they both
replace (a null / empty / length-mismatched vector, or a mismatched
centroid, yields a NULL distance, and NULL sorts FIRST in the
struct-min, so such a candidate WINS; ties break by min cid).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, FloatType, LongType, StructField,
                               StructType)

from downscaledclimatedata_spark.operators import similarity as S

SCHEMA = StructType([StructField("vec_id", LongType()),
                     StructField("embedding", ArrayType(FloatType()))])


def _emb(spark, n, dim=16, seed=11):
    return (spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(dim)),
                    lambda d: (F.pmod(F.xxhash64(F.col("id") * seed + d),
                                      F.lit(2001)) - 1000) / F.lit(1000.0))
        .alias("embedding")))


def _both_tiers(emb, **kw):
    """Run _ivf_assign_cols through each tier by flipping the constant."""
    orig = S.ARROW_ASSIGN_MIN_K
    try:
        S.ARROW_ASSIGN_MIN_K = 10**9
        rel = S._ivf_assign_cols(emb, **kw).orderBy("vec_id").collect()
        S.ARROW_ASSIGN_MIN_K = 0
        arrow = S._ivf_assign_cols(emb, **kw).orderBy("vec_id").collect()
    finally:
        S.ARROW_ASSIGN_MIN_K = orig
    return rel, arrow


def test_tiers_identical_on_random_corpus(spark):
    emb = _emb(spark, 400)
    rel, arrow = _both_tiers(emb, centroid_mod=25, n_centroids=16)
    assert rel == arrow and len(rel) == 400


def test_tiers_identical_with_extra_columns(spark):
    emb = _emb(spark, 200).withColumn("label", F.col("vec_id") % 3)
    rel, arrow = _both_tiers(emb, centroid_mod=25, n_centroids=8,
                             extra=("label",))
    assert rel == arrow and len(rel) == 200


@pytest.mark.parametrize("tier", [0, 10**9], ids=["arrow", "relational"])
def test_null_empty_short_vectors_take_min_cid(spark, tier):
    # null / empty / short vectors have NULL distance to every centroid
    # -> min cid wins (the zip_with-padding semantics, pinned r13)
    rows = [(0, [0.0] * 8), (25, [1.0] * 8), (50, [-1.0] * 8),
            (75, [2.0] * 8), (7, None), (8, []), (9, [1.0] * 4)]
    df = spark.createDataFrame(rows, SCHEMA)
    orig = S.ARROW_ASSIGN_MIN_K
    try:
        S.ARROW_ASSIGN_MIN_K = tier
        got = sorted((r.vec_id, r.cid)
                     for r in S.ivf_assign(df).collect())
    finally:
        S.ARROW_ASSIGN_MIN_K = orig
    assert got == [(0, 0), (7, 0), (8, 0), (9, 0), (25, 25), (50, 50),
                   (75, 75)]


@pytest.mark.parametrize("tier", [0, 10**9], ids=["arrow", "relational"])
def test_mismatched_centroid_dim_wins_via_null_distance(spark, tier):
    # centroid 0 is 4-dim vs the 8-dim corpus: its distance is NULL for
    # every 8-dim row, and NULL sorts first -> cid 0 wins those rows;
    # the 4-dim row itself gets NULL distances to cids 25/50 -> cid 25
    rows = [(0, [9.0] * 4), (25, [1.0] * 8), (50, [-1.0] * 8),
            (1, [1.0] * 8), (2, [-1.0] * 8), (3, [0.9] * 8)]
    df = spark.createDataFrame(rows, SCHEMA)
    orig = S.ARROW_ASSIGN_MIN_K
    try:
        S.ARROW_ASSIGN_MIN_K = tier
        got = sorted((r.vec_id, r.cid)
                     for r in S.ivf_assign(df).collect())
    finally:
        S.ARROW_ASSIGN_MIN_K = orig
    assert got == [(0, 25), (1, 0), (2, 0), (3, 0), (25, 0), (50, 0)]


def test_empty_codebook_drops_all_rows(spark):
    # no id satisfies the centroid sample -> empty codebook -> the
    # empty-crossJoin semantics: zero assigned rows, both tiers
    rows = [(1, [1.0] * 8), (2, [2.0] * 8)]
    df = spark.createDataFrame(rows, SCHEMA)
    orig = S.ARROW_ASSIGN_MIN_K
    try:
        for tier in (0, 10**9):
            S.ARROW_ASSIGN_MIN_K = tier
            assert S.ivf_assign(df).count() == 0
    finally:
        S.ARROW_ASSIGN_MIN_K = orig


def test_dist_out_matches_between_tiers(spark):
    emb = _emb(spark, 250)
    orig = S.ARROW_ASSIGN_MIN_K
    base = emb.select(
        F.col("vec_id"), S.quantize(F.col("embedding")).alias("qv"),
        S.sq_norm(S.quantize(F.col("embedding"))).alias("n2"))
    cents = (base.filter(S._fixed_sample("vec_id", 25, 8))
             .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"),
                     F.col("n2").alias("cn2")))
    try:
        S.ARROW_ASSIGN_MIN_K = 10**9
        rel = (S._argmin_assign(base, cents, "vec_id", 8, dist_out="dist")
               .select("vec_id", "cid", "dist").orderBy("vec_id").collect())
        S.ARROW_ASSIGN_MIN_K = 0
        arrow = (S._argmin_assign(base, cents, "vec_id", 8, dist_out="dist")
                 .select("vec_id", "cid", "dist").orderBy("vec_id").collect())
    finally:
        S.ARROW_ASSIGN_MIN_K = orig
    assert rel == arrow and len(rel) == 250
