"""Adversarial-embeddings oracle parity: every embeddings-consuming spec
runs on a crafted corpus of edge cases — zero vectors, exact duplicates,
negatives, huge magnitudes, and a corpus smaller than the centroid/query
sample bounds — and must still match its DuckDB oracle exactly. The
synthetic sf tables are well-behaved gaussians, so this suite is what
protects the ANN operators from the zero-norm / duplicate-distance /
sparse-sample failure class on a user's real vectors.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pytest

from canon_run import duck_views
from downscaledclimatedata_spark.plans import all_specs
from downscaledclimatedata_spark.sources.tables import TABLE_NAMES
from tests.conftest import SF_SMOKE, rows_to_sorted

SPECS = all_specs()

DIM = 64


def _edge_embeddings() -> pd.DataFrame:
    rows = []

    def add(vec_id, vec, label=0):
        rows.append((vec_id, np.asarray(vec, dtype=np.float32), label))

    # ids 0,25,50,...: hit both the query sample (mod 50) and the
    # centroid sample (mod 25) so sampled rows include edge shapes
    add(0, [0.0] * DIM)                      # zero-norm QUERY + CENTROID
    add(25, [1.0] * DIM)                     # uniform centroid
    add(50, [-1.0] * DIM, label=1)           # negative query
    add(75, [1e6] * DIM, label=1)            # huge-magnitude centroid
    add(100, [0.5] * 32 + [0.0] * 32)        # half-sparse query
    # duplicates: identical vectors -> tied distances everywhere
    for i, vid in enumerate((1, 2, 3)):
        add(vid, [float(j % 7) for j in range(DIM)], label=i % 2)
    # near-duplicates of the uniform vector
    add(4, [1.0] * (DIM - 1) + [1.0 + 1e-3])
    add(5, [1.0] * (DIM - 1) + [1.0 - 1e-3])
    # a second zero vector that is NOT in any sample
    add(6, [0.0] * DIM, label=1)
    # generic filler so joins/aggregations have some mass
    rng = np.random.RandomState(7)
    for vid in range(200, 230):
        add(vid, rng.standard_normal(DIM) * 0.1, label=vid % 3)
    return pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]).astype(
        {"vec_id": "int64", "label": "int32"})


_EMB_SPECS = sorted(
    n for n, s in SPECS.items()
    if s.oracle is not None and "embeddings" in s.oracle
)


@pytest.fixture(scope="module")
def edge_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("edge_emb_sf"))
    for name in set(TABLE_NAMES) - {"embeddings"}:
        shutil.copy(os.path.join(SF_SMOKE, f"{name}.parquet"),
                    os.path.join(d, f"{name}.parquet"))
    _edge_embeddings().to_parquet(os.path.join(d, "embeddings.parquet"),
                                  index=False)
    return d


@pytest.fixture(scope="module")
def edge_duck(edge_dir):
    yield duck_views(edge_dir)


@pytest.mark.parametrize("name", _EMB_SPECS)
def test_embedding_spec_survives_edge_vectors(name, spark, edge_dir, edge_duck):
    spec = SPECS[name]
    sdf = spec.spark(spark, edge_dir)
    spark_rows = sdf.collect()
    res = edge_duck.execute(spec.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(sdf.columns) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: rows spark={len(spark_rows)} duck={len(duck_rows)}")
    s_sorted = rows_to_sorted([tuple(r) for r in spark_rows], sdf.columns)
    d_sorted = rows_to_sorted(duck_rows, duck_cols)
    mismatches = [(i, a, b) for i, (a, b) in enumerate(zip(s_sorted, d_sorted))
                  if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"
