"""Adversarial-corpus oracle parity: every documents-consuming spec runs
on a crafted corpus of edge cases (empty, whitespace-only, 1/2/3-token,
highly repetitive, unicode, punctuation-heavy docs) and must still match
its DuckDB oracle exactly. The synthetic sf tables contain none of these
shapes, so this suite is what protects the operators from the
empty-doc/short-doc failure class (descending F.sequence, ANSI
divide-by-zero) at a user's real corpus.
"""

from __future__ import annotations

import os
import shutil

import pytest

from canon_run import duck_views
from downscaledclimatedata_spark.plans import all_specs
from downscaledclimatedata_spark.sources.tables import TABLE_NAMES
from tests.conftest import SF_SMOKE, rows_to_sorted

SPECS = all_specs()

EDGE_DOCS = [
    (0, "", "en", "src_edge", 0),
    (1, "   \t  ", "en", "src_edge", 6),
    (2, "solo", "en", "src_edge", 4),
    (3, "two tokens", "en", "src_edge", 10),
    (4, "exactly three tokens", "en", "src_edge", 20),
    (5, "spam " * 40, "en", "src_edge", 200),
    (6, "the quick brown fox jumps over the lazy dog", "en", "src_edge", 43),
    (7, "the quick brown fox jumps over the lazy dog", "en", "src_edge", 43),
    (8, "café naïve résumé über straße", "de", "src_edge", 30),
    (9, "!!! ??? ... ;;; :::", "en", "src_edge", 19),
    (10, "a b c d e f g h i j k l m n o p q r s t u v w x y z", "en", "src_edge", 51),
    (11, "one\ttab\tseparated\tdoc", "en", "src_edge", 21),
    # \x0B: Java \s matches it, RE2 \s does not — pins the explicit
    # WS_RE class (functions/text.py) used by every tokenizer
    (12, "vertical\x0Btab\x0B\x0Bseparated doc", "en", "src_edge", 25),
    # NULL text: pins NULL-propagation parity (e.g. clean_documents'
    # coalesce to '' mirroring the oracle's array_to_string coalesce)
    (13, None, "en", "src_edge", 0),
    # planted phone/card shapes: pins the PHONE_RE/CC_RE leftmost-first
    # match parity (Java backtracking vs RE2) incl. digit runs and year/
    # zip shapes that must NOT match either class
    (14, "call +1 (555) 123-4567 or 555.123.4567; card 1234 5678 9012 3456;"
         " serial 1234567890123456 and year 2024 stay", "en", "src_edge", 110),
]

_DOC_SPECS = sorted(
    n for n, s in SPECS.items()
    if s.oracle is not None and "documents" in s.oracle
)


@pytest.fixture(scope="module")
def edge_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("edge_sf"))
    for name in set(TABLE_NAMES) - {"documents"}:
        shutil.copy(os.path.join(SF_SMOKE, f"{name}.parquet"),
                    os.path.join(d, f"{name}.parquet"))
    docs = spark.createDataFrame(
        EDGE_DOCS, "doc_id long, text string, lang string, source string, n_chars long")
    docs.toPandas().to_parquet(os.path.join(d, "documents.parquet"), index=False)
    return d


@pytest.fixture(scope="module")
def edge_duck(edge_dir):
    yield duck_views(edge_dir)


@pytest.mark.parametrize("name", _DOC_SPECS)
def test_doc_spec_survives_edge_corpus(name, spark, edge_dir, edge_duck):
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
