"""Deduplication operators for large-scale training-data pipelines.

All hash-dependent operators use the portable md5-based 60-bit hash
(functions/hashing.py) so results are bit-identical between Spark and the
DuckDB oracle. Everything stays JVM-side: shingling, hashing, minhash and
simhash are built-in expressions (split/transform/md5/conv/bitwise) —
no Python UDFs in the hot path.

Scale design:
- exact dedup: groupBy on a 60-bit content hash (shuffle keyed on hash —
  uniform by construction, no skew), keep min(id) as representative;
- minhash: one pass computes the K-permutation signature as K aggregate
  expressions (map-side partial agg), LSH banding turns near-dup search
  into an equi-join on (band_id, band_hash) — shuffle ∝ corpus size,
  never the O(n²) pair space;
- simhash: 60 bit-majority aggregates in one pass, hamming-ready output;
- n-gram jaccard: exact verification for candidate pairs only.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from downscaledclimatedata_spark.functions.hashing import md5_long, md5_long_sql
from downscaledclimatedata_spark.functions.rows import (empty_relation,
                                                        literal_rows)
from downscaledclimatedata_spark.plans import QuerySpec, register
from downscaledclimatedata_spark.sources.tables import load_table, load_table_parallel
from downscaledclimatedata_spark.functions.text import WS_RE

MINHASH_PERMS = 16
LSH_BAND_SIZE = 4
SIMHASH_BITS = 60

# Universal-hash permutation family over the Mersenne prime 2^31-1.
# Each shingle is md5-hashed ONCE; the K "permutations" are then
# (a_k * (h mod P) + b_k) mod P — pure 64-bit-safe integer arithmetic,
# identical in Spark and DuckDB, ~16x cheaper than K md5 calls.
_MERSENNE_P = (1 << 31) - 1


def _perm_constants(n_perms: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs derived from md5 (no RNG)."""
    consts = []
    for k in range(n_perms):
        a = int(hashlib.md5(f"A{k}".encode()).hexdigest()[:7], 16) % _MERSENNE_P or 1
        b = int(hashlib.md5(f"B{k}".encode()).hexdigest()[:7], 16) % _MERSENNE_P
        consts.append((a, b))
    return consts


def tokens(col: Column) -> Column:
    """Whitespace tokens of lowercased text, empty tokens dropped."""
    return F.filter(F.split(F.lower(col), WS_RE), lambda x: x != "")


def shingles_of_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles of a (pre-materialized) token-array column.

    IMPORTANT: pass an already-projected column, not the tokens()
    expression itself — inlining would re-evaluate split+filter for every
    element_at call (O(len^2) per row).
    """
    # Guard short docs: F.sequence(1, stop) DESCENDS when stop < 1 (e.g.
    # [1, 0] for a 2-token doc), and the resulting element_at(toks, 0)
    # throws. Docs with fewer than n tokens have zero n-gram shingles, so
    # the index array must be empty — matching the oracle's
    # range(1, greatest(len-2,0)+1), which is empty for stop < start.
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx, lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + k) for k in range(n)]))


def shingled_rows(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) exploded relation with tokens materialized once."""
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    return toked.select(
        F.col(id_col), F.explode(shingles_of_tokens(F.col("_toks"), n)).alias("shingle"))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup by content hash: one row per distinct content.

    Returns (content_hash, keep_id, n_members). Representative = min id,
    so the result is deterministic under any partitioning.
    """
    return (
        df.select(md5_long(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_members"))
    )


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       shingled: DataFrame | None = None) -> DataFrame:
    """(id, m0..m{K-1}) minhash signature over word 3-gram shingles.

    One md5 per shingle, K universal-hash permutations derived
    arithmetically; each signature component is a min-aggregate, so
    Catalyst plans a single shuffle with map-side partial mins.

    Execution-shape note (r13, measured): a shuffle-free PER-ROW form
    (``array_min(transform(...))`` over the doc's hashed-shingle array)
    was tried and REVERTED — 1.06 s vs 0.59 s for this form at sf0.1 ×
    32 partitions, same session, identical signatures. Higher-order
    array functions evaluate their lambda interpreted per element,
    while this explode + groupBy runs whole-stage-codegen'd with
    map-side partial mins, so the exchange the per-row form removes
    carries only one 16-long row per doc (narrow, pre-aggregated) —
    cheaper than losing codegen on ~10² shingle-hash evaluations per
    doc. Same verdict for :func:`simhash` (2.41 s vs 1.66 s).

    ``shingled`` lets a pipeline share one materialized (id, shingle)
    relation across stages; min-aggregates are duplicate-insensitive, so
    passing the DISTINCT relation (as the jaccard verify stage needs)
    yields identical signatures.
    """
    shingled = (shingled if shingled is not None
                else shingled_rows(df, text_col, id_col)).select(
        F.col(id_col), (md5_long(F.col("shingle")) % _MERSENNE_P).alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % _MERSENNE_P).alias(f"m{k}")
        for k, (a, b) in enumerate(_perm_constants(MINHASH_PERMS))
    ]
    return shingled.groupBy(id_col).agg(*aggs)


MAX_BUCKET = 256


def _banded(signatures: DataFrame, id_col: str) -> DataFrame:
    """(id, band_id, band_hash) exploded banding relation."""
    n_bands = MINHASH_PERMS // LSH_BAND_SIZE
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band_id"),
            md5_long(F.concat_ws(",", *[F.col(f"m{b * LSH_BAND_SIZE + j}").cast("string")
                                        for j in range(LSH_BAND_SIZE)]),
                     seed=f"band{b}:").alias("band_hash"),
        )
        for b in range(n_bands)
    ])
    return signatures.select(F.col(id_col), F.explode(bands).alias("band")) \
        .select(id_col, "band.band_id", "band.band_hash")


def lsh_candidate_pairs(signatures: DataFrame, id_col: str,
                        max_bucket: int = MAX_BUCKET) -> DataFrame:
    """Banded LSH: docs sharing any band hash become candidate pairs.

    Single pipeline: explode signature into bands, groupBy bucket,
    generate in-bucket pairs from the sorted member list. No self-join
    (a self-join would recompute the signature pipeline per side) and the
    O(n^2) pair space is only touched per-bucket.

    ``max_bucket`` caps bucket size: a degenerate mega-bucket (all-empty
    docs, boilerplate text colliding into one band hash) would otherwise
    materialize |bucket|^2 pairs in a single task and OOM it at 100 TB.
    Oversized buckets are dropped here — by construction their members
    are wildly over-connected and belong to near-identical boilerplate,
    which exact dedup already collapses; use ``lsh_bucket_stats`` to
    count the overflow instead of silently ignoring it.
    """
    buckets = (_banded(signatures, id_col)
               .groupBy("band_id", "band_hash")
               .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
               .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket)))
    pairs = buckets.select(F.explode(F.flatten(F.transform(
        F.col("ids"),
        lambda x, i: F.transform(
            F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))).alias("p"))
    return pairs.select("p.id_a", "p.id_b").distinct()


def lsh_bucket_stats(signatures: DataFrame, id_col: str) -> DataFrame:
    """Bucket-population diagnostic: per-size histogram + overflow flag.

    The operational companion to ``lsh_candidate_pairs``'s cap: at 100 TB
    this is the query you run to SEE the skew (how many buckets, how big,
    how many dropped) before deciding to re-tune band size or raise the
    cap.
    """
    sizes = (_banded(signatures, id_col)
             .groupBy("band_id", "band_hash").agg(F.count("*").alias("bucket_size")))
    return (sizes.groupBy("bucket_size")
            .agg(F.count("*").alias("n_buckets"))
            .withColumn("over_cap", F.col("bucket_size") > MAX_BUCKET))


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """60-bit simhash: per-bit majority vote over shingle hashes.

    Execution-shape note (r13, measured): a shuffle-free per-row form
    (60 ``F.aggregate`` folds over the doc's hashed-shingle array) was
    tried and REVERTED — 2.41 s vs 1.66 s for this explode + groupBy
    form at sf0.1 × 32 partitions, same session, identical
    fingerprints. See :func:`minhash_signatures` for the analysis
    (interpreted HOF lambdas vs whole-stage-codegen'd partial
    aggregates; the removed exchange carries one 60-int row per doc).
    """
    shingled = shingled_rows(df, text_col, id_col).select(
        F.col(id_col), md5_long(F.col("shingle")).alias("h"))
    bit_aggs = [
        F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1)
              .otherwise(-1)).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    bits = shingled.groupBy(id_col).agg(*bit_aggs)
    fingerprint = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return bits.select(F.col(id_col), fingerprint.alias("simhash"))


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        candidates: DataFrame | None = None,
                        threshold: float = 0.5,
                        shingled: DataFrame | None = None) -> DataFrame:
    """Exact word-3-gram Jaccard for candidate pairs (or all pairs).

    At scale this runs AFTER LSH candidate generation, and the
    intersection is computed CANDIDATE-FIRST: each candidate pair is
    exploded into two probe rows and joined to the shingle relation
    ONCE — join volume is Σ_{(a,b)∈cand} (|A| + |B|), never the Σ df²
    blow-up of a full shingle self-join followed by a candidate filter
    (a boilerplate shingle shared by k docs costs k² rows in the
    self-join form, and the semi-join cannot be pushed below it).
    ``candidates`` must be a distinct (id_a, id_b) relation (as
    ``lsh_candidate_pairs`` emits).

    Pass a pre-materialized DISTINCT ``shingled`` relation to share the
    shingling pass with the candidate-generation stage — without
    sharing, each reference re-shingles the corpus.

    Every corpus-scaled join side carries an explicit ``merge`` (sort-merge)
    hint: a localCheckpointed shingle relation reaches the planner as a
    LogicalRDD whose inherited size estimate (scan → explode → distinct)
    is far below reality, and at sf10 Catalyst flipped these joins to
    BroadcastHashJoin and OOMed the driver building a multi-GB hash
    relation. Pinning the shuffled strategy keeps the plan
    scale-correct regardless of the estimate (found by the sf1→sf10
    scale-ladder rung).
    """
    shingled = (shingled if shingled is not None
                else shingled_rows(df, text_col, id_col).distinct())
    if candidates is not None:
        # PROBE-COUNT form (r13): explode each candidate pair into two
        # probe rows (one per member id), join the probes to the
        # shingle relation ONCE, and count (pair, shingle) multiplicity.
        # Shingles are distinct per doc, so a group has count 2 iff the
        # shingle is in A∩B and |groups| is exactly |A∪B| — jaccard =
        # n_inter / n_union with the same exact integers as
        # n_inter/(n_a+n_b-n_inter). vs the previous A-join → left
        # B-join → sizes-join chain this is ONE corpus-scaled join
        # instead of three, the Σ|A| intermediate is never re-shuffled
        # by (id_b, shingle), the per-doc sizes aggregate disappears,
        # and the candidate pipeline is referenced once (a two-leg
        # union would compute it twice — no subplan reuse across the
        # union). `n_inter > 0` preserves the inner-join contract that
        # zero-overlap candidates never surface, even at threshold 0.
        probes = candidates.select(
            "id_a", "id_b",
            F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("_pid"))
        sh = shingled.select(F.col(id_col).alias("_pid"), "shingle")
        per_sh = (probes.join(sh.hint("merge"), "_pid")
                  .groupBy("id_a", "id_b", "shingle")
                  .agg(F.count("*").alias("cnt")))
        inter = (per_sh.groupBy("id_a", "id_b")
                 .agg(F.count("*").alias("n_union"),
                      F.sum(F.col("cnt") - 1).alias("n_inter"))
                 .filter(F.col("n_inter") > 0))
        joined = inter.withColumn(
            "jaccard",
            F.col("n_inter").cast("double") / F.col("n_union").cast("double"))
        return (joined.filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard"))
    else:
        sizes = shingled.groupBy(id_col).agg(F.count("*").alias("n_sh"))
        a = shingled.select(F.col(id_col).alias("id_a"),
                            F.col("shingle").alias("sh_a"))
        b = shingled.select(F.col(id_col).alias("id_b"),
                            F.col("shingle").alias("sh_b"))
        inter = (
            a.join(b.hint("merge"),
                   (F.col("sh_a") == F.col("sh_b"))
                   & (F.col("id_a") < F.col("id_b")))
            .groupBy("id_a", "id_b").agg(F.count("*").alias("n_inter"))
        )
    joined = (
        inter.join(sizes.select(F.col(id_col).alias("id_a"),
                                F.col("n_sh").alias("n_a"))
                   .hint("merge"), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"),
                           F.col("n_sh").alias("n_b"))
              .hint("merge"), "id_b")
        .withColumn("jaccard",
                    F.col("n_inter").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"))
    )
    return joined.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


# --- SQL fragments shared by the oracle queries ------------------------------

_SHINGLES_CTE = r"""
toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'), x -> x <> '') AS t
  FROM documents
),
shingled AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT UNNEST(range(1, greatest(len(t) - 2, 0) + 1)) AS i) idx
)
"""


def dedup_exact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    # normalize to the first 5 tokens so the synthetic corpus actually
    # produces duplicate groups to collapse
    norm = F.concat_ws(" ", F.slice(tokens(F.col("text")), 1, 5))
    return exact_dedup(docs.select("doc_id", norm.alias("norm_text")),
                       "norm_text", "doc_id")


_DEDUP_EXACT_SQL = rf"""
WITH normed AS (
  SELECT doc_id,
    coalesce(array_to_string(list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'), x -> x <> '')[1:5], ' '), '') AS norm_text
  FROM documents
)
SELECT {md5_long_sql('norm_text')} AS content_hash,
       MIN(doc_id) AS keep_id, COUNT(*) AS n_members
FROM normed GROUP BY 1
"""


def dedup_minhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return minhash_signatures(docs, "text", "doc_id")


_MINHASH_COLS_SQL = ",\n  ".join(
    f"MIN(({a} * h + {b}) % {_MERSENNE_P}) AS m{k}"
    for k, (a, b) in enumerate(_perm_constants(MINHASH_PERMS)))
_HASHED_CTE = f"hashed AS (SELECT doc_id, {md5_long_sql('shingle')} % {_MERSENNE_P} AS h FROM shingled)"
_DEDUP_MINHASH_SQL = f"""
WITH {_SHINGLES_CTE},
{_HASHED_CTE}
SELECT doc_id,
  {_MINHASH_COLS_SQL}
FROM hashed GROUP BY doc_id
"""


def dedup_lsh_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    sigs = minhash_signatures(docs, "text", "doc_id")
    pairs = lsh_candidate_pairs(sigs, "doc_id")
    return pairs.agg(F.count("*").alias("n_candidate_pairs"))


_BAND_SELECTS = "\nUNION ALL\n".join(
    f"""SELECT doc_id, {b} AS band_id, {md5_long_sql(
        " || ',' || ".join(f"CAST(m{b * LSH_BAND_SIZE + j} AS VARCHAR)" for j in range(LSH_BAND_SIZE)),
        seed=f"band{b}:")} AS band_hash FROM sigs"""
    for b in range(MINHASH_PERMS // LSH_BAND_SIZE))
_DEDUP_LSH_SQL = f"""
WITH {_SHINGLES_CTE},
{_HASHED_CTE},
sigs AS (
  SELECT doc_id, {_MINHASH_COLS_SQL}
  FROM hashed GROUP BY doc_id
),
banded AS ({_BAND_SELECTS}),
ok AS (
  SELECT band_id, band_hash FROM banded
  GROUP BY band_id, band_hash HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}
)
SELECT COUNT(*) AS n_candidate_pairs FROM (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN ok ON ok.band_id = a.band_id AND ok.band_hash = a.band_hash
  JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)
"""


def dedup_simhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return simhash(docs, "text", "doc_id")


_SIMHASH_BIT_SUMS = ",\n  ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(SIMHASH_BITS))
_SIMHASH_VALUE = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
    for b in range(SIMHASH_BITS))
_DEDUP_SIMHASH_SQL = f"""
WITH {_SHINGLES_CTE},
hashed AS (SELECT doc_id, {md5_long_sql('shingle')} AS h FROM shingled),
bits AS (SELECT doc_id, {_SIMHASH_BIT_SUMS} FROM hashed GROUP BY doc_id)
SELECT doc_id, {_SIMHASH_VALUE} AS simhash FROM bits
"""


def dedup_jaccard_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE composition: exact Jaccard verification restricted to
    LSH candidate pairs, so the quadratic verify cost applies only to
    candidates (shuffle ∝ corpus), never all pairs.

    The distinct (id, shingle) relation is materialized ONCE
    (localCheckpoint: memory+disk, lineage truncated) and shared by the
    signature and verify stages — without it the plan shingled the
    corpus five times. Minhash min-aggregates are duplicate-insensitive,
    so the shared distinct relation yields identical signatures.
    """
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    sh = shingled_rows(docs, "text", "doc_id").distinct().localCheckpoint()
    sigs = minhash_signatures(docs, "text", "doc_id", shingled=sh)
    cands = lsh_candidate_pairs(sigs, "doc_id")
    return ngram_jaccard_pairs(docs, "text", "doc_id", candidates=cands,
                               threshold=0.2, shingled=sh)


_DEDUP_JACCARD_SQL = f"""
WITH {_SHINGLES_CTE},
{_HASHED_CTE},
sigs AS (
  SELECT doc_id, {_MINHASH_COLS_SQL}
  FROM hashed GROUP BY doc_id
),
banded AS ({_BAND_SELECTS}),
ok AS (
  SELECT band_id, band_hash FROM banded
  GROUP BY band_id, band_hash HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN ok ON ok.band_id = a.band_id AND ok.band_hash = a.band_hash
  JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
dist AS (SELECT DISTINCT doc_id, shingle FROM shingled),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM dist a JOIN dist b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dist GROUP BY doc_id)
SELECT id_a, id_b,
  CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
FROM inter
JOIN cand USING (id_a, id_b)
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.2
"""


def dedup_bucket_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    sigs = minhash_signatures(docs, "text", "doc_id")
    return lsh_bucket_stats(sigs, "doc_id").orderBy("bucket_size")


_DEDUP_BUCKET_STATS_SQL = f"""
WITH {_SHINGLES_CTE},
{_HASHED_CTE},
sigs AS (
  SELECT doc_id, {_MINHASH_COLS_SQL}
  FROM hashed GROUP BY doc_id
),
banded AS ({_BAND_SELECTS}),
bsz AS (SELECT band_id, band_hash, COUNT(*) AS bucket_size
        FROM banded GROUP BY band_id, band_hash)
SELECT bucket_size, COUNT(*) AS n_buckets,
       bucket_size > {MAX_BUCKET} AS over_cap
FROM bsz GROUP BY bucket_size ORDER BY bucket_size
"""


# --- near-dup clusters: connected components over LSH pairs --------------------

# Driver union-find tier for connected components (r13): below this
# many (undirected, deduped) edges the graph is collected and solved on
# the driver in one pass — measured same-session on the corpus
# builder's sf0.1 pair graph: cc 1.1 s (3 star rounds) → ~0.25 s (one
# checkpoint job + a bounded collect). Above it the alternating-star
# iteration runs unchanged: a 100 TB dedup graph is corpus-scaled and
# must never be collected. Count is observed on the checkpoint the
# algorithm materializes anyway, so the tier costs no extra pass.
# Driver footprint at the cap: the collect is Arrow-batched (columnar
# buffers, no per-row Row objects), but the union-find dict still holds
# up to ~2M Python ints — order hundreds of MB of heap at the limit,
# fine for a driver that would otherwise run a multi-round distributed
# iteration, but NOT free; don't raise the cap without measuring.
CC_DRIVER_MAX_EDGES = 1_000_000


def _union_find(edges: DataFrame) -> dict:
    """Fully-resolved ``{node: min-id component root}`` labels for a
    BOUNDED, checkpointed edge relation via driver-side union-find —
    exactly the star iteration's fixpoint. Arrow-batched collect: no
    per-row pyspark Row objects at the 1M-edge cap."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    tbl = edges.toArrow()
    for u, v in zip(tbl.column(0).to_pylist(), tbl.column(1).to_pylist()):
        for n in (u, v):
            if n not in parent:
                parent[n] = n
        ru, rv = find(u), find(v)
        if ru != rv:  # min-id representative: smaller root wins
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return {n: find(n) for n in parent}


def _labels_relation(spark: SparkSession, labels: dict, ntype) -> DataFrame:
    """Driver labels -> (id, comp) relation typed like the edge nodes.

    The schema derives from ``ntype`` in BOTH branches (an empty graph
    must yield the same column types as a non-empty one — ids need not
    be numeric). ``createDataFrame`` of a list is ``parallelize`` over
    a pickled Python RDD (Arrow is not used for lists), so the relation
    is localCheckpointed: every consumer reads JVM-materialized rows
    instead of re-pulling the Python-sourced relation per task (the O3
    plan-construction lesson); one tiny job. No labels: an empty JVM
    relation, no job.
    """
    from pyspark.sql.types import StructField, StructType

    schema = StructType([StructField("id", ntype),
                         StructField("comp", ntype)])
    if not labels:
        return empty_relation(spark, schema)
    return (spark.createDataFrame(sorted(labels.items()), schema)
            .localCheckpoint())


def _component_labels(pairs: DataFrame) -> tuple:
    """(labels_dict, edges) when the graph fits the driver tier, else
    (None, edges) — the checkpointed, deduped, self-loop-free
    undirected edge relation either way. The edge count rides the
    checkpoint as an ``Observation`` (no extra job), so the tier
    decision is exact and costs nothing. Callers that can consume the
    driver-resident labels directly (the corpus prunes) skip the
    local-relation materialization job entirely."""
    from pyspark.sql import Observation

    obs0 = Observation()
    edges = (pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
             .union(pairs.select(F.col("id_b").alias("u"),
                                 F.col("id_a").alias("v")))
             .filter(F.col("u") != F.col("v"))
             .distinct()
             .observe(obs0, F.count(F.lit(1)).alias("n"))
             .localCheckpoint())
    if int(obs0.get["n"] or 0) <= CC_DRIVER_MAX_EDGES:
        return _union_find(edges), edges
    return None, edges


# Above this many ids the driver-tier prune falls back to a relation
# anti-join: the removed-id set is inlined into the plan as ONE parsed
# `IN (...)` predicate (a single py4j round trip; the optimizer turns
# it into a hash-set InSet), which folds the prune into the consumer's
# scan — but the predicate's parse and plan cost grow with the id
# count. For `prune_corpus` on one 2M-row corpus (`scale_ladder.py
# --rung prune`, BENCH_SCALE.md) the two arms cross between 10k and
# 20k ids; `prune_corpus_quality`'s arms are not measured.
PRUNE_ISIN_MAX_IDS = 20_000


def _integral_node_type(ntype) -> bool:
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType
    return isinstance(ntype, (ByteType, ShortType, IntegerType, LongType))


def connected_components_star(pairs: DataFrame) -> DataFrame:
    """Alternating large-star/small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): O(log n) rounds on ANY graph shape, vs min-label
    propagation's O(diameter) — components can be long chains (URL
    redirect graphs, citation chains), not only the near-cliques LSH
    produces.

    Each round:
    - large-star: for every node u, connect every strictly-larger
      neighbor v to u's minimum neighborhood label m(u) (keeps edges
      (v, m) with v > u's min);
    - small-star: connect all neighbors <= u (and u itself) to m(u).
    Both are one groupBy + one re-expansion — no joins growing with
    iteration count.
    Terminates when the edge multiset stops changing (scalar-aggregate
    fingerprint).

    Execution shape (r13 optimization, results identical): ONE eager job
    per round, not three. The large-star output flows lazily into the
    small star (the small star's ``collect_set`` dedups it, so the
    intermediate ``distinct`` + checkpoint bought nothing but a stage
    barrier), only the round's final edge set is checkpointed (lineage
    stays bounded at two stars), and the convergence fingerprint rides
    that same checkpoint materialization as an ``Observation`` instead
    of a separate collect job — the same observe-on-checkpoint pattern
    the corpus builder's funnel counters use.

    Size tier (r13, results identical): the edge count rides the
    initial checkpoint as an ``Observation`` (no extra job), and a
    graph at or under :data:`CC_DRIVER_MAX_EDGES` is collected and
    solved with driver-side union-find instead of iterating — each
    star round costs 2 shuffle stages + a checkpoint of fixed
    scheduler latency (~0.35 s/round on a 32-core box) regardless of
    how tiny the graph is, which dominated the corpus builders' dedup
    stage (the sf0.1 build's 138-pair graph paid 3 full rounds).
    Min-id union-find IS the star fixpoint, so labels are identical;
    the distributed path is untouched above the cap (a 100 TB dedup
    graph never fits a driver). The cap is edge COUNT, known exactly
    before any collect (see CC_DRIVER_MAX_EDGES for the driver-heap
    budget it implies).
    """
    labels, edges = _component_labels(pairs)
    if labels is not None:
        return _labels_relation(pairs.sparkSession, labels,
                                edges.schema[0].dataType)
    return _star_from_edges(edges)


def _star_from_edges(edges: DataFrame) -> DataFrame:
    """The alternating-star iteration over an already-checkpointed
    undirected edge relation (the distributed arm of
    :func:`connected_components_star`, factored so the corpus prunes
    can reuse the edges their tier probe already materialized)."""
    from pyspark.sql import Observation

    prev_fp = None
    for _ in range(25):
        # both stars operate on the UNDIRECTED neighborhood, so symmetrize
        # the (directed) working edge list before each grouping
        sym = edges.union(edges.select(F.col("v").alias("u"),
                                       F.col("u").alias("v")))
        # large-star: m = min(Γ(u) ∪ {u}); emit (v, m) for v > u
        grouped = sym.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
        lm = grouped.select(
            "u", "nbrs",
            F.least(F.array_min("nbrs"), F.col("u")).alias("m"))
        large = (lm.select(F.explode("nbrs").alias("v"), "u", "m")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v")))
        # small-star over the large-star output: m = min over
        # (nbrs <= u) ∪ {u}; emit (v, m) for those. collect_set dedups
        # any duplicate large-star edges, so no distinct in between.
        sym = large.union(large.select(F.col("v").alias("u"),
                                       F.col("u").alias("v")))
        grouped = sym.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
        sm = grouped.select(
            "u",
            F.filter("nbrs", lambda x: x <= F.col("u")).alias("small"),
        ).select(
            "u", "small",
            F.least(F.coalesce(F.array_min("small"), F.col("u")),
                    F.col("u")).alias("m"))
        small = (sm.select(F.explode(F.array_union(
            F.col("small"), F.array(F.col("u")))).alias("v"), "m")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v")))
        # edge-SET fingerprint: (count, xor of per-edge 60-bit md5). XOR
        # cannot overflow (unlike sum(u*31+v), which wraps or ANSI-errors
        # past 2^63 at large id scales), and a spurious match needs an
        # md5-xor collision at identical edge count — negligible. Edges
        # are distinct, so the set fingerprint is well-defined.
        obs = Observation()
        edges = (small.distinct()
                 .observe(obs,
                          F.bit_xor(md5_long(
                              F.concat_ws(",", F.col("u"), F.col("v"))))
                          .alias("x"),
                          F.count(F.lit(1)).alias("n"))
                 .localCheckpoint())
        m = obs.get
        fp = (m["x"], m["n"])
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        raise RuntimeError(
            "connected_components_star did not converge within 25 "
            "rounds; labels would be incorrect — the alternating stars "
            "need only O(log n) rounds, so this indicates a "
            "pathological input")
    # at fixpoint every edge is (node, root); add roots themselves
    labels = edges.select(F.col("u").alias("id"), F.col("v").alias("comp"))
    roots = labels.select(F.col("comp").alias("id"),
                          F.col("comp")).distinct()
    return labels.union(roots).distinct()


def dedup_clusters_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size distribution of near-dup components (minhash -> LSH
    pairs -> connected components): the step that turns candidate pairs
    into actual dedup groups (keep one doc per component)."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    sigs = minhash_signatures(docs, "text", "doc_id")
    pairs = lsh_candidate_pairs(sigs, "doc_id")
    comps = connected_components_star(pairs)
    sizes = comps.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return (sizes.groupBy("cluster_size")
            .agg(F.count("*").alias("n_clusters"))
            .orderBy("cluster_size"))


_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_SHINGLES_CTE},
{_HASHED_CTE},
sigs AS (
  SELECT doc_id, {_MINHASH_COLS_SQL}
  FROM hashed GROUP BY doc_id
),
banded AS ({_BAND_SELECTS}),
ok AS (
  SELECT band_id, band_hash FROM banded
  GROUP BY band_id, band_hash HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN ok ON ok.band_id = a.band_id AND ok.band_hash = a.band_hash
  JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, lab) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id, MIN(lab) AS comp FROM reach GROUP BY id),
sizes AS (SELECT comp, COUNT(*) AS cluster_size FROM comp GROUP BY comp)
SELECT cluster_size, COUNT(*) AS n_clusters
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
"""


register(QuerySpec("dedup_neardup_clusters", dedup_clusters_query,
                   _DEDUP_CLUSTERS_SQL,
                   description="near-dup components (alternating-star) vs recursive-CTE oracle"))
register(QuerySpec("dedup_exact", dedup_exact_query, _DEDUP_EXACT_SQL, headline=True,
                   description="exact dedup via content-hash groupBy (min-id representative)"))
register(QuerySpec("dedup_minhash_signatures", dedup_minhash_query, _DEDUP_MINHASH_SQL,
                   description=f"{MINHASH_PERMS}-perm minhash signatures over word 3-gram shingles"))
register(QuerySpec("dedup_minhash_lsh_pairs", dedup_lsh_pairs_query, _DEDUP_LSH_SQL, headline=True,
                   description="LSH banded candidate-pair generation (equi-join, no O(n^2))"))
register(QuerySpec("dedup_simhash", dedup_simhash_query, _DEDUP_SIMHASH_SQL,
                   description="60-bit simhash bit-majority fingerprints"))
register(QuerySpec("dedup_ngram_jaccard", dedup_jaccard_query, _DEDUP_JACCARD_SQL,
                   headline=True,
                   description="exact word-3-gram jaccard verify restricted to LSH candidates (scale composition)"))
register(QuerySpec("dedup_lsh_bucket_stats", dedup_bucket_stats_query,
                   _DEDUP_BUCKET_STATS_SQL,
                   description="LSH bucket-size histogram + over-cap diagnostic (skew visibility)"))


# --- simhash hamming pairs (Manku et al., WWW'07) -------------------------------

SIMHASH_BLOCKS = 4          # 60 bits -> 4 x 15-bit blocks
SIMHASH_HAM_MAX = 3         # blocks - 1: pigeonhole-exact candidate recall


def simhash_pairs(df: DataFrame, text_col: str, id_col: str,
                  ham_max: int = SIMHASH_HAM_MAX,
                  fingerprints: DataFrame | None = None) -> DataFrame:
    """Near-dup pairs by simhash hamming distance, at scale.

    The block-permutation construction (Manku, Jain & Sarma, "Detecting
    Near-Duplicates for Web Crawling", WWW 2007): split each 60-bit
    fingerprint into ``SIMHASH_BLOCKS`` 15-bit blocks; two fingerprints
    within hamming distance ``ham_max <= blocks - 1`` must agree on at
    least one whole block (pigeonhole), so candidate generation is an
    exact-recall equi-join on (block_index, block_value) — never O(n²).
    Verification computes the true hamming distance with
    ``bit_count(xor)`` on the joined fingerprints.

    Over-popular blocks (> ``MAX_BUCKET`` members — e.g. the all-zeros
    block from boilerplate-heavy corpora) are excluded like the minhash
    LSH cap: a diagnostic-visible recall trade documented there.

    ``ham_max`` must be <= ``SIMHASH_BLOCKS - 1``: the pigeonhole
    guarantee only holds up to blocks-1 differing bits, so a larger
    radius would silently miss pairs.

    A caller-supplied ``fingerprints`` relation is used as-is (it is
    assumed already materialized/cached by the caller — e.g. when shared
    across several pair generators); only the internally-derived
    fingerprint relation is localCheckpointed here, since it is
    referenced three times (block explode + two verify joins).
    """
    if ham_max > SIMHASH_BLOCKS - 1:
        raise ValueError(
            f"ham_max={ham_max} exceeds SIMHASH_BLOCKS-1={SIMHASH_BLOCKS - 1}: "
            "the block-permutation candidate join is only exact-recall up to "
            "blocks-1 differing bits")
    fp = (fingerprints if fingerprints is not None
          else simhash(df, text_col, id_col).localCheckpoint())
    bits_per = SIMHASH_BITS // SIMHASH_BLOCKS
    mask = (1 << bits_per) - 1
    blocks = fp.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("blk"),
                F.shiftright(F.col("simhash"), bits_per * b)
                .bitwiseAND(F.lit(mask)).alias("val"))
            for b in range(SIMHASH_BLOCKS)])).alias("bv"),
    ).select(id_col, "bv.blk", "bv.val")
    # `ok` is genuinely broadcastable (≤ blocks × 2^15 rows by
    # construction); the block self-join and fingerprint verify joins are
    # corpus-scaled, so they carry sort-merge hints — a low LogicalRDD
    # size estimate must never flip them to broadcast (see
    # ngram_jaccard_pairs).
    ok = (blocks.groupBy("blk", "val").agg(F.count("*").alias("n"))
          .filter((F.col("n") >= 2) & (F.col("n") <= MAX_BUCKET))
          .select("blk", "val"))
    a = blocks.join(ok, ["blk", "val"], "left_semi")
    cand = (a.alias("x").join(
        a.alias("y").hint("merge"),
        (F.col("x.blk") == F.col("y.blk")) & (F.col("x.val") == F.col("y.val"))
        & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")))
        .select(F.col(f"x.{id_col}").alias("id_a"),
                F.col(f"y.{id_col}").alias("id_b"))
        .distinct())
    return (cand
            .join(fp.select(F.col(id_col).alias("id_a"),
                            F.col("simhash").alias("sh_a"))
                  .hint("merge"), "id_a")
            .join(fp.select(F.col(id_col).alias("id_b"),
                            F.col("simhash").alias("sh_b"))
                  .hint("merge"), "id_b")
            .withColumn("hamming",
                        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
                        .cast("int"))
            .filter(F.col("hamming") <= ham_max)
            .select("id_a", "id_b", "hamming"))


def dedup_simhash_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return simhash_pairs(docs, "text", "doc_id")


_SIMHASH_BITS_PER = SIMHASH_BITS // SIMHASH_BLOCKS
_SIMHASH_BLOCK_SELECTS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS blk, (simhash >> {_SIMHASH_BITS_PER * b}) "
    f"& {(1 << _SIMHASH_BITS_PER) - 1} AS val FROM fp"
    for b in range(SIMHASH_BLOCKS))
_DEDUP_SIMHASH_PAIRS_SQL = f"""
WITH {_SHINGLES_CTE},
hashed AS (SELECT doc_id, {md5_long_sql('shingle')} AS h FROM shingled),
bits AS (SELECT doc_id, {_SIMHASH_BIT_SUMS} FROM hashed GROUP BY doc_id),
fp AS (SELECT doc_id, {_SIMHASH_VALUE} AS simhash FROM bits),
blocks AS ({_SIMHASH_BLOCK_SELECTS}),
ok AS (
  SELECT blk, val FROM blocks
  GROUP BY blk, val HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}
),
kept AS (SELECT doc_id, blk, val FROM blocks SEMI JOIN ok USING (blk, val)),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM kept x JOIN kept y
    ON x.blk = y.blk AND x.val = y.val AND x.doc_id < y.doc_id
)
SELECT id_a, id_b,
  CAST(bit_count(xor(fa.simhash, fb.simhash)) AS INTEGER) AS hamming
FROM cand
JOIN fp fa ON fa.doc_id = id_a
JOIN fp fb ON fb.doc_id = id_b
WHERE bit_count(xor(fa.simhash, fb.simhash)) <= {SIMHASH_HAM_MAX}
"""

register(QuerySpec("dedup_simhash_pairs", dedup_simhash_pairs_query,
                   _DEDUP_SIMHASH_PAIRS_SQL,
                   description="simhash hamming<=3 pairs via exact-recall "
                               "block equi-join (Manku et al. WWW'07)"))


# --- containment (doc-in-doc) pairs ---------------------------------------------

MAX_SHINGLE_DF = 64  # prefix-filter cap: drop shingles shared by more docs


def containment_pairs(df: DataFrame, text_col: str, id_col: str,
                      threshold: float = 0.5,
                      max_df: int = MAX_SHINGLE_DF,
                      shingled: DataFrame | None = None) -> DataFrame:
    """Asymmetric containment |A∩B| / min(|A|,|B|) over word 3-gram
    shingles — the doc-in-doc signal symmetric Jaccard misses.

    A 200-token doc quoted inside a 5000-token doc has Jaccard ≈ 0.04
    (invisible to minhash-LSH, which approximates Jaccard) but
    containment ≈ 1.0. Candidates therefore come from the shingle
    equi-join itself, guarded by the classic prefix-filter: shingles
    occurring in more than ``max_df`` documents are dropped before
    pairing (a shingle shared by k docs contributes k² join rows, and
    boilerplate shingles otherwise dominate the pair space). Set sizes
    use the FULL shingle sets, so dropping common shingles makes the
    intersection — and hence containment — an under-estimate, never an
    over-estimate: a reported pair always truly exceeds ``threshold``.

    Scale: one shuffle keyed on shingle hash (uniform), join fan-out
    bounded by ``max_df``² per shingle; pair aggregation shuffles only
    candidate pairs. Never O(n²) in the corpus.
    """
    shingled = (shingled if shingled is not None
                else shingled_rows(df, text_col, id_col).distinct())
    sizes = shingled.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    # df-capped shingles: df >= 2 (df-1 shingles cannot pair) and <= max_df
    rare = (shingled.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
            .select("shingle"))
    # sort-merge hints: corpus-scaled sides must never flip to a
    # broadcast on a low LogicalRDD size estimate (see ngram_jaccard_pairs)
    pruned = shingled.join(rare, "shingle", "left_semi")
    a = pruned.select(F.col(id_col).alias("id_a"), F.col("shingle").alias("sh"))
    b = pruned.select(F.col(id_col).alias("id_b"), F.col("shingle").alias("sh"))
    inter = (a.join(b.hint("merge"),
                    (a.sh == b.sh) & (F.col("id_a") < F.col("id_b")))
             .groupBy("id_a", "id_b").agg(F.count("*").alias("n_inter")))
    joined = (
        inter
        .join(sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
              .hint("merge"), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
              .hint("merge"), "id_b")
        .withColumn("containment",
                    F.col("n_inter").cast("double")
                    / F.least("n_a", "n_b").cast("double")))
    return (joined.filter(F.col("containment") >= threshold)
            .select("id_a", "id_b", "containment"))


def dedup_containment_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return containment_pairs(docs, "text", "doc_id", threshold=0.2)


_DEDUP_CONTAINMENT_SQL = f"""
WITH {_SHINGLES_CTE},
dist AS (SELECT DISTINCT doc_id, shingle FROM shingled),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dist GROUP BY doc_id),
rare AS (
  SELECT shingle FROM dist
  GROUP BY shingle HAVING COUNT(*) BETWEEN 2 AND {MAX_SHINGLE_DF}
),
pruned AS (SELECT doc_id, shingle FROM dist SEMI JOIN rare USING (shingle)),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM pruned a JOIN pruned b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
  CAST(n_inter AS DOUBLE) / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) >= 0.2
"""

register(QuerySpec("dedup_containment", dedup_containment_query,
                   _DEDUP_CONTAINMENT_SQL,
                   description="doc-in-doc containment pairs via df-capped "
                               "shingle equi-join (prefix filter)"))


# --- fuzzy (edit-distance) candidate pairs --------------------------------------

def levenshtein_pairs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Edit-distance near-dup pairs over text prefixes, with blocking.

    The O(n^2) pair space is confined to blocks keyed on
    (``source``, length bucket, first-token hash) — the classic
    record-linkage blocking pattern. The first-token hash splits each
    (source, length) cell into 64 sub-blocks, so block
    sizes stay O(corpus / (sources * 4 * 64)) and |block|^2
    work is bounded; raise ``token_blocks`` as the corpus grows. The
    trade-off is recall: a near-dup pair differing in its FIRST token
    lands in different blocks (standard blocking trade-off; multi-pass
    blocking on different keys recovers it). levenshtein() is unit-cost
    edit distance in both Spark and DuckDB, so distances are exactly
    comparable.
    """
    # try_element_at: a 0-token doc has no first token (plain element_at
    # raises under ANSI); NULL coalesces to '' below
    first_tok = F.try_element_at(tokens(F.col(text_col)), F.lit(1))
    pref = df.select(
        F.col(id_col), F.col("source").alias("blk"),
        F.substring(F.col(text_col), 1, 40).alias("p"),
        (F.length(text_col) % 4).alias("lbucket"),
        (md5_long(F.coalesce(first_tok, F.lit(""))) % 64).alias("tblock"))
    a = pref.select(F.col(id_col).alias("id_a"), "blk", "lbucket", "tblock",
                    F.col("p").alias("pa"))
    b = pref.select(F.col(id_col).alias("id_b"), "blk", "lbucket", "tblock",
                    F.col("p").alias("pb"))
    return (a.join(b.hint("merge"), ["blk", "lbucket", "tblock"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.levenshtein("pa", "pb").alias("dist"))
            .filter(F.col("dist") <= 10))


def dedup_levenshtein_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    pairs = levenshtein_pairs(docs, "text", "doc_id")
    return (pairs.groupBy("dist").agg(F.count("*").alias("n_pairs"))
            .orderBy("dist"))


_FIRST_TOK_SQL = (r"coalesce(list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'), "
                  r"x -> x <> '')[1], '')")
_DEDUP_LEV_SQL = f"""
WITH pref AS (
  SELECT doc_id, source AS blk, substr(text, 1, 40) AS p,
         length(text) % 4 AS lbucket,
         {md5_long_sql(_FIRST_TOK_SQL)} % 64 AS tblock
  FROM documents
)
SELECT levenshtein(a.p, b.p) AS dist, COUNT(*) AS n_pairs
FROM pref a JOIN pref b
  ON a.blk = b.blk AND a.lbucket = b.lbucket AND a.tblock = b.tblock
 AND a.doc_id < b.doc_id
WHERE levenshtein(a.p, b.p) <= 10
GROUP BY dist ORDER BY dist
"""


register(QuerySpec("dedup_levenshtein", dedup_levenshtein_query, _DEDUP_LEV_SQL,
                   description="blocked edit-distance fuzzy pairs (record-linkage blocking)"))


# --- cross-document repeated-span detection (exact-substring dedup signal) -----

SPAN_N = 5
SPAN_MIN_DOCS = 2


def repeated_span_stats(docs: DataFrame) -> DataFrame:
    """Per-doc fraction of n-token windows that also occur in >=
    ``SPAN_MIN_DOCS`` DISTINCT documents — the relational form of exact
    substring dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better": duplicated spans, not just duplicated
    documents, degrade models). The suffix-array pass of the paper is
    replaced by a hash-per-window dictionary that shards over a cluster:
    one shingle explode (narrow), one (span_hash, doc) pre-aggregate, a
    distinct-doc count over the hash, one per-doc aggregate. Every
    shuffle carries 8-byte hashes, never text. Docs shorter than n
    tokens have no windows and no row.
    """
    # Scan-once shape (r13): the spans relation was referenced three
    # times (repeated-dictionary aggregate, per-doc totals, semi-join
    # probe) — three corpus scans + shingle passes and two joins. One
    # (h, doc) pre-aggregate, a count-over-h window for the distinct-doc
    # fan-out, and one per-doc aggregate produce identical numbers with
    # 3 Exchanges and no join. The window partitions by the span hash —
    # its fan-out equals the span's doc count (rows, not pairs; spill-
    # safe), the same skew bound the old dictionary join carried.
    from pyspark.sql import Window
    spans = (shingled_rows(docs, "text", "doc_id", n=SPAN_N)
             .select(F.col("doc_id"), md5_long(F.col("shingle")).alias("h")))
    per_h_doc = (spans.groupBy("h", "doc_id")
                 .agg(F.count("*").alias("c")))
    nd = F.count(F.lit(1)).over(Window.partitionBy("h"))
    flagged = per_h_doc.withColumn("_rep", nd >= SPAN_MIN_DOCS)
    return (flagged.groupBy("doc_id")
            .agg(F.sum("c").alias("n_spans"),
                 F.sum(F.when(F.col("_rep"), F.col("c"))
                       .otherwise(F.lit(0).cast("long")))
                 .alias("n_repeated"))
            .select(F.col("doc_id"), "n_spans", "n_repeated",
                    (F.col("n_repeated").cast("double")
                     / F.col("n_spans").cast("double"))
                    .alias("repeated_frac")))


def dedup_repeated_spans_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return repeated_span_stats(docs)


def _repeated_spans_sql() -> str:
    span = " || ' ' || ".join(f"t[i+{k}]" for k in range(SPAN_N))
    h = md5_long_sql(f"({span})")
    return rf"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'), x -> x <> '') AS t
  FROM documents
),
spans AS (
  SELECT doc_id, {h} AS h
  FROM toks, LATERAL (
    SELECT UNNEST(range(1, greatest(len(t) - {SPAN_N - 1}, 0) + 1)) AS i) idx
),
repeated AS (
  SELECT h FROM (
    SELECT h, COUNT(DISTINCT doc_id) AS nd FROM spans GROUP BY h) g
  WHERE nd >= {SPAN_MIN_DOCS}
),
totals AS (SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id),
rep AS (
  SELECT doc_id, COUNT(*) AS n_repeated
  FROM spans WHERE h IN (SELECT h FROM repeated) GROUP BY doc_id
)
SELECT t.doc_id, t.n_spans,
  CAST(COALESCE(r.n_repeated, 0) AS BIGINT) AS n_repeated,
  CAST(COALESCE(r.n_repeated, 0) AS DOUBLE) / CAST(t.n_spans AS DOUBLE)
    AS repeated_frac
FROM totals t LEFT JOIN rep r ON r.doc_id = t.doc_id
"""


register(QuerySpec("dedup_repeated_spans", dedup_repeated_spans_query,
                   _repeated_spans_sql(), headline=True,
                   description=f"cross-document repeated {SPAN_N}-token spans (exact-substring dedup signal), hash-dictionary semi-join"))


def span_scrub(docs: DataFrame) -> DataFrame:
    """Corpus REWRITE form of exact-substring dedup (Lee et al. 2022
    remove duplicated spans from the training text, they don't just
    score them): delete every token position covered by an ``SPAN_N``-token
    window that also occurs in >= ``SPAN_MIN_DOCS`` distinct documents, and
    reassemble what remains.

    Contract: operates on the normalized token stream (lowercased,
    whitespace-split — the same stream every dedup signal reads), so
    ``scrubbed_text`` is normalized text; docs with zero tokens have no
    windows and no row. A fully-covered doc survives with
    ``scrubbed_text = ''`` — the caller decides whether to drop it.

    Scale (mirrors :func:`repeated_span_stats` + the paragraph_dedup
    reassembly class): span hashes ride an 8-byte-keyed aggregate with
    map-side partial combine; coverage explodes each repeated START to
    its ``SPAN_N`` positions — a bounded ×n fan-out on the REPEATED subset
    only, never the corpus; the anti-join and the reassembly aggregate
    are (doc_id, pos)-keyed, so no hot key can concentrate (doc-keyed
    state is bounded by the longest document, same bound as the input
    row). Corpus-scaled relations join sort-merge (`.hint("merge")` —
    the checkpoint-free lineage has no size stats worth trusting).
    """
    toked = docs.select(
        F.col("doc_id"),
        F.filter(F.split(F.lower(F.col("text")), WS_RE),
                 lambda x: x != "").alias("t")) \
        .filter(F.size("t") > 0)
    pos = toked.select(
        F.col("doc_id"), F.posexplode("t").alias("pos", "token"))
    hash5 = lambda t, i: md5_long(  # noqa: E731 — window hash at start i
        F.concat_ws(" ", F.slice(t, i + 1, SPAN_N)))
    spans = (toked.filter(F.size("t") >= SPAN_N)
             .select(F.col("doc_id"),
                     F.posexplode(
                         F.transform(
                             F.sequence(F.lit(0), F.size("t") - SPAN_N),
                             lambda i: hash5(F.col("t"), i)))
                     .alias("start", "h")))
    repeated = (spans.groupBy("h")
                .agg(F.countDistinct("doc_id").alias("nd"))
                .filter(F.col("nd") >= SPAN_MIN_DOCS).select("h"))
    hit_starts = spans.join(repeated.hint("merge"), "h", "left_semi")
    covered = (hit_starts
               .select(F.col("doc_id"),
                       F.explode(F.sequence(
                           F.col("start"),
                           F.col("start") + F.lit(SPAN_N - 1))).alias("pos"))
               .distinct())
    kept = pos.join(covered.hint("merge"), ["doc_id", "pos"], "left_anti")
    kept_agg = (kept.groupBy("doc_id")
                .agg(F.count("*").alias("n_kept"),
                     F.array_join(
                         F.transform(
                             F.array_sort(F.collect_list(
                                 F.struct("pos", "token"))),
                             lambda s: s["token"]), " ")
                     .alias("scrubbed_text")))
    totals = toked.select(F.col("doc_id"),
                          F.size("t").cast("bigint").alias("n_tokens"))
    return (totals.join(kept_agg.hint("merge"), "doc_id", "left")
            .select(F.col("doc_id"), "n_tokens",
                    (F.col("n_tokens")
                     - F.coalesce("n_kept", F.lit(0))).cast("bigint")
                    .alias("n_removed"),
                    F.coalesce("scrubbed_text", F.lit(""))
                    .alias("scrubbed_text")))


def dedup_span_scrub_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return span_scrub(docs)


def _span_scrub_sql() -> str:
    h = md5_long_sql(f"array_to_string(t[s+1:s+{SPAN_N}], ' ')")
    return rf"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'), x -> x <> '') AS t
  FROM documents
), sized AS (
  SELECT doc_id, t, len(t) AS nt FROM toks WHERE len(t) > 0
), pos AS (
  SELECT doc_id, i AS pos, t[i+1] AS token
  FROM sized, LATERAL (SELECT UNNEST(range(0, nt)) AS i) ix
), spans AS (
  SELECT doc_id, s AS start, {h} AS h
  FROM sized, LATERAL (
    SELECT UNNEST(range(0, greatest(nt - {SPAN_N - 1}, 0))) AS s) sx
), repeated AS (
  SELECT h FROM spans GROUP BY h
  HAVING COUNT(DISTINCT doc_id) >= {SPAN_MIN_DOCS}
), covered AS (
  SELECT DISTINCT sp.doc_id, sp.start + k AS pos
  FROM spans sp JOIN repeated r ON r.h = sp.h,
       LATERAL (SELECT UNNEST(range(0, {SPAN_N})) AS k) kx
), kept AS (
  SELECT p.doc_id, p.pos, p.token
  FROM pos p ANTI JOIN covered c
    ON c.doc_id = p.doc_id AND c.pos = p.pos
), kept_agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(token, ' ' ORDER BY pos) AS scrubbed_text
  FROM kept GROUP BY doc_id
)
SELECT s.doc_id, CAST(s.nt AS BIGINT) AS n_tokens,
  CAST(s.nt - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
  coalesce(k.scrubbed_text, '') AS scrubbed_text
FROM sized s LEFT JOIN kept_agg k ON k.doc_id = s.doc_id
"""


register(QuerySpec(
    "dedup_span_scrub", dedup_span_scrub_query, _span_scrub_sql(),
    description=f"exact-substring dedup as a corpus REWRITE: delete "
                f"every token covered by a {SPAN_N}-token window "
                f"repeated across >= {SPAN_MIN_DOCS} docs and "
                "reassemble the surviving text (Lee et al. 2022 "
                "span-removal semantics)"))

# --- multi-signal near-dup clustering -------------------------------------------

def multi_signal_pairs(df: DataFrame, text_col: str, id_col: str, *,
                       containment_threshold: float = 0.2) -> DataFrame:
    """(id_a, id_b, signal) union of near-dup evidence across the three
    pair generators: minhash-LSH-verified Jaccard, simhash hamming, and
    doc-in-doc containment.

    Production dedup merges evidence across signals — each generator has
    a blind spot the others cover (Jaccard misses doc-in-doc, simhash
    misses heavy reordering, containment misses dispersed edits) — so
    clustering should see the union, with provenance preserved per edge.

    One DISTINCT (id, shingle) relation is materialized and shared by
    the minhash-signature, Jaccard-verify, and containment stages
    (min-aggregates and set-intersections are duplicate-insensitive);
    simhash derives its own duplicate-sensitive shingle hashes
    internally. Each generator keeps its own scale cap (LSH/blocks
    ``MAX_BUCKET``, containment ``MAX_SHINGLE_DF``), so the union inherits the
    never-O(n²) guarantee of its parts.
    """
    sh = shingled_rows(df, text_col, id_col).distinct().localCheckpoint()
    sigs = minhash_signatures(df, text_col, id_col, shingled=sh)
    cand = lsh_candidate_pairs(sigs, id_col)
    mh = (ngram_jaccard_pairs(df, text_col, id_col, candidates=cand,
                              threshold=0.2, shingled=sh)
          .select("id_a", "id_b", F.lit("minhash_jaccard").alias("signal")))
    sp = (simhash_pairs(df, text_col, id_col)
          .select("id_a", "id_b", F.lit("simhash").alias("signal")))
    ct = (containment_pairs(df, text_col, id_col,
                            threshold=containment_threshold,
                            shingled=sh)
          .select("id_a", "id_b", F.lit("containment").alias("signal")))
    return mh.unionAll(sp).unionAll(ct)


def multi_signal_clusters(pairs: DataFrame) -> DataFrame:
    """(comp, cluster_size, signals) per near-dup component over a
    multi-signal edge relation (id_a, id_b, signal).

    Components come from ``connected_components_star`` over the DISTINCT
    edge set; ``signals`` is the sorted comma-joined set of signal names
    whose edges fall inside the component — the provenance a reviewer
    needs to see WHY a cluster exists (e.g. a doc-in-doc cluster visible
    only to containment).
    """
    # star variant: multi-signal evidence (containment chains quote->doc
    # ->superset) builds LONG-CHAIN components whose diameter exceeds any
    # fixed propagation budget at corpus scale — the sf1 ladder hit
    # exactly this (>25-round diameter). O(log n) rounds on any shape.
    comps = connected_components_star(
        pairs.select("id_a", "id_b").distinct())
    sizes = comps.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    provenance = (pairs
                  .join(comps.select(F.col("id").alias("id_a"), "comp"), "id_a")
                  .groupBy("comp")
                  .agg(F.array_join(F.array_sort(F.collect_set("signal")), ",")
                       .alias("signals")))
    return sizes.join(provenance, "comp")


def dedup_multi_signal_clusters_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return multi_signal_clusters(multi_signal_pairs(docs, "text", "doc_id"))


_MULTI_SIGNAL_SQL = f"""
WITH RECURSIVE {_SHINGLES_CTE},
dist AS (SELECT DISTINCT doc_id, shingle FROM shingled),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dist GROUP BY doc_id),
{_HASHED_CTE},
sigs AS (
  SELECT doc_id, {_MINHASH_COLS_SQL}
  FROM hashed GROUP BY doc_id
),
banded AS ({_BAND_SELECTS}),
ok AS (
  SELECT band_id, band_hash FROM banded
  GROUP BY band_id, band_hash HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN ok ON ok.band_id = a.band_id AND ok.band_hash = a.band_hash
  JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
j_inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM dist a JOIN dist b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac_pairs AS (
  SELECT id_a, id_b
  FROM j_inter
  JOIN cand USING (id_a, id_b)
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.2
),
sh_hashed AS (SELECT doc_id, {md5_long_sql('shingle')} AS h FROM shingled),
bits AS (SELECT doc_id, {_SIMHASH_BIT_SUMS} FROM sh_hashed GROUP BY doc_id),
fp AS (SELECT doc_id, {_SIMHASH_VALUE} AS simhash FROM bits),
blocks AS ({_SIMHASH_BLOCK_SELECTS}),
blk_ok AS (
  SELECT blk, val FROM blocks
  GROUP BY blk, val HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}
),
kept AS (SELECT doc_id, blk, val FROM blocks SEMI JOIN blk_ok USING (blk, val)),
sh_cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM kept x JOIN kept y
    ON x.blk = y.blk AND x.val = y.val AND x.doc_id < y.doc_id
),
sim_pairs AS (
  SELECT id_a, id_b
  FROM sh_cand
  JOIN fp fa ON fa.doc_id = id_a
  JOIN fp fb ON fb.doc_id = id_b
  WHERE bit_count(xor(fa.simhash, fb.simhash)) <= {SIMHASH_HAM_MAX}
),
rare AS (
  SELECT shingle FROM dist
  GROUP BY shingle HAVING COUNT(*) BETWEEN 2 AND {MAX_SHINGLE_DF}
),
pruned AS (SELECT doc_id, shingle FROM dist SEMI JOIN rare USING (shingle)),
c_inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM pruned a JOIN pruned b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
ct_pairs AS (
  SELECT id_a, id_b
  FROM c_inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) >= 0.2
),
sig_pairs AS (
  SELECT id_a, id_b, 'minhash_jaccard' AS signal FROM jac_pairs
  UNION ALL SELECT id_a, id_b, 'simhash' FROM sim_pairs
  UNION ALL SELECT id_a, id_b, 'containment' FROM ct_pairs
),
edges AS (
  SELECT DISTINCT id_a AS src, id_b AS dst FROM sig_pairs
  UNION SELECT id_b, id_a FROM sig_pairs
),
reach(id, lab) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id, MIN(lab) AS comp FROM reach GROUP BY id),
csize AS (SELECT comp, COUNT(*) AS cluster_size FROM comp GROUP BY comp),
prov AS (
  SELECT c.comp, string_agg(DISTINCT p.signal, ',' ORDER BY p.signal) AS signals
  FROM sig_pairs p JOIN comp c ON c.id = p.id_a
  GROUP BY c.comp
)
SELECT comp, cluster_size, signals
FROM csize JOIN prov USING (comp)
"""

register(QuerySpec("dedup_multi_signal_clusters",
                   dedup_multi_signal_clusters_query, _MULTI_SIGNAL_SQL,
                   description="near-dup components over the union of "
                               "minhash-jaccard, simhash and containment "
                               "evidence, per-cluster signal provenance"))


# --- paragraph-level exact dedup (block dedup with reassembly) ------------------

PARA_BLOCK = 3  # tokens per block; 3 makes the synthetic corpus's blocks
                # actually collide (the RefinedWeb/Dolma paragraph-dedup
                # shape — real corpora split on blank lines instead)


def paragraph_dedup(df: DataFrame,
                    block: int = PARA_BLOCK,
                    split: str = "blocks") -> DataFrame:
    """Remove globally-duplicated paragraphs, keeping first occurrences,
    and reassemble each document from its surviving paragraphs.

    The corpus-level paragraph dedup of RefinedWeb/Dolma: a paragraph
    that appears in many documents (boilerplate, license headers,
    navigation chrome) is kept only at its first occurrence — ordered by
    (doc_id, position) — and dropped everywhere else.

    ``split`` chooses the paragraph boundary: ``"newlines"`` splits on
    blank lines (real web corpora; reassembly joins with "\\n\\n"),
    ``"blocks"`` uses non-overlapping ``block``-token windows (the
    synthetic corpus has no newlines). Winner election and reassembly
    are identical for both.

    Scale: dedup keys are 60-bit md5 hashes of paragraph text, so the
    winner-election shuffle moves (hash, doc_id, idx, text) — text must
    travel anyway for reassembly, and the hash keys the partitioning
    uniformly (no skew from popular paragraphs beyond their own
    occurrence count). Two shuffles total: winner election (window on
    hash, first-occurrence via row_number) and per-document reassembly
    (groupBy doc_id) — each moving ~corpus bytes once, the floor for any
    rewrite-the-corpus operator. 60-bit keys collide at ~2^30 distinct
    paragraphs (birthday); acceptable for dedup (a collision only drops
    one extra paragraph).
    """
    from pyspark.sql import Window
    if block < 1:
        raise ValueError(f"block must be >= 1, got {block}")
    if split not in ("blocks", "newlines"):
        raise ValueError(f"split must be 'blocks' or 'newlines', got {split!r}")
    if split == "newlines":
        # lambda, not bare F.trim: trim's optional 2nd param would make
        # transform bind the array INDEX to it (the SKILL.md lambda trap)
        paras = F.filter(
            F.transform(F.split(F.col("text"), r"\n[ \t\r]*\n"),
                        lambda x: F.trim(x)),
            lambda x: x != "")
        blocks = df.select(
            F.col("doc_id"),
            F.posexplode(F.coalesce(paras, F.array().cast("array<string>")))
            .alias("block_idx", "para"))
        joiner = "\n\n"
    else:
        toked = df.select(F.col("doc_id"),
                          tokens(F.col("text")).alias("t"))
        n = F.size("t")
        starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(block))) \
            .otherwise(F.array().cast("array<int>"))
        blocks = (toked.select(
            F.col("doc_id"),
            F.posexplode(starts).alias("block_idx", "start"),
            F.col("t"))
            .select(F.col("doc_id"), "block_idx",
                    F.concat_ws(" ", F.slice(F.col("t"), F.col("start") + 1,
                                             block)).alias("para")))
        joiner = " "
    # Single-consumer shape (r13): the winner flag (rn == 1) rides every
    # block row through ONE per-doc aggregate — conditional sums replace
    # the separate per-doc-counts aggregate and the left join, and with
    # one consumer the checkpoint (an eager extra job pinning corpus
    # bytes) goes away. Exactly the documented two-shuffle floor:
    # winner election (window on ph), reassembly (groupBy doc).
    # collect_list skips the NULLs the unmatched `when` produces, so
    # losers never enter the reassembly array; concat_ws over an empty
    # array is '' — identical to the old coalesce for all-dropped docs.
    hashed = blocks.withColumn("ph", md5_long(F.col("para")))
    w = Window.partitionBy("ph").orderBy(F.col("doc_id"), F.col("block_idx"))
    flagged = hashed.withColumn(
        "_win", F.row_number().over(w) == 1)
    return (flagged.groupBy("doc_id")
            .agg(F.count("*").alias("n_paras"),
                 F.sum(F.when(F.col("_win"), F.lit(1).cast("bigint"))
                       .otherwise(F.lit(0).cast("bigint"))).alias("n_kept"),
                 F.concat_ws(joiner, F.transform(
                     F.array_sort(F.collect_list(
                         F.when(F.col("_win"),
                                F.struct("block_idx", "para")))),
                     lambda s: s["para"])).alias("dedup_text"))
            .select(F.col("doc_id"),
                    F.col("n_paras").cast("bigint").alias("n_paras"),
                    F.col("n_kept").cast("bigint").alias("n_kept"),
                    F.col("dedup_text")))


def dedup_paragraph_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return paragraph_dedup(docs)


_DEDUP_PARA_SQL = rf"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'), x -> x <> '') AS t
  FROM documents
), blocks AS (
  SELECT doc_id, CAST(s / {PARA_BLOCK} AS INT) AS block_idx,
    array_to_string(t[s + 1 : s + {PARA_BLOCK}], ' ') AS para
  FROM toks, LATERAL (SELECT UNNEST(range(0, len(t), {PARA_BLOCK})) AS s) z
  WHERE len(t) > 0
), hashed AS (
  SELECT doc_id, block_idx, para, {md5_long_sql('para')} AS ph FROM blocks
), kept AS (
  SELECT doc_id, block_idx, para FROM hashed
  QUALIFY ROW_NUMBER() OVER (PARTITION BY ph ORDER BY doc_id, block_idx) = 1
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_paras FROM hashed GROUP BY doc_id
), kept_agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
    string_agg(para, ' ' ORDER BY block_idx) AS dedup_text
  FROM kept GROUP BY doc_id
)
SELECT p.doc_id, CAST(p.n_paras AS BIGINT) AS n_paras,
  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
  coalesce(k.dedup_text, '') AS dedup_text
FROM per_doc p LEFT JOIN kept_agg k USING (doc_id)
"""

register(QuerySpec(
    "dedup_paragraph", dedup_paragraph_query, _DEDUP_PARA_SQL,
    headline=True,
    description=f"paragraph-level exact dedup ({PARA_BLOCK}-token blocks): "
                "first occurrence wins globally, documents reassembled "
                "from surviving paragraphs"))


# --- corpus-frequency boilerplate strip (CCNet-style line removal) ---------------

BOILER_MIN_DOCS = 3  # a block in >= this many DISTINCT docs is chrome


def boilerplate_strip(df: DataFrame,
                      block: int = PARA_BLOCK,
                      min_docs: int = BOILER_MIN_DOCS) -> DataFrame:
    """Remove corpus-frequent blocks from EVERY document — the
    CCNet/RefinedWeb boilerplate pass, and deliberately NOT
    :func:`paragraph_dedup`: paragraph dedup keeps the FIRST occurrence
    of a duplicated block (dedup semantics), while boilerplate strip
    removes ALL occurrences once a block appears in ``min_docs``
    distinct documents (navigation chrome, cookie banners, license
    headers carry no training signal even once — frequency across
    documents is the evidence, so the first copy is as worthless as the
    last).

    Spark shape: one tokenize/explode pass produces the hashed block
    relation (checkpointed — it feeds the frequency count, the strip
    join, and the per-doc totals); block frequency is an exact
    ``countDistinct(doc_id)`` grouped on the 60-bit hash; the strip is a
    LEFT ANTI join of blocks against the over-threshold hash set; and
    documents reassemble with the same array_sort/collect_list idiom as
    paragraph dedup. No windows at all — the whole operator is groupBys
    and one anti join, every shuffle keyed on the uniform md5 hash (no
    skew beyond a popular block's own occurrence count, and those rows
    are exactly the ones the anti join deletes).

    Scale: the over-threshold hash set is tiny in real corpora
    (boilerplate is frequent but not diverse) — at cluster scale Spark's
    AQE converts the anti join to broadcast when the build side fits;
    the plan stays correct either way.

    Output contract (asymmetric by design, identical on both engines):
    a document whose text tokenizes to ZERO tokens produces no block
    rows at all (posexplode of an empty starts array) and is DROPPED
    from the output entirely, while a document whose every block is
    boilerplate survives with ``clean_text = ''`` and ``n_kept = 0`` —
    the anti join removes its blocks but the per-doc totals row still
    exists (``n_removed = n_blocks``). Callers that need empty docs
    represented should left-join this result back to the input on
    ``doc_id``.
    """
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    toked = df.select(F.col("doc_id"), tokens(F.col("text")).alias("t"))
    n = F.size("t")
    starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(block))) \
        .otherwise(F.array().cast("array<int>"))
    blocks = (toked.select(
        F.col("doc_id"),
        F.posexplode(starts).alias("block_idx", "start"),
        F.col("t"))
        .select(F.col("doc_id"), "block_idx",
                F.concat_ws(" ", F.slice(F.col("t"), F.col("start") + 1,
                                         block)).alias("para")))
    hashed = blocks.withColumn("ph", md5_long(F.col("para"))).localCheckpoint()
    boiler = (hashed.groupBy("ph")
              .agg(F.countDistinct("doc_id").alias("n_docs"))
              .filter(F.col("n_docs") >= min_docs)
              .select("ph"))
    kept = hashed.join(boiler, "ph", "left_anti")
    per_doc = hashed.groupBy("doc_id").agg(F.count("*").alias("n_blocks"))
    kept_agg = (kept.groupBy("doc_id")
                .agg(F.count("*").alias("n_kept"),
                     F.concat_ws(" ", F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("block_idx", "para"))),
                         lambda s: s["para"])).alias("clean_text")))
    return (per_doc.join(kept_agg, "doc_id", "left")
            .select(F.col("doc_id"),
                    F.col("n_blocks").cast("bigint").alias("n_blocks"),
                    (F.col("n_blocks") - F.coalesce(F.col("n_kept"),
                                                    F.lit(0)))
                    .cast("bigint").alias("n_removed"),
                    F.coalesce(F.col("clean_text"), F.lit(""))
                    .alias("clean_text")))


def dedup_boilerplate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return boilerplate_strip(docs)


_DEDUP_BOILER_SQL = rf"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'), x -> x <> '') AS t
  FROM documents
), blocks AS (
  SELECT doc_id, CAST(s / {PARA_BLOCK} AS INT) AS block_idx,
    array_to_string(t[s + 1 : s + {PARA_BLOCK}], ' ') AS para
  FROM toks, LATERAL (SELECT UNNEST(range(0, len(t), {PARA_BLOCK})) AS s) z
  WHERE len(t) > 0
), hashed AS (
  SELECT doc_id, block_idx, para, {md5_long_sql('para')} AS ph FROM blocks
), boiler AS (
  SELECT ph FROM hashed GROUP BY ph
  HAVING COUNT(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
), kept AS (
  SELECT doc_id, block_idx, para FROM hashed
  WHERE ph NOT IN (SELECT ph FROM boiler)
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_blocks FROM hashed GROUP BY doc_id
), kept_agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
    string_agg(para, ' ' ORDER BY block_idx) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT p.doc_id, CAST(p.n_blocks AS BIGINT) AS n_blocks,
  CAST(p.n_blocks - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
  coalesce(k.clean_text, '') AS clean_text
FROM per_doc p LEFT JOIN kept_agg k USING (doc_id)
"""

register(QuerySpec(
    "dedup_boilerplate_strip", dedup_boilerplate_query, _DEDUP_BOILER_SQL,
    description=f"corpus-frequency boilerplate strip: blocks in >= "
                f"{BOILER_MIN_DOCS} distinct docs removed EVERYWHERE "
                "(not keep-first), window-free anti-join shape"))


# --- cross-corpus dedup (new snapshot vs reference corpus) ----------------------

def cross_corpus_matches(new_df: DataFrame, ref_df: DataFrame,
                         max_bucket: int = MAX_BUCKET) -> DataFrame:
    """Flag documents in ``new_df`` that are LSH near-dup candidates of
    any document in ``ref_df`` — the incremental-crawl dedup pass (drop
    what the previous snapshot already contains) as a BATCH two-corpus
    operator (the streaming twin is streaming/neardup.py's index).

    Both sides are minhash-banded; a band-bucket equi-join produces
    (new, ref) hits; output is one row per matched new doc with the
    distinct-ref-match count and the smallest matching ref id. Reference
    band-buckets larger than ``max_bucket`` are dropped (boilerplate
    mega-buckets — same cap and rationale as ``lsh_candidate_pairs``).

    Scale: shuffle ∝ the banded relations (n_bands rows/doc), join
    keyed on the uniform 60-bit band hash; neither corpus is broadcast.
    The ref side can be a pre-materialized parquet of signatures —
    banding is deterministic, so snapshots dedup against an index built
    once, not recomputed per crawl.
    """
    b_new = _banded(minhash_signatures(new_df, "text", "doc_id"), "doc_id") \
        .withColumnRenamed("doc_id", "new_id")
    # checkpoint: the ref banding feeds BOTH the bucket-size cap and the
    # hits join — without it the ref signature pipeline runs twice.
    # Checkpointed relations lose size estimates, so the corpus-scaled
    # hits join carries an explicit merge hint (broadcast-OOM lesson).
    b_ref = _banded(minhash_signatures(ref_df, "text", "doc_id"), "doc_id") \
        .withColumnRenamed("doc_id", "ref_id").localCheckpoint()
    ok = (b_ref.groupBy("band_id", "band_hash")
          .agg(F.count("*").alias("nb"))
          .filter(F.col("nb") <= max_bucket)
          .select("band_id", "band_hash"))
    hits = (b_new.join(ok, ["band_id", "band_hash"], "left_semi")
            .join(b_ref.hint("merge"), ["band_id", "band_hash"])
            .select("new_id", "ref_id"))
    return (hits.groupBy("new_id")
            .agg(F.countDistinct("ref_id").alias("n_ref_matches"),
                 F.min("ref_id").alias("first_ref_id")))


def dedup_cross_corpus_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Splits the corpus into a deterministic ref/new halves by source
    hash (total on ANY source value — no string parsing) and flags new
    docs already covered by the reference half."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    is_ref = md5_long(F.col("source"), seed="xsplit:") % 2 == 0
    return cross_corpus_matches(docs.filter(~is_ref), docs.filter(is_ref))


_XSPLIT_SQL = f"({md5_long_sql('source', seed='xsplit:')}) % 2 = 0"

_DEDUP_XCORPUS_SQL = f"""
WITH {_SHINGLES_CTE},
{_HASHED_CTE},
sigs AS (
  SELECT doc_id, {_MINHASH_COLS_SQL}
  FROM hashed GROUP BY doc_id
),
banded AS ({_BAND_SELECTS}),
sides AS (SELECT doc_id, {_XSPLIT_SQL} AS is_ref FROM documents),
bref AS (
  SELECT b.doc_id AS ref_id, b.band_id, b.band_hash
  FROM banded b JOIN sides s USING (doc_id) WHERE s.is_ref),
bnew AS (
  SELECT b.doc_id AS new_id, b.band_id, b.band_hash
  FROM banded b JOIN sides s USING (doc_id) WHERE NOT s.is_ref),
ok AS (
  SELECT band_id, band_hash FROM bref
  GROUP BY band_id, band_hash HAVING COUNT(*) <= {MAX_BUCKET}),
hits AS (
  SELECT n.new_id, r.ref_id
  FROM bnew n
  JOIN ok USING (band_id, band_hash)
  JOIN bref r ON r.band_id = n.band_id AND r.band_hash = n.band_hash)
SELECT new_id, COUNT(DISTINCT ref_id) AS n_ref_matches,
  MIN(ref_id) AS first_ref_id
FROM hits GROUP BY new_id
"""

register(QuerySpec(
    "dedup_cross_corpus", dedup_cross_corpus_query, _DEDUP_XCORPUS_SQL,
    description="incremental-crawl dedup: new corpus vs reference "
                "snapshot via minhash band-bucket equi-join, capped ref "
                "buckets, per-doc match count"))


# --- benchmark decontamination (eval-set n-gram overlap) ------------------------

DECON_NGRAM = 5  # n-gram order; GPT-3 used 13-grams on web-scale docs


def decontaminate(docs: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Per-document benchmark-contamination report: which training
    documents contain any ``DECON_NGRAM``-gram that also appears in the eval/
    benchmark set (Brown et al. 2020 §C / PaLM-style decontamination —
    the pass every serious pretraining pipeline runs before training so
    eval numbers aren't memorization).

    Returns one row per training doc: (id, n_gram_hits = distinct
    overlapping n-grams, n_eval_docs = distinct eval documents sharing
    at least one n-gram, contaminated). Clean docs report zeros — the
    report covers the corpus, not just the offenders, so downstream
    filtering is a plain ``filter(~contaminated)``.

    Scale: both sides explode to DISTINCT (id, gram); the overlap is an
    equi-join keyed on the gram — eval sets are small (benchmarks are
    MBs against a 100 TB corpus), so the distinct eval-gram relation is
    BROADCAST and the corpus never shuffles at all: scan → explode →
    broadcast-hash-join → partial agg. The final per-doc aggregate is
    the only shuffle, keyed on the uniform doc id.
    """
    dg = shingled_rows(docs, "text", "doc_id", n=DECON_NGRAM).distinct()
    eg = (shingled_rows(eval_docs, "text", "doc_id", n=DECON_NGRAM)
          .select(F.col("shingle"),
                  F.col("doc_id").alias("eval_id")).distinct())
    hits = (dg.join(F.broadcast(eg), "shingle")
            .groupBy("doc_id")
            .agg(F.countDistinct("shingle").alias("n_gram_hits"),
                 F.countDistinct("eval_id").alias("n_eval_docs")))
    return (docs.select("doc_id")
            .join(hits, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("n_gram_hits"), F.lit(0)).cast("bigint")
                .alias("n_gram_hits"),
                F.coalesce(F.col("n_eval_docs"), F.lit(0)).cast("bigint")
                .alias("n_eval_docs"),
                (F.coalesce(F.col("n_gram_hits"), F.lit(0)) > 0)
                .alias("contaminated")))


def contaminated_doc_ids(docs: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Distinct ids of training docs sharing ANY ``DECON_NGRAM``-gram with the
    eval set — :func:`decontaminate`'s filter-side companion for
    pipelines that only need the drop list, not the per-doc report.

    Same 100 TB shape (broadcast eval-gram semi-join: the corpus never
    shuffles on the gram), minus the per-doc countDistinct aggregates
    and the report's corpus-wide left join; the only shuffle is the
    distinct on the contaminated id subset, which is at most the
    offending docs, not the corpus.
    """
    dg = shingled_rows(docs, "text", "doc_id", n=DECON_NGRAM)
    eg = (shingled_rows(eval_docs, "text", "doc_id", n=DECON_NGRAM)
          .select("shingle").distinct())
    return (dg.join(F.broadcast(eg), "shingle", "left_semi")
            .select("doc_id").distinct())


def dedup_decontaminate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic eval split: docs with md5(doc_id) % 41 == 0 play
    the benchmark set; the report covers the remaining corpus."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    is_eval = md5_long(F.col("doc_id").cast("string"), seed="decon:") % 41 == 0
    return decontaminate(docs.filter(~is_eval), docs.filter(is_eval))


_DECON_SPLIT_SQL = (
    f"({md5_long_sql('CAST(doc_id AS VARCHAR)', seed='decon:')}) % 41 = 0")

_DECON_SHINGLES_CTE = r"""
toks5 AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS gram
  FROM toks5, LATERAL (SELECT UNNEST(range(1, greatest(len(t) - 4, 0) + 1)) AS i) idx
)
"""

_DEDUP_DECON_SQL = f"""
WITH {_DECON_SHINGLES_CTE},
sides AS (SELECT doc_id, {_DECON_SPLIT_SQL} AS is_eval FROM documents),
dg AS (
  SELECT DISTINCT g.doc_id, g.gram FROM grams g
  JOIN sides s USING (doc_id) WHERE NOT s.is_eval),
eg AS (
  SELECT DISTINCT g.doc_id AS eval_id, g.gram FROM grams g
  JOIN sides s USING (doc_id) WHERE s.is_eval),
hits AS (
  SELECT dg.doc_id, COUNT(DISTINCT dg.gram) AS n_gram_hits,
    COUNT(DISTINCT eg.eval_id) AS n_eval_docs
  FROM dg JOIN eg ON eg.gram = dg.gram
  GROUP BY dg.doc_id)
SELECT d.doc_id,
  CAST(coalesce(h.n_gram_hits, 0) AS BIGINT) AS n_gram_hits,
  CAST(coalesce(h.n_eval_docs, 0) AS BIGINT) AS n_eval_docs,
  coalesce(h.n_gram_hits, 0) > 0 AS contaminated
FROM sides d LEFT JOIN hits h USING (doc_id)
WHERE NOT d.is_eval
"""

register(QuerySpec(
    "dedup_decontaminate", dedup_decontaminate_query, _DEDUP_DECON_SQL,
    description="benchmark decontamination: per-doc eval-set 5-gram "
                "overlap (GPT-3 §C style) via broadcast eval-gram join — "
                "the corpus never shuffles"))


# --- all-signal clusters: text evidence ∪ embedding evidence --------------------

def dedup_all_signal_clusters_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup components over FOUR evidence channels: the three text
    signals (minhash-jaccard, simhash, containment) plus cluster-scoped
    embedding cosine (SemDeDup pairs) — treating row i of ``embeddings``
    as the embedding of document i, the production shape where lexical
    and semantic dedup evidence merge into one entity graph. Everything
    reuses the single-signal operators (one code path per signal); the
    union is just another edge relation for ``multi_signal_clusters``.
    """
    from downscaledclimatedata_spark.operators.similarity import (
        scaled_codebook_two_level, semantic_pairs)
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    text_pairs = multi_signal_pairs(docs, "text", "doc_id")
    # N^(2/3) codebook + two-level assignment exactly as dedup_semantic:
    # with the FIXED default the embedding cell self-join is quadratic —
    # the sf1 ladder measured this query at 9.32× on 10× data before
    # the codebook scaled (the text side alone is 2.3×); scaled ==
    # static flat at the sf0.01 oracle scale, so the fixed SQL string
    # stays the oracle
    mod, k, s = scaled_codebook_two_level(emb.count())
    epairs = (semantic_pairs(emb, centroid_mod=mod, n_centroids=k,
                             n_super=s)
              .select("id_a", "id_b", F.lit("embedding").alias("signal")))
    return multi_signal_clusters(text_pairs.unionByName(epairs))


def _all_signal_sql() -> str:
    from downscaledclimatedata_spark.operators.similarity import (
        DIM, SEM_TAU, _coarse_sql_prefix)
    emb_ctes = _coarse_sql_prefix(carry_n2=True, assigned="search") \
        .replace("\nWITH ", "", 1) + f""", emb_pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assigned a JOIN assigned b
    ON b.cid = a.cid AND a.vec_id < b.vec_id
  WHERE CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
      / (sqrt(a.n2) * sqrt(b.n2)) >= {SEM_TAU}
),
"""
    sql = _MULTI_SIGNAL_SQL.replace("sig_pairs AS (", emb_ctes + "sig_pairs AS (")
    return sql.replace(
        "UNION ALL SELECT id_a, id_b, 'containment' FROM ct_pairs",
        "UNION ALL SELECT id_a, id_b, 'containment' FROM ct_pairs\n"
        "  UNION ALL SELECT id_a, id_b, 'embedding' FROM emb_pairs")


register(QuerySpec("dedup_all_signal_clusters",
                   dedup_all_signal_clusters_query, _all_signal_sql(),
                   description="near-dup components over text evidence "
                               "(minhash-jaccard, simhash, containment) "
                               "UNION embedding evidence (cluster-scoped "
                               "cosine) — one entity graph, per-cluster "
                               "signal provenance"))


# --- dedup application: the pruned corpus ---------------------------------------

def prune_corpus(df: DataFrame, pairs: DataFrame, _info: dict | None = None
                 ) -> DataFrame:
    """Apply a near-dup pair relation to the corpus: keep the min-id
    representative of every connected component plus every unpaired doc
    — the step that turns dedup ANALYSIS into the corpus a pipeline
    actually trains on. Returns the surviving rows of ``df``.

    Scale: components over the (small) pair relation, then one
    left_anti join of the corpus against the removed-id set (ids whose
    component label differs from their own id). The corpus itself never
    enters the iterative component build.

    Driver tier (r14): when the pair graph fits ``CC_DRIVER_MAX_EDGES``
    the component labels are already driver-resident, so the removed-id
    set is inlined as ONE parsed ``NOT IN`` predicate — the prune folds
    into the consumer's scan with no join, no local-relation
    materialization job, and no corpus shuffle. Semantics are the anti
    join's exactly (a NULL id matches nothing and is kept, hence the
    IS NULL arm). Above the tier, or for non-integral/huge id sets, the
    relation anti-join runs unchanged.

    ``_info`` (internal): when given, ``_info["folded"]`` is set True
    iff the returned plan is a pure filter over ``df`` (no join, no
    driver-relation dependency) — a caller that would otherwise
    checkpoint the result for multiple consumers can skip the
    materialization, since re-running an InSet filter over its already-
    checkpointed input is free.
    """
    if _info is not None:
        _info["folded"] = False
    labels, edges = _component_labels(pairs)
    if labels is not None:
        removed_ids = sorted(i for i, c in labels.items() if i != c)
        if not removed_ids:
            if _info is not None:
                _info["folded"] = True
            return df
        if (len(removed_ids) <= PRUNE_ISIN_MAX_IDS
                and _integral_node_type(edges.schema[0].dataType)):
            if _info is not None:
                _info["folded"] = True
            in_list = ",".join(str(i) for i in removed_ids)
            return df.filter(F.expr(
                f"`doc_id` IS NULL OR `doc_id` NOT IN ({in_list})"))
        comps = _labels_relation(df.sparkSession, labels,
                                 edges.schema[0].dataType)
    else:
        comps = _star_from_edges(edges)
    removed = comps.filter(F.col("id") != F.col("comp")) \
        .select(F.col("id").alias("doc_id"))
    return df.join(removed, "doc_id", "left_anti")


def dedup_prune_corpus_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor summary after collapsing minhash-LSH components: the
    before/after doc and token mass a dedup run reports."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    sigs = minhash_signatures(docs, "text", "doc_id")
    survivors = prune_corpus(docs, lsh_candidate_pairs(sigs, "doc_id"))
    toks = F.filter(F.split(F.lower(F.col("text")), WS_RE), lambda x: x != "")
    return survivors.agg(
        F.count("*").alias("n_survivors"),
        F.sum(F.coalesce(F.size(toks).cast("bigint"), F.lit(0)))
        .alias("surviving_tokens"),
        F.min("doc_id").alias("min_id"), F.max("doc_id").alias("max_id"))


_DEDUP_PRUNE_SQL = f"""
WITH RECURSIVE {_SHINGLES_CTE},
{_HASHED_CTE},
sigs AS (
  SELECT doc_id, {_MINHASH_COLS_SQL}
  FROM hashed GROUP BY doc_id
),
banded AS ({_BAND_SELECTS}),
ok AS (
  SELECT band_id, band_hash FROM banded
  GROUP BY band_id, band_hash HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN ok ON ok.band_id = a.band_id AND ok.band_hash = a.band_hash
  JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, lab) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id, MIN(lab) AS comp FROM reach GROUP BY id),
removed AS (SELECT id AS doc_id FROM comp WHERE id <> comp),
survivors AS (
  SELECT d.* FROM documents d ANTI JOIN removed r ON r.doc_id = d.doc_id
)
SELECT COUNT(*) AS n_survivors,
  CAST(SUM(coalesce(len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f\\x0B]+'), x -> x <> '')), 0)) AS BIGINT) AS surviving_tokens,
  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM survivors
"""

register(QuerySpec("dedup_prune_corpus", dedup_prune_corpus_query,
                   _DEDUP_PRUNE_SQL,
                   description="apply near-dup components to the corpus: "
                               "keep min-id representatives + unpaired "
                               "docs; survivor doc/token summary"))


# --- LSH quality evaluation (precision/recall vs exact ground truth) ------------

EVAL_JACCARD_T = 0.2


def lsh_eval(df: DataFrame) -> DataFrame:
    """Candidate-generation quality report: LSH candidate pairs scored
    against the EXACT jaccard-≥-threshold ground truth, in-engine.

    Production dedup tunes (bands, rows, threshold) against measured
    precision/recall; this operator computes both without leaving the
    engine. Ground truth enumerates every pair sharing ≥1 shingle (the
    uncapped shingle self-join — work ∝ Σ df² by necessity: exact truth
    is what's being bought; run at sampled scale, which is how recall
    is estimated on real corpora too). One full-outer alignment of the
    two pair relations then a single-row count/ratio summary; ratios
    divide exact counts.
    """
    sh = shingled_rows(df, "text", "doc_id").distinct().localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (a.join(b.hint("merge"), "shingle")
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b").agg(F.count("*").alias("n_inter")))
    truth = (inter
             .join(sizes.select(F.col("doc_id").alias("id_a"),
                                F.col("n_sh").alias("na")), "id_a")
             .join(sizes.select(F.col("doc_id").alias("id_b"),
                                F.col("n_sh").alias("nb")), "id_b")
             .filter(F.col("n_inter").cast("double")
                     / (F.col("na") + F.col("nb")
                        - F.col("n_inter")).cast("double")
                     >= EVAL_JACCARD_T)
             .select("id_a", "id_b", F.lit(1).alias("in_truth")))
    cand = (lsh_candidate_pairs(minhash_signatures(df, "text", "doc_id"),
                                "doc_id")
            .select("id_a", "id_b", F.lit(1).alias("in_cand")))
    aligned = truth.join(cand, ["id_a", "id_b"], "full_outer")
    counts = aligned.agg(
        F.sum(F.coalesce(F.col("in_truth"), F.lit(0))).alias("n_truth"),
        F.sum(F.coalesce(F.col("in_cand"), F.lit(0))).alias("n_candidates"),
        F.sum((F.col("in_truth").isNotNull()
               & F.col("in_cand").isNotNull()).cast("bigint")).alias("tp"))
    # coalesce: SUM over the empty aligned relation (no pairs at all)
    # is NULL in both engines; the report should read 0
    return counts.select(
        F.coalesce(F.col("n_truth"), F.lit(0)).cast("bigint")
        .alias("n_truth"),
        F.coalesce(F.col("n_candidates"), F.lit(0)).cast("bigint")
        .alias("n_candidates"),
        F.coalesce(F.col("tp"), F.lit(0)).cast("bigint").alias("tp"),
        F.when(F.col("n_candidates") > 0,
               F.col("tp").cast("double")
               / F.col("n_candidates").cast("double"))
        .otherwise(F.lit(1.0)).alias("precision"),
        F.when(F.col("n_truth") > 0,
               F.col("tp").cast("double") / F.col("n_truth").cast("double"))
        .otherwise(F.lit(1.0)).alias("recall"))


def dedup_lsh_eval_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return lsh_eval(docs)


_DEDUP_LSH_EVAL_SQL = f"""
WITH {_SHINGLES_CTE},
dist AS (SELECT DISTINCT doc_id, shingle FROM shingled),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dist GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM dist a JOIN dist b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT id_a, id_b, 1 AS in_truth
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE)
        / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= {EVAL_JACCARD_T}
),
{_HASHED_CTE},
sigs AS (
  SELECT doc_id, {_MINHASH_COLS_SQL}
  FROM hashed GROUP BY doc_id
),
banded AS ({_BAND_SELECTS}),
ok AS (
  SELECT band_id, band_hash FROM banded
  GROUP BY band_id, band_hash HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, 1 AS in_cand
  FROM banded a
  JOIN ok ON ok.band_id = a.band_id AND ok.band_hash = a.band_hash
  JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
aligned AS (
  SELECT coalesce(t.in_truth, 0) AS in_truth, coalesce(c.in_cand, 0) AS in_cand
  FROM truth t FULL OUTER JOIN cand c
    ON c.id_a = t.id_a AND c.id_b = t.id_b
),
counts AS (
  SELECT CAST(coalesce(SUM(in_truth), 0) AS BIGINT) AS n_truth,
    CAST(coalesce(SUM(in_cand), 0) AS BIGINT) AS n_candidates,
    CAST(coalesce(SUM(in_truth * in_cand), 0) AS BIGINT) AS tp
  FROM aligned
)
SELECT n_truth, n_candidates, tp,
  CASE WHEN n_candidates > 0
       THEN CAST(tp AS DOUBLE) / CAST(n_candidates AS DOUBLE)
       ELSE 1.0 END AS precision,
  CASE WHEN n_truth > 0
       THEN CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE)
       ELSE 1.0 END AS recall
FROM counts
"""

register(QuerySpec(
    "dedup_lsh_eval", dedup_lsh_eval_query, _DEDUP_LSH_EVAL_SQL,
    description="LSH candidate quality vs EXACT jaccard ground truth: "
                "precision/recall computed in-engine — the tuning "
                "harness for (bands, rows, threshold)"))


def signal_eval(df: DataFrame) -> DataFrame:
    """Every candidate generator scored against ONE exact Jaccard
    ground truth: one (signal, n_truth, n_candidates, tp, precision,
    recall) row per generator — minhash-LSH raw candidates, the
    Jaccard-verified pairs, simhash hamming pairs, and doc-in-doc
    containment pairs.

    The engine ships four text near-dup signals; tuning them against
    each other needs their precision/recall published side by side
    against the SAME truth relation, computed in one pass (the exact
    all-pairs intersection is built once and shared by truth,
    verification, and containment — the expensive part is bought once).
    A generator's low precision here is not a defect but a PROFILE:
    containment deliberately fires on quote-in-doc pairs whose
    symmetric Jaccard is far below ``EVAL_JACCARD_T`` (that blind-spot
    coverage is why the multi-signal union exists), and
    ``jaccard_verified`` is exact verification at the truth threshold,
    so its precision is 1.0 by construction — pinned in unit tests.

    Scale: shingle relation localCheckpointed and shared four ways;
    LSH candidates localCheckpointed (reused by verification and the
    union); ground truth is the uncapped shingle self-join, inherently
    Σ df² — run at sampled scale, as recall estimation always is.
    """
    sh = shingled_rows(df, "text", "doc_id").distinct().localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (a.join(b.hint("merge"), "shingle")
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b").agg(F.count("*").alias("n_inter")))
    truth = (inter
             .join(sizes.select(F.col("doc_id").alias("id_a"),
                                F.col("n_sh").alias("na")), "id_a")
             .join(sizes.select(F.col("doc_id").alias("id_b"),
                                F.col("n_sh").alias("nb")), "id_b")
             .filter(F.col("n_inter").cast("double")
                     / (F.col("na") + F.col("nb")
                        - F.col("n_inter")).cast("double")
                     >= EVAL_JACCARD_T)
             .select("id_a", "id_b")).localCheckpoint()
    cand = lsh_candidate_pairs(
        minhash_signatures(df, "text", "doc_id", shingled=sh),
        "doc_id").localCheckpoint()
    gens = [
        ("minhash_lsh", cand),
        ("jaccard_verified",
         ngram_jaccard_pairs(df, "text", "doc_id", candidates=cand,
                             threshold=EVAL_JACCARD_T, shingled=sh)),
        ("simhash", simhash_pairs(df, "text", "doc_id")),
        ("containment",
         containment_pairs(df, "text", "doc_id",
                           threshold=0.2, shingled=sh)),
    ]
    union = None
    for name, pairs in gens:
        tagged = pairs.select(F.lit(name).alias("signal"), "id_a", "id_b")
        union = tagged if union is None else union.unionAll(tagged)
    per = (union
           .join(truth.withColumn("in_truth", F.lit(1)),
                 ["id_a", "id_b"], "left")
           .groupBy("signal")
           .agg(F.count(F.lit(1)).alias("n_candidates"),
                F.sum(F.coalesce(F.col("in_truth"), F.lit(0))).alias("tp")))
    spark = df.sparkSession
    names = literal_rows(spark, [(n,) for n, _ in gens], "signal string")
    tot = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    return (names
            .crossJoin(F.broadcast(tot))
            .join(F.broadcast(per), "signal", "left")
            .select(
                "signal",
                F.col("n_truth").cast("bigint").alias("n_truth"),
                F.coalesce(F.col("n_candidates"), F.lit(0)).cast("bigint")
                .alias("n_candidates"),
                F.coalesce(F.col("tp"), F.lit(0)).cast("bigint").alias("tp"),
                F.when(F.coalesce(F.col("n_candidates"), F.lit(0)) > 0,
                       F.col("tp").cast("double")
                       / F.col("n_candidates").cast("double"))
                .otherwise(F.lit(1.0)).alias("precision"),
                F.when(F.col("n_truth") > 0,
                       F.coalesce(F.col("tp"), F.lit(0)).cast("double")
                       / F.col("n_truth").cast("double"))
                .otherwise(F.lit(1.0)).alias("recall"))
            .orderBy("signal"))


def dedup_signal_eval_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return signal_eval(docs)


_DEDUP_SIGNAL_EVAL_SQL = f"""
WITH {_SHINGLES_CTE},
dist AS (SELECT DISTINCT doc_id, shingle FROM shingled),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dist GROUP BY doc_id),
interx AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM dist a JOIN dist b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truthp AS (
  SELECT id_a, id_b
  FROM interx
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE)
        / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= {EVAL_JACCARD_T}
),
{_HASHED_CTE},
sigs AS (
  SELECT doc_id, {_MINHASH_COLS_SQL}
  FROM hashed GROUP BY doc_id
),
banded AS ({_BAND_SELECTS}),
bok AS (
  SELECT band_id, band_hash FROM banded
  GROUP BY band_id, band_hash HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN bok ON bok.band_id = a.band_id AND bok.band_hash = a.band_hash
  JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.id_a, c.id_b FROM cand c
  JOIN truthp t ON t.id_a = c.id_a AND t.id_b = c.id_b
),
simh AS (SELECT doc_id, {md5_long_sql('shingle')} AS h FROM shingled),
bits AS (SELECT doc_id, {_SIMHASH_BIT_SUMS} FROM simh GROUP BY doc_id),
fp AS (SELECT doc_id, {_SIMHASH_VALUE} AS simhash FROM bits),
blocks AS ({_SIMHASH_BLOCK_SELECTS}),
sok AS (
  SELECT blk, val FROM blocks
  GROUP BY blk, val HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}
),
kept AS (SELECT doc_id, blk, val FROM blocks SEMI JOIN sok USING (blk, val)),
scand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM kept x JOIN kept y
    ON x.blk = y.blk AND x.val = y.val AND x.doc_id < y.doc_id
),
simpairs AS (
  SELECT id_a, id_b FROM scand
  JOIN fp fa ON fa.doc_id = id_a
  JOIN fp fb ON fb.doc_id = id_b
  WHERE bit_count(xor(fa.simhash, fb.simhash)) <= {SIMHASH_HAM_MAX}
),
rare AS (
  SELECT shingle FROM dist
  GROUP BY shingle HAVING COUNT(*) BETWEEN 2 AND {MAX_SHINGLE_DF}
),
pruned AS (SELECT doc_id, shingle FROM dist SEMI JOIN rare USING (shingle)),
cinter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM pruned a JOIN pruned b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
contpairs AS (
  SELECT id_a, id_b
  FROM cinter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE)
        / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) >= 0.2
),
cands AS (
  SELECT 'minhash_lsh' AS signal, id_a, id_b FROM cand
  UNION ALL SELECT 'jaccard_verified', id_a, id_b FROM verified
  UNION ALL SELECT 'simhash', id_a, id_b FROM simpairs
  UNION ALL SELECT 'containment', id_a, id_b FROM contpairs
),
names(signal) AS (VALUES ('minhash_lsh'), ('jaccard_verified'),
                         ('simhash'), ('containment')),
per AS (
  SELECT signal, COUNT(*) AS n_candidates,
    SUM(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END) AS tp
  FROM cands c LEFT JOIN truthp t
    ON t.id_a = c.id_a AND t.id_b = c.id_b
  GROUP BY signal
),
tot AS (SELECT COUNT(*) AS n_truth FROM truthp)
SELECT n.signal,
  CAST(tot.n_truth AS BIGINT) AS n_truth,
  CAST(coalesce(p.n_candidates, 0) AS BIGINT) AS n_candidates,
  CAST(coalesce(p.tp, 0) AS BIGINT) AS tp,
  CASE WHEN coalesce(p.n_candidates, 0) > 0
       THEN CAST(p.tp AS DOUBLE) / CAST(p.n_candidates AS DOUBLE)
       ELSE 1.0 END AS precision,
  CASE WHEN tot.n_truth > 0
       THEN CAST(coalesce(p.tp, 0) AS DOUBLE) / CAST(tot.n_truth AS DOUBLE)
       ELSE 1.0 END AS recall
FROM names n CROSS JOIN tot
LEFT JOIN per p ON p.signal = n.signal
ORDER BY n.signal
"""

register(QuerySpec(
    "dedup_signal_eval", dedup_signal_eval_query, _DEDUP_SIGNAL_EVAL_SQL,
    description="ALL four candidate generators (minhash-LSH, verified "
                "Jaccard, simhash, containment) scored against one exact "
                "Jaccard ground truth in one pass — per-signal "
                "precision/recall"))


# --- per-source duplication diagnostics -----------------------------------------

def source_dup_report(df: DataFrame) -> DataFrame:
    """Which sources are duplicated, and against whom: per-source doc
    counts, docs involved in any LSH near-dup pair, docs whose partner
    lives in a DIFFERENT source (cross-domain syndication vs in-domain
    templating — different remediation), and the involvement rate.

    The triage report a dedup run ships next to its prune: rates divide
    exact counts; pair endpoints resolve their sources through two
    broadcast-size joins against the (id, source) projection.
    """
    pairs = lsh_candidate_pairs(
        minhash_signatures(df, "text", "doc_id"), "doc_id").localCheckpoint()
    src = df.select(F.col("doc_id"), F.col("source").alias("src"))
    ends = (pairs
            .join(src.select(F.col("doc_id").alias("id_a"),
                             F.col("src").alias("src_a")), "id_a")
            .join(src.select(F.col("doc_id").alias("id_b"),
                             F.col("src").alias("src_b")), "id_b"))
    involved = (ends.select(F.col("id_a").alias("id"),
                            F.col("src_a").alias("src"),
                            (F.col("src_a") != F.col("src_b"))
                            .alias("xdomain"))
                .unionByName(ends.select(F.col("id_b").alias("id"),
                                         F.col("src_b").alias("src"),
                                         (F.col("src_a") != F.col("src_b"))
                                         .alias("xdomain")))
                .groupBy("id", "src")
                .agg(F.max(F.col("xdomain").cast("int")).alias("xd")))
    per_src = (involved.groupBy("src")
               .agg(F.count("*").alias("n_duped"),
                    F.sum("xd").alias("n_xdomain")))
    totals = df.groupBy(F.col("source").alias("src")) \
        .agg(F.count("*").alias("n_docs"))
    return (totals.join(per_src, "src", "left")
            .select(F.col("src").alias("source"),
                    F.col("n_docs").cast("bigint").alias("n_docs"),
                    F.coalesce(F.col("n_duped"), F.lit(0)).cast("bigint")
                    .alias("n_duped"),
                    F.coalesce(F.col("n_xdomain"), F.lit(0)).cast("bigint")
                    .alias("n_xdomain"),
                    (F.coalesce(F.col("n_duped"), F.lit(0)).cast("double")
                     / F.col("n_docs").cast("double")).alias("dup_rate")))


def dedup_source_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return source_dup_report(docs)


_DEDUP_SRC_REPORT_SQL = f"""
WITH {_SHINGLES_CTE},
{_HASHED_CTE},
sigs AS (
  SELECT doc_id, {_MINHASH_COLS_SQL}
  FROM hashed GROUP BY doc_id
),
banded AS ({_BAND_SELECTS}),
ok AS (
  SELECT band_id, band_hash FROM banded
  GROUP BY band_id, band_hash HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN ok ON ok.band_id = a.band_id AND ok.band_hash = a.band_hash
  JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
ends AS (
  SELECT p.id_a, p.id_b, da.source AS src_a, db.source AS src_b
  FROM pairs p
  JOIN documents da ON da.doc_id = p.id_a
  JOIN documents db ON db.doc_id = p.id_b
),
involved AS (
  SELECT id, src, MAX(xd) AS xd FROM (
    SELECT id_a AS id, src_a AS src,
      CASE WHEN src_a <> src_b THEN 1 ELSE 0 END AS xd FROM ends
    UNION ALL
    SELECT id_b, src_b, CASE WHEN src_a <> src_b THEN 1 ELSE 0 END FROM ends
  ) GROUP BY id, src
),
per_src AS (
  SELECT src, COUNT(*) AS n_duped, SUM(xd) AS n_xdomain
  FROM involved GROUP BY src
),
totals AS (
  SELECT source AS src, COUNT(*) AS n_docs FROM documents GROUP BY source
)
SELECT t.src AS source, CAST(t.n_docs AS BIGINT) AS n_docs,
  CAST(coalesce(p.n_duped, 0) AS BIGINT) AS n_duped,
  CAST(coalesce(p.n_xdomain, 0) AS BIGINT) AS n_xdomain,
  CAST(coalesce(p.n_duped, 0) AS DOUBLE) / CAST(t.n_docs AS DOUBLE)
    AS dup_rate
FROM totals t LEFT JOIN per_src p ON p.src = t.src
"""

register(QuerySpec(
    "dedup_source_report", dedup_source_report_query, _DEDUP_SRC_REPORT_SQL,
    description="per-source duplication triage: docs in near-dup pairs, "
                "cross-domain vs in-domain partners, involvement rate"))


# --- near-dup graph statistics (triangles / clustering coefficient) -------------

def pair_graph_stats(pairs: DataFrame) -> DataFrame:
    """Global statistics of a near-dup pair graph: nodes, edges,
    triangles, open triads, and the global clustering coefficient —
    the one-row health report that distinguishes chain-like duplication
    (syndication paths, coefficient ~0) from dense clique templating
    (boilerplate families, coefficient ~1). The shape drives remediation
    the same way the component build does: cliques collapse safely to
    one representative, chains need human eyes.

    Exact integer arithmetic throughout: triangles via the canonical
    oriented 3-cycle join (a<b<c, so each triangle counts exactly
    once), open triads as Σ deg·(deg-1)/2, coefficient = 3·triangles /
    triads as the single final double division.

    Scale: the input pair relation is already candidate-capped by its
    generator (never O(n²)); the triangle join is two self-joins keyed
    on edge endpoints — at 100 TB-corpus pair volumes this is the
    standard distributed triangle enumeration (edges shuffled twice).
    """
    edges = (pairs.select(F.least("id_a", "id_b").alias("a"),
                          F.greatest("id_a", "id_b").alias("b"))
             .filter(F.col("a") != F.col("b"))
             .distinct().localCheckpoint())
    deg = (edges.select(F.col("a").alias("v"))
           .unionAll(edges.select(F.col("b").alias("v")))
           .groupBy("v").agg(F.count("*").alias("deg")))
    # oriented 3-cycle: (a<b) ⋈ (b<c) ⋈ (a<c) — each triangle matched
    # exactly once because every edge is stored with a < b
    e1 = edges.select(F.col("a"), F.col("b"))
    e2 = edges.select(F.col("a").alias("b"), F.col("b").alias("c"))
    tri = (e1.join(e2.hint("merge"), "b")
           .join(edges.select(F.col("a"), F.col("b").alias("c"))
                 .hint("merge"), ["a", "c"]))
    n_tri = tri.agg(F.count(F.lit(1)).alias("n")).select("n")
    stats = (deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2).cast("bigint")
        .alias("n_triads"))
        .crossJoin(F.broadcast(edges.agg(
            F.count(F.lit(1)).alias("n_edges"))))
        .crossJoin(F.broadcast(n_tri.withColumnRenamed("n", "n_triangles"))))
    return stats.select(
        F.col("n_nodes").cast("bigint").alias("n_nodes"),
        F.col("n_edges").cast("bigint").alias("n_edges"),
        F.col("n_triangles").cast("bigint").alias("n_triangles"),
        F.col("n_triads").cast("bigint").alias("n_triads"),
        F.when(F.col("n_triads") > 0,
               3.0 * F.col("n_triangles").cast("double")
               / F.col("n_triads").cast("double"))
        .otherwise(F.lit(0.0)).alias("clustering_coefficient"))


def dedup_graph_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return pair_graph_stats(containment_pairs(docs, "text", "doc_id",
                                              threshold=0.2))


_DEDUP_GRAPH_STATS_SQL = f"""
WITH {_SHINGLES_CTE},
dist AS (SELECT DISTINCT doc_id, shingle FROM shingled),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dist GROUP BY doc_id),
rare AS (
  SELECT shingle FROM dist
  GROUP BY shingle HAVING COUNT(*) BETWEEN 2 AND {MAX_SHINGLE_DF}
),
pruned AS (SELECT doc_id, shingle FROM dist SEMI JOIN rare USING (shingle)),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM pruned a JOIN pruned b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
cpairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE)
        / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) >= 0.2
),
edges AS (
  SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
  FROM cpairs WHERE id_a <> id_b
),
deg AS (
  SELECT v, COUNT(*) AS deg FROM (
    SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
  ) GROUP BY v
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e2.a = e1.b
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
ds AS (
  SELECT COUNT(*) AS n_nodes,
    CAST(SUM(deg * (deg - 1)) / 2 AS BIGINT) AS n_triads
  FROM deg
),
es AS (SELECT COUNT(*) AS n_edges FROM edges)
SELECT CAST(ds.n_nodes AS BIGINT) AS n_nodes,
  CAST(es.n_edges AS BIGINT) AS n_edges,
  CAST(tri.n_triangles AS BIGINT) AS n_triangles,
  ds.n_triads,
  CASE WHEN ds.n_triads > 0
       THEN 3.0 * CAST(tri.n_triangles AS DOUBLE)
            / CAST(ds.n_triads AS DOUBLE)
       ELSE 0.0 END AS clustering_coefficient
FROM ds CROSS JOIN es CROSS JOIN tri
"""

register(QuerySpec(
    "dedup_graph_stats", dedup_graph_stats_query, _DEDUP_GRAPH_STATS_SQL,
    description="near-dup graph health: exact triangles (oriented "
                "3-cycle join), open triads, global clustering "
                "coefficient over the containment pair graph"))


# --- source-pair content overlap ------------------------------------------------

def source_overlap(df: DataFrame) -> DataFrame:
    """Corpus-level syndication map: for every pair of sources, the
    exact Jaccard overlap of their DISTINCT shingle sets — which
    domains copy from which, aggregated above the document level (the
    per-doc pair relations answer "which docs"; this answers "which
    FEEDS", the remediation unit a crawl operator acts on).

    Exact integers: per-source distinct shingle counts and pairwise
    intersections via one shingle-keyed join of the (source, shingle)
    relation with itself — fan-out bounded by sources-per-shingle
    (≤ |sources|, a constant), never documents. Output is
    |sources|²-bounded.
    """
    ss = (df.select(F.col("source").alias("src"), F.col("doc_id"),
                    F.col("text"))
          .transform(lambda d: shingled_rows(d, "text", "src"))
          .distinct())
    sizes = ss.groupBy("src").agg(F.count("*").alias("n_sh"))
    a = ss.select(F.col("src").alias("src_a"), "shingle")
    b = ss.select(F.col("src").alias("src_b"), "shingle")
    inter = (a.join(b.hint("merge"), "shingle")
             .filter(F.col("src_a") < F.col("src_b"))
             .groupBy("src_a", "src_b").agg(F.count("*").alias("n_inter")))
    return (inter
            .join(sizes.select(F.col("src").alias("src_a"),
                               F.col("n_sh").alias("na")), "src_a")
            .join(sizes.select(F.col("src").alias("src_b"),
                               F.col("n_sh").alias("nb")), "src_b")
            .select("src_a", "src_b",
                    F.col("n_inter").cast("bigint").alias("n_shared"),
                    (F.col("n_inter").cast("double")
                     / (F.col("na") + F.col("nb")
                        - F.col("n_inter")).cast("double")).alias("jaccard"))
            .orderBy("src_a", "src_b"))


def dedup_source_overlap_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return source_overlap(docs)


_SOURCE_OVERLAP_SQL = r"""
WITH toks AS (
  SELECT source AS src, list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT src, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT UNNEST(range(1, greatest(len(t) - 2, 0) + 1)) AS i) idx
),
sizes AS (SELECT src, COUNT(*) AS n_sh FROM sh GROUP BY src),
inter AS (
  SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.src < b.src
  GROUP BY 1, 2
)
SELECT src_a, src_b, CAST(n_inter AS BIGINT) AS n_shared,
  CAST(n_inter AS DOUBLE)
    / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.src = src_a
JOIN sizes sb ON sb.src = src_b
ORDER BY src_a, src_b
"""

register(QuerySpec(
    "dedup_source_overlap", dedup_source_overlap_query, _SOURCE_OVERLAP_SQL,
    description="source-pair syndication map: exact Jaccard of distinct "
                "shingle sets per source pair — feed-level dedup triage"))


# --- content-defined chunking (CDC) dedup ---------------------------------------

CDC_W = 4        # boundary window: tokens s..s+3 decide a cut at s
CDC_D = 16       # boundary divisor: expected chunk length ~ D tokens


def cdc_chunk_stats(docs: DataFrame) -> DataFrame:
    """Content-defined chunking dedup (the LBFS/storage-dedup classic,
    applied to the token stream): cut each document where the hash of
    the ``CDC_W``-token window starting at a position is divisible by
    ``CDC_D``, hash each chunk, and report how much of every doc is
    duplicate chunk mass across the corpus.

    Content-defined beats fixed-size chunking because an insertion
    shifts ALL fixed-size chunk boundaries after it, but only the one
    CDC chunk containing the edit — shared suffixes keep identical
    chunk hashes, so near-identical docs dedup at sub-document
    granularity without any pair enumeration.

    Per-doc output: ``n_chunks``, ``n_dup_chunks`` (chunks whose hash
    appears in >= 2 docs), ``dup_tokens`` (their token mass),
    ``total_tokens``.

    Scale: boundary detection, chunk splitting, and chunk hashing are
    ALL per-row array expressions (no window function, no per-doc
    shuffle — unlike a running-sum formulation, the boundary list is a
    single ``filter`` over the index range). The only wide steps are
    the chunk-hash occurrence aggregate (8-byte keys, map-side partial
    combine) and the merge-pinned join back; the final aggregate is
    doc-keyed. Exactly the repeated_spans class.
    """
    toked = docs.select(
        F.col("doc_id"),
        F.filter(F.split(F.lower(F.col("text")), WS_RE),
                 lambda x: x != "").alias("t")) \
        .filter(F.size("t") > 0)
    t = F.col("t")
    n = F.size(t)
    win_hash = lambda s: md5_long(  # noqa: E731 — w-token window at s
        F.concat_ws(" ", F.slice(t, s, CDC_W)))
    # interior cut positions: 1-based starts s in [2, n-w+1] whose
    # window hash divides d; chunk starts = [1] + cuts
    cuts = F.when(
        n >= CDC_W + 1,
        F.filter(F.sequence(F.lit(2), n - (CDC_W - 1)),
                 lambda s: win_hash(s) % CDC_D == 0)
    ).otherwise(F.array().cast("array<int>"))
    starts = F.concat(F.array(F.lit(1)), cuts)
    ends = F.concat(cuts, F.array(n + 1))  # exclusive chunk ends
    chunks = F.zip_with(
        starts, ends,
        lambda s, e: F.struct(
            md5_long(F.concat_ws(" ", F.slice(t, s, e - s)))
            .alias("chunk_hash"),
            (e - s).cast("long").alias("chunk_len")))
    ch = (toked.select(F.col("doc_id"), n.alias("total_tokens"),
                       F.explode(chunks).alias("c"))
          .select("doc_id", "total_tokens", "c.chunk_hash", "c.chunk_len"))
    occ = (ch.groupBy("chunk_hash")
           .agg(F.countDistinct("doc_id").alias("n_docs")))
    return (ch.join(occ.hint("merge"), "chunk_hash")
            .groupBy("doc_id")
            .agg(F.first("total_tokens").alias("total_tokens"),
                 F.count("*").alias("n_chunks"),
                 F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
                 .cast("long").alias("n_dup_chunks"),
                 F.sum(F.when(F.col("n_docs") >= 2, F.col("chunk_len"))
                       .otherwise(F.lit(0))).cast("long")
                 .alias("dup_tokens"))
            .select("doc_id", "n_chunks", "n_dup_chunks", "dup_tokens",
                    F.col("total_tokens").cast("long")
                    .alias("total_tokens")))


def dedup_cdc_chunks_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return cdc_chunk_stats(docs)


def _cdc_sql() -> str:
    wh = md5_long_sql(f"array_to_string(t[s:s+{CDC_W - 1}], ' ')")
    chash = md5_long_sql("array_to_string(t[st:fin], ' ')")
    return rf"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'), x -> x <> '') AS t
  FROM documents
), sized AS (
  SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
), bounded AS (
  SELECT doc_id, t, n,
    [1] || CASE WHEN n >= {CDC_W + 1} THEN
      list_filter(range(2, n - {CDC_W - 1} + 1), s -> ({wh}) % {CDC_D} = 0)
    ELSE [] END AS starts
  FROM sized
), chunks AS (
  SELECT doc_id, t, n AS total_tokens,
    starts[i] AS st,
    coalesce(starts[i + 1], n + 1) - 1 AS fin
  FROM bounded, LATERAL (
    SELECT UNNEST(range(1, len(starts) + 1)) AS i) ix
), hashed AS (
  SELECT doc_id, total_tokens, {chash} AS chunk_hash,
    fin - st + 1 AS chunk_len
  FROM chunks
), occ AS (
  SELECT chunk_hash, COUNT(DISTINCT doc_id) AS n_docs
  FROM hashed GROUP BY chunk_hash
)
SELECT h.doc_id,
  COUNT(*) AS n_chunks,
  CAST(SUM(CASE WHEN o.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup_chunks,
  CAST(SUM(CASE WHEN o.n_docs >= 2 THEN h.chunk_len ELSE 0 END) AS BIGINT)
    AS dup_tokens,
  CAST(MIN(h.total_tokens) AS BIGINT) AS total_tokens
FROM hashed h JOIN occ o ON o.chunk_hash = h.chunk_hash
GROUP BY h.doc_id
"""


register(QuerySpec(
    "dedup_cdc_chunks", dedup_cdc_chunks_query, _cdc_sql(),
    description=f"content-defined chunking dedup: hash-gated cuts "
                f"(window {CDC_W}, divisor {CDC_D}) -> chunk-hash "
                "occurrence dictionary -> per-doc duplicate chunk "
                "mass; all chunking is per-row array math, no window "
                "functions"))


# --- leakage-safe train/test split (split by near-dup family) -------------------

SPLIT_TRAIN_PCT = 80


def leakage_safe_split(docs: DataFrame) -> DataFrame:
    """Train/test assignment that cannot leak near-duplicates across the
    boundary: the split hash is computed on the NEAR-DUP FAMILY id
    (minhash -> LSH pairs -> connected components; singletons are their
    own family), so two paraphrases of one document land on the same
    side by construction. A per-document hash split (q56) guarantees
    stability but not this — eval contamination via near-dups is
    exactly the failure mode benchmark decontamination keeps finding,
    and the right fix is to split families, not documents.

    Scale: the family labels are the same bounded-iteration star
    components the dedup family already runs; the split itself is a
    shuffle-free seeded-hash projection over (doc, family). The
    membership join is corpus-scaled — sort-merge pinned.
    """
    sigs = minhash_signatures(docs, "text", "doc_id")
    pairs = lsh_candidate_pairs(sigs, "doc_id")
    comps = connected_components_star(pairs) \
        .withColumnRenamed("id", "doc_id")
    fam = (docs.select(F.col("doc_id"))
           .join(comps.hint("merge"), "doc_id", "left")
           .select(F.col("doc_id"),
                   F.coalesce("comp", F.col("doc_id")).alias("family_id")))
    bucket = md5_long(F.col("family_id").cast("string"),
                      seed="famsplit:") % 100
    split = F.when(bucket < SPLIT_TRAIN_PCT, "train").otherwise("test")
    # no trailing global orderBy: the output contract is a relation
    # (consumers key on id / split), and a corpus-sized range sort buys
    # determinism nothing at 100 TB (r8 audit sweep)
    return fam.select(F.col("doc_id"), F.col("family_id"),
                      split.alias("split"))


def prep_leakage_safe_split_query(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return leakage_safe_split(docs)


def _leakage_split_sql() -> str:
    bucket = (f"{md5_long_sql('CAST(family_id AS VARCHAR)', seed='famsplit:')}"
              f" % 100")
    return f"""
WITH RECURSIVE {_SHINGLES_CTE},
{_HASHED_CTE},
sigs AS (
  SELECT doc_id, {_MINHASH_COLS_SQL}
  FROM hashed GROUP BY doc_id
),
banded AS ({_BAND_SELECTS}),
ok AS (
  SELECT band_id, band_hash FROM banded
  GROUP BY band_id, band_hash HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN ok ON ok.band_id = a.band_id AND ok.band_hash = a.band_hash
  JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, lab) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id, MIN(lab) AS comp FROM reach GROUP BY id),
fam AS (
  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS family_id
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
)
SELECT doc_id, family_id,
  CASE WHEN {bucket} < {SPLIT_TRAIN_PCT} THEN 'train' ELSE 'test' END
    AS split
FROM fam
ORDER BY doc_id
"""


register(QuerySpec(
    "prep_leakage_safe_split", prep_leakage_safe_split_query,
    _leakage_split_sql(),
    description="train/test split hashed on the near-dup FAMILY id "
                "(LSH components; singletons their own family) so "
                "paraphrase pairs cannot straddle the eval boundary"))


# --- quality-aware representative election -----------------------------------

def quality_keep(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Representative election that keeps the HIGHEST-QUALITY member of
    every near-dup component instead of the min id — what a production
    prune actually does (the min-id rule is deterministic but happily
    discards the clean copy and keeps the boilerplate-mangled one).
    Tie-break on min id keeps the election deterministic. Emits one
    row per multi-member component with the electorate size, the
    winner, its score, and whether the min-id rule would have chosen
    differently (the cost of the naive rule, measurable).

    Scale: components over the bounded pair relation; the score join is
    corpus-keyed sort-merge; the election is a struct-min aggregate
    (map-side partial), never a per-component sort.
    """
    from downscaledclimatedata_spark.operators.textops import quality_scores

    comps = connected_components_star(pairs) \
        .withColumnRenamed("id", "doc_id")
    q = quality_scores(docs, "text", "doc_id") \
        .select(F.col("doc_id"), "quality_score")
    m = comps.join(q.hint("merge"), "doc_id")
    elect = (m.groupBy("comp")
             .agg(F.count(F.lit(1)).alias("n_members"),
                  F.min(F.struct((-F.col("quality_score")).alias("ns"),
                                 F.col("doc_id").alias("kid"))).alias("w"),
                  F.min("doc_id").alias("min_id")))
    return (elect.filter(F.col("n_members") >= 2)
            .select(F.col("comp").cast("bigint").alias("comp"),
                    F.col("n_members").cast("bigint").alias("n_members"),
                    F.col("w.kid").alias("keep_id"),
                    (-F.col("w.ns")).alias("kept_score"),
                    (F.col("w.kid") != F.col("min_id"))
                    .alias("beats_min_id")))
    # no trailing orderBy: one row per multi-member component —
    # duplicate-mass-proportional, i.e. corpus-scaled


def prune_corpus_quality(df: DataFrame, pairs: DataFrame,
                         _info: dict | None = None) -> DataFrame:
    """:func:`prune_corpus` with :func:`quality_keep`'s election rule:
    every near-dup component keeps its HIGHEST-quality member (min-id
    tie-break) instead of the min id — so a boilerplate-mangled low-id
    copy can no longer shadow the clean one. Returns the surviving rows
    of ``df``; unpaired docs pass through untouched.

    Scale: identical to the min-id prune plus one corpus-keyed
    sort-merge score join restricted to COMPONENT MEMBERS (a semi-join
    first, so quality is only scored for docs that are in some pair) —
    the corpus never enters the iterative component build.

    Driver tier (r14): when the pair graph fits ``CC_DRIVER_MAX_EDGES``
    the member-id set is inlined as ONE parsed ``IN`` predicate (the
    member scan folds into the corpus scan — no corpus-keyed semi-join
    shuffle), the (id, comp) map joins the scored members as a literal
    ``VALUES`` relation (broadcast, one py4j round trip), and the
    election runs as ONE bounded job whose winner ids come back to the
    driver — the prune itself is then a pure ``NOT IN`` scan filter
    (zero corpus exchanges where the relational form paid two
    sort-merge shuffles, and re-runnable for free by every consumer:
    ``_info["folded"]`` as in :func:`prune_corpus`). Election
    arithmetic is the identical relational min-struct aggregate — only
    the RESULTING kid set crosses to the driver, never the scores.
    """
    from downscaledclimatedata_spark.operators.textops import quality_scores

    if _info is not None:
        _info["folded"] = False
    labels, edges = _component_labels(pairs)
    ntype = edges.schema[0].dataType
    if (labels is not None and len(labels) <= PRUNE_ISIN_MAX_IDS
            and _integral_node_type(ntype)):
        if not labels:
            if _info is not None:
                _info["folded"] = True
            return df
        items = sorted(labels.items())
        in_list = ",".join(str(i) for i, _ in items)
        members = df.filter(F.expr(f"`doc_id` IN ({in_list})"))
        q = quality_scores(members, "text", "doc_id") \
            .select(F.col("doc_id"), "quality_score")
        values = ",".join(f"({i},{c})" for i, c in items)
        sql_t = ntype.simpleString()
        comps = df.sparkSession.sql(
            f"SELECT CAST(col1 AS {sql_t}) AS `doc_id`, "
            f"CAST(col2 AS {sql_t}) AS comp FROM VALUES {values}")
        m = q.join(F.broadcast(comps), "doc_id")
        winners = (m.groupBy("comp")
                   .agg(F.min(F.struct((-F.col("quality_score")).alias("ns"),
                                       F.col("doc_id").alias("kid"))).alias("w"))
                   .select(F.col("w.kid").alias("doc_id")))
        keep = {r[0] for r in winners.collect()}
        removed_ids = sorted(i for i in labels if i not in keep)
        if not removed_ids:
            if _info is not None:
                _info["folded"] = True
            return df
        if _info is not None:
            _info["folded"] = True
        rm_list = ",".join(str(i) for i in removed_ids)
        return df.filter(F.expr(
            f"`doc_id` IS NULL OR `doc_id` NOT IN ({rm_list})"))
    comps = (_labels_relation(df.sparkSession, labels, ntype)
             if labels is not None else _star_from_edges(edges)) \
        .withColumnRenamed("id", "doc_id")
    members = df.join(comps.select("doc_id").hint("merge"), "doc_id",
                      "left_semi")
    q = quality_scores(members, "text", "doc_id") \
        .select(F.col("doc_id"), "quality_score")
    m = comps.join(q.hint("merge"), "doc_id")
    winners = (m.groupBy("comp")
               .agg(F.min(F.struct((-F.col("quality_score")).alias("ns"),
                                   F.col("doc_id").alias("kid"))).alias("w"))
               .select(F.col("w.kid").alias("doc_id")))
    removed = comps.join(winners, "doc_id", "left_anti") \
        .select(F.col("doc_id"))
    return df.join(removed, "doc_id", "left_anti")


def dedup_quality_keep_query(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    sigs = minhash_signatures(docs, "text", "doc_id")
    return quality_keep(docs, lsh_candidate_pairs(sigs, "doc_id"))


def _quality_keep_sql() -> str:
    from downscaledclimatedata_spark.operators.textops import (
        _STOP_LIST, _TOKS_SQL)
    return f"""
WITH RECURSIVE {_SHINGLES_CTE},
{_HASHED_CTE},
sigs AS (
  SELECT doc_id, {_MINHASH_COLS_SQL}
  FROM hashed GROUP BY doc_id
),
banded AS ({_BAND_SELECTS}),
ok AS (
  SELECT band_id, band_hash FROM banded
  GROUP BY band_id, band_hash HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN ok ON ok.band_id = a.band_id AND ok.band_hash = a.band_hash
  JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, lab) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id, MIN(lab) AS comp FROM reach GROUP BY id),
t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
qm AS (
  SELECT doc_id,
    len(toks) AS n_tokens,
    len(list_filter(toks, x -> list_contains({_STOP_LIST}, x))) AS n_stop,
    len(list_distinct(toks)) AS n_uniq
  FROM t
),
q AS (
  SELECT doc_id,
    0.4 * least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
    + 0.3 * (CASE WHEN n_tokens > 0
                  THEN CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                  ELSE 0.0 END)
    + 0.3 * least((CASE WHEN n_tokens > 0
                        THEN CAST(n_stop AS DOUBLE)
                             / CAST(n_tokens AS DOUBLE)
                        ELSE 0.0 END) * 5, 1.0) AS quality_score
  FROM qm
),
m AS (
  SELECT c.comp, c.id AS doc_id, q.quality_score
  FROM comp c JOIN q ON q.doc_id = c.id
),
elect AS (
  SELECT comp, COUNT(*) AS n_members,
    MIN({{'ns': -quality_score, 'kid': doc_id}}) AS w,
    MIN(doc_id) AS min_id
  FROM m GROUP BY comp
)
SELECT CAST(comp AS BIGINT) AS comp,
  CAST(n_members AS BIGINT) AS n_members,
  (w).kid AS keep_id,
  -(w).ns AS kept_score,
  (w).kid <> min_id AS beats_min_id
FROM elect WHERE n_members >= 2
ORDER BY comp
"""


register(QuerySpec(
    "dedup_quality_keep", dedup_quality_keep_query, _quality_keep_sql(),
    description="quality-aware dedup representative election: keep the "
                "highest-quality component member (tie: min id), report "
                "where the naive min-id rule would differ"))


# --- contamination overlap curve (n-gram order sweep) ------------------------------

OVERLAP_NS = (4, 8, 13)


def overlap_curve(docs: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Contamination rate as a function of n-gram order — the knob
    curve behind every decontamination threshold decision (GPT-3 used
    13-grams; short n over-flags boilerplate, long n under-flags
    paraphrase): for each n, how many training docs share ANY n-gram
    with the eval set.

    One row per n: train-doc population, contaminated count, rate.
    The whole curve keeps :func:`contaminated_doc_ids`' 100 TB shape —
    eval grams broadcast, corpus side never shuffles on the gram — but
    runs as ONE pass (r13): tokenization happens once per doc and every
    order's grams explode from the same token array, tagged with their
    order, instead of a per-n re-scan + re-shingle of the corpus
    (|ns| + 1 corpus scans and ~16 Exchanges per order collapsed to 2
    scans and one semi-join/distinct/groupBy chain keyed by
    (order, gram); the exploded volume is identical). Orders with zero
    contaminated docs are restored by a left join against the literal
    ns relation, so the output rows are unchanged.
    """
    from downscaledclimatedata_spark.functions.rows import literal_rows

    def _grams(df, id_cols: list) -> DataFrame:
        base = df.select(*id_cols, tokens(F.col("text")).alias("_t"))
        tagged = base.select(
            *id_cols,
            F.explode(F.array(*[
                F.struct(F.lit(int(n)).cast("bigint").alias("ngram_order"),
                         shingles_of_tokens(F.col("_t"), n).alias("_g"))
                for n in OVERLAP_NS])).alias("_s"))
        return tagged.select(*id_cols,
                             F.col("_s.ngram_order").alias("ngram_order"),
                             F.explode("_s._g").alias("gram"))

    train_n = docs.select(F.count(F.lit(1)).alias("n_train"))
    dg = _grams(docs, [F.col("doc_id")])
    eg = _grams(eval_docs, []).distinct()
    contam = (dg.join(F.broadcast(eg), ["ngram_order", "gram"], "left_semi")
              .select("ngram_order", "doc_id").distinct()
              .groupBy("ngram_order")
              .agg(F.count(F.lit(1)).alias("n_contaminated")))
    ns_rel = literal_rows(docs.sparkSession, [(int(n),) for n in OVERLAP_NS],
                          "ngram_order bigint")
    n_contam = F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("bigint")
    return (ns_rel.join(contam, "ngram_order", "left")
            .crossJoin(F.broadcast(train_n))
            .select(F.col("ngram_order"),
                    F.col("n_train").cast("bigint").alias("n_train"),
                    n_contam.alias("n_contaminated"),
                    F.when(F.col("n_train") > 0,
                           n_contam.cast("double")
                           / F.col("n_train").cast("double"))
                    .otherwise(F.lit(0.0))
                    .alias("contamination_rate"))
            .orderBy("ngram_order"))


def dedup_overlap_curve_query(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Same deterministic eval split as dedup_decontaminate."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    is_eval = md5_long(F.col("doc_id").cast("string"),
                       seed="decon:") % 41 == 0
    return overlap_curve(docs.filter(~is_eval), docs.filter(is_eval))


def _overlap_curve_sql() -> str:
    parts = []
    for n in OVERLAP_NS:
        gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
        parts.append(f"""
SELECT CAST({n} AS BIGINT) AS ngram_order,
  (SELECT COUNT(*) FROM train) AS n_train,
  CAST(COUNT(DISTINCT g.doc_id) AS BIGINT) AS n_contaminated
FROM (
  SELECT tk.doc_id, {gram} AS gram
  FROM (SELECT doc_id,
          list_filter(string_split_regex(lower(coalesce(text, '')),
                      '[ \\t\\n\\r\\f\\x0B]+'), x -> x <> '') AS t
        FROM train) tk,
  LATERAL (SELECT UNNEST(range(1, greatest(len(t) - {n - 1}, 0) + 1))
           AS i) idx
) g
WHERE g.gram IN (
  SELECT {gram} AS gram
  FROM (SELECT list_filter(string_split_regex(lower(coalesce(text, '')),
               '[ \\t\\n\\r\\f\\x0B]+'), x -> x <> '') AS t
        FROM evalset) tk,
  LATERAL (SELECT UNNEST(range(1, greatest(len(t) - {n - 1}, 0) + 1))
           AS i) idx
)""")
        # the per-n blocks align on identical split CTEs below
    body = "\nUNION ALL\n".join(parts)
    split = (f"({md5_long_sql('CAST(doc_id AS VARCHAR)', seed='decon:')})"
             " % 41 = 0")
    return f"""
WITH train AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE NOT ({split})
), evalset AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE {split}
)
SELECT ngram_order, n_train, n_contaminated,
  CASE WHEN n_train > 0
       THEN CAST(n_contaminated AS DOUBLE) / CAST(n_train AS DOUBLE)
       ELSE 0.0 END AS contamination_rate
FROM ({body})
ORDER BY ngram_order
"""


register(QuerySpec(
    "dedup_overlap_curve", dedup_overlap_curve_query,
    _overlap_curve_sql(), headline=True,
    description="contamination rate vs n-gram order (4/8/13): the "
                "decon threshold knob curve, eval grams broadcast at "
                "every order"))


# --- LSH bucket occupancy histogram --------------------------------------------------

BUCKET_HIST_CAP = 20


def lsh_bucket_histogram(docs: DataFrame) -> DataFrame:
    """Occupancy distribution of the minhash LSH band buckets — the
    index-health view behind the band join's cost model: candidate
    pairs grow with sum over buckets of size², so a fat tail here IS
    the skew that blows up the band join (the df-cap's justification,
    made measurable). One row per (capped) bucket size with bucket
    count and the pair mass that size class contributes.

    Scale: the banding is the registered signature explode; occupancy
    is one (band, hash)-keyed count with map-side partials; the
    histogram is a bounded (<= cap+1 row) roll-up.
    """
    sigs = minhash_signatures(docs, "text", "doc_id")
    bands = _banded(sigs, "doc_id")
    occ = (bands.groupBy("band_id", "band_hash")
           .agg(F.count(F.lit(1)).alias("sz")))
    capped = F.least(F.col("sz"), F.lit(BUCKET_HIST_CAP)).cast("bigint")
    d = lambda c: c.cast("decimal(38,0)")
    return (occ.groupBy(capped.alias("bucket_size"))
            .agg(F.count(F.lit(1)).alias("n_buckets"),
                 F.sum(d(F.col("sz")) * (d(F.col("sz")) - 1) / 2)
                 .cast("bigint").alias("pair_mass"))
            .select("bucket_size",
                    F.col("n_buckets").cast("bigint").alias("n_buckets"),
                    "pair_mass")
            .orderBy("bucket_size"))


def dedup_lsh_bucket_histogram_query(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return lsh_bucket_histogram(docs)


_LSH_BUCKET_HIST_SQL = f"""
WITH RECURSIVE {_SHINGLES_CTE},
{_HASHED_CTE},
sigs AS (
  SELECT doc_id, {_MINHASH_COLS_SQL}
  FROM hashed GROUP BY doc_id
),
banded AS ({_BAND_SELECTS}),
occ AS (
  SELECT band_id, band_hash, COUNT(*) AS sz
  FROM banded GROUP BY band_id, band_hash
)
SELECT CAST(LEAST(sz, {BUCKET_HIST_CAP}) AS BIGINT) AS bucket_size,
  CAST(COUNT(*) AS BIGINT) AS n_buckets,
  CAST(SUM(CAST(sz AS HUGEINT) * (CAST(sz AS HUGEINT) - 1) // 2)
       AS BIGINT) AS pair_mass
FROM occ GROUP BY bucket_size ORDER BY bucket_size
"""

register(QuerySpec(
    "dedup_lsh_bucket_histogram", dedup_lsh_bucket_histogram_query,
    _LSH_BUCKET_HIST_SQL,
    description="LSH band-bucket occupancy histogram + per-size-class "
                "candidate pair mass — the band join's cost model made "
                "measurable"))


# --- exact-duplicate cluster size histogram --------------------------------------------

EXACT_HIST_CAP = 20


def exact_cluster_histogram(docs: DataFrame) -> DataFrame:
    """Size distribution of EXACT-duplicate clusters (by portable
    content hash) — the companion to the near-dup graph stats: one row
    per (capped) cluster size with cluster count, doc mass, and the
    docs dedup would remove from that size class. Size-1 clusters are
    the unique mass; a fat tail is template spam.

    One content-hash aggregate (uniform key, map-side partials) + a
    bounded histogram roll-up.
    """
    h = md5_long(F.coalesce(F.col("text"), F.lit("")))
    clusters = (docs.select(h.alias("h"))
                .groupBy("h").agg(F.count(F.lit(1)).alias("sz")))
    capped = F.least(F.col("sz"), F.lit(EXACT_HIST_CAP)).cast("bigint")
    return (clusters.groupBy(capped.alias("cluster_size"))
            .agg(F.count(F.lit(1)).alias("n_clusters"),
                 F.sum("sz").alias("n_docs"),
                 F.sum(F.col("sz") - 1).alias("n_removable"))
            .select("cluster_size",
                    F.col("n_clusters").cast("bigint").alias("n_clusters"),
                    F.col("n_docs").cast("bigint").alias("n_docs"),
                    F.col("n_removable").cast("bigint")
                    .alias("n_removable"))
            .orderBy("cluster_size"))


def dedup_exact_histogram_query(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return exact_cluster_histogram(docs)


_EXACT_HIST_SQL = f"""
WITH clusters AS (
  SELECT {md5_long_sql("coalesce(text, '')")} AS h, COUNT(*) AS sz
  FROM documents GROUP BY h
)
SELECT CAST(LEAST(sz, {EXACT_HIST_CAP}) AS BIGINT) AS cluster_size,
  CAST(COUNT(*) AS BIGINT) AS n_clusters,
  CAST(SUM(sz) AS BIGINT) AS n_docs,
  CAST(SUM(sz - 1) AS BIGINT) AS n_removable
FROM clusters GROUP BY cluster_size ORDER BY cluster_size
"""

register(QuerySpec(
    "dedup_exact_histogram", dedup_exact_histogram_query,
    _EXACT_HIST_SQL,
    description="exact-duplicate cluster size histogram by content "
                "hash: unique mass, removable mass, template-spam "
                "tail"))


# --- near-dup cluster source purity (dedup QA) -----------------------------------

def cluster_source_purity(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Per multi-member near-dup cluster: how many distinct SOURCES its
    members span and the majority source's share — the dedup-QA signal
    that separates within-site boilerplate (1 source, prune freely)
    from cross-site syndication (many sources, a licensing/provenance
    decision). Exact integer masses; the share is one final division.

    Scale: components over the bounded pair relation; one corpus-keyed
    merge join attaches sources to members; the argmax is a struct-min
    over the (cluster, source) counts (map-side partials), never a
    per-cluster sort.
    """
    comps = connected_components_star(pairs) \
        .withColumnRenamed("id", "doc_id")
    m = comps.join(
        docs.select("doc_id", "source").hint("merge"), "doc_id")
    per_src = m.groupBy("comp", "source").agg(
        F.count(F.lit(1)).alias("n_src"))
    elect = per_src.groupBy("comp").agg(
        F.sum("n_src").alias("n_members"),
        F.count(F.lit(1)).alias("n_sources"),
        F.min(F.struct((-F.col("n_src")).alias("neg"),
                       F.col("source").alias("src"))).alias("w"))
    return (elect.filter(F.col("n_members") >= 2)
            .select(F.col("comp").cast("bigint").alias("comp"),
                    F.col("n_members").cast("bigint").alias("n_members"),
                    F.col("n_sources").cast("bigint").alias("n_sources"),
                    F.col("w.src").alias("majority_source"),
                    (-F.col("w.neg")).cast("bigint")
                    .alias("majority_count"),
                    ((-F.col("w.neg")).cast("double")
                     / F.col("n_members").cast("double"))
                    .alias("majority_share")))
    # no trailing orderBy: one row per multi-member cluster —
    # duplicate-mass-proportional (corpus-scaled)


def dedup_cluster_purity_query(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    sigs = minhash_signatures(docs, "text", "doc_id")
    return cluster_source_purity(docs, lsh_candidate_pairs(sigs, "doc_id"))


def _cluster_purity_sql() -> str:
    return f"""
WITH RECURSIVE {_SHINGLES_CTE},
{_HASHED_CTE},
sigs AS (
  SELECT doc_id, {_MINHASH_COLS_SQL}
  FROM hashed GROUP BY doc_id
),
banded AS ({_BAND_SELECTS}),
ok AS (
  SELECT band_id, band_hash FROM banded
  GROUP BY band_id, band_hash HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN ok ON ok.band_id = a.band_id AND ok.band_hash = a.band_hash
  JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, lab) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id, MIN(lab) AS comp FROM reach GROUP BY id),
per_src AS (
  SELECT c.comp, d.source, COUNT(*) AS n_src
  FROM comp c JOIN documents d ON d.doc_id = c.id
  GROUP BY 1, 2
),
elect AS (
  SELECT comp, SUM(n_src) AS n_members, COUNT(*) AS n_sources,
    MIN({{'neg': -n_src, 'src': source}}) AS w
  FROM per_src GROUP BY comp
)
SELECT CAST(comp AS BIGINT) AS comp,
  CAST(n_members AS BIGINT) AS n_members,
  CAST(n_sources AS BIGINT) AS n_sources,
  (w).src AS majority_source,
  CAST(-(w).neg AS BIGINT) AS majority_count,
  CAST(-(w).neg AS DOUBLE) / CAST(n_members AS DOUBLE) AS majority_share
FROM elect WHERE n_members >= 2
"""


register(QuerySpec(
    "dedup_cluster_purity", dedup_cluster_purity_query,
    _cluster_purity_sql(),
    description="near-dup cluster source purity: distinct sources and "
                "majority share per cluster — separates within-site "
                "boilerplate from cross-site syndication"))
