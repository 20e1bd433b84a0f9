"""Similarity search over embedding columns (array<float>).

Two tiers (BASELINE.json north-star):
- brute-force cosine top-k: broadcast the (small) query set against the
  full corpus — the exact baseline. All arithmetic is JVM-side
  (zip_with/aggregate higher-order functions, no Python UDF).
- LSH-bucketed variant: random-hyperplane signatures computed from
  deterministic md5-derived planes; bucketing turns ANN into an equi-join
  on bucket_id, the 100 TB scale path (shuffle ∝ corpus, not pairs).

Determinism: the oracle-checked queries quantize components to integers
(round(x*1000)) so dot products and norms are exact integer arithmetic in
both engines; cosine then divides identical doubles. The float variant
(`cosine_topk_float`) keeps true float semantics and is still
oracle-checked: both engines left-fold the fixed-order list in double
precision, and identical IEEE operation order makes the results
bit-identical.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from downscaledclimatedata_spark.functions import publish
from downscaledclimatedata_spark.functions.rows import (empty_relation,
                                                        literal_rows)
from downscaledclimatedata_spark.functions.text import WS_RE
from downscaledclimatedata_spark.plans import QuerySpec, register
from downscaledclimatedata_spark.sources.tables import load_table, load_table_parallel

DIM = 64
QUANT = 1000
N_PLANES = 8
TOP_K = 5

# Query/centroid sets are FIXED-SIZE, not corpus fractions: the broadcast
# side and the N x k work stay bounded as the corpus grows (a corpus-
# fraction modulus would make brute-force search effectively quadratic at
# 100 TB and the "broadcast" unboundedly large). The spacing constants
# only spread the deterministic sample across ids; the *_COUNT constants
# are the scale knobs.
QUERY_MOD = 50   # spacing between sampled query ids
N_QUERIES = 10   # fixed query-set size: ids 0, 50, ..., 450
CENTROID_MOD = 25  # spacing between sampled centroid ids
N_CENTROIDS = 16   # fixed IVF codebook size (real IVF: 10^4-10^5 lists)


def _fixed_sample(id_col: str, spacing: int, count: int) -> Column:
    """Deterministic fixed-size id sample: bounded regardless of corpus size."""
    return (F.col(id_col) % spacing == 0) & (F.col(id_col) < spacing * count)


def _fixed_sample_sql(col: str, spacing: int, count: int) -> str:
    return f"{col} % {spacing} = 0 AND {col} < {spacing * count}"


# Quantized components are clamped to ±QCLAMP so every derived integer —
# squared norm (64·QCLAMP² ≈ 6.4e17), dot product, and L2 distance
# (≤ 4·6.4e17) — fits in int64 with margin. Without the clamp, a vector
# with |x| ≥ sqrt(2^63/64)/QUANT ≈ 3.8e5 overflows the exact-int kernels
# under ANSI mode (DuckDB silently promotes to HUGEINT, so the engines
# would also diverge).
# Like int8 quantization in production ANN systems, the representable
# range is part of the quantizer's contract.
QCLAMP = 100_000_000


def quantize(col: Column) -> Column:
    """array<float> -> array<bigint>, component-wise round(x*QUANT)
    clamped to ±QCLAMP.

    x*scale is never an exact .5 for binary-fraction floats with a
    non-power-of-two scale, so HALF_UP vs HALF_EVEN cannot diverge.
    """
    return F.transform(
        col,
        lambda x: F.least(
            F.greatest(F.round(x.cast("double") * QUANT),
                       F.lit(float(-QCLAMP))),
            F.lit(float(QCLAMP))).cast("long"))


def lit_long_array(values) -> Column:
    """Literal array<bigint> built with ONE py4j round trip.

    ``F.array(*[F.lit(v) ...])`` costs one Python->JVM call per element —
    a 64-wide plane materialized 32 times was ~2.7 s of pure
    plan-construction overhead (guide §4: the JVM boundary is paid at
    plan build too, not just execution). A single ``F.expr`` parses the
    same foldable CreateArray JVM-side; constant folding yields the
    identical literal, so results and the optimized plan are unchanged.
    """
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in values) + ")")


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two array<bigint> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def sq_norm(a: Column) -> Column:
    return int_dot(a, a)


def _argmin_pick(cands: str, key: str, vec: str, norm: str) -> Column:
    """Key of the squared-L2 argmin candidate, computed PER ROW over an
    array<struct> candidate column — the shuffle-free form of the
    ``crossJoin(broadcast(cands)) -> groupBy -> min(struct(dist, key))``
    aggregation it replaces (guide §2.4: remove shuffles outright).

    ``array_min`` over ``struct(dist, key)`` is the same lexicographic
    (dist, then key) minimum as the aggregate ``F.min`` — identical
    argmin AND identical tie-break, so results are bit-equal. A NULL or
    empty candidate array yields NULL (callers filter, reproducing the
    inner-join drop semantics of the relational form). Built as ONE
    ``F.expr`` parse — nested Python lambda builders cost dozens of
    py4j round trips per level (the O6 plan-construction lesson).
    """
    return _argmin_struct(cands, key, vec, norm)["k"]


def _argmin_struct(cands: str, key: str, vec: str, norm: str) -> Column:
    """The (d, k) struct of the squared-L2 argmin candidate (see
    :func:`_argmin_pick`) — for callers that need the winning DISTANCE
    too (cell stats, OOD gate). Project the struct as its own column
    before reading both fields, so it stays single-evaluated."""
    dot = (f"aggregate(zip_with(qv, c.{vec}, (x, y) -> x * y), "
           f"cast(0 as bigint), (acc, x) -> acc + x)")
    return F.expr(
        f"array_min(transform({cands}, c -> "
        f"struct(n2 + c.{norm} - 2 * {dot} as d, c.{key} as k)))")


def _cands_row(df: DataFrame, cols: list, alias: str) -> DataFrame:
    """ONE-row relation holding the whole codebook as array<struct> —
    broadcast-attached to the corpus scan so per-row argmins need no
    join. Codebook-sized (same bytes the relational form broadcasts as
    rows); an empty codebook yields an empty array, whose argmin is
    NULL — callers' null filter reproduces the empty-crossJoin
    (zero-row) semantics exactly."""
    return df.agg(F.collect_list(F.struct(*cols)).alias(alias))


# Assignment-kernel tier (r13, measured same-session at 32-dim, the
# √N codebook schedule, noop sink, min-of-3): the Arrow matmul kernel
# pays ~0.3-0.5 s fixed (codebook-collect job + Python worker spin-up +
# one Arrow transpose) and then scores at matrix-product speed; the
# relational crossJoin→groupBy argmin is codegen'd with zero fixed cost
# but pays per (row, centroid). Crossover sits at k = 64 on the
# schedule: N=2k/k=32 relational 0.51 s vs arrow 0.66; N=6.4k/k=64 tie
# (0.58 vs 0.56); N=25.6k/k=128 arrow 2.5× (0.66 vs 1.64); N=102k/k=256
# arrow 10× (0.61 vs 5.90); N=200k/k=352 arrow 12× (1.23 vs 14.9).
# k encodes the corpus decade under the schedule, so the tier needs no
# extra count job. A per-row HOF argmin (array_min(transform(...)))
# was also measured and REVERTED: interpreted lambdas lose to BOTH
# forms at every rung (20.8 s at the 200k rung).
ARROW_ASSIGN_MIN_K = 64


def _argmin_assign(base: DataFrame, cents: DataFrame, id_col: str,
                   n_centroids: int,
                   dist_out: str | None = None) -> DataFrame:
    """Nearest-centroid assignment, tiered by codebook size (see
    :data:`ARROW_ASSIGN_MIN_K`): the codegen'd relational argmin below
    the crossover, the vectorized Arrow matmul kernel above it.
    Identical exact-integer distances and (dist, cid) tie-break either
    way. Adds ``cid`` (and optionally ``dist_out``) to ``base``'s
    columns; base must carry ``qv``/``n2``."""
    if n_centroids >= ARROW_ASSIGN_MIN_K:
        return _argmin_assign_arrow(base, cents, dist_out=dist_out)
    carry = [c for c in base.columns if c != id_col]
    scored = (base.crossJoin(F.broadcast(cents))
              .select(F.col(id_col), *carry, F.col("cid"),
                      (F.col("n2") + F.col("cn2")
                       - 2 * int_dot(F.col("qv"), F.col("cv")))
                      .alias("_d")))
    # lexicographic struct-min == ORDER BY _d, cid (cid unique per
    # candidate, so the carried payload never decides a tie); partial-
    # aggregates map-side — one narrow shuffled row per vector
    best = (scored.groupBy(id_col)
            .agg(F.min(F.struct(F.col("_d"), F.col("cid"),
                                *[F.col(c) for c in carry])).alias("_b")))
    cols = ([F.col(id_col)]
            + [F.col(f"_b.{c}").alias(c) for c in carry]
            + [F.col("_b.cid").alias("cid")])
    if dist_out is not None:
        cols.append(F.col("_b._d").alias(dist_out))
    return best.select(*cols)


def _collect_codebook(cents: DataFrame):
    """Driver-side numpy snapshot of a bounded codebook relation, for
    the Arrow assignment kernel (guide §4.2): the same codebook bytes
    the relational form broadcasts as rows, collected once per build
    (codebooks are fixed-size / √N-scheduled — KBs to low MBs).

    Returns ``None`` for an empty codebook. Otherwise a dict holding,
    sorted by key ascending (the (dist, key) tie-break becomes
    first-occurrence argmin):

    - ``fast``: ``(CID, C, CN2, D)`` int64 matrices when every centroid
      is clean (non-null vector, no null elements, non-null norm) and
      one dimensionality — the hot path;
    - ``by_dim``: per-dimension ``(CID_d, C_d, CN2_d)`` for clean
      centroids, ``null_min``: per-dimension min key among the OTHER
      centroids (whose distance to a d-dim row is NULL via zip_with
      padding — NULL sorts FIRST in the struct-min, so such a centroid
      WINS; pinned by test_round13_ops null-semantics probes), and
      ``gmin``: the min key overall (every centroid has NULL distance
      to an unclean row).
    """
    rows = cents.select("cid", "cv", "cn2").collect()
    return _codebook_payload([(r[0], r[1], r[2]) for r in rows])


def _codebook_payload(rows):
    """:func:`_collect_codebook` body over plain (key, vec, norm)
    tuples — shared with the per-subspace PQ kernel."""
    import numpy as np

    rows = sorted(rows, key=lambda r: r[0])
    if not rows:
        return None
    keys = [r[0] for r in rows]
    clean = [r[1] is not None and r[2] is not None
             and all(x is not None for x in r[1]) for r in rows]
    dims = sorted({len(r[1]) for r, c in zip(rows, clean) if c})
    payload = {"gmin": keys[0], "fast": None, "by_dim": {}, "null_min": {}}
    for d in dims:
        sel = [i for i, (r, c) in enumerate(zip(rows, clean))
               if c and len(r[1]) == d]
        payload["by_dim"][d] = (
            np.array([keys[i] for i in sel], dtype=np.int64),
            np.array([rows[i][1] for i in sel], dtype=np.int64).reshape(
                len(sel), d),
            np.array([rows[i][2] for i in sel], dtype=np.int64))
        others = [keys[i] for i in range(len(rows)) if i not in set(sel)]
        payload["null_min"][d] = min(others) if others else None
    if len(dims) == 1 and all(clean):
        cid, c, cn2 = payload["by_dim"][dims[0]]
        payload["fast"] = (cid, c, cn2, dims[0])
    return payload


def _argmin_assign_arrow(base: DataFrame, cents: DataFrame, *,
                         dist_out: str | None = None) -> DataFrame:
    """Nearest-centroid assignment as ONE vectorized Arrow pass
    (guide §4.2): batches of quantized vectors are handed to a NumPy
    int64 matmul argmin instead of evaluating the squared-L2 per
    (row, centroid) in JVM expressions. Measured 12× over the fastest
    JVM form at 200k vectors × 352 centroids (1.23 s vs 14.9 s
    relational groupBy-min / 20.8 s per-row HOF argmin, identical
    assignments) — higher-order array lambdas evaluate interpreted per
    element and even codegen'd row-at-a-time scoring cannot touch a
    batched matrix product.

    Exactness: quantized components are clamped to ±QCLAMP, so every
    distance fits int64 (module header) — the NumPy arithmetic is the
    same exact integers as the JVM kernel, no float rounding anywhere.
    Tie-break: centroid keys sorted ascending + first-occurrence argmin
    == the lexicographic (dist, key) struct-min. NULL semantics (null /
    empty / length-mismatched vectors) reproduce the zip_with-padding
    behavior of both prior forms — see :func:`_collect_codebook`.
    Adds ``out`` (and optionally ``dist_out``) to ``base``'s columns;
    an empty codebook yields zero rows (the empty-crossJoin semantics).
    """
    from pyspark.sql.types import LongType, StructField, StructType

    payload = _collect_codebook(cents)
    if payload is None:
        res = base.withColumn("cid", F.lit(None).cast("long"))
        if dist_out is not None:
            res = res.withColumn(dist_out, F.lit(None).cast("long"))
        return res.filter(F.lit(False))
    bc = base.sparkSession.sparkContext.broadcast(payload)
    fields = list(base.schema.fields) + [StructField("cid", LongType())]
    if dist_out is not None:
        fields.append(StructField(dist_out, LongType()))
    schema = StructType(fields)
    qv_name, n2_name, want_dist = "qv", "n2", dist_out is not None

    def assign(batches):
        import numpy as np
        import pyarrow as pa

        p = bc.value
        fast = p["fast"]
        for b in batches:
            names = b.schema.names
            qcol = b.column(names.index(qv_name))
            ncol = b.column(names.index(n2_name))
            n = b.num_rows
            cid_out = None
            if (fast is not None and n and qcol.null_count == 0
                    and ncol.null_count == 0 and qcol.values.null_count == 0):
                cid_f, c_f, cn2_f, d_f = fast
                off = qcol.offsets.to_numpy()
                if (np.diff(off) == d_f).all():
                    q = qcol.values.to_numpy()[off[0]:off[-1]].reshape(n, d_f)
                    n2a = ncol.to_numpy()
                    dist = (n2a[:, None] + cn2_f[None, :]
                            - 2 * (q @ c_f.T))
                    j = np.argmin(dist, axis=1)
                    cid_out = pa.array(cid_f[j], type=pa.int64())
                    if want_dist:
                        dist_arr = pa.array(dist[np.arange(n), j],
                                            type=pa.int64())
            if cid_out is None:  # edge batch: per-row null semantics
                ql, nl = qcol.to_pylist(), ncol.to_pylist()
                cids, dists = [], []
                for v, nn in zip(ql, nl):
                    ok = (v is not None and nn is not None
                          and all(x is not None for x in v))
                    grp = p["by_dim"].get(len(v)) if ok else None
                    if grp is None:  # all centroid distances NULL
                        cids.append(p["gmin"]); dists.append(None)
                        continue
                    nmin = p["null_min"][len(v)]
                    if nmin is not None:  # a NULL-dist centroid wins
                        cids.append(nmin); dists.append(None)
                        continue
                    kd, cd, cnd = grp
                    dd = nn + cnd - 2 * (cd @ np.asarray(v, dtype=np.int64))
                    j = int(np.argmin(dd))
                    cids.append(int(kd[j])); dists.append(int(dd[j]))
                cid_out = pa.array(cids, type=pa.int64())
                if want_dist:
                    dist_arr = pa.array(dists, type=pa.int64())
            cols = b.columns + [cid_out]
            onames = names + ["cid"]
            if want_dist:
                cols.append(dist_arr)
                onames.append(dist_out)
            yield pa.RecordBatch.from_arrays(cols, names=onames)

    return base.mapInArrow(assign, schema)


def _cascade_assign_arrow(base: DataFrame, leaf: DataFrame, id_col: str,
                          key_names: list,
                          probe2: bool = False) -> DataFrame:
    """Hierarchical (two-/three-level) IVF routing as ONE Arrow pass.

    ``leaf``: the centroid relation annotated with its hierarchy depth —
    columns (kid, cv, cn2, lvl) where lvl = the SHALLOWEST level the row
    belongs to (0 = top; levels are nested subsets by construction).
    ``key_names``: one output column per level, leaf last (e.g.
    ["sid", "cid"]). With ``probe2`` the runner-up key at the leaf's
    parent level is ALSO routed to a leaf member, appended as "cid2"
    (nullable) — the three-level multiprobe shape.

    Executes as: one bounded collect of the annotated codebook (the
    level relations are its filters), driver-side routing of the
    codebook-internal chain (codebook-sized), then a single
    ``mapInArrow`` over the corpus — replacing the per-row HOF chain
    whose one-row-aggregate broadcasts cost ~6 sequential stage waves
    (measured 1.67 s for an 8-comparison-per-row assignment at sf0.1)
    and whose lambdas evaluate interpreted at rung scale. Distances,
    (dist, key) tie-breaks and the NULL-first semantics of every level
    (incl. a member group emptied by exact-duplicate ties — its rows
    drop exactly like the ``try_element_at`` miss) reproduce the JVM
    chain bit-for-bit; rows whose LEAF key is NULL are dropped (the
    chain's ``filter(cid.isNotNull())``).
    """
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    depth = len(key_names)
    rows = leaf.collect()  # (kid, cv, cn2, lvl) — codebook-sized

    def assign_one(p, v, nn):
        """Flat argmin with the pinned NULL semantics (see
        :func:`_collect_codebook`); None only for a missing payload."""
        if p is None:
            return None
        ok = (v is not None and nn is not None
              and all(x is not None for x in v))
        grp = p["by_dim"].get(len(v)) if ok else None
        if grp is None:
            return p["gmin"]
        nmin = p["null_min"][len(v)]
        if nmin is not None:
            return nmin
        kd, cd, cnd = grp
        dd = nn + cnd - 2 * (cd @ np.asarray(v, dtype=np.int64))
        return int(kd[int(np.argmin(dd))])

    def assign_two(p, v, nn):
        """(best, runner-up) under the same (NULL-first d, key)
        ordering — the array_sort top-2 of the probe-2 chain."""
        if p is None:
            return None, None
        ok = (v is not None and nn is not None
              and all(x is not None for x in v))
        ranked = []
        for keys_d, cd, cnd in p["by_dim"].values():
            if ok and len(v) == cd.shape[1]:
                dd = nn + cnd - 2 * (cd @ np.asarray(v, dtype=np.int64))
                ranked += [(1, int(d), int(k)) for d, k in zip(dd, keys_d)]
            else:
                ranked += [(0, 0, int(k)) for k in keys_d]
        for k in p["null_keys"]:
            ranked.append((0, 0, int(k)))
        ranked.sort()
        first = ranked[0][2] if ranked else None
        second = ranked[1][2] if len(ranked) > 1 else None
        return first, second

    # ---- driver-side codebook-internal routing --------------------------------
    lvl_rows = [[(r[0], r[1], r[2]) for r in rows if r[3] <= i]
                for i in range(depth)]
    payload0 = _payload_with_null_keys(lvl_rows[0])
    if payload0 is None:
        res = base
        for kn in key_names + (["cid2"] if probe2 else []):
            res = res.withColumn(kn, F.lit(None).cast("long"))
        return res.filter(F.lit(False))
    # members[i]: parent-key -> payload over level-i rows, parent keys
    # assigned by walking the chain built so far
    members: list = [None]
    for i in range(1, depth):
        grouped: dict = {}
        for kid, v, nn in lvl_rows[i]:
            key = assign_one(payload0, v, nn)
            for j in range(1, i):
                key = assign_one(members[j].get(key), v, nn) \
                    if key is not None else None
            if key is None:
                continue  # the try_element_at-miss drop
            grouped.setdefault(key, []).append((kid, v, nn))
        members.append({k: _payload_with_null_keys(g)
                        for k, g in grouped.items()})
    bc = base.sparkSession.sparkContext.broadcast((payload0, members))
    out_names = list(key_names) + (["cid2"] if probe2 else [])
    schema = StructType(list(base.schema.fields)
                        + [StructField(k, LongType()) for k in out_names])
    qv_name, n2_name = "qv", "n2"
    runner_level = depth - 2  # probe-2 ranks the leaf's parent level

    def route(batches):
        import numpy as np
        import pyarrow as pa

        p0, mem = bc.value
        for b in batches:
            names = b.schema.names
            qcol = b.column(names.index(qv_name))
            ncol = b.column(names.index(n2_name))
            n = b.num_rows
            clean = (qcol.null_count == 0 and ncol.null_count == 0
                     and qcol.values.null_count == 0)
            off = qcol.offsets.to_numpy()
            vals = qcol.values.to_numpy() if clean else None
            n2a = ncol.to_numpy() if ncol.null_count == 0 else None
            lens = np.diff(off)
            ql = nl = None  # lazy pylists for edge rows

            def slow_rows(idx, p, two=False):
                nonlocal ql, nl
                if ql is None:
                    ql, nl = qcol.to_pylist(), ncol.to_pylist()
                fn = assign_two if two else assign_one
                return [fn(p, ql[i], nl[i]) for i in idx]

            def group_assign(idx, p, two=False):
                """keys (and runner-ups) for rows idx against payload p,
                vectorized when payload and rows are regular."""
                if p is None:
                    none = [None] * len(idx)
                    return (none, list(none)) if two else none
                fast = p["fast"]
                if (fast is not None and clean and len(idx)
                        and not p["null_keys"]
                        and (lens[idx] == fast[3]).all()):
                    cid_f, c_f, cn2_f, d_f = fast
                    q = vals[off[idx][:, None] + np.arange(d_f)[None, :]]
                    dist = (n2a[idx][:, None] + cn2_f[None, :]
                            - 2 * (q @ c_f.T))
                    if not two:
                        return list(cid_f[np.argmin(dist, axis=1)])
                    o = np.argsort(dist, axis=1, kind="stable")
                    first = list(cid_f[o[:, 0]])
                    second = (list(cid_f[o[:, 1]]) if o.shape[1] > 1
                              else [None] * len(idx))
                    return first, second
                out = slow_rows(idx, p, two)
                return (list(zip(*out)) or ([], [])) if two else out

            keys_out = [[None] * n for _ in range(depth)]
            second_out = [None] * n
            groups = {0: np.arange(n)}
            for li in range(depth):
                nxt: dict = {}
                for gk, idx in groups.items():
                    p = p0 if li == 0 else mem[li].get(gk)
                    two = probe2 and li == runner_level
                    got = group_assign(idx, p, two)
                    if two:
                        firsts, seconds = got
                        for pos, i in enumerate(idx):
                            second_out[i] = seconds[pos]
                        got = list(firsts)
                    for pos, i in enumerate(idx):
                        k = got[pos]
                        keys_out[li][i] = k
                        if k is not None and li < depth - 1:
                            nxt.setdefault(int(k), []).append(i)
                groups = {k: np.asarray(v) for k, v in nxt.items()}
            cid2 = [None] * n
            if probe2:
                by2: dict = {}
                for i in range(n):
                    if keys_out[-1][i] is not None \
                            and second_out[i] is not None:
                        by2.setdefault(int(second_out[i]), []).append(i)
                for gk, idx in by2.items():
                    idx = np.asarray(idx)
                    got = group_assign(idx, mem[depth - 1].get(gk))
                    for pos, i in enumerate(idx):
                        cid2[i] = got[pos]
            keep = [i for i in range(n) if keys_out[-1][i] is not None]
            cols = [c.take(pa.array(keep, type=pa.int32()))
                    for c in b.columns]
            cols += [pa.array([keys_out[li][i] for i in keep],
                              type=pa.int64()) for li in range(depth)]
            if probe2:
                cols.append(pa.array([cid2[i] for i in keep],
                                     type=pa.int64()))
            yield pa.RecordBatch.from_arrays(
                cols, names=names + out_names)

    return base.mapInArrow(route, schema)


def _payload_with_null_keys(rows):
    """:func:`_codebook_payload` plus the candidate keys that are
    unclean at EVERY dimension (null vectors / null elements) — the
    probe-2 top-2 ranking needs them individually, not just their min."""
    p = _codebook_payload(rows)
    if p is None:
        return None
    clean_keys = set()
    for kd, _, _ in p["by_dim"].values():
        clean_keys.update(int(k) for k in kd)
    p["null_keys"] = sorted(int(r[0]) for r in rows
                            if int(r[0]) not in clean_keys)
    return p


def cosine_topk_quantized(emb: DataFrame,
                          vec_col: str = "embedding") -> DataFrame:
    """Exact brute-force cosine top-k of every corpus vector per query.

    Query set = a FIXED ``N_QUERIES`` ids (spaced ``QUERY_MOD`` apart), so
    cost is N x N_QUERIES — linear in the corpus with a constant,
    broadcast-sized query relation. The corpus scan is a single narrow pass.
    """
    from pyspark.sql import Window
    base = emb.select(F.col("vec_id"), quantize(F.col(vec_col)).alias("q"),
                      sq_norm(quantize(F.col(vec_col))).alias("n2"))
    # zero-norm vectors have no defined cosine (and ANSI mode raises on
    # the 0.0 division) -> excluded from both sides, mirrored in the oracle
    base = base.filter(F.col("n2") > 0)
    queries = (base.filter(_fixed_sample("vec_id", QUERY_MOD, N_QUERIES))
               .select(F.col("vec_id").alias("query_id"), F.col("q").alias("qq"),
                       F.col("n2").alias("qn2")))
    corpus = base.select(F.col("vec_id").alias("match_id"), F.col("q").alias("cq"),
                         F.col("n2").alias("cn2"))
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id", "match_id",
            (int_dot(F.col("qq"), F.col("cq")).cast("double")
             / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("cn2").cast("double")))
             ).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("match_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "match_id", "cosine", "rnk"))


def cosine_topk_float(emb: DataFrame) -> DataFrame:
    """True-float brute-force cosine top-k (sequential fold, JVM-side)."""
    from pyspark.sql import Window
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select(
        F.col("vec_id"), vec.alias("v"),
        F.sqrt(F.aggregate(F.transform(vec, lambda x: x * x),
                           F.lit(0.0), lambda a, x: a + x)).alias("norm"))
    base = base.filter(F.col("norm") > 0)  # zero-norm: no defined cosine
    queries = (base.filter(_fixed_sample("vec_id", QUERY_MOD, N_QUERIES))
               .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
                       F.col("norm").alias("qnorm")))
    corpus = base.select(F.col("vec_id").alias("match_id"), F.col("v").alias("cv"),
                         F.col("norm").alias("cnorm"))
    dot = F.aggregate(F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    scored = (corpus.crossJoin(F.broadcast(queries))
              .filter(F.col("match_id") != F.col("query_id"))
              .select("query_id", "match_id",
                      (dot / (F.col("qnorm") * F.col("cnorm"))).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("match_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "match_id", "cosine", "rnk"))


def _hyperplanes() -> list[list[int]]:
    """Deterministic ±1 hyperplanes derived from md5 (no RNG, both engines
    can reproduce the exact same planes as SQL literals)."""
    planes = []
    for p in range(N_PLANES):
        row = []
        for d in range(DIM):
            h = int(hashlib.md5(f"plane{p}:{d}".encode()).hexdigest()[:15], 16)
            row.append(1 if h % 2 == 0 else -1)
        planes.append(row)
    return planes


def lsh_bucket_id(qcol: Column, planes: list[list[int]]) -> Column:
    """Random-hyperplane LSH bucket id (0..2^P-1) of a quantized vector."""
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        plane_arr = lit_long_array(plane)
        dot = int_dot(qcol, plane_arr)
        bucket = bucket + F.when(dot >= 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def lsh_buckets(emb: DataFrame) -> DataFrame:
    """(vec_id, bucket_id) assignment — the ANN partitioning relation."""
    planes = _hyperplanes()
    return emb.select(
        F.col("vec_id"),
        lsh_bucket_id(quantize(F.col("embedding")), planes).alias("bucket_id"))


def lsh_topk(emb: DataFrame) -> DataFrame:
    """ANN top-k restricted to same-bucket candidates (scale path).

    Equi-join on bucket_id replaces the cartesian scan; recall < 1.0 by
    construction, cost ∝ sum of squared bucket sizes.
    """
    from pyspark.sql import Window
    q = lsh_buckets(emb)
    base = emb.join(q, "vec_id").select(
        F.col("vec_id"), F.col("bucket_id"),
        quantize(F.col("embedding")).alias("qv"),
        sq_norm(quantize(F.col("embedding"))).alias("n2"))
    base = base.filter(F.col("n2") > 0)  # zero-norm: no defined cosine
    queries = (base.filter(_fixed_sample("vec_id", QUERY_MOD, N_QUERIES))
               .select(F.col("vec_id").alias("query_id"), F.col("bucket_id"),
                       F.col("qv").alias("qq"), F.col("n2").alias("qn2")))
    corpus = base.select(F.col("vec_id").alias("match_id"),
                         F.col("bucket_id"), F.col("qv").alias("cq"),
                         F.col("n2").alias("cn2"))
    scored = (
        corpus.join(F.broadcast(queries), "bucket_id")
        .filter(F.col("match_id") != F.col("query_id"))
        .select("query_id", "match_id",
                (int_dot(F.col("qq"), F.col("cq")).cast("double")
                 / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("cn2").cast("double")))
                 ).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("match_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "match_id", "cosine", "rnk"))


def embedding_neardup_pairs(emb: DataFrame) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-restricted.

    Candidates are same-bucket pairs (i < j) — the equi-join scale path:
    shuffle is proportional to corpus size and pair work to the sum of
    squared bucket sizes, never O(n²) over the corpus. Exact quantized
    cosine then filters candidates to `cosine > 0.40`.

    The production threshold for near-dup removal is ~0.95+; the default
    here is tuned to the synthetic table (which has no planted dups) so
    the operator's output is non-trivial at test scale.
    """
    q = lsh_buckets(emb)
    base = emb.join(q, "vec_id").select(
        F.col("vec_id"), F.col("bucket_id"),
        quantize(F.col("embedding")).alias("qv"),
        sq_norm(quantize(F.col("embedding"))).alias("n2"))
    base = base.filter(F.col("n2") > 0)  # zero-norm: no defined cosine
    a = base.select(F.col("vec_id").alias("vec_a"), F.col("bucket_id"),
                    F.col("qv").alias("qa"), F.col("n2").alias("na"))
    b = base.select(F.col("vec_id").alias("vec_b"), F.col("bucket_id"),
                    F.col("qv").alias("qb"), F.col("n2").alias("nb"))
    return (a.join(b, "bucket_id")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b",
                    (int_dot(F.col("qa"), F.col("qb")).cast("double")
                     / (F.sqrt(F.col("na").cast("double"))
                        * F.sqrt(F.col("nb").cast("double")))).alias("cosine"))
            .filter(F.col("cosine") > 0.40))


def ivf_assign(emb: DataFrame,
               centroid_mod: int = CENTROID_MOD,
               n_centroids: int = N_CENTROIDS) -> DataFrame:
    """IVF coarse quantizer: assign every vector to its nearest centroid.

    Centroids are a FIXED ``n_centroids``-size deterministic sample (a
    k-means-free codebook so both engines reproduce it exactly); distance
    is exact integer squared-L2 on quantized vectors (|v|² + |c|² -
    2·v·c). Assignment cost is N×k with k constant and the codebook
    broadcast — the standard IVF build pass (real deployments use a
    k-means codebook of 10^4-10^5 lists; same join shape).

    Execution shape (r13): the argmin runs as a vectorized Arrow batch
    kernel (:func:`_argmin_assign_arrow` — NumPy int64 matmul, same
    exact integers, same lexicographic (dist, cid) tie-break as the
    former ``groupBy``/``min(struct)`` aggregation), so assignment is a
    shuffle-free pass over the corpus scan: zero corpus rows move for
    the assignment itself, and the scoring runs at matrix-product speed
    instead of per-(row, centroid) JVM expression evaluation (measured
    12× at 200k × 352).
    """
    return _ivf_assign_cols(emb, centroid_mod, n_centroids).select(
        F.col("vec_id"), "cid")


def _ivf_assign_cols(emb: DataFrame,
                     centroid_mod: int = CENTROID_MOD,
                     n_centroids: int = N_CENTROIDS,
                     extra: tuple = ()) -> DataFrame:
    """:func:`ivf_assign` keeping the quantized vector columns:
    (id, qv, n2, cid[, *extra]) as ONE shuffle-free projection —
    consumers that need vectors+assignment together read this instead
    of re-joining the assignment back to the corpus by id (one fewer
    corpus-wide shuffle join). ``extra``: additional ``emb`` columns
    carried through the projection (e.g. a label column)."""
    base = emb.select(F.col("vec_id"), quantize(F.col("embedding")).alias("qv"),
                      sq_norm(quantize(F.col("embedding"))).alias("n2"),
                      *[F.col(e) for e in extra])
    cents = (base.filter(_fixed_sample("vec_id", centroid_mod, n_centroids))
             .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"),
                     F.col("n2").alias("cn2")))
    return (_argmin_assign(base, cents, "vec_id", n_centroids)
            .select(F.col("vec_id"), "qv", "n2", "cid",
                    *[F.col(e) for e in extra]))


def ivf_topk(emb: DataFrame, query_mod: int = QUERY_MOD,
             n_queries: int = N_QUERIES,
             centroid_mod: int = CENTROID_MOD,
             n_centroids: int = N_CENTROIDS) -> DataFrame:
    """ANN top-k probing only the query's own inverted list (nprobe=1).

    The search join is an equi-join on centroid id — per-query work is
    one inverted list, not the corpus. Recall < 1.0 by construction
    (candidates outside the query's cell are unseen)."""
    from pyspark.sql import Window
    # assignment carries (qv, n2) on the same projected row — no
    # corpus-wide id join to re-attach vectors (r13)
    base = (_ivf_assign_cols(emb, centroid_mod, n_centroids)
            .select(F.col("vec_id"), F.col("cid"), "qv", "n2")
            .filter(F.col("n2") > 0))  # zero-norm: no defined cosine
    queries = (base.filter(_fixed_sample("vec_id", query_mod, n_queries))
               .select(F.col("vec_id").alias("query_id"), F.col("cid"),
                       F.col("qv").alias("qq"), F.col("n2").alias("qn2")))
    corpus = base.select(F.col("vec_id").alias("match_id"), F.col("cid"),
                         F.col("qv").alias("cq"), F.col("n2").alias("cn2"))
    scored = (corpus.join(F.broadcast(queries), "cid")
              .filter(F.col("match_id") != F.col("query_id"))
              .select("query_id", "match_id",
                      (int_dot(F.col("qq"), F.col("cq")).cast("double")
                       / (F.sqrt(F.col("qn2").cast("double"))
                          * F.sqrt(F.col("cn2").cast("double")))).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("match_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "match_id", "cosine", "rnk"))


NPROBE = 2


def ivf_topk_multiprobe(emb: DataFrame, nprobe: int = NPROBE) -> DataFrame:
    """IVF search probing each query's ``nprobe`` nearest inverted lists.

    The recall knob of IVF: per-query cost grows with the number of lists
    probed while recall approaches brute force. Corpus vectors still live
    in exactly ONE list (the argmin assignment), so multiprobe never
    duplicates a candidate and needs no dedup. The corpus assignment is a
    map-side-partial struct-min aggregation; the nprobe ranking window
    runs only over the fixed-size query subset.
    """
    from pyspark.sql import Window
    base = emb.select(F.col("vec_id"), quantize(F.col("embedding")).alias("qv"),
                      sq_norm(quantize(F.col("embedding"))).alias("n2"))
    cents = (base.filter(_fixed_sample("vec_id", CENTROID_MOD, N_CENTROIDS))
             .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"),
                     F.col("n2").alias("cn2")))
    qranked = (base.filter(_fixed_sample("vec_id", QUERY_MOD, N_QUERIES))
               .crossJoin(F.broadcast(cents))
               .select(F.col("vec_id"), F.col("cid"),
                       (F.col("n2") + F.col("cn2")
                        - 2 * int_dot(F.col("qv"), F.col("cv"))).alias("dist")))
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    probes = (qranked.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= nprobe)
              .select(F.col("vec_id").alias("query_id"), "cid"))
    nz = base.filter(F.col("n2") > 0)  # zero-norm: no defined cosine
    # assignment carries (qv, n2) — no corpus id join (r13)
    corpus = (_ivf_assign_cols(emb)
              .filter(F.col("n2") > 0)
              .select(F.col("vec_id").alias("match_id"), "cid",
                      F.col("qv").alias("cq"), F.col("n2").alias("mn2")))
    queries = (nz.filter(_fixed_sample("vec_id", QUERY_MOD, N_QUERIES))
               .select(F.col("vec_id").alias("query_id"),
                       F.col("qv").alias("qq"), F.col("n2").alias("qn2")))
    qprobe = probes.join(queries, "query_id")
    scored = (corpus.join(F.broadcast(qprobe), "cid")
              .filter(F.col("match_id") != F.col("query_id"))
              .select("query_id", "match_id",
                      (int_dot(F.col("qq"), F.col("cq")).cast("double")
                       / (F.sqrt(F.col("qn2").cast("double"))
                          * F.sqrt(F.col("mn2").cast("double")))).alias("cosine")))
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                                F.col("match_id"))
    return (scored.withColumn("rnk", F.row_number().over(w2))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "match_id", "cosine", "rnk"))


# --- oracle-checked query entries -------------------------------------------

def similarity_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return cosine_topk_quantized(emb)


_QVEC_SQL = (f"list_transform(embedding, x -> CAST(least(greatest("
             f"round(CAST(x AS DOUBLE) * {QUANT}), {-QCLAMP}.0), "
             f"{QCLAMP}.0) AS BIGINT))")
_SIM_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings
), base0 AS (
  SELECT vec_id, qv,
    CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i])) AS DOUBLE) AS n2
  FROM q
), base AS (SELECT * FROM base0 WHERE n2 > 0), scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS match_id,
    CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> qs.qv[i] * c.qv[i])) AS DOUBLE)
      / (sqrt(qs.n2) * sqrt(c.n2)) AS cosine
  FROM base qs JOIN base c ON c.vec_id <> qs.vec_id
  WHERE {_fixed_sample_sql('qs.vec_id', QUERY_MOD, N_QUERIES)}
), ranked AS (
  SELECT query_id, match_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rnk
  FROM scored
)
SELECT query_id, match_id, cosine, rnk FROM ranked WHERE rnk <= {TOP_K}
"""


def similarity_lsh_buckets_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return (lsh_buckets(emb).groupBy("bucket_id")
            .agg(F.count("*").alias("n_vectors"),
                 F.min("vec_id").alias("min_vec_id")))


def _planes_sql() -> str:
    planes = _hyperplanes()
    terms = []
    for p, plane in enumerate(planes):
        lit = "[" + ", ".join(str(v) for v in plane) + "]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * ({lit})[i])) >= 0 "
            f"THEN CAST({1 << p} AS BIGINT) ELSE 0 END)")
    return " + ".join(terms)


_SIM_LSH_SQL = f"""
WITH q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings),
assigned AS (SELECT vec_id, {_planes_sql()} AS bucket_id FROM q)
SELECT bucket_id, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id
FROM assigned GROUP BY bucket_id
"""


def similarity_float_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return cosine_topk_float(emb)


# Oracle-checkable at full float precision: both Spark's F.aggregate and
# DuckDB's list_sum left-fold the (fixed-order, fixed-length) list, and
# IEEE double ops are correctly rounded, so identical operation order =>
# bit-identical cosines (verified empirically: max diff 0.0 at sf0.01).
# PINNED ASSUMPTION: this relies on DuckDB's list_sum staying a strict
# sequential left fold — an implementation detail, not a contract. It is
# asserted per-run by tests/test_sketches.py::test_duckdb_list_sum_is_left_fold
# against the container's DuckDB; if a DuckDB upgrade vectorizes or
# compensates the summation, that canary fails first and this spec's
# compare should switch to rank-order-only (drop the cosine column).
_SIM_FLOAT_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings
), base0 AS (
  SELECT vec_id, dv, sqrt(list_sum(list_transform(dv, x -> x * x))) AS norm
  FROM v
), base AS (SELECT * FROM base0 WHERE norm > 0), scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS match_id,
    list_sum(list_transform(range(1, {DIM + 1}), i -> qs.dv[i] * c.dv[i]))
      / (qs.norm * c.norm) AS cosine
  FROM base qs JOIN base c ON c.vec_id <> qs.vec_id
  WHERE {_fixed_sample_sql('qs.vec_id', QUERY_MOD, N_QUERIES)}
), ranked AS (
  SELECT query_id, match_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rnk
  FROM scored
)
SELECT query_id, match_id, cosine, rnk FROM ranked WHERE rnk <= {TOP_K}
"""


def similarity_lsh_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return lsh_topk(emb)


_SIM_LSH_TOPK_SQL = f"""
WITH q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings),
assigned0 AS (
  SELECT vec_id, qv, {_planes_sql()} AS bucket_id,
    CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i])) AS DOUBLE) AS n2
  FROM q
), assigned AS (SELECT * FROM assigned0 WHERE n2 > 0), scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS match_id,
    CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> qs.qv[i] * c.qv[i])) AS DOUBLE)
      / (sqrt(qs.n2) * sqrt(c.n2)) AS cosine
  FROM assigned qs JOIN assigned c
    ON c.bucket_id = qs.bucket_id AND c.vec_id <> qs.vec_id
  WHERE {_fixed_sample_sql('qs.vec_id', QUERY_MOD, N_QUERIES)}
), ranked AS (
  SELECT query_id, match_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rnk
  FROM scored
)
SELECT query_id, match_id, cosine, rnk FROM ranked WHERE rnk <= {TOP_K}
"""


def dedup_embedding_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return embedding_neardup_pairs(emb)


_DEDUP_EMB_SQL = f"""
WITH q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings),
assigned0 AS (
  SELECT vec_id, qv, {_planes_sql()} AS bucket_id,
    CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i])) AS DOUBLE) AS n2
  FROM q
), assigned AS (SELECT * FROM assigned0 WHERE n2 > 0)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
    / (sqrt(a.n2) * sqrt(b.n2)) AS cosine
FROM assigned a JOIN assigned b
  ON a.bucket_id = b.bucket_id AND a.vec_id < b.vec_id
WHERE CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
    / (sqrt(a.n2) * sqrt(b.n2)) > 0.40
"""


def similarity_ivf_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return ivf_topk(emb)


def _coarse_sql_prefix(*, carry_n2: bool, assigned: str | None) -> str:
    """Shared DuckDB CTE stack ``q -> base -> cents -> assign_scored
    [-> assigned]`` — the deterministic coarse-codebook assignment every
    IVF-family oracle re-derived inline before this generator (mirror of
    ``ivf_assign``).

    ``carry_n2``: base also carries the DOUBLE-cast squared norm (the
    search paths divide by it; the k-means update and IVF-PQ's ADC stage
    don't). ``assigned``: None stops at the ranked assignment
    (IVF-PQ reads rn directly), "search" keeps (qv, n2) and drops
    zero-norm vectors (cosine is undefined there), "update" keeps qv
    only (the k-means mean update).
    """
    sq = f"list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i]))"
    dot = (f"list_sum(list_transform(range(1, {DIM + 1}), "
           f"i -> base.qv[i] * cents.cv[i]))")
    n2_line = f"\n    CAST({sq} AS DOUBLE) AS n2," if carry_n2 else ""
    out = f"""
WITH q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings),
base AS (
  SELECT vec_id, qv,{n2_line}
    {sq} AS in2
  FROM q
), cents AS (
  SELECT vec_id AS cid, qv AS cv, in2 AS cn2 FROM base
  WHERE {_fixed_sample_sql('vec_id', CENTROID_MOD, N_CENTROIDS)}
), assign_scored AS (
  SELECT base.vec_id, cents.cid,
    ROW_NUMBER() OVER (PARTITION BY base.vec_id ORDER BY base.in2 + cents.cn2
      - 2 * {dot}, cents.cid) AS rn
  FROM base CROSS JOIN cents
)"""
    if assigned == "search":
        out += """, assigned AS (
  SELECT b.vec_id, a.cid, b.qv, b.n2
  FROM base b JOIN assign_scored a ON a.vec_id = b.vec_id AND a.rn = 1
  WHERE b.in2 > 0
)"""
    elif assigned == "update":
        out += """, assigned AS (
  SELECT b.vec_id, a.cid, b.qv
  FROM base b JOIN assign_scored a ON a.vec_id = b.vec_id AND a.rn = 1
)"""
    return out


# shared final ranking: cosine top-k per query with deterministic ties
_RANKED_TOPK_TAIL = f""", ranked AS (
  SELECT query_id, match_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rnk
  FROM scored
)
SELECT query_id, match_id, cosine, rnk FROM ranked WHERE rnk <= {TOP_K}
"""


_IVF_SQL = _coarse_sql_prefix(carry_n2=True, assigned="search") + f""", scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS match_id,
    CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> qs.qv[i] * c.qv[i])) AS DOUBLE)
      / (sqrt(qs.n2) * sqrt(c.n2)) AS cosine
  FROM assigned qs JOIN assigned c
    ON c.cid = qs.cid AND c.vec_id <> qs.vec_id
  WHERE {_fixed_sample_sql('qs.vec_id', QUERY_MOD, N_QUERIES)}
)""" + _RANKED_TOPK_TAIL


# --- k-means codebook refinement (Lloyd's iterations, DataFrame-native) ---------

def kmeans_refine(emb: DataFrame, n_iter: int = 2,
                  centroid_mod: int = CENTROID_MOD,
                  n_centroids: int = N_CENTROIDS) -> DataFrame:
    """Lloyd's k-means over the embedding column, returning refined
    centroids as (cid, n_members, centroid array<double>).

    This is the production IVF codebook builder for which the fixed
    deterministic sample (``ivf_assign``) is the init. Each iteration is
    two relational steps — assign (argmin over k broadcast centroids) and
    update (posexplode + (cid, pos) aggregation of exact integer
    component sums, one division at the end) — with ``localCheckpoint``
    truncating lineage per round. At 100 TB the assignment pass shuffles
    nothing (narrow + broadcast) and the update shuffles only dim x k
    partial sums per task.

    Determinism: vectors are quantized to integers; means are exact
    integer sums divided once, so every iteration's centroids are
    bit-identical across engines (IEEE division is correctly rounded) and
    the argmin (computed as (|v|²+|c|²-2·v·c) in doubles with a fixed
    fold order, ties broken by cid) is reproducible.
    """
    from pyspark.sql import Window
    base = emb.select(F.col("vec_id"), quantize(F.col("embedding")).alias("qv"))
    base = base.withColumn(
        "dv", F.transform("qv", lambda x: x.cast("double"))).localCheckpoint()
    # init: the fixed-sample codebook, as doubles
    cents = (base.filter(_fixed_sample("vec_id", centroid_mod, n_centroids))
             .select(F.col("vec_id").alias("cid"), F.col("dv").alias("cv")))
    for _ in range(n_iter):
        cn2 = F.aggregate(F.zip_with(F.col("cv"), F.col("cv"),
                                     lambda x, y: x * y),
                          F.lit(0.0), lambda a, x: a + x)
        c = cents.select("cid", "cv", cn2.alias("cn2"))
        # relational argmin (r13 measured: the per-row HOF form's
        # interpreted lambdas lose to this codegen'd crossJoin +
        # groupBy at every codebook size; a NumPy kernel is ruled out
        # here because DOUBLE distances must keep the exact JVM fold
        # order to stay bit-equal cross-engine). Lexicographic
        # struct-min == ORDER BY dist, cid; cid is unique so the
        # carried qv never decides a tie.
        vn2 = F.aggregate(F.zip_with(F.col("dv"), F.col("dv"),
                                     lambda x, y: x * y),
                          F.lit(0.0), lambda a, x: a + x)
        dot = F.aggregate(F.zip_with(F.col("dv"), F.col("cv"),
                                     lambda x, y: x * y),
                          F.lit(0.0), lambda a, x: a + x)
        scored = (base.crossJoin(F.broadcast(c))
                  .select(F.col("vec_id"), "cid", "qv",
                          (vn2 + F.col("cn2") - 2 * dot).alias("dist")))
        assigned = (scored.groupBy("vec_id")
                    .agg(F.min(F.struct("dist", "cid", "qv")).alias("best"))
                    .select("vec_id", F.col("best.cid").alias("cid"),
                            F.col("best.qv").alias("qv")))
        comp = assigned.select("cid", F.posexplode("qv").alias("pos", "comp"))
        means = (comp.groupBy("cid", "pos")
                 .agg(F.sum("comp").alias("s"), F.count("*").alias("n"))
                 .select("cid", "pos",
                         (F.col("s").cast("double") / F.col("n").cast("double"))
                         .alias("m"), "n"))
        cents = (means.groupBy("cid")
                 .agg(F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "m"))),
                     lambda x: x["m"]).alias("cv"),
                     F.max("n").alias("n_members"))).localCheckpoint()
    return cents.select("cid", "n_members", F.col("cv").alias("centroid"))


def similarity_kmeans_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration, oracle-checked: per-cluster size plus an
    integer checksum of the refined centroid (round(mean*1e6) summed over
    dims — means are exact int sums / counts, so the checksum is
    deterministic cross-engine)."""
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    cents = kmeans_refine(emb, n_iter=1)
    checksum = F.aggregate(
        F.transform(F.col("centroid"),
                    lambda m: F.round(m * 1e6).cast("long")),
        F.lit(0).cast("long"), lambda a, x: a + x)
    return (cents.select("cid", "n_members", checksum.alias("centroid_checksum"))
            .orderBy("cid"))


_KMEANS_SQL = _coarse_sql_prefix(carry_n2=False, assigned="update") + f""", comp AS (
  SELECT cid, generate_subscripts(qv, 1) AS pos, unnest(qv) AS comp
  FROM assigned
), means AS (
  SELECT cid, pos,
    CAST(SUM(comp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m,
    COUNT(*) AS n
  FROM comp GROUP BY cid, pos
)
SELECT cid, MAX(n) AS n_members,
  CAST(SUM(CAST(round(m * 1e6) AS BIGINT)) AS BIGINT) AS centroid_checksum
FROM means GROUP BY cid ORDER BY cid
"""


register(QuerySpec("similarity_kmeans_refine", similarity_kmeans_query,
                   _KMEANS_SQL,
                   description="one Lloyd's k-means codebook refinement, exact-mean checksummed"))


# --- refined IVF: k-means codebook wired into the search path -------------------

KMEANS_SEARCH_ITERS = 2


def ivf_topk_refined(emb: DataFrame,
                     centroid_mod: int = CENTROID_MOD,
                     n_centroids: int = N_CENTROIDS,
                     n_iter: int = KMEANS_SEARCH_ITERS,
                     nprobe: int = 1) -> DataFrame:
    """IVF ANN search against a Lloyd's-REFINED codebook.

    ``ivf_topk`` assigns against the raw fixed-sample codebook; this
    variant first refines it with ``n_iter`` k-means rounds
    (``kmeans_refine``), then builds the inverted lists by nearest
    refined centroid and searches the query's ``nprobe`` nearest lists
    (candidate sets grow monotonically with nprobe, so recall can only
    improve — asserted in tests). Same join shape and scale properties
    as ``ivf_topk``/``ivf_topk_multiprobe`` — the refinement passes are
    each broadcast-argmin + (cid, pos) aggregation, so the codebook
    build stays linear in the corpus.

    Determinism: refined centroid components are exact integer sums
    divided once (bit-identical across engines); the assignment distance
    is a fixed-order double fold with ties broken by cid; the search
    cosine is exact integer arithmetic.
    """
    from pyspark.sql import Window
    cents = (kmeans_refine(emb, n_iter,
                           centroid_mod, n_centroids)
             .select("cid", F.col("centroid").alias("cv")))
    cn2 = F.aggregate(F.zip_with(F.col("cv"), F.col("cv"), lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    c = cents.select("cid", "cv", cn2.alias("cn2"))
    base = emb.select(F.col("vec_id"), quantize(F.col("embedding")).alias("qv"))
    base = base.withColumn("dv", F.transform("qv", lambda x: x.cast("double")))
    # corpus assignment: relational argmin (r13 measured — interpreted
    # HOF lambdas lose to the codegen'd crossJoin + groupBy; NumPy is
    # ruled out for DOUBLE distances, which must keep the exact JVM
    # fold order): lexicographic struct-min (== ORDER BY dist, cid)
    # partial-aggregates map-side — one shuffled row per vector
    vn2 = F.aggregate(F.zip_with(F.col("dv"), F.col("dv"), lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    dot = F.aggregate(F.zip_with(F.col("dv"), F.col("cv"), lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    assigned = (base.crossJoin(F.broadcast(c))
                .select(F.col("vec_id"), "cid", "qv",
                        (vn2 + F.col("cn2") - 2 * dot).alias("dist"))
                .groupBy("vec_id")
                .agg(F.min(F.struct("dist", "cid", "qv")).alias("best"))
                .select("vec_id", F.col("best.cid").alias("cid"),
                        F.col("best.qv").alias("qv")))
    withn = (assigned.withColumn("n2", sq_norm(F.col("qv")))
             .filter(F.col("n2") > 0))  # zero-norm: no defined cosine
    qbase = (withn.filter(_fixed_sample("vec_id", QUERY_MOD, N_QUERIES))
             .select(F.col("vec_id").alias("query_id"),
                     F.col("qv").alias("qq"), F.col("n2").alias("qn2")))
    # query's nprobe nearest refined lists: per-row sorted top-nprobe
    # over the broadcast codebook ARRAY (the former rank-window over
    # the scored relation ordered by the identical (dist, cid) key),
    # then exploded — bounded: only the fixed n_queries sample pays
    # the interpreted HOF, so the relational restore does not apply
    crow = _cands_row(c, ["cid", "cv", "cn2"], "kmc")
    dotd = ("aggregate(zip_with(dv, c.cv, (x, y) -> x * y), "
            "cast(0.0 as double), (acc, x) -> acc + x)")
    vn2d = ("aggregate(zip_with(dv, dv, (x, y) -> x * y), "
            "cast(0.0 as double), (acc, x) -> acc + x)")
    probes = (base.filter(_fixed_sample("vec_id", QUERY_MOD, N_QUERIES))
              .crossJoin(F.broadcast(crow))
              .withColumn("t", F.expr(
                  f"slice(array_sort(transform(kmc, c -> "
                  f"struct({vn2d} + c.cn2 - 2 * {dotd} as d, "
                  f"c.cid as k))), 1, {int(nprobe)})"))
              .select(F.col("vec_id").alias("query_id"),
                      F.explode("t").alias("p"))
              .select("query_id", F.col("p.k").alias("cid")))
    queries = probes.join(qbase, "query_id")
    corpus = withn.select(F.col("vec_id").alias("match_id"), "cid",
                          F.col("qv").alias("cq"), F.col("n2").alias("mn2"))
    searched = (corpus.join(F.broadcast(queries), "cid")
                .filter(F.col("match_id") != F.col("query_id"))
                .select("query_id", "match_id",
                        (int_dot(F.col("qq"), F.col("cq")).cast("double")
                         / (F.sqrt(F.col("qn2").cast("double"))
                            * F.sqrt(F.col("mn2").cast("double")))).alias("cosine")))
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                                F.col("match_id"))
    return (searched.withColumn("rnk", F.row_number().over(w2))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "match_id", "cosine", "rnk"))


def _ivf_refined_recall(spark: SparkSession, sf_dir: str,
                        **ivf_kwargs) -> DataFrame:
    """Recall gate for the refined-IVF path: per query, how many of the
    exact brute-force top-k survive in the refined-IVF top-k. The entire
    pipeline (Lloyd's rounds -> inverted lists -> list-local search ->
    set overlap vs ground truth) is mirrored in the oracle, so a green
    row certifies the refinement math end-to-end, not just row counts."""
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    truth = cosine_topk_quantized(emb).select("query_id", "match_id")
    approx = (ivf_topk_refined(emb, **ivf_kwargs)
              .select("query_id", "match_id", F.lit(1).alias("hit")))
    joined = truth.join(approx, ["query_id", "match_id"], "left")
    return (joined.groupBy("query_id")
            .agg(F.count("*").alias("n_truth"),
                 F.count("hit").alias("n_overlap"),
                 (F.count("hit").cast("double") / F.count("*").cast("double"))
                 .alias("recall"))
            .orderBy("query_id"))


def similarity_ivf_refined_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_refined_recall(spark, sf_dir)


K256_CENTROID_MOD = 7
K256_CENTROIDS = 256
K256_NPROBE = 4
K256_ITERS = 1


def similarity_ivf_k256_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-list-count IVF path (n_centroids=256, nprobe=4) as
    a parity-checked spec, not just a unit gate: centroid_mod=7 keeps
    the deterministic codebook sample inside small corpora (the sample
    shrinks with the corpus — both engines agree by construction), and
    nprobe=4 exercises the multi-list probe ranking the nprobe=1 spec
    never touches."""
    return _ivf_refined_recall(spark, sf_dir,
                               centroid_mod=K256_CENTROID_MOD,
                               n_centroids=K256_CENTROIDS,
                               n_iter=K256_ITERS, nprobe=K256_NPROBE)


def _lloyd_iteration_sql(i: int, dim1: int, *, key: str | None,
                         vec: str) -> str:
    """One Lloyd's round as DuckDB CTEs (cw{i} -> a{i} -> mm{i} ->
    cents{i+1}), shared by the refined-IVF and trained-PQ oracles.

    ``key=None``: one global codebook over full vectors (refined IVF,
    cross join against the whole codebook). ``key="m"``: per-subspace
    codebooks trained jointly (trained PQ — the assignment equi-joins on
    the subspace index, mirroring the Spark side's join on ``m``).
    ``vec`` is the integer-component column carried through the update
    (qv for full vectors, sv for subvectors).
    """
    ksel = f"{key}, " if key else ""
    bksel = f"b.{key}, " if key else ""
    part = f"b.vec_id, b.{key}" if key else "b.vec_id"
    join = f"JOIN cw{i} c ON c.{key} = b.{key}" if key else f"CROSS JOIN cw{i} c"
    return f"""cw{i} AS (
  SELECT {ksel}cid, cv, list_sum(list_transform(cv, x -> x * x)) AS cn2
  FROM cents{i}
), a{i} AS (
  SELECT b.vec_id, {bksel}c.cid, b.{vec},
    ROW_NUMBER() OVER (PARTITION BY {part} ORDER BY
      b.vn2 + c.cn2
        - 2 * list_sum(list_transform(range(1, {dim1}), j -> b.dv[j] * c.cv[j])),
      c.cid) AS rn
  FROM based b {join}
), mm{i} AS (
  SELECT {ksel}cid, pos, CAST(SUM(comp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mc
  FROM (SELECT {ksel}cid, generate_subscripts({vec}, 1) AS pos, unnest({vec}) AS comp
        FROM a{i} WHERE rn = 1) x
  GROUP BY {ksel}cid, pos
), cents{i + 1} AS (
  SELECT {ksel}cid, list(mc ORDER BY pos) AS cv FROM mm{i} GROUP BY {ksel}cid
)"""


def _refined_ivf_sql(centroid_mod: int = CENTROID_MOD,
                     n_centroids: int = N_CENTROIDS,
                     nprobe: int = 1,
                     n_iter: int = KMEANS_SEARCH_ITERS) -> str:
    dim1 = DIM + 1
    n = n_iter
    iters = ",\n".join(_lloyd_iteration_sql(i, dim1, key=None, vec="qv")
                       for i in range(n))
    return f"""
WITH q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings),
based AS (
  SELECT vec_id, qv,
    list_transform(qv, x -> CAST(x AS DOUBLE)) AS dv,
    list_sum(list_transform(list_transform(qv, x -> CAST(x AS DOUBLE)),
                            x -> x * x)) AS vn2
  FROM q
), cents0 AS (
  SELECT vec_id AS cid, list_transform(qv, x -> CAST(x AS DOUBLE)) AS cv
  FROM q WHERE {_fixed_sample_sql('vec_id', centroid_mod, n_centroids)}
),
{iters},
cwf AS (
  SELECT cid, cv, list_sum(list_transform(cv, x -> x * x)) AS cn2 FROM cents{n}
), af AS (
  SELECT b.vec_id, c.cid, b.qv,
    ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
      b.vn2 + c.cn2
        - 2 * list_sum(list_transform(range(1, {dim1}), j -> b.dv[j] * c.cv[j])),
      c.cid) AS rn
  FROM based b CROSS JOIN cwf c
), nz AS (
  SELECT vec_id, cid, qv,
    CAST(list_sum(list_transform(range(1, {dim1}), j -> qv[j] * qv[j])) AS DOUBLE) AS n2
  FROM af WHERE rn = 1
    AND list_sum(list_transform(range(1, {dim1}), j -> qv[j] * qv[j])) > 0
), probes AS (
  SELECT vec_id, cid FROM af
  WHERE rn <= {nprobe} AND {_fixed_sample_sql('vec_id', QUERY_MOD, N_QUERIES)}
), ivf_scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS match_id,
    CAST(list_sum(list_transform(range(1, {dim1}), j -> qs.qv[j] * c.qv[j])) AS DOUBLE)
      / (sqrt(qs.n2) * sqrt(c.n2)) AS cosine
  FROM probes p
  JOIN nz qs ON qs.vec_id = p.vec_id
  JOIN nz c ON c.cid = p.cid AND c.vec_id <> p.vec_id
), ivf AS (
  SELECT query_id, match_id FROM (
    SELECT query_id, match_id,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rnk
    FROM ivf_scored) r WHERE rnk <= {TOP_K}
), bfbase AS (
  SELECT vec_id, qv,
    CAST(list_sum(list_transform(range(1, {dim1}), j -> qv[j] * qv[j])) AS DOUBLE) AS n2
  FROM q
  WHERE list_sum(list_transform(range(1, {dim1}), j -> qv[j] * qv[j])) > 0
), bf_scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS match_id,
    CAST(list_sum(list_transform(range(1, {dim1}), j -> qs.qv[j] * c.qv[j])) AS DOUBLE)
      / (sqrt(qs.n2) * sqrt(c.n2)) AS cosine
  FROM bfbase qs JOIN bfbase c ON c.vec_id <> qs.vec_id
  WHERE {_fixed_sample_sql('qs.vec_id', QUERY_MOD, N_QUERIES)}
), bf AS (
  SELECT query_id, match_id FROM (
    SELECT query_id, match_id,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rnk
    FROM bf_scored) r WHERE rnk <= {TOP_K}
)
SELECT bf.query_id, COUNT(*) AS n_truth,
  CAST(COUNT(ivf.match_id) AS BIGINT) AS n_overlap,
  CAST(COUNT(ivf.match_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
FROM bf LEFT JOIN ivf
  ON ivf.query_id = bf.query_id AND ivf.match_id = bf.match_id
GROUP BY bf.query_id ORDER BY bf.query_id
"""


register(QuerySpec("similarity_ivf_refined", similarity_ivf_refined_query,
                   _refined_ivf_sql(),
                   description=f"IVF search against a {KMEANS_SEARCH_ITERS}-round Lloyd's-refined codebook, recall@k vs exact top-k"))
register(QuerySpec("similarity_ivf_k256", similarity_ivf_k256_query,
                   _refined_ivf_sql(centroid_mod=K256_CENTROID_MOD,
                                    n_centroids=K256_CENTROIDS,
                                    nprobe=K256_NPROBE, n_iter=K256_ITERS),
                   description="production-list-count IVF (256 lists, "
                               "nprobe=4) recall@k vs exact top-k"))


# --- label centroids: the codebook-building aggregate ---------------------------

def label_centroids_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label component-wise centroid of the embedding column.

    This is the k-means/IVF codebook-update step expressed relationally:
    posexplode the (quantized) vector, one hash aggregation on
    (label, pos) with map-side partial sums — at 100 TB the shuffle
    carries only dim x labels partial aggregates per task, never vectors.
    Exact: integer component sums, one double division at the end.
    """
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    q = emb.select("label", quantize(F.col("embedding")).alias("qv"))
    exploded = q.select("label", F.posexplode("qv").alias("pos", "comp"))
    return (exploded.groupBy("label", "pos")
            .agg(F.count("*").alias("n"),
                 (F.sum("comp").cast("double") / F.count("*").cast("double"))
                 .alias("centroid")))


_CENTROID_SQL = f"""
WITH q AS (SELECT label, {_QVEC_SQL} AS qv FROM embeddings),
u AS (
  SELECT label, unnest(qv) AS comp, generate_subscripts(qv, 1) - 1 AS pos
  FROM q
)
SELECT label, pos, COUNT(*) AS n,
  CAST(SUM(comp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS centroid
FROM u GROUP BY label, pos
"""


register(QuerySpec("similarity_label_centroids", label_centroids_query,
                   _CENTROID_SQL,
                   description="per-label embedding centroids (k-means/IVF codebook step), exact int sums"))
register(QuerySpec("similarity_cosine_topk", similarity_topk_query, _SIM_TOPK_SQL,
                   headline=True,
                   description="brute-force cosine top-k, quantized-exact, broadcast queries"))
register(QuerySpec("similarity_lsh_buckets", similarity_lsh_buckets_query, _SIM_LSH_SQL,
                   description="random-hyperplane LSH bucket assignment histogram"))
register(QuerySpec("similarity_lsh_topk", similarity_lsh_topk_query, _SIM_LSH_TOPK_SQL,
                   description="ANN top-k within LSH buckets (equi-join scale path)"))
register(QuerySpec("similarity_cosine_topk_float", similarity_float_topk_query,
                   _SIM_FLOAT_SQL,
                   description="true-float brute-force cosine top-k (bit-identical left-fold doubles both engines)"))
register(QuerySpec("dedup_embedding_cosine", dedup_embedding_query, _DEDUP_EMB_SQL,
                   description="embedding-cosine near-dup pairs, LSH-bucketed candidates + exact quantized cosine"))
def similarity_ivf_multiprobe_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return ivf_topk_multiprobe(emb)


_IVF_MULTIPROBE_SQL = _coarse_sql_prefix(carry_n2=True, assigned="search") + f""", probes AS (
  SELECT vec_id AS query_id, cid FROM assign_scored
  WHERE {_fixed_sample_sql('vec_id', QUERY_MOD, N_QUERIES)} AND rn <= {NPROBE}
), scored AS (
  SELECT p.query_id, c.vec_id AS match_id,
    CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> qs.qv[i] * c.qv[i])) AS DOUBLE)
      / (sqrt(qs.n2) * sqrt(c.n2)) AS cosine
  FROM probes p
  JOIN base qs ON qs.vec_id = p.query_id AND qs.in2 > 0
  JOIN assigned c ON c.cid = p.cid AND c.vec_id <> p.query_id
)""" + _RANKED_TOPK_TAIL


register(QuerySpec("similarity_ivf_topk", similarity_ivf_topk_query, _IVF_SQL,
                   description="IVF ANN: deterministic coarse codebook, nearest-centroid lists, nprobe=1 search"))
register(QuerySpec("similarity_ivf_multiprobe", similarity_ivf_multiprobe_query,
                   _IVF_MULTIPROBE_SQL,
                   description=f"IVF ANN multiprobe search (nprobe={NPROBE} recall knob)"))


def ann_recall(emb: DataFrame) -> DataFrame:
    """Measured recall@k of the IVF searchers against the EXACT
    brute-force ground truth, in-engine — the number an ANN deployment
    tunes nprobe/codebook size against (the "measure, don't guess"
    evaluation, same shape as dedup's ``lsh_eval``/``signal_eval``).

    Per (method, query) row: truth size, hits, recall — exact-integer
    counts, recall = ratio of exact ints (bit-identical cross-engine).
    Methods evaluated: nprobe=1 and the multiprobe searcher, against
    ONE shared exact truth (computed once, two cheap alignments).

    Scale: truth is the registered brute-force headline (N x n_queries,
    linear with a broadcast query relation); both ANN sides probe
    inverted lists only. The alignments join (n_queries x k)-row
    relations — trivially broadcastable; per-query aggregation state is
    <= k rows. Nothing here adds a corpus-scale shuffle beyond what the
    three searchers already do.
    """
    truth = (cosine_topk_quantized(emb)
             .select("query_id", "match_id").localCheckpoint())
    methods = (
        ("ivf_nprobe1", ivf_topk(emb)),
        (f"ivf_nprobe{NPROBE}",
         ivf_topk_multiprobe(emb)),
    )
    out = None
    for name, approx in methods:
        got = (approx.select("query_id", "match_id")
               .withColumn("hit", F.lit(1)))
        scored = (truth.join(F.broadcast(got), ["query_id", "match_id"],
                             "left")
                  .groupBy("query_id")
                  .agg(F.count("*").alias("n_truth"),
                       F.sum(F.coalesce("hit", F.lit(0))).cast("bigint")
                       .alias("n_hit"))
                  .select(F.lit(name).alias("method"), "query_id",
                          "n_truth", "n_hit",
                          (F.col("n_hit").cast("double")
                           / F.col("n_truth").cast("double"))
                          .alias("recall")))
        out = scored if out is None else out.unionByName(scored)
    return out


def similarity_ann_recall_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return ann_recall(emb)


def _ann_recall_sql() -> str:
    """Oracle: the three registered searcher oracles inlined verbatim as
    subqueries (all read ``embeddings`` directly — no source rewiring),
    aligned per method against the shared exact truth."""
    evals = []
    for name, sql in (("ivf_nprobe1", _IVF_SQL),
                      (f"ivf_nprobe{NPROBE}", _IVF_MULTIPROBE_SQL)):
        evals.append(f"""
SELECT '{name}' AS method, t.query_id,
  CAST(COUNT(*) AS BIGINT) AS n_truth,
  CAST(SUM(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_hit
FROM truth t LEFT JOIN (
  SELECT query_id, match_id FROM ({sql})
) a ON a.query_id = t.query_id AND a.match_id = t.match_id
GROUP BY t.query_id""")
    body = "\nUNION ALL\n".join(evals)
    return f"""
WITH truth AS MATERIALIZED (
  SELECT query_id, match_id FROM ({_SIM_TOPK_SQL})
)
SELECT method, query_id, n_truth, n_hit,
  CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall
FROM ({body})
"""


register(QuerySpec(
    "similarity_ann_recall", similarity_ann_recall_query, _ann_recall_sql(),
    description="measured recall@k of the IVF searchers (nprobe=1 and "
                f"multiprobe) vs ONE shared exact brute-force truth — "
                "per-query exact-integer hit counts"))


# --- product quantization (PQ) ANN ---------------------------------------------

M_SUB = 4                  # subspaces
SUB_DIM = DIM // M_SUB     # dims per subspace
PQ_KS = 16                 # sub-codebook size per subspace


def _subvectors(qv: Column, m_sub: int = M_SUB,
                sub_dim: int = SUB_DIM) -> Column:
    """array<bigint>[DIM] -> array of m_sub slices (the PQ subvectors)."""
    return F.array(*[F.slice(qv, m * sub_dim + 1, sub_dim)
                     for m in range(m_sub)])


def _sq_l2(a: Column, b: Column) -> Column:
    """Exact integer squared L2 distance between two array<bigint>."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)


def pq_encode(emb: DataFrame,
              centroid_mod: int = CENTROID_MOD, m_sub: int = M_SUB) -> DataFrame:
    """Product-quantization encoder: each vector -> M_SUB small codes.

    Sub-codebooks are the PQ analogue of ivf_assign's coarse codebook: a
    FIXED deterministic sample of ``PQ_KS`` corpus vectors, sliced into
    M_SUB subvectors (k-means-free so both engines reproduce the exact
    codebook; a production build would Lloyd's-refine each subspace with
    kmeans_refine, same join shape). Returns one row per (vector,
    subspace): (id, m, code) where code is the id of the nearest
    sub-centroid by exact integer squared-L2.

    Scale: the codebook is M_SUB x PQ_KS rows (KB-sized) and broadcast;
    encode cost is N x M_SUB x PQ_KS with map-side argmin only — the
    standard PQ build pass. The encoded corpus is M_SUB bigints per
    vector (vs DIM floats), the memory win that makes billion-scale
    ANN fit.
    """
    base = emb.select(
        F.col("vec_id"),
        _subvectors(quantize(F.col("embedding")),
                    m_sub, DIM // m_sub).alias("subs"))
    subs = base.select(
        "vec_id", F.posexplode("subs").alias("m", "sv"))
    cents = (base.filter(_fixed_sample("vec_id", centroid_mod, PQ_KS))
             .select(F.col("vec_id").alias("cid"),
                     F.posexplode("subs").alias("m", "cv")))
    # per-subspace argmin: the codegen'd relational form (PQ_KS = 16
    # sub-centroids sits below the ARROW_ASSIGN_MIN_K crossover)
    scored = (subs.join(F.broadcast(cents), "m")
              .select("vec_id", "m", "cid",
                      _sq_l2(F.col("sv"), F.col("cv")).alias("d")))
    # argmin via min(struct(d, cid)): lexicographic struct-min == ORDER
    # BY d, cid — same deterministic tie-break as a rank-1 window, but
    # it partial-aggregates map-side (the shuffle carries one row per
    # (vector, subspace), not one per candidate centroid)
    return (scored.groupBy("vec_id", "m")
            .agg(F.min(F.struct("d", "cid")).alias("best"))
            .select("vec_id", "m", F.col("best.cid").alias("code")))


def pq_topk(emb: DataFrame, k: int = TOP_K,
            query_mod: int = QUERY_MOD, n_queries: int = N_QUERIES,
            centroid_mod: int = CENTROID_MOD,
            m_sub: int = M_SUB) -> DataFrame:
    """Asymmetric-distance (ADC) PQ search: approximate L2 top-k.

    Each query precomputes exact subspace distances to every sub-centroid
    (an M_SUB x PQ_KS table, broadcast); a corpus vector's approximate
    distance is the sum of table entries selected by its codes — an
    equi-join on (m, code) + a sum, never touching corpus floats. All
    arithmetic is exact integers, so results hash-match across engines.

    Complements IVF (similarity_ivf_topk): IVF prunes WHICH vectors are
    scored, PQ compresses HOW each is scored; IVF-PQ composes both.
    """
    from pyspark.sql import Window
    codes = pq_encode(emb, centroid_mod, m_sub)
    base = emb.select(
        F.col("vec_id"),
        _subvectors(quantize(F.col("embedding")),
                    m_sub, DIM // m_sub).alias("subs"))
    cents = (base.filter(_fixed_sample("vec_id", centroid_mod, PQ_KS))
             .select(F.col("vec_id").alias("code"),
                     F.posexplode("subs").alias("m", "cv")))
    qtab = (base.filter(_fixed_sample("vec_id", query_mod, n_queries))
            .select(F.col("vec_id").alias("query_id"),
                    F.posexplode("subs").alias("m", "sv"))
            .join(F.broadcast(cents), "m")
            .select("query_id", "m", "code",
                    _sq_l2(F.col("sv"), F.col("cv")).alias("qd")))
    scored = (codes.join(F.broadcast(qtab), ["m", "code"])
              .filter(F.col("vec_id") != F.col("query_id"))
              .groupBy("query_id", "vec_id")
              .agg(F.sum("qd").alias("adc_dist"))
              .withColumnRenamed("vec_id", "match_id"))
    w = Window.partitionBy("query_id").orderBy("adc_dist", "match_id")
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("query_id", "match_id", "adc_dist", "rnk"))


def similarity_pq_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return pq_topk(emb)


def _pq_adc_cte(m_sub: int) -> str:
    """Shared DuckDB CTE chain ending in ``adc(query_id, match_id,
    adc_dist)`` — the exact mirror of pq_encode + the ADC table join."""
    sub_dim = DIM // m_sub
    subs_sql = (f"list_transform(range(0, {m_sub}), "
                f"m -> qv[m * {sub_dim} + 1 : m * {sub_dim} + {sub_dim}])")
    d_sql = ("CAST(list_sum(list_transform(range(1, %d), "
             "i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) AS BIGINT)"
             % (sub_dim + 1))
    return f"""
WITH q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings),
subs AS (
  SELECT vec_id, CAST(m AS INT) AS m, slices[m + 1] AS sv
  FROM (SELECT vec_id, {subs_sql} AS slices FROM q),
       (SELECT unnest(range(0, {m_sub})) AS m)
), cents AS (
  SELECT vec_id AS cid, m, sv AS cv FROM subs
  WHERE {_fixed_sample_sql('vec_id', CENTROID_MOD, PQ_KS)}
), enc AS (
  SELECT vec_id, m, cid AS code FROM (
    SELECT s.vec_id, s.m, c.cid,
      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                         ORDER BY {d_sql}, c.cid) AS rn
    FROM subs s JOIN cents c ON s.m = c.m)
  WHERE rn = 1
), qtab AS (
  SELECT s.vec_id AS query_id, s.m, c.cid AS code, {d_sql} AS qd
  FROM subs s JOIN cents c ON s.m = c.m
  WHERE {_fixed_sample_sql('s.vec_id', QUERY_MOD, N_QUERIES)}
), adc AS (
  SELECT t.query_id, e.vec_id AS match_id, CAST(SUM(t.qd) AS BIGINT) AS adc_dist
  FROM enc e JOIN qtab t ON t.m = e.m AND t.code = e.code
  WHERE e.vec_id <> t.query_id
  GROUP BY 1, 2
)"""


_PQ_SQL = f"""{_pq_adc_cte(M_SUB)},
ranked AS (
  SELECT query_id, match_id, adc_dist,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc_dist, match_id) AS rnk
  FROM adc
)
SELECT query_id, match_id, adc_dist, rnk FROM ranked WHERE rnk <= {TOP_K}
"""

register(QuerySpec("similarity_pq_topk", similarity_pq_topk_query, _PQ_SQL,
                   description=f"product-quantization ANN: {M_SUB}x{PQ_KS} "
                               "deterministic sub-codebooks, exact-int ADC search"))


# --- PQ shortlist + exact rerank ------------------------------------------------

RERANK_M_SUB = 16   # finer product grid for the shortlist pass
RERANK_POOL = 50    # ADC shortlist size per query (the recall knob)


def pq_rerank(emb: DataFrame, k: int = TOP_K,
              query_mod: int = QUERY_MOD, n_queries: int = N_QUERIES,
              centroid_mod: int = CENTROID_MOD) -> DataFrame:
    """Two-stage PQ search: ADC shortlist, then exact rerank.

    The production ANN shape: stage 1 scans only compressed codes to cut
    the corpus to ``RERANK_POOL`` candidates per query (linear, code-only);
    stage 2 computes exact integer squared-L2 for just n_queries x RERANK_POOL
    rows. Recall is the shortlist's candidate coverage — the ``RERANK_POOL`` /
    ``RERANK_M_SUB`` knobs trade stage-1 cost for it (measured in
    tests/test_similarity_pq.py). Stage 2's join probes the corpus by
    match_id with a broadcast shortlist — no corpus shuffle.
    """
    from pyspark.sql import Window
    shortlist = pq_topk(emb, RERANK_POOL, query_mod, n_queries,
                        centroid_mod, RERANK_M_SUB) \
        .select("query_id", "match_id")
    base = emb.select(F.col("vec_id"), quantize(F.col("embedding")).alias("qv"))
    qvecs = (base.filter(_fixed_sample("vec_id", query_mod, n_queries))
             .select(F.col("vec_id").alias("query_id"), F.col("qv").alias("qq")))
    cand = shortlist.join(F.broadcast(qvecs), "query_id")
    rer = (base.withColumnRenamed("vec_id", "match_id")
           .join(F.broadcast(cand), "match_id")
           .select("query_id", "match_id",
                   _sq_l2(F.col("qq"), F.col("qv")).alias("l2_dist")))
    w = Window.partitionBy("query_id").orderBy("l2_dist", "match_id")
    return (rer.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("query_id", "match_id", "l2_dist", "rnk"))


def similarity_pq_rerank_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return pq_rerank(emb)


_PQ_RERANK_SQL = f"""{_pq_adc_cte(RERANK_M_SUB)},
short AS (
  SELECT query_id, match_id FROM (
    SELECT query_id, match_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY adc_dist, match_id) AS rn
    FROM adc)
  WHERE rn <= {RERANK_POOL}
), rer AS (
  SELECT s.query_id, s.match_id,
    CAST(list_sum(list_transform(range(1, {DIM + 1}),
      i -> (qq.qv[i] - mv.qv[i]) * (qq.qv[i] - mv.qv[i]))) AS BIGINT) AS l2_dist
  FROM short s
  JOIN q qq ON qq.vec_id = s.query_id
  JOIN q mv ON mv.vec_id = s.match_id
), ranked AS (
  SELECT query_id, match_id, l2_dist,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY l2_dist, match_id) AS rnk
  FROM rer
)
SELECT query_id, match_id, l2_dist, rnk FROM ranked WHERE rnk <= {TOP_K}
"""

register(QuerySpec("similarity_pq_rerank", similarity_pq_rerank_query,
                   _PQ_RERANK_SQL,
                   description=f"PQ ADC shortlist (pool={RERANK_POOL}, "
                               f"{RERANK_M_SUB} subspaces) + exact-int L2 rerank"))


# --- trained PQ: per-subspace Lloyd's k-means sub-codebooks ---------------------

PQ_TRAIN_ITERS = 2


def pq_train_codebooks(emb: DataFrame) -> DataFrame:
    """Per-subspace Lloyd's k-means: the production PQ codebook builder.

    ``pq_encode`` quantizes against raw sampled slices; this trains each
    subspace's ``PQ_KS`` sub-centroids with ``PQ_TRAIN_ITERS`` Lloyd's rounds —
    exactly how production PQ (FAISS-style) builds its codebooks. All
    ``RERANK_M_SUB`` subspaces train in ONE relational pass per round: the
    assignment is an equi-join on the subspace index ``m`` against the
    broadcast (RERANK_M_SUB x PQ_KS)-row codebook with a struct-min argmin
    (map-side partial aggregation, one shuffled row per (vector,
    subspace)), and the update is a (m, cid, pos) aggregation of exact
    integer component sums with a single division — the same two
    relational steps as ``kmeans_refine`` (which this mirrors), keyed by
    subspace. ``localCheckpoint`` truncates lineage per round.

    Determinism: subvector components are quantized integers; means are
    exact int sums / counts (bit-identical across engines); assignment
    distances are fixed-order double folds with ties broken by cid.
    Returns (m, cid, cv: array<double>).
    """
    sub_dim = DIM // RERANK_M_SUB
    base = emb.select(
        F.col("vec_id"),
        _subvectors(quantize(F.col("embedding")), RERANK_M_SUB, sub_dim).alias("subs"))
    subs = (base.select("vec_id", F.posexplode("subs").alias("m", "sv"))
            .withColumn("dv", F.transform("sv", lambda x: x.cast("double")))
            .localCheckpoint())
    cents = (subs.filter(_fixed_sample("vec_id", CENTROID_MOD, PQ_KS))
             .select("m", F.col("vec_id").alias("cid"), F.col("dv").alias("cv")))
    vn2 = F.aggregate(F.zip_with(F.col("dv"), F.col("dv"), lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    dot = F.aggregate(F.zip_with(F.col("dv"), F.col("cv"), lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    for _ in range(PQ_TRAIN_ITERS):
        cn2 = F.aggregate(F.zip_with(F.col("cv"), F.col("cv"),
                                     lambda x, y: x * y),
                          F.lit(0.0), lambda a, x: a + x)
        c = cents.select("m", "cid", "cv", cn2.alias("cn2"))
        scored = (subs.join(F.broadcast(c), "m")
                  .select(F.col("vec_id"), F.col("m"), F.col("cid"), F.col("sv"),
                          (vn2 + F.col("cn2") - 2 * dot).alias("dist")))
        assigned = (scored.groupBy("vec_id", "m")
                    .agg(F.min(F.struct("dist", "cid", "sv")).alias("best"))
                    .select("m", F.col("best.cid").alias("cid"),
                            F.col("best.sv").alias("sv")))
        comp = assigned.select("m", "cid",
                               F.posexplode("sv").alias("pos", "comp"))
        means = (comp.groupBy("m", "cid", "pos")
                 .agg(F.sum("comp").alias("s"), F.count("*").alias("n"))
                 .select("m", "cid", "pos",
                         (F.col("s").cast("double") / F.col("n").cast("double"))
                         .alias("mc")))
        cents = (means.groupBy("m", "cid")
                 .agg(F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "mc"))),
                     lambda x: x["mc"]).alias("cv"))).localCheckpoint()
    return cents


def pq_rerank_trained(emb: DataFrame) -> DataFrame:
    """Two-stage PQ search against TRAINED sub-codebooks.

    Same shape as ``pq_rerank`` (ADC shortlist -> exact-int rerank) but
    the shortlist scans codes from Lloyd's-trained codebooks, which
    approximate each subspace's distribution far better than raw sampled
    slices — measurably higher recall at the same pool size (gated in
    tests/test_similarity_pq.py).

    Cross-engine determinism of the ADC stage: trained centroids are
    doubles, and a double SUM over the (m, code) join would be
    order-sensitive, so each subspace distance is FLOORED to int64 first
    — the per-term doubles are bit-identical across engines (fixed-order
    folds of identical values) and an integer sum is order-independent.
    The <1 quantization error per term is noise at ADC's approximation
    level, and the final ranking is the exact-int rerank anyway.
    """
    from pyspark.sql import Window
    sub_dim = DIM // RERANK_M_SUB
    cents = pq_train_codebooks(emb)
    cn2 = F.aggregate(F.zip_with(F.col("cv"), F.col("cv"), lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    c = cents.select("m", "cid", "cv", cn2.alias("cn2"))
    base = emb.select(
        F.col("vec_id"),
        _subvectors(quantize(F.col("embedding")), RERANK_M_SUB, sub_dim).alias("subs"))
    subs = (base.select("vec_id", F.posexplode("subs").alias("m", "sv"))
            .withColumn("dv", F.transform("sv", lambda x: x.cast("double"))))
    vn2 = F.aggregate(F.zip_with(F.col("dv"), F.col("dv"), lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    dot = F.aggregate(F.zip_with(F.col("dv"), F.col("cv"), lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    scored = (subs.join(F.broadcast(c), "m")
              .select(F.col("vec_id"), F.col("m"), F.col("cid"),
                      (vn2 + F.col("cn2") - 2 * dot).alias("dist")))
    codes = (scored.groupBy("vec_id", "m")
             .agg(F.min(F.struct("dist", "cid")).alias("best"))
             .select("vec_id", "m", F.col("best.cid").alias("code")))
    qtab = (scored.filter(_fixed_sample("vec_id", QUERY_MOD, N_QUERIES))
            .select(F.col("vec_id").alias("query_id"), "m",
                    F.col("cid").alias("code"),
                    F.floor(F.col("dist")).cast("long").alias("qd")))
    adc = (codes.join(F.broadcast(qtab), ["m", "code"])
           .filter(F.col("vec_id") != F.col("query_id"))
           .groupBy("query_id", "vec_id")
           .agg(F.sum("qd").alias("adc_dist"))
           .withColumnRenamed("vec_id", "match_id"))
    w = Window.partitionBy("query_id").orderBy("adc_dist", "match_id")
    shortlist = (adc.withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") <= RERANK_POOL)
                 .select("query_id", "match_id"))
    qvecs = (emb.filter(_fixed_sample("vec_id", QUERY_MOD, N_QUERIES))
             .select(F.col("vec_id").alias("query_id"),
                     quantize(F.col("embedding")).alias("qq")))
    cand = shortlist.join(F.broadcast(qvecs), "query_id")
    rer = (emb.select(F.col("vec_id").alias("match_id"),
                      quantize(F.col("embedding")).alias("qv"))
           .join(F.broadcast(cand), "match_id")
           .select("query_id", "match_id",
                   _sq_l2(F.col("qq"), F.col("qv")).alias("l2_dist")))
    w2 = Window.partitionBy("query_id").orderBy("l2_dist", "match_id")
    return (rer.withColumn("rnk", F.row_number().over(w2))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "match_id", "l2_dist", "rnk"))


def similarity_pq_refined_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the trained-PQ path, mirroring
    ``similarity_ivf_refined``: per query, how many of the exact
    brute-force L2 top-k survive in the trained-PQ reranked top-k. The
    whole pipeline (per-subspace Lloyd's training -> encode -> ADC
    shortlist -> exact rerank -> overlap vs ground truth) is mirrored in
    the oracle, so a green row certifies the training math end-to-end."""
    from pyspark.sql import Window
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    base = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    queries = (base.filter(_fixed_sample("vec_id", QUERY_MOD, N_QUERIES))
               .select(F.col("vec_id").alias("query_id"),
                       F.col("qv").alias("qq")))
    ex = (base.select(F.col("vec_id").alias("match_id"), F.col("qv").alias("cq"))
          .crossJoin(F.broadcast(queries))
          .filter(F.col("match_id") != F.col("query_id"))
          .select("query_id", "match_id",
                  _sq_l2(F.col("qq"), F.col("cq")).alias("d")))
    w = Window.partitionBy("query_id").orderBy("d", "match_id")
    truth = (ex.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= TOP_K).select("query_id", "match_id"))
    approx = (pq_rerank_trained(emb)
              .select("query_id", "match_id", F.lit(1).alias("hit")))
    joined = truth.join(approx, ["query_id", "match_id"], "left")
    return (joined.groupBy("query_id")
            .agg(F.count("*").alias("n_truth"),
                 F.count("hit").alias("n_overlap"),
                 (F.count("hit").cast("double") / F.count("*").cast("double"))
                 .alias("recall"))
            .orderBy("query_id"))


def _pq_trained_sql() -> str:
    """DuckDB mirror of the full trained-PQ pipeline, training rounds
    included (the ``_refined_ivf_sql`` iteration-generator pattern,
    keyed by subspace)."""
    m_sub, ks, pool = RERANK_M_SUB, PQ_KS, RERANK_POOL
    sub_dim = DIM // m_sub
    dim1, sd1 = DIM + 1, sub_dim + 1
    subs_sql = (f"list_transform(range(0, {m_sub}), "
                f"m -> qv[m * {sub_dim} + 1 : m * {sub_dim} + {sub_dim}])")
    n = PQ_TRAIN_ITERS
    iters = ",\n".join(_lloyd_iteration_sql(i, sd1, key="m", vec="sv")
                       for i in range(n))
    return f"""
WITH q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings),
subs AS (
  SELECT vec_id, CAST(m AS INT) AS m, slices[m + 1] AS sv
  FROM (SELECT vec_id, {subs_sql} AS slices FROM q),
       (SELECT unnest(range(0, {m_sub})) AS m)
), based AS (
  SELECT vec_id, m, sv,
    list_transform(sv, x -> CAST(x AS DOUBLE)) AS dv,
    list_sum(list_transform(list_transform(sv, x -> CAST(x AS DOUBLE)),
                            x -> x * x)) AS vn2
  FROM subs
), cents0 AS (
  SELECT m, vec_id AS cid, list_transform(sv, x -> CAST(x AS DOUBLE)) AS cv
  FROM subs WHERE {_fixed_sample_sql('vec_id', CENTROID_MOD, ks)}
),
{iters},
cwf AS (
  SELECT m, cid, cv, list_sum(list_transform(cv, x -> x * x)) AS cn2
  FROM cents{n}
), sc AS (
  SELECT b.vec_id, b.m, c.cid,
    b.vn2 + c.cn2
      - 2 * list_sum(list_transform(range(1, {sd1}), j -> b.dv[j] * c.cv[j]))
      AS dist
  FROM based b JOIN cwf c ON c.m = b.m
), enc AS (
  SELECT vec_id, m, cid AS code FROM (
    SELECT vec_id, m, cid,
      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rn
    FROM sc) r
  WHERE rn = 1
), qtab AS (
  SELECT vec_id AS query_id, m, cid AS code,
    CAST(FLOOR(dist) AS BIGINT) AS qd
  FROM sc WHERE {_fixed_sample_sql('vec_id', QUERY_MOD, N_QUERIES)}
), adc AS (
  SELECT t.query_id, e.vec_id AS match_id, CAST(SUM(t.qd) AS BIGINT) AS adc_dist
  FROM enc e JOIN qtab t ON t.m = e.m AND t.code = e.code
  WHERE e.vec_id <> t.query_id
  GROUP BY 1, 2
), short AS (
  SELECT query_id, match_id FROM (
    SELECT query_id, match_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY adc_dist, match_id) AS rn
    FROM adc) r
  WHERE rn <= {pool}
), rer AS (
  SELECT s.query_id, s.match_id,
    CAST(list_sum(list_transform(range(1, {dim1}),
      i -> (qq.qv[i] - mv.qv[i]) * (qq.qv[i] - mv.qv[i]))) AS BIGINT) AS l2_dist
  FROM short s
  JOIN q qq ON qq.vec_id = s.query_id
  JOIN q mv ON mv.vec_id = s.match_id
), pq AS (
  SELECT query_id, match_id FROM (
    SELECT query_id, match_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY l2_dist, match_id) AS rnk
    FROM rer) r
  WHERE rnk <= {TOP_K}
), bf_scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS match_id,
    CAST(list_sum(list_transform(range(1, {dim1}),
      i -> (qs.qv[i] - c.qv[i]) * (qs.qv[i] - c.qv[i]))) AS BIGINT) AS d
  FROM q qs JOIN q c ON c.vec_id <> qs.vec_id
  WHERE {_fixed_sample_sql('qs.vec_id', QUERY_MOD, N_QUERIES)}
), bf AS (
  SELECT query_id, match_id FROM (
    SELECT query_id, match_id,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, match_id) AS rn
    FROM bf_scored) r
  WHERE rn <= {TOP_K}
)
SELECT bf.query_id, COUNT(*) AS n_truth,
  CAST(COUNT(pq.match_id) AS BIGINT) AS n_overlap,
  CAST(COUNT(pq.match_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
FROM bf LEFT JOIN pq
  ON pq.query_id = bf.query_id AND pq.match_id = bf.match_id
GROUP BY bf.query_id ORDER BY bf.query_id
"""


register(QuerySpec("similarity_pq_refined", similarity_pq_refined_query,
                   _pq_trained_sql(),
                   description=f"PQ search against {PQ_TRAIN_ITERS}-round "
                               "per-subspace Lloyd's-trained sub-codebooks, "
                               "recall@k vs exact L2 top-k"))


# --- IVF-PQ: coarse-list pruning + compressed-domain scoring --------------------

def ivfpq_topk(emb: DataFrame, k: int = TOP_K,
               query_mod: int = QUERY_MOD, n_queries: int = N_QUERIES,
               centroid_mod: int = CENTROID_MOD,
               n_centroids: int = N_CENTROIDS) -> DataFrame:
    """IVF-PQ search: the billion-scale ANN composition.

    IVF prunes WHICH vectors are scored (each query probes its ``NPROBE``
    nearest coarse lists — candidates are a 1/n_centroids-ish fraction of
    the corpus per probe); PQ compresses HOW each candidate is scored
    (ADC table lookups on codes, no corpus floats). Both codebooks are
    the deterministic fixed samples used by ivf_topk and pq_topk, so both
    engines reproduce the identical index. Distance is approximate
    squared-L2 in exact integer arithmetic (hash-stable).
    """
    from pyspark.sql import Window

    # Shared quantized scan (r14, verdict item 4): the composition used
    # to derive FOUR independent scans of the embeddings table (coarse
    # base, ivf_assign, pq_encode, subvector base), each re-running the
    # parquet read + quantize transform. One localCheckpoint of
    # (id, qv, n2) now feeds every stage — `subs` is a cheap reshape of
    # the materialized qv, so the checkpoint carries no duplicate
    # bytes. A/B'd at the 10x rung (20k x 352): 3.5-3.9 s -> 2.8-3.3 s
    # warm, and non-regressing at sf0.1; results verified identical at
    # both scales. The trade at 100 TB: one quantized-corpus
    # materialization in the block store vs four full scans+quantize —
    # the same space-time trade the builder's quality checkpoint makes.
    base = emb.select(F.col("vec_id"), quantize(F.col("embedding")).alias("qv"),
                      sq_norm(quantize(F.col("embedding"))).alias("n2")) \
        .localCheckpoint()
    cents = (base.filter(_fixed_sample("vec_id", centroid_mod, n_centroids))
             .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"),
                     F.col("n2").alias("cn2")))
    # coarse stage: corpus assignment via the tiered argmin kernel on
    # the SHARED base; the nprobe ranking is only needed for the
    # n_queries query rows, so it runs on that tiny filtered subset
    assign = _argmin_assign(base, cents, "vec_id", n_centroids) \
        .select(F.col("vec_id"), "cid")
    qranked = (base.filter(_fixed_sample("vec_id", query_mod, n_queries))
               .crossJoin(F.broadcast(cents))
               .select(F.col("vec_id"), F.col("cid"),
                       (F.col("n2") + F.col("cn2")
                        - 2 * int_dot(F.col("qv"), F.col("cv"))).alias("dist")))
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    probes = (qranked.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= NPROBE)
              .select(F.col("vec_id").alias("query_id"), "cid"))
    cand = (assign.join(F.broadcast(probes), "cid")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", F.col("vec_id").alias("match_id")))

    # fine stage: ADC over PQ codes, restricted to the candidate pairs.
    # pq_encode's body inlined over the shared qv (identical exact-int
    # distances and (d, cid) struct-min tie-break).
    pbase = base.select(
        F.col("vec_id"),
        _subvectors(F.col("qv"), RERANK_M_SUB, DIM // RERANK_M_SUB).alias("subs"))
    psubs = pbase.select("vec_id", F.posexplode("subs").alias("m", "sv"))
    pcents_enc = (pbase.filter(_fixed_sample("vec_id", centroid_mod, PQ_KS))
                  .select(F.col("vec_id").alias("cid"),
                          F.posexplode("subs").alias("m", "cv")))
    pscored = (psubs.join(F.broadcast(pcents_enc), "m")
               .select("vec_id", "m", "cid",
                       _sq_l2(F.col("sv"), F.col("cv")).alias("d")))
    codes = (pscored.groupBy("vec_id", "m")
             .agg(F.min(F.struct("d", "cid")).alias("best"))
             .select("vec_id", "m", F.col("best.cid").alias("code"))
             .withColumnRenamed("vec_id", "match_id"))
    pcents = (pbase.filter(_fixed_sample("vec_id", centroid_mod, PQ_KS))
              .select(F.col("vec_id").alias("code"),
                      F.posexplode("subs").alias("m", "cv")))
    qtab = (pbase.filter(_fixed_sample("vec_id", query_mod, n_queries))
            .select(F.col("vec_id").alias("query_id"),
                    F.posexplode("subs").alias("m", "sv"))
            .join(F.broadcast(pcents), "m")
            .select("query_id", "m", "code",
                    _sq_l2(F.col("sv"), F.col("cv")).alias("qd")))
    adc = (cand.join(codes, "match_id")
           .join(F.broadcast(qtab), ["query_id", "m", "code"])
           .groupBy("query_id", "match_id")
           .agg(F.sum("qd").alias("adc_dist")))
    w2 = Window.partitionBy("query_id").orderBy("adc_dist", "match_id")
    return (adc.withColumn("rnk", F.row_number().over(w2))
            .filter(F.col("rnk") <= k)
            .select("query_id", "match_id", "adc_dist", "rnk"))


def similarity_ivfpq_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return ivfpq_topk(emb)


def _ivfpq_sql() -> str:
    m_sub = RERANK_M_SUB
    sub_dim = DIM // m_sub
    subs_sql = (f"list_transform(range(0, {m_sub}), "
                f"m -> qv[m * {sub_dim} + 1 : m * {sub_dim} + {sub_dim}])")
    d_sql = ("CAST(list_sum(list_transform(range(1, %d), "
             "i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) AS BIGINT)"
             % (sub_dim + 1))
    return _coarse_sql_prefix(carry_n2=False, assigned=None) + f""", cand AS (
  SELECT p.query_id, a.vec_id AS match_id
  FROM (SELECT vec_id AS query_id, cid FROM assign_scored
        WHERE {_fixed_sample_sql('vec_id', QUERY_MOD, N_QUERIES)}
          AND rn <= {NPROBE}) p
  JOIN (SELECT vec_id, cid FROM assign_scored WHERE rn = 1) a
    ON a.cid = p.cid AND a.vec_id <> p.query_id
), subs AS (
  SELECT vec_id, CAST(m AS INT) AS m, slices[m + 1] AS sv
  FROM (SELECT vec_id, {subs_sql} AS slices FROM q),
       (SELECT unnest(range(0, {m_sub})) AS m)
), pcents AS (
  SELECT vec_id AS code, m, sv AS cv FROM subs
  WHERE {_fixed_sample_sql('vec_id', CENTROID_MOD, PQ_KS)}
), enc AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, c.code,
      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                         ORDER BY {d_sql}, c.code) AS rn
    FROM subs s JOIN pcents c ON s.m = c.m)
  WHERE rn = 1
), qtab AS (
  SELECT s.vec_id AS query_id, s.m, c.code, {d_sql} AS qd
  FROM subs s JOIN pcents c ON s.m = c.m
  WHERE {_fixed_sample_sql('s.vec_id', QUERY_MOD, N_QUERIES)}
), adc AS (
  SELECT cd.query_id, cd.match_id, CAST(SUM(t.qd) AS BIGINT) AS adc_dist
  FROM cand cd
  JOIN enc e ON e.vec_id = cd.match_id
  JOIN qtab t ON t.query_id = cd.query_id AND t.m = e.m AND t.code = e.code
  GROUP BY 1, 2
), ranked AS (
  SELECT query_id, match_id, adc_dist,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc_dist, match_id) AS rnk
  FROM adc
)
SELECT query_id, match_id, adc_dist, rnk FROM ranked WHERE rnk <= {TOP_K}
"""


register(QuerySpec("similarity_ivfpq_topk", similarity_ivfpq_query,
                   _ivfpq_sql(), headline=True,
                   description=f"IVF-PQ ANN: nprobe={NPROBE} coarse-list "
                               "pruning + compressed-domain ADC scoring"))


def l2_topk_exact(emb: DataFrame) -> DataFrame:
    """Exact brute-force squared-L2 top-k — the ground truth the
    L2-metric searchers (PQ / rerank / IVF-PQ) are measured against,
    exactly as :func:`cosine_topk_quantized` is the cosine truth.
    Exact integer distances on the quantized grid; N x N_QUERIES with
    a broadcast query relation."""
    from pyspark.sql import Window
    base = emb.select(F.col("vec_id"), quantize(F.col("embedding")).alias("qv"))
    queries = (base.filter(_fixed_sample("vec_id", QUERY_MOD, N_QUERIES))
               .select(F.col("vec_id").alias("query_id"),
                       F.col("qv").alias("qq")))
    scored = (base.withColumnRenamed("vec_id", "match_id")
              .crossJoin(F.broadcast(queries))
              .filter(F.col("match_id") != F.col("query_id"))
              .select("query_id", "match_id",
                      _sq_l2(F.col("qq"), F.col("qv")).alias("l2_dist")))
    w = Window.partitionBy("query_id").orderBy("l2_dist", "match_id")
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "match_id", "l2_dist", "rnk"))


def similarity_l2_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return l2_topk_exact(emb)


_L2_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings
), scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS match_id,
    CAST(list_sum(list_transform(range(1, {DIM + 1}),
      i -> (qs.qv[i] - c.qv[i]) * (qs.qv[i] - c.qv[i]))) AS BIGINT)
      AS l2_dist
  FROM q qs JOIN q c ON c.vec_id <> qs.vec_id
  WHERE {_fixed_sample_sql('qs.vec_id', QUERY_MOD, N_QUERIES)}
), ranked AS (
  SELECT query_id, match_id, l2_dist,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY l2_dist, match_id) AS rnk
  FROM scored
)
SELECT query_id, match_id, l2_dist, rnk FROM ranked WHERE rnk <= {TOP_K}
"""

register(QuerySpec(
    "similarity_l2_topk", similarity_l2_topk_query, _L2_TOPK_SQL,
    description="exact brute-force squared-L2 top-k (integer-exact) — "
                "the ground truth for the PQ searcher family"))


def pq_recall(emb: DataFrame) -> DataFrame:
    """Measured recall@k of the L2-metric searchers — plain PQ-ADC,
    ADC-shortlist + exact rerank, and IVF-PQ — against ONE shared
    exact squared-L2 truth; the companion of :func:`ann_recall` for
    the compressed-domain family (how much recall does 4-subspace ADC
    cost, how much does the rerank pool buy back, what does coarse
    pruning add on top). Same shape: per-(method, query) exact-integer
    hit counts; alignments are (n_queries x k)-row broadcasts."""
    truth = (l2_topk_exact(emb)
             .select("query_id", "match_id").localCheckpoint())
    methods = (
        ("pq_adc", pq_topk(emb)),
        ("pq_rerank", pq_rerank(emb)),
        (f"ivfpq_nprobe{NPROBE}", ivfpq_topk(emb)),
    )
    out = None
    for name, approx in methods:
        got = (approx.select("query_id", "match_id")
               .withColumn("hit", F.lit(1)))
        scored = (truth.join(F.broadcast(got), ["query_id", "match_id"],
                             "left")
                  .groupBy("query_id")
                  .agg(F.count("*").alias("n_truth"),
                       F.sum(F.coalesce("hit", F.lit(0))).cast("bigint")
                       .alias("n_hit"))
                  .select(F.lit(name).alias("method"), "query_id",
                          "n_truth", "n_hit",
                          (F.col("n_hit").cast("double")
                           / F.col("n_truth").cast("double"))
                          .alias("recall")))
        out = scored if out is None else out.unionByName(scored)
    return out


def similarity_pq_recall_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return pq_recall(emb)


def _pq_recall_sql() -> str:
    evals = []
    for name, sql in (("pq_adc", _PQ_SQL),
                      ("pq_rerank", _PQ_RERANK_SQL),
                      (f"ivfpq_nprobe{NPROBE}", _ivfpq_sql())):
        evals.append(f"""
SELECT '{name}' AS method, t.query_id,
  CAST(COUNT(*) AS BIGINT) AS n_truth,
  CAST(SUM(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_hit
FROM truth t LEFT JOIN (
  SELECT query_id, match_id FROM ({sql})
) a ON a.query_id = t.query_id AND a.match_id = t.match_id
GROUP BY t.query_id""")
    body = "\nUNION ALL\n".join(evals)
    return f"""
WITH truth AS MATERIALIZED (
  SELECT query_id, match_id FROM ({_L2_TOPK_SQL})
)
SELECT method, query_id, n_truth, n_hit,
  CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall
FROM ({body})
"""


register(QuerySpec(
    "similarity_pq_recall", similarity_pq_recall_query, _pq_recall_sql(),
    description="measured recall@k of the PQ family (ADC, rerank, "
                "IVF-PQ) vs ONE shared exact squared-L2 truth — "
                "per-query exact-integer hit counts"))


# --- approximate kNN graph (all-vectors top-k neighbors) ------------------------

KNN_K = 3

# Codebook auto-sizing for the all-vectors operators (kNN graph, SemDeDup):
# with a FIXED codebook, per-cell size grows ∝ N and the cell self-join is
# quadratic — the sf1 ladder measured 40× time on 10× data before this
# knob existed. A √N̄ codebook balances assignment (N·k) against cell
# scoring (N²/k): total work N^1.5, the optimal single-level IVF choice.
# The formula resolves to the static (CENTROID_MOD, N_CENTROIDS) for any
# corpus below 4×BASE_N rows — in particular at the sf0.01 oracle scale
# and on the adversarial edge corpora — so the DuckDB oracle stays a
# fixed string.
KNN_CODEBOOK_BASE_N = CENTROID_MOD * N_CENTROIDS  # 400

# Measured crossover where three-level routing starts beating two-level
# (r12 same-box interleaved A/B, BENCH_SCALE.md: 2k vectors +16.9%,
# 4k +3.4%, 8k +5.8% — both within run noise — 20k −40%): below this,
# scaled_codebook_three_level returns the two-level configuration.
KNN_THREE_LEVEL_MIN_N = 4_000


def scaled_codebook(n_rows: int) -> tuple[int, int]:
    """(centroid_mod, n_centroids) growing the codebook as √(N/BASE_N).

    Shrinking the modulus while growing the count keeps the candidate-id
    window (mod·count) inside the dense low-id range, so the fixed-sample
    predicate always finds its centroids.
    """
    import math
    scale = math.isqrt(max(1, n_rows // KNN_CODEBOOK_BASE_N))
    return max(1, CENTROID_MOD // scale), N_CENTROIDS * scale


def scaled_codebook_two_level(n_rows: int) -> tuple[int, int, int]:
    """(centroid_mod, n_centroids, n_super) for the all-vectors
    operators when assignment routes through the two-level quantizer.

    With FLAT assignment the optimal codebook is k ∝ √N (assignment
    N·k balances cell scoring N²/k at N^1.5 — :func:`scaled_codebook`).
    Two-level assignment costs N·√k instead of N·k, so the balance
    point moves to k ∝ N^(2/3): assignment N·N^(1/3) and scoring
    N²/k are BOTH N^(4/3) — the sub-N^1.5 asymptote the r7 audit asked
    for (similarity.py docstrings: production goes hierarchical beyond
    ~10⁹ vectors).

    Below the growth threshold this returns the static codebook with
    ``n_super == n_centroids`` — the degenerate-exact configuration —
    and the consumers route that straight through flat
    :func:`ivf_assign`, so plans and results at the sf0.01 oracle scale
    (and on the adversarial edge corpora) are byte-identical to the
    flat path and the fixed SQL oracles stay valid.
    """
    if n_rows < 4 * KNN_CODEBOOK_BASE_N:  # same first growth point as
        return CENTROID_MOD, N_CENTROIDS, N_CENTROIDS  # the flat schedule
    import math
    r = n_rows // KNN_CODEBOOK_BASE_N
    s = max(2, round(r ** (2.0 / 3.0)))  # codebook growth factor
    k = N_CENTROIDS * s
    return max(1, CENTROID_MOD // s), k, max(1, math.isqrt(k))


def scaled_codebook_three_level(
        n_rows: int) -> tuple[int, int, int, int, int | None]:
    """(centroid_mod, n_centroids, n_super, n_super2, spread_every) for
    the all-vectors operators with THREE-level assignment routing.

    Two-level assignment (N·√k) balances cell scoring (N²/k) at
    k ∝ N^(2/3) — both terms N^(4/3), and the sf100 ladder measured
    that asymptote arriving at 2M+ vectors (18.84× on 10× data,
    BENCH_SCALE.md r10). Routing through a THIRD level costs
    N·(s2 + s1/s2 + k/s1) ≈ 3·N·k^(1/3), moving the balance point to
    k ∝ N^(3/4): assignment and scoring are BOTH N^(5/4). Production
    systems keep adding levels while the codebook outgrows the
    broadcast budget; three is the deepest this repo ladders.

    ``spread_every`` is the nested-hash centroid sampling modulus
    (:func:`_spread_sample`): the dense-low-id window the flat/static
    schedules use (``id % mod == 0 AND id < mod·k``) SATURATES when ids
    are striped rather than dense — the scale_ladder fixture's
    1e9-strided copies cap the effective codebook at the base-corpus
    size no matter what k the schedule asks for (the hidden second
    cause of the r10 sf100 finding). Hash-spread sampling draws
    ~n_rows/spread_every centroids uniformly from WHATEVER id layout
    the corpus has, so the codebook actually reaches its scheduled
    size; nested moduli (every·e1, every·e1·e2) keep each level a
    subset of the one below, mirroring the static stride construction.

    Below the growth threshold this returns the static codebook with
    ``n_super == n_super2 == n_centroids`` and ``spread_every=None`` —
    consumers route that straight through flat :func:`ivf_assign`, so
    plans and results at the sf0.01 oracle scale (and on the
    adversarial edge corpora) are byte-identical to the flat path and
    the fixed SQL oracles stay valid.

    TIERED schedule (r12): in the band [4·BASE_N, THREE_LEVEL_MIN_N)
    this returns the TWO-level configuration (``n_super2 == n_super``,
    which :func:`_assigned_corpus` routes through
    :func:`ivf_assign_two_level`). The r12 same-box interleaved A/B
    (BENCH_SCALE.md) measured the three-level routing constant at
    +16.9% wall AND −0.044 mean recall at 2,000 vectors, shrinking to
    +3–6% (noise) at 4,000–8,000 and flipping to a 40% WIN at 20,000 —
    three extra argmin aggregations only pay once cells are big enough
    that scoring dominates routing. Flat < two-level < three-level is
    exactly the depth-vs-N ladder production coarse quantizers walk.
    """
    if n_rows < 4 * KNN_CODEBOOK_BASE_N:
        return (CENTROID_MOD, N_CENTROIDS, N_CENTROIDS, N_CENTROIDS,
                None)
    if n_rows < KNN_THREE_LEVEL_MIN_N:
        # two-level routing, but with the layout-robust hash-spread
        # sample — the window sample would saturate (or come up empty)
        # on striped/offset id layouts, the r10 bug class
        mod, k, s = scaled_codebook_two_level(n_rows)
        return (mod, k, s, s, max(1, n_rows // k))
    r = n_rows // KNN_CODEBOOK_BASE_N
    g = max(2, round(r ** 0.75))  # codebook growth factor: k ∝ N^(3/4)
    k = N_CENTROIDS * g
    s1 = max(2, round(k ** (2.0 / 3.0)))
    s2 = max(1, round(k ** (1.0 / 3.0)))
    if s2 >= s1:  # tiny-growth corner: keep the hierarchy strict
        s2 = max(1, s1 // 2)
    return (max(1, CENTROID_MOD // g), k, s1, s2,
            max(1, n_rows // k))


def _assigned_corpus(emb: DataFrame,
                     centroid_mod: int = CENTROID_MOD,
                     n_centroids: int = N_CENTROIDS,
                     n_super: int | None = None,
                     n_super2: int | None = None,
                     spread_every: int | None = None) -> DataFrame:
    """(id, cid, qv, n2) for every nonzero-norm vector — the coarse-
    partitioned corpus relation the graph/prune operators join on.

    ``n_super``: when given and < ``n_centroids``, cell assignment
    routes through the two-level quantizer (:func:`ivf_assign_two_level`
    — N·√k instead of N·k comparisons), the production path once the
    codebook outgrows what a broadcast N·k crossJoin should score.
    ``None`` or >= ``n_centroids`` keeps exact flat assignment (the
    degenerate-exact configuration `scaled_codebook_two_level` emits at
    oracle scale, byte-identical plan to before the knob existed).

    localCheckpoint: every consumer references the relation at least
    twice (both self-join sides, plus the sizes aggregate in
    semantic_dedup) — without it the assignment crossJoin re-runs
    per reference. Checkpointed relations lose their size estimates, so
    consumers must put explicit merge hints on corpus-scaled joins (the
    BENCH_SCALE round-6 broadcast-OOM lesson).

    r13: the ``*_cols`` assignment variants carry (qv, n2) on the same
    projected row, so the former ``emb ⋈ assign`` corpus-wide id join
    is gone — the checkpointed relation materializes straight off the
    shuffle-free assignment projection."""
    if (n_super is not None and n_super2 is not None
            and n_super2 < n_super < n_centroids):
        cols = _ivf_assign_three_level_cols(
            emb, centroid_mod, n_centroids, n_super,
            n_super2, spread_every=spread_every)
    elif n_super is not None and n_super < n_centroids:
        cols = _ivf_assign_two_level_cols(
            emb, centroid_mod, n_centroids, n_super,
            spread_every=spread_every)
    else:
        cols = _ivf_assign_cols(emb, centroid_mod, n_centroids)
    return (cols.select(F.col("vec_id"), F.col("cid"), "qv", "n2")
            .filter(F.col("n2") > 0)
            .localCheckpoint())


def knn_graph(emb: DataFrame, k: int = KNN_K,
              centroid_mod: int = CENTROID_MOD,
              n_centroids: int = N_CENTROIDS,
              nprobe: int = 1,
              n_super: int | None = None,
              n_super2: int | None = None,
              spread_every: int | None = None) -> DataFrame:
    """Approximate k-nearest-neighbor graph over the WHOLE corpus.

    Unlike the ``similarity_*_topk`` family (fixed broadcast query set),
    every vector is a query: the building block for graph-based semantic
    clustering, label propagation, and coverage/diversity analysis of a
    training corpus. Candidates are restricted to each vector's own
    coarse IVF cell, so the join is an equi-join on cid — per-cell work
    is |cell|², never corpus²; with a √N̄-sized codebook (real builds:
    10⁴-10⁵ lists) total work is N^1.5, and the shuffle moves each side
    once, hash-partitioned on cid. Neither side is broadcast — both are
    corpus-sized; this is the deliberate contrast with the query-set
    operators. Top-k per vector is a row_number window keyed by the
    query id (uniform, no skew).

    ``nprobe=2`` is the recall knob: the query side probes its second-
    nearest cell too, catching true neighbors that sit across a cell
    boundary. Because every vector is a query, the probe ranking cannot
    be a window over the N·k assignment scores (N^1.5 rows through one
    shuffle). On the FLAT path the second-best cell comes from a SECOND
    struct-min pass that excludes the argmin cell — 2× assignment
    compute, still one shuffled row per vector. On the THREE-LEVEL
    (scaled) path the probe is hierarchical: the runner-up super-cell
    at the last routing level yields ``cid2``
    (:func:`ivf_assign_three_level` with ``nprobe=2`` — one extra
    ~N-row routed argmin, NOT a flat rescan, so the recall knob
    survives the scaled codebook where a flat second pass would cost
    the N·k the hierarchy exists to avoid). In both cases corpus
    vectors stay in exactly one cell, so candidates never duplicate.
    Only nprobe ∈ {1, 2} is supported.
    """
    from pyspark.sql import Window
    if nprobe not in (1, 2):
        raise ValueError(f"nprobe must be 1 or 2, got {nprobe}")
    # n_super routes cell assignment through the two-level quantizer
    # (N·√k); n_super2 additionally through the three-level one
    # (N·k^(1/3), see scaled_codebook_three_level)
    three_level = (n_super is not None and n_super2 is not None
                   and n_super2 < n_super < n_centroids)
    if nprobe == 2 and three_level:
        # the *_cols variant carries (qv, n2) on the assignment row, so
        # no corpus-wide id join is needed to re-attach vectors (r13)
        enriched = (_ivf_assign_three_level_cols(
            emb, centroid_mod, n_centroids, n_super,
            n_super2, spread_every=spread_every, nprobe=2)
            .select(F.col("vec_id"), F.col("cid"), F.col("cid2"),
                    "qv", "n2")
            .filter(F.col("n2") > 0)
            .localCheckpoint())
        base = enriched.select(F.col("vec_id"), "cid", "qv", "n2")
        # the probe-2 copy extends the QUERY side only, as on the flat
        # path — the candidate side must keep one cell per vector
        qbase = base.unionByName(
            enriched.filter(F.col("cid2").isNotNull())
            .select(F.col("vec_id"), F.col("cid2").alias("cid"),
                    "qv", "n2"))
        a = qbase.select(F.col("vec_id").alias("src_id"), "cid",
                         F.col("qv").alias("aq"), F.col("n2").alias("an2"))
        b = base.select(F.col("vec_id").alias("neighbor_id"), "cid",
                        F.col("qv").alias("bq"), F.col("n2").alias("bn2"))
        scored = (a.join(b.hint("merge"), "cid")
                  .filter(F.col("src_id") != F.col("neighbor_id"))
                  .select("src_id", "neighbor_id",
                          (int_dot(F.col("aq"), F.col("bq")).cast("double")
                           / (F.sqrt(F.col("an2").cast("double"))
                              * F.sqrt(F.col("bn2").cast("double"))))
                          .alias("cosine")))
        w = Window.partitionBy("src_id").orderBy(F.col("cosine").desc(),
                                                 F.col("neighbor_id"))
        return (scored.withColumn("rnk", F.row_number().over(w))
                .filter(F.col("rnk") <= k)
                .select(F.col("src_id").alias("vec_id"), "neighbor_id",
                        "cosine", "rnk"))
    base = _assigned_corpus(emb, centroid_mod,
                            n_centroids, n_super, n_super2, spread_every)
    if nprobe == 2:
        # the probe's centroid relation must be sampled EXACTLY like the
        # assignment's, or the second-best cell id won't name any
        # candidate cell (spread-assigned cells vs window-probed ids)
        cents_pred = (_spread_sample("vec_id", spread_every)
                      if spread_every is not None
                      else _fixed_sample("vec_id", centroid_mod, n_centroids))
        cents = (emb.select(F.col("vec_id"),
                            quantize(F.col("embedding")).alias("qv"),
                            sq_norm(quantize(F.col("embedding"))).alias("n2"))
                 .filter(cents_pred)
                 .select(F.col("vec_id").alias("cid2"),
                         F.col("qv").alias("cv"), F.col("n2").alias("cn2")))
        # per-row argmin over the broadcast codebook minus the vector's
        # own cell — the shuffle-free form of the former crossJoin +
        # groupBy (r13; identical argmin and tie-break, and a vector
        # with no other cell drops out exactly as the inner join did)
        crow = _cands_row(cents, ["cid2", "cv", "cn2"], "pcands")
        second = (base.crossJoin(F.broadcast(crow))
                  .withColumn("cid2", _argmin_pick(
                      "filter(pcands, c -> c.cid2 != cid)",
                      "cid2", "cv", "cn2"))
                  .filter(F.col("cid2").isNotNull())
                  .select(F.col("vec_id"), F.col("cid2").alias("cid"),
                          "qv", "n2"))
        # the probe-2 copy extends the QUERY side only — the candidate
        # side must keep one cell per vector or candidates duplicate
        qbase = base.unionByName(second)
    else:
        qbase = base
    a = qbase.select(F.col("vec_id").alias("src_id"), "cid",
                     F.col("qv").alias("aq"), F.col("n2").alias("an2"))
    b = base.select(F.col("vec_id").alias("neighbor_id"), "cid",
                    F.col("qv").alias("bq"), F.col("n2").alias("bn2"))
    scored = (a.join(b.hint("merge"), "cid")
              .filter(F.col("src_id") != F.col("neighbor_id"))
              .select("cid", "src_id", "neighbor_id",
                      (int_dot(F.col("aq"), F.col("bq")).cast("double")
                       / (F.sqrt(F.col("an2").cast("double"))
                          * F.sqrt(F.col("bn2").cast("double"))))
                      .alias("cosine")))
    if nprobe == 1:
        # every src's candidates live in its single cell, so ranking
        # per (cid, src_id) == per src_id — and prefixing the join key
        # lets the window REUSE the join's hash-partitioning on cid
        # (subset rule): the N·|cell| scored relation, the operator's
        # largest intermediate, is never re-shuffled (r13; the
        # nprobe=2 paths keep the src_id window — a probe-2 query
        # legitimately spans two cells)
        w = Window.partitionBy("cid", "src_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id"))
    else:
        w = Window.partitionBy("src_id").orderBy(F.col("cosine").desc(),
                                                 F.col("neighbor_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select(F.col("src_id").alias("vec_id"), "neighbor_id",
                    "cosine", "rnk"))


def similarity_knn_graph_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    # one cheap count job sizes the codebook ∝ N^(3/4) with three-level
    # assignment (see scaled_codebook_three_level); identical to the
    # static flat (25, 16) at oracle scale
    mod, k, s1, s2, ev = scaled_codebook_three_level(emb.count())
    return knn_graph(emb, centroid_mod=mod, n_centroids=k, n_super=s1,
                     n_super2=s2, spread_every=ev)


_KNN_GRAPH_SQL = _coarse_sql_prefix(carry_n2=True, assigned="search") + f""", scored AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
      / (sqrt(a.n2) * sqrt(b.n2)) AS cosine
  FROM assigned a JOIN assigned b
    ON b.cid = a.cid AND b.vec_id <> a.vec_id
), ranked AS (
  SELECT vec_id, neighbor_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT vec_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= {KNN_K}
"""

register(QuerySpec(
    "similarity_knn_graph", similarity_knn_graph_query, _KNN_GRAPH_SQL,
    headline=True,
    description=f"approximate kNN graph (top-{KNN_K} per vector, every "
                "vector a query): IVF-cell-restricted self-join on cid, "
                "N^1.5 with a sqrt(N) codebook, no broadcast"))


# --- kNN-graph edge recall vs exact brute force ----------------------------------

KNN_RECALL_EVERY = 10  # spacing of the fixed recall query sample
KNN_RECALL_N = 50      # fixed query-set size: ids 0, 10, ..., 490


def knn_graph_recall(emb: DataFrame,
                     centroid_mod: int = CENTROID_MOD,
                     n_centroids: int = N_CENTROIDS,
                     nprobe: int = 1,
                     n_super: int | None = None,
                     n_super2: int | None = None,
                     spread_every: int | None = None,
                     query_every: int = KNN_RECALL_EVERY,
                     query_hash: bool = False) -> DataFrame:
    """Edge recall@k of :func:`knn_graph` against EXACT brute force on a
    sampled query subset — the neighbor-QUALITY measurement the r11
    verdict flagged as the sharpest remaining 100 TB risk: the scaled
    codebook's SPEED is laddered per decade, but a graph that is fast
    and increasingly wrong would pass every timing check.

    Per sampled query: ``n_truth`` = exact top-k set size (< k only
    when the corpus has fewer candidates), ``n_hit`` = how many of the
    graph's edges for that query are in the exact set, ``recall`` =
    the ratio. Both sides break cosine ties by (cosine DESC, id), so
    the comparison is deterministic on both engines.

    Scale shape: ground truth is |Q|·N dot products with the BOUNDED
    |Q|-row query relation BROADCAST — the same linear-with-constant
    shape as the registered brute-force headline
    (`similarity_cosine_topk`), so measuring recall at the sf10/sf100
    rungs costs one extra corpus scan, not a second graph build. The
    graph side reuses :func:`knn_graph` unchanged; the alignment joins
    |Q|·k-row relations.

    ``query_hash=True`` samples ~``n/query_every`` queries by id hash
    instead of the fixed ``id % every == 0 AND id < every·count``
    window — REQUIRED on the scale ladder's strided-id replicas, where
    the window sample would draw all queries from near-clones of a few
    base vectors (the same layout trap :func:`_spread_sample` fixes
    for centroids); the ladder scales ``query_every`` with N so the
    sample stays bounded. The fixed-window default is what the DuckDB
    oracle reproduces, bounded at ``KNN_RECALL_N`` rows by
    construction (the broadcast-side bound the plan audit requires).
    """
    from pyspark.sql import Window
    base = (emb.select(F.col("vec_id"),
                       quantize(F.col("embedding")).alias("qv"),
                       sq_norm(quantize(F.col("embedding"))).alias("n2"))
            .filter(F.col("n2") > 0))
    pred = (_spread_sample("vec_id", query_every) if query_hash
            else _fixed_sample("vec_id", query_every, KNN_RECALL_N))
    queries = (base.filter(pred)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("qv").alias("qq"), F.col("n2").alias("qn2")))
    scored = (base.crossJoin(F.broadcast(queries))
              .filter(F.col("vec_id") != F.col("query_id"))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      (int_dot(F.col("qq"), F.col("qv")).cast("double")
                       / (F.sqrt(F.col("qn2").cast("double"))
                          * F.sqrt(F.col("n2").cast("double"))))
                      .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id"))
    truth = (scored.withColumn("rnk", F.row_number().over(w))
             .filter(F.col("rnk") <= KNN_K)
             .select("query_id", "neighbor_id"))
    graph = knn_graph(emb, KNN_K, centroid_mod, n_centroids,
                      nprobe, n_super, n_super2, spread_every)
    got = (graph.select(F.col("vec_id").alias("query_id"), "neighbor_id")
           .withColumn("hit", F.lit(1)))
    return (truth.join(got, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"),
                 F.sum(F.coalesce("hit", F.lit(0))).cast("bigint")
                 .alias("n_hit"))
            .select("query_id", "n_truth", "n_hit",
                    (F.col("n_hit").cast("double")
                     / F.col("n_truth").cast("double")).alias("recall")))


def similarity_knn_recall_query(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return knn_graph_recall(emb)


_KNN_RECALL_SQL = f"""
WITH q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings),
base0 AS (
  SELECT vec_id, qv,
    CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i])) AS DOUBLE) AS n2
  FROM q
), base AS (SELECT * FROM base0 WHERE n2 > 0),
tscored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> qs.qv[i] * c.qv[i])) AS DOUBLE)
      / (sqrt(qs.n2) * sqrt(c.n2)) AS cosine
  FROM base qs JOIN base c ON c.vec_id <> qs.vec_id
  WHERE {_fixed_sample_sql('qs.vec_id', KNN_RECALL_EVERY, KNN_RECALL_N)}
), truth AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM tscored) WHERE rnk <= {KNN_K}
), approx AS MATERIALIZED (
  SELECT vec_id AS query_id, neighbor_id FROM ({_KNN_GRAPH_SQL})
  WHERE {_fixed_sample_sql('vec_id', KNN_RECALL_EVERY, KNN_RECALL_N)}
)
SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_truth,
  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_hit,
  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS recall
FROM truth t LEFT JOIN approx a
  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
GROUP BY t.query_id
"""

register(QuerySpec(
    "similarity_knn_recall", similarity_knn_recall_query, _KNN_RECALL_SQL,
    description=f"edge recall@{KNN_K} of the kNN graph vs exact brute "
                f"force on a fixed {KNN_RECALL_N}-query sample: per-query "
                "exact-integer hit counts against one broadcast-query "
                "corpus scan — the neighbor-quality gate the speed "
                "ladder can't see"))


# --- SemDeDup-style semantic dedup (cluster-scoped embedding prune) -------------

SEM_TAU = 0.35  # cosine threshold; synthetic corpus max pair cosine ≈ 0.51


def semantic_pairs_from_assigned(base: DataFrame,
                                 tau: float = SEM_TAU) -> DataFrame:
    """(cid, id_a, id_b, cosine) cluster-scoped near-dup pairs over an
    `_assigned_corpus` relation — shared by :func:`semantic_dedup` and
    the all-signal cluster composition in operators/dedup.py."""
    a = base.select(F.col("vec_id").alias("id_a"), "cid",
                    F.col("qv").alias("aq"), F.col("n2").alias("an2"))
    b = base.select(F.col("vec_id").alias("id_b"), "cid",
                    F.col("qv").alias("bq"), F.col("n2").alias("bn2"))
    return (a.join(b.hint("merge"), "cid")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cosine",
                        int_dot(F.col("aq"), F.col("bq")).cast("double")
                        / (F.sqrt(F.col("an2").cast("double"))
                           * F.sqrt(F.col("bn2").cast("double"))))
            .filter(F.col("cosine") >= tau)
            .select("cid", "id_a", "id_b", "cosine"))


def semantic_pairs(emb: DataFrame, tau: float = SEM_TAU,
                   centroid_mod: int = CENTROID_MOD,
                   n_centroids: int = N_CENTROIDS,
                   n_super: int | None = None) -> DataFrame:
    """(id_a, id_b, cosine) embedding near-dup pairs, cluster-scoped."""
    base = _assigned_corpus(emb, centroid_mod,
                            n_centroids, n_super)
    return semantic_pairs_from_assigned(base, tau) \
        .select("id_a", "id_b", "cosine")


def semantic_dedup(emb: DataFrame, tau: float = SEM_TAU,
                   centroid_mod: int = CENTROID_MOD,
                   n_centroids: int = N_CENTROIDS,
                   n_super: int | None = None,
                   n_super2: int | None = None,
                   spread_every: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): drop semantic near-duplicates inside
    each embedding cluster, keeping the smallest id of every near-pair.

    A vector is removed iff some SMALLER-id vector in its coarse cluster
    has cosine ≥ tau with it — deterministic, order-free, and exactly
    the keep-min rule the text near-dup family uses. Pair generation is
    cluster-scoped (equi-join on cid): the O(n²) prune SemDeDup runs
    within k-means clusters, never across the corpus. Returns the
    per-cluster summary (n_vectors / n_removed / n_kept).

    Scale: same join shape as :func:`knn_graph` — per-cell |cell|² with
    a √N̄ codebook; the removed-set aggregation is a distinct on
    (cid, id), shuffle-keyed by the uniform id.
    """
    base = _assigned_corpus(emb, centroid_mod,
                            n_centroids, n_super, n_super2, spread_every)
    pairs = semantic_pairs_from_assigned(base, tau)
    removed = (pairs.select("cid", F.col("id_b").alias("rid")).distinct()
               .groupBy("cid").agg(F.count("*").alias("n_removed")))
    sizes = base.groupBy("cid").agg(F.count("*").alias("n_vectors"))
    return (sizes.join(removed, "cid", "left")
            .select("cid", "n_vectors",
                    F.coalesce(F.col("n_removed"), F.lit(0)).cast("bigint")
                    .alias("n_removed"),
                    (F.col("n_vectors")
                     - F.coalesce(F.col("n_removed"), F.lit(0)))
                    .cast("bigint").alias("n_kept"))
            .withColumn("n_vectors", F.col("n_vectors").cast("bigint")))


def dedup_semantic_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    mod, k, s1, s2, ev = scaled_codebook_three_level(emb.count())
    return semantic_dedup(emb, centroid_mod=mod, n_centroids=k,
                          n_super=s1, n_super2=s2, spread_every=ev)


_DEDUP_SEMANTIC_SQL = _coarse_sql_prefix(carry_n2=True, assigned="search") + f""", pairs AS (
  SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b
  FROM assigned a JOIN assigned b
    ON b.cid = a.cid AND a.vec_id < b.vec_id
  WHERE CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
      / (sqrt(a.n2) * sqrt(b.n2)) >= {SEM_TAU}
), removed AS (
  SELECT cid, COUNT(DISTINCT id_b) AS n_removed FROM pairs GROUP BY cid
), sizes AS (
  SELECT cid, COUNT(*) AS n_vectors FROM assigned GROUP BY cid
)
SELECT s.cid, CAST(s.n_vectors AS BIGINT) AS n_vectors,
  CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed,
  CAST(s.n_vectors - coalesce(r.n_removed, 0) AS BIGINT) AS n_kept
FROM sizes s LEFT JOIN removed r USING (cid)
"""

register(QuerySpec(
    "dedup_semantic", dedup_semantic_query, _DEDUP_SEMANTIC_SQL,
    description=f"SemDeDup semantic prune: cluster-scoped cosine≥{SEM_TAU} "
                "pairs, keep-min-id rule, per-cluster removal summary"))


# --- two-level (hierarchical) IVF coarse assignment -----------------------------

N_SUPER = 4  # super-cell count at the oracle scale (= sqrt(N_CENTROIDS))


def ivf_assign_two_level(emb: DataFrame,
                         centroid_mod: int = CENTROID_MOD,
                         n_centroids: int = N_CENTROIDS,
                         n_super: int = N_SUPER,
                         spread_every: int | None = None) -> DataFrame:
    """Hierarchical IVF coarse quantizer: route through √k super-cells.

    Flat assignment is N·k comparisons — fine while the codebook is
    broadcastable, but beyond ~10⁹ vectors a production codebook has
    10⁴-10⁵ lists and N·k becomes the build bottleneck (exactly the
    wall BENCH_SCALE.md's round-6 note predicts). The standard fix is a
    two-level quantizer: (1) assign each CENTROID to its nearest
    super-centroid (k·s work, s = √k); (2) assign each vector to its
    nearest super-centroid (N·s); (3) compare the vector only against
    the ~k/s centroids of its super-cell (N·k/s). Total N·√k — for a
    65k-list codebook, a 256× assignment speedup. Approximation: the
    true nearest centroid can live in a neighboring super-cell
    (multiprobe over super-cells is the recall knob, as everywhere in
    this family). With ``n_super == n_centroids`` the construction
    degenerates to exact flat assignment (pinned by unit test).

    Super-centroids are a deterministic stride-subsample OF the centroid
    sample, so both levels reproduce exactly in the DuckDB oracle.
    ``spread_every`` switches both levels to the nested id-hash sample
    (:func:`_spread_sample` — layout-robust; REQUIRED when the tiered
    schedule picks this path on a corpus whose ids are striped or
    offset, where the window sample would saturate or come up empty).
    Returns (id, super_cid, cid).

    Execution shape (r13): ONE Arrow routing pass
    (:func:`_cascade_assign_arrow`) — the annotated codebook collects
    once, the centroid→super routing runs driver-side
    (codebook-sized), and the corpus routes both levels inside a
    single vectorized kernel (same lexicographic minima, NULL-first
    semantics and inner-join drop semantics as the relational and HOF
    forms it replaces, bit-equal results). Zero corpus shuffles for
    assignment, and none of the sequential one-row-aggregate broadcast
    waves the per-row HOF form paid (~6 stage waves ≈ 1.7 s at sf0.1
    for trivially small per-row work).
    """
    return (_ivf_assign_two_level_cols(
        emb, centroid_mod, n_centroids, n_super,
        spread_every)
        .select(F.col("vec_id"), "super_cid", "cid"))


def _ivf_assign_two_level_cols(emb: DataFrame,
                               centroid_mod: int = CENTROID_MOD,
                               n_centroids: int = N_CENTROIDS,
                               n_super: int = N_SUPER,
                               spread_every: int | None = None
                               ) -> DataFrame:
    """:func:`ivf_assign_two_level` keeping the quantized vector
    columns: (id, qv, n2, super_cid, cid) as one shuffle-free
    projection (see the public docstring)."""
    stride = max(1, n_centroids // n_super)
    base = emb.select(F.col("vec_id"), quantize(F.col("embedding")).alias("qv"),
                      sq_norm(quantize(F.col("embedding"))).alias("n2"))
    if spread_every is not None:
        cents_pred = _spread_sample("vec_id", spread_every)
        supers_pred = _spread_sample("cid", spread_every * stride)
    else:
        cents_pred = _fixed_sample("vec_id", centroid_mod, n_centroids)
        supers_pred = _fixed_sample("cid", centroid_mod * stride, n_super)
    cents = (base.filter(cents_pred)
             .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"),
                     F.col("n2").alias("cn2")))
    leaf = cents.select(F.col("cid").alias("kid"), "cv", "cn2",
                        F.when(supers_pred, F.lit(0)).otherwise(F.lit(1))
                        .alias("lvl"))
    return (_cascade_assign_arrow(base, leaf, "vec_id", ["sid", "cid"])
            .select(F.col("vec_id"), "qv", "n2",
                    F.col("sid").alias("super_cid"), "cid"))


def similarity_ivf_two_level_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return ivf_assign_two_level(emb)


def _dot_sql(a: str, b: str) -> str:
    """DuckDB integer dot product of two DIM-long list columns."""
    return (f"list_sum(list_transform(range(1, {DIM + 1}), "
            f"i -> {a}[i] * {b}[i]))")


def _two_level_sql() -> str:
    stride = max(1, N_CENTROIDS // N_SUPER)
    return f"""
WITH q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings),
base AS (
  SELECT vec_id, qv,
    list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i])) AS in2
  FROM q
), cents AS (
  SELECT vec_id AS cid, qv AS cv, in2 AS cn2 FROM base
  WHERE {_fixed_sample_sql('vec_id', CENTROID_MOD, N_CENTROIDS)}
), supers AS (
  SELECT cid AS sid, cv AS sv, cn2 AS sn2 FROM cents
  WHERE {_fixed_sample_sql('cid', CENTROID_MOD * stride, N_SUPER)}
), c2s AS (
  SELECT cid, sid FROM (
    SELECT cents.cid, supers.sid,
      ROW_NUMBER() OVER (PARTITION BY cents.cid
        ORDER BY cents.cn2 + supers.sn2 - 2 * {_dot_sql('cents.cv', 'supers.sv')},
                 supers.sid) AS rn
    FROM cents CROSS JOIN supers) WHERE rn = 1
), v2s AS (
  SELECT vec_id, sid FROM (
    SELECT base.vec_id, supers.sid,
      ROW_NUMBER() OVER (PARTITION BY base.vec_id
        ORDER BY base.in2 + supers.sn2 - 2 * {_dot_sql('base.qv', 'supers.sv')},
                 supers.sid) AS rn
    FROM base CROSS JOIN supers) WHERE rn = 1
)
SELECT vec_id, sid AS super_cid, cid FROM (
  SELECT b.vec_id, v.sid,  c.cid,
    ROW_NUMBER() OVER (PARTITION BY b.vec_id
      ORDER BY b.in2 + c.cn2 - 2 * {_dot_sql('b.qv', 'c.cv')}, c.cid) AS rn
  FROM base b
  JOIN v2s v ON v.vec_id = b.vec_id
  JOIN c2s x ON x.sid = v.sid
  JOIN cents c ON c.cid = x.cid) WHERE rn = 1
"""


register(QuerySpec(
    "similarity_ivf_two_level", similarity_ivf_two_level_query,
    _two_level_sql(),
    description=f"hierarchical IVF coarse assignment through {N_SUPER} "
                "super-cells: N·sqrt(k) build instead of N·k — the "
                "production-codebook (10^4-10^5 lists) assignment path"))


# --- three-level IVF coarse assignment (the N^(5/4) kNN-graph path) -------------

N_SUPER2 = 2  # super²-cell count at the oracle scale (≈ k^(1/3))


def _spread_sample(id_col: str, every: int) -> Column:
    """Deterministic ~1/every id sample, UNIFORM over ANY id layout.

    The flat window sample (``id % mod == 0 AND id < mod·count``)
    assumes a dense low-id range; on striped or sparse id spaces it
    saturates at however many ids happen to sit in the window (the
    hidden second cause of the r10 sf100 kNN finding: the ladder's
    1e9-strided replica ids capped the effective codebook at the base
    corpus size). Hashing first makes the sample insensitive to layout,
    and nested moduli (every, every·e1, every·e1·e2) make each
    hierarchy level an exact subset of the one below — the property
    the stride construction gives the static path.
    """
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(every)) == 0


def ivf_assign_three_level(emb: DataFrame,
                           centroid_mod: int = CENTROID_MOD,
                           n_centroids: int = N_CENTROIDS,
                           n_super: int = N_SUPER,
                           n_super2: int = N_SUPER2,
                           spread_every: int | None = None,
                           nprobe: int = 1) -> DataFrame:
    """Three-level hierarchical IVF coarse quantizer: route through
    ~k^(1/3) super²-cells, then ~k^(2/3) super-cells, then centroids.

    Per-vector assignment work is s2 + s1/s2 + k/s1 ≈ 3·k^(1/3)
    comparisons (vs √k two-level, k flat). With the codebook schedule
    k ∝ N^(3/4) (:func:`scaled_codebook_three_level`) both the N·3k^(1/3)
    assignment AND the N²/k cell scoring are N^(5/4) — the fix for the
    N^(4/3) asymptote the r10 sf100 ladder measured at 2M+ vectors.
    Every level's candidate relation is codebook-sized and broadcast;
    the argmin joins explode to N·(level fan-out) rows but partial
    min-struct aggregation combines them map-side, so each level
    shuffles ~N rows once. Approximation: the true nearest centroid can
    live across a super-cell boundary at either level (the recall knob
    is multiprobe, as everywhere in this family).

    ``spread_every``: when given, all three levels sample by nested id
    hash (:func:`_spread_sample` — layout-robust, the scaled path);
    when ``None``, by the static stride construction (deterministic in
    plain SQL, so the fixed DuckDB oracle reproduces both levels).
    With ``n_super2 == n_super == n_centroids`` the construction
    degenerates to exact flat assignment (pinned by unit test).

    ``nprobe=2`` is the recall knob for the SCALED path (the r11
    verdict's missing lever): the second-best super-cell at the LAST
    routing level — the runner-up ``sid1`` within the vector's
    ``sid2`` — is probed too, and the cid argmin runs inside it,
    yielding a second candidate cell ``cid2``. The exact cid scoring
    already covers the best sid1's interior, so the first recall loss
    is across its boundary; the runner-up sid1 is the cheapest repair
    (one more ~N-row routed argmin, no fan-out growth). ``cid2`` is
    NULL when the vector's sid2 contains a single sid1, and is never
    equal to ``cid`` (each centroid maps to exactly one sid1).

    Returns (id, super2_cid, super_cid, cid) — plus ``cid2`` when
    ``nprobe=2``.

    Execution shape (r13): ONE Arrow routing pass
    (:func:`_cascade_assign_arrow`) — the annotated codebook collects
    once, the sid2→sid1→cid routing of the centroids runs driver-side
    (codebook-sized), and the corpus routes all three levels (plus the
    probe-2 runner-up top-2) inside a single vectorized kernel with
    the identical lexicographic minima, NULL-first ordering and
    inner-join drop semantics as the relational/HOF chains it
    replaces — bit-equal results. Zero corpus exchanges for
    assignment, and none of the sequential one-row-aggregate
    broadcast stage waves of the per-row expression form.
    """
    cols = _ivf_assign_three_level_cols(
        emb, centroid_mod, n_centroids, n_super,
        n_super2, spread_every=spread_every, nprobe=nprobe)
    out = [F.col("vec_id"), "super2_cid", "super_cid", "cid"]
    return cols.select(*out, "cid2") if nprobe == 2 else cols.select(*out)


def _ivf_assign_three_level_cols(emb: DataFrame,
                                 centroid_mod: int = CENTROID_MOD,
                                 n_centroids: int = N_CENTROIDS,
                                 n_super: int = N_SUPER,
                                 n_super2: int = N_SUPER2,
                                 spread_every: int | None = None,
                                 nprobe: int = 1) -> DataFrame:
    """:func:`ivf_assign_three_level` keeping the quantized vector
    columns: (id, qv, n2, super2_cid, super_cid, cid[, cid2]) as one
    shuffle-free projection (see the public docstring)."""
    if nprobe not in (1, 2):
        raise ValueError(f"nprobe must be 1 or 2, got {nprobe}")
    base = emb.select(F.col("vec_id"), quantize(F.col("embedding")).alias("qv"),
                      sq_norm(quantize(F.col("embedding"))).alias("n2"))
    if spread_every is not None:
        e1 = max(1, n_centroids // n_super)
        e2 = max(1, n_super // n_super2)
        cents_pred = _spread_sample("vec_id", spread_every)
        sup1_pred = _spread_sample("cid", spread_every * e1)
        # on the cents relation directly: the nested moduli make each
        # level's predicate imply the one below (every·e1·e2 divisible
        # by every·e1), so sup2 ≡ cents rows passing this alone
        sup2_on_cid = _spread_sample("cid", spread_every * e1 * e2)
    else:
        stride1 = max(1, n_centroids // n_super)
        stride2 = max(1, n_super // n_super2)
        cents_pred = _fixed_sample("vec_id", centroid_mod, n_centroids)
        sup1_pred = _fixed_sample("cid", centroid_mod * stride1, n_super)
        # same implication for the stride construction: the level-2
        # window (mod·s1·s2, n_super2) sits inside the level-1 window
        sup2_on_cid = _fixed_sample("cid", centroid_mod * stride1 * stride2,
                                    n_super2)
    cents = base.filter(cents_pred).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv"),
        F.col("n2").alias("cn2"))
    # one Arrow pass routes corpus AND codebook internals — the
    # codebook collects ONCE with per-row hierarchy depth (the nested
    # moduli make sup2 ≡ sup2_on_cid on cents), the sid2→sid1→cid chain
    # for centroids runs driver-side (codebook-sized), and the probe-2
    # runner-up is the kernel's top-2 at the sid1 level with the
    # identical (NULL-first d, key) ordering the array_sort form used
    # lvl 0 requires BOTH predicates: the nested moduli make sup2_on_cid
    # imply sup1_pred for every schedule the engine constructs, but a
    # degenerate n_super2 > n_super would break the window nesting in the
    # fixed-stride branch — the explicit conjunction keeps the hierarchy
    # membership identical to the old nested sup1.filter(sup2) form for
    # ANY parameterization (no-op for the shipped schedules).
    leaf = cents.select(
        F.col("cid").alias("kid"), "cv", "cn2",
        F.when(sup2_on_cid & sup1_pred, F.lit(0))
        .when(sup1_pred, F.lit(1)).otherwise(F.lit(2)).alias("lvl"))
    routed = _cascade_assign_arrow(base, leaf, "vec_id",
                                   ["sid2", "sid1", "cid"],
                                   probe2=(nprobe == 2))
    out = [F.col("vec_id"), "qv", "n2", F.col("sid2").alias("super2_cid"),
           F.col("sid1").alias("super_cid"), "cid"]
    if nprobe == 2:
        out.append(F.col("cid2"))
    return routed.select(*out)


def similarity_ivf_three_level_query(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return ivf_assign_three_level(emb)


def _three_level_cascade_sql() -> str:
    """The CTEs both three-level oracles share: the nested codebooks and
    each vector's best super²-cell (``v2s2``)."""
    stride1 = max(1, N_CENTROIDS // N_SUPER)
    stride2 = max(1, N_SUPER // N_SUPER2)
    return f"""
WITH q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings),
base AS (
  SELECT vec_id, qv,
    list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i])) AS in2
  FROM q
), cents AS (
  SELECT vec_id AS cid, qv AS cv, in2 AS cn2 FROM base
  WHERE {_fixed_sample_sql('vec_id', CENTROID_MOD, N_CENTROIDS)}
), sup1 AS (
  SELECT cid AS sid1, cv AS s1v, cn2 AS s1n2 FROM cents
  WHERE {_fixed_sample_sql('cid', CENTROID_MOD * stride1, N_SUPER)}
), sup2 AS (
  SELECT sid1 AS sid2, s1v AS s2v, s1n2 AS s2n2 FROM sup1
  WHERE {_fixed_sample_sql('sid1', CENTROID_MOD * stride1 * stride2,
                           N_SUPER2)}
), s1map AS (
  SELECT sid1, sid2 FROM (
    SELECT sup1.sid1, sup2.sid2,
      ROW_NUMBER() OVER (PARTITION BY sup1.sid1
        ORDER BY sup1.s1n2 + sup2.s2n2 - 2 * {_dot_sql('sup1.s1v', 'sup2.s2v')},
                 sup2.sid2) AS rn
    FROM sup1 CROSS JOIN sup2) WHERE rn = 1
), c2s2 AS (
  SELECT cid, sid2 FROM (
    SELECT cents.cid, sup2.sid2,
      ROW_NUMBER() OVER (PARTITION BY cents.cid
        ORDER BY cents.cn2 + sup2.s2n2 - 2 * {_dot_sql('cents.cv', 'sup2.s2v')},
                 sup2.sid2) AS rn
    FROM cents CROSS JOIN sup2) WHERE rn = 1
), c2s1 AS (
  SELECT cid, sid1 FROM (
    SELECT c.cid, m.sid1,
      ROW_NUMBER() OVER (PARTITION BY c.cid
        ORDER BY c.cn2 + s.s1n2 - 2 * {_dot_sql('c.cv', 's.s1v')}, m.sid1) AS rn
    FROM cents c
    JOIN c2s2 x ON x.cid = c.cid
    JOIN s1map m ON m.sid2 = x.sid2
    JOIN sup1 s ON s.sid1 = m.sid1) WHERE rn = 1
), v2s2 AS (
  SELECT vec_id, sid2 FROM (
    SELECT base.vec_id, sup2.sid2,
      ROW_NUMBER() OVER (PARTITION BY base.vec_id
        ORDER BY base.in2 + sup2.s2n2 - 2 * {_dot_sql('base.qv', 'sup2.s2v')},
                 sup2.sid2) AS rn
    FROM base CROSS JOIN sup2) WHERE rn = 1
"""


def _three_level_sql() -> str:
    return _three_level_cascade_sql() + f"""), v2s1 AS (
  SELECT vec_id, sid2, sid1 FROM (
    SELECT b.vec_id, v.sid2, m.sid1,
      ROW_NUMBER() OVER (PARTITION BY b.vec_id
        ORDER BY b.in2 + s.s1n2 - 2 * {_dot_sql('b.qv', 's.s1v')}, m.sid1) AS rn
    FROM base b
    JOIN v2s2 v ON v.vec_id = b.vec_id
    JOIN s1map m ON m.sid2 = v.sid2
    JOIN sup1 s ON s.sid1 = m.sid1) WHERE rn = 1
)
SELECT vec_id, sid2 AS super2_cid, sid1 AS super_cid, cid FROM (
  SELECT b.vec_id, v.sid2, v.sid1, c.cid,
    ROW_NUMBER() OVER (PARTITION BY b.vec_id
      ORDER BY b.in2 + c.cn2 - 2 * {_dot_sql('b.qv', 'c.cv')}, c.cid) AS rn
  FROM base b
  JOIN v2s1 v ON v.vec_id = b.vec_id
  JOIN c2s1 x ON x.sid1 = v.sid1
  JOIN cents c ON c.cid = x.cid) WHERE rn = 1
"""


register(QuerySpec(
    "similarity_ivf_three_level", similarity_ivf_three_level_query,
    _three_level_sql(),
    description=f"three-level IVF coarse assignment through {N_SUPER2} "
                f"super²- and {N_SUPER} super-cells: N·k^(1/3) build — "
                "moves the kNN-graph codebook balance to k ∝ N^(3/4), "
                "making build AND cell scoring N^(5/4) (the r10 sf100 "
                "N^(4/3) asymptote fix)"))


def similarity_three_level_probe2_query(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    # cid2 coalesced to -1 on both engines: a nullable int column
    # round-trips through pandas as float64 only when nulls are present,
    # so the stringified canon would depend on WHETHER any sid2 happens
    # to hold a single sid1 — the sentinel keeps the column int64 always
    return (ivf_assign_three_level(emb, nprobe=2)
            .withColumn("cid2", F.coalesce(F.col("cid2"), F.lit(-1))))


def _three_level_probe2_sql() -> str:
    """Level-by-level pin of the nprobe=2 cascade at the static stride
    configuration — the :func:`_three_level_cascade_sql` prefix, then the
    sid1 ranking keeps rn <= 2 and the cid argmin runs inside BOTH
    cells."""
    return _three_level_cascade_sql() + f"""), v2s1r AS (
  SELECT vec_id, sid2, sid1, rn FROM (
    SELECT b.vec_id, v.sid2, m.sid1,
      ROW_NUMBER() OVER (PARTITION BY b.vec_id
        ORDER BY b.in2 + s.s1n2 - 2 * {_dot_sql('b.qv', 's.s1v')}, m.sid1) AS rn
    FROM base b
    JOIN v2s2 v ON v.vec_id = b.vec_id
    JOIN s1map m ON m.sid2 = v.sid2
    JOIN sup1 s ON s.sid1 = m.sid1) WHERE rn <= 2
), best AS (SELECT vec_id, sid2, sid1 FROM v2s1r WHERE rn = 1),
second AS (SELECT vec_id, sid1 FROM v2s1r WHERE rn = 2),
cid_best AS (
  SELECT vec_id, sid2, sid1, cid FROM (
    SELECT v.vec_id, v.sid2, v.sid1, c.cid,
      ROW_NUMBER() OVER (PARTITION BY v.vec_id
        ORDER BY b.in2 + c.cn2 - 2 * {_dot_sql('b.qv', 'c.cv')}, c.cid) AS rn
    FROM best v
    JOIN base b ON b.vec_id = v.vec_id
    JOIN c2s1 x ON x.sid1 = v.sid1
    JOIN cents c ON c.cid = x.cid) WHERE rn = 1
), cid_second AS (
  SELECT vec_id, cid AS cid2 FROM (
    SELECT v.vec_id, c.cid,
      ROW_NUMBER() OVER (PARTITION BY v.vec_id
        ORDER BY b.in2 + c.cn2 - 2 * {_dot_sql('b.qv', 'c.cv')}, c.cid) AS rn
    FROM second v
    JOIN base b ON b.vec_id = v.vec_id
    JOIN c2s1 x ON x.sid1 = v.sid1
    JOIN cents c ON c.cid = x.cid) WHERE rn = 1
)
SELECT cb.vec_id, cb.sid2 AS super2_cid, cb.sid1 AS super_cid, cb.cid,
  COALESCE(cs.cid2, -1) AS cid2
FROM cid_best cb LEFT JOIN cid_second cs ON cs.vec_id = cb.vec_id
"""


register(QuerySpec(
    "similarity_ivf_three_level_probe2", similarity_three_level_probe2_query,
    _three_level_probe2_sql(),
    description="nprobe=2 on the three-level cascade: the runner-up "
                "super-cell at the LAST routing level is probed too and "
                "the cid argmin runs inside both — the scaled path's "
                "recall knob (one extra ~N-row routed argmin), pinned "
                "level-by-level at the static stride configuration"))


# --- PageRank over the kNN graph (integer-exact power iteration) ----------------

PR_ROUNDS = 3
PR_INIT = 1_000_000    # scaled-integer initial rank
PR_BASE = 150_000      # (1 - d) * PR_INIT with damping d = 0.85
PR_DNUM, PR_DDEN = 85, 100
PR_TOPN = 20


def graph_pagerank(edges: DataFrame, rounds: int = PR_ROUNDS) -> DataFrame:
    """Damped PageRank over a directed edge relation, in EXACT scaled-
    integer arithmetic: rank' = 150000 + (85 · Σ floor(rank/outdeg)) / 100
    (integer division throughout, all operands positive) — float PageRank
    sums are order-dependent and can never hash-match a SQL oracle; the
    integer recurrence is deterministic in both engines and converges to
    the same ordering for ranking purposes.

    Scale: the classic iterative DataFrame shape (kmeans_refine,
    connected_components_star): per round one join edges⋈ranks (shuffle on
    the uniform id) + one groupBy(dst); ranks localCheckpoint per round
    so lineage stays flat. Returns (id, rank, out_degree) for every
    node of the graph.
    """
    edges = edges.select(F.col("src"),
                         F.col("dst")).localCheckpoint()
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    nodes = (edges.select(F.col("src").alias("id"))
             .union(edges.select(F.col("dst").alias("id"))).distinct())
    ranks = nodes.select("id", F.lit(PR_INIT).cast("long").alias("rank")) \
        .localCheckpoint()
    for _ in range(rounds):
        contrib = (edges
                   .join(ranks.withColumnRenamed("id", "src"), "src")
                   .join(outdeg, "src")
                   .select(F.col("dst").alias("id"),
                           F.expr("rank div outdeg").alias("c")))
        summed = contrib.groupBy("id").agg(F.sum("c").alias("s"))
        ranks = (nodes.join(summed, "id", "left")
                 .select("id",
                         (F.lit(PR_BASE)
                          + F.expr(f"({PR_DNUM} * coalesce(s, 0)) "
                                   f"div {PR_DDEN}")).cast("long")
                         .alias("rank"))
                 .localCheckpoint())
    return (ranks.join(outdeg.withColumnRenamed("src", "id"), "id", "left")
            .select("id", "rank",
                    F.coalesce(F.col("outdeg"), F.lit(0)).cast("long")
                    .alias("out_degree")))


def similarity_knn_pagerank_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document centrality over the kNN graph — the graph-based
    representativeness signal data-selection pipelines rank by (central
    docs summarize their semantic neighborhood). Top-N by rank."""
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    mod, k, s1, s2, ev = scaled_codebook_three_level(emb.count())
    graph = knn_graph(emb, centroid_mod=mod, n_centroids=k, n_super=s1,
                      n_super2=s2, spread_every=ev).select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst"))
    pr = graph_pagerank(graph)
    return (pr.orderBy(F.col("rank").desc(), F.col("id"))
            .limit(PR_TOPN)
            .select(F.col("id").alias("vec_id"), "rank", "out_degree"))


def _pagerank_sql() -> str:
    head = _KNN_GRAPH_SQL.rsplit(
        "SELECT vec_id, neighbor_id, cosine, rnk FROM ranked", 1)[0]
    ctes = [f"""edges AS (
  SELECT vec_id AS src, neighbor_id AS dst FROM ranked WHERE rnk <= {KNN_K}
), outdeg AS (
  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
), nodes AS (
  SELECT DISTINCT src AS id FROM edges
  UNION SELECT DISTINCT dst FROM edges
), r0 AS (SELECT id, CAST({PR_INIT} AS BIGINT) AS rank FROM nodes)"""]
    for t in range(1, PR_ROUNDS + 1):
        ctes.append(f"""c{t} AS (
  SELECT e.dst AS id, SUM(r.rank // o.outdeg) AS s
  FROM edges e JOIN r{t - 1} r ON r.id = e.src
  JOIN outdeg o ON o.src = e.src GROUP BY e.dst
), r{t} AS (
  SELECT n.id,
    CAST({PR_BASE} + ({PR_DNUM} * coalesce(c.s, 0)) // {PR_DDEN} AS BIGINT)
      AS rank
  FROM nodes n LEFT JOIN c{t} c USING (id))""")
    return (head + ", " + ",\n".join(ctes) + f"""
SELECT r.id AS vec_id, r.rank,
  CAST(coalesce(o.outdeg, 0) AS BIGINT) AS out_degree
FROM r{PR_ROUNDS} r LEFT JOIN outdeg o ON o.src = r.id
ORDER BY r.rank DESC, r.id LIMIT {PR_TOPN}
""")


register(QuerySpec(
    "similarity_knn_pagerank", similarity_knn_pagerank_query, _pagerank_sql(),
    description=f"integer-exact PageRank ({PR_ROUNDS} damped rounds) over "
                "the kNN graph: document centrality for graph-based data "
                f"selection, top-{PR_TOPN}"))


# --- cosine range search (threshold, not rank) ----------------------------------

RANGE_TAU = 0.25


def range_search(emb: DataFrame) -> DataFrame:
    """All corpus vectors within cosine ≥ RANGE_TAU of each query — the
    threshold complement of top-k (radius queries: "everything similar
    enough", the shape dedup-by-query and policy-filter lookups use;
    result size is data-dependent, so downstream must not assume k).

    Same bounded-broadcast discipline as the top-k family: the fixed
    query set broadcasts, exact integer dot products, one corpus scan.
    Per-query match COUNTS are returned alongside pairs via a window so
    callers can detect degenerate radii without a second pass.
    """
    from pyspark.sql import Window
    base = (emb.select(F.col("vec_id"),
                       quantize(F.col("embedding")).alias("qv"),
                       sq_norm(quantize(F.col("embedding"))).alias("n2"))
            .filter(F.col("n2") > 0))
    queries = (base.filter(_fixed_sample("vec_id", QUERY_MOD, N_QUERIES))
               .select(F.col("vec_id").alias("query_id"),
                       F.col("qv").alias("qq"), F.col("n2").alias("qn2")))
    scored = (base.crossJoin(F.broadcast(queries))
              .filter(F.col("vec_id") != F.col("query_id"))
              .select(F.col("query_id"), F.col("vec_id").alias("match_id"),
                      (int_dot(F.col("qv"), F.col("qq")).cast("double")
                       / (F.sqrt(F.col("n2").cast("double"))
                          * F.sqrt(F.col("qn2").cast("double"))))
                      .alias("cosine"))
              .filter(F.col("cosine") >= RANGE_TAU))
    w = Window.partitionBy("query_id")
    return scored.select(
        "query_id", "match_id", "cosine",
        F.count("*").over(w).cast("bigint").alias("n_matches"))


def similarity_range_search_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return range_search(emb)


_RANGE_SQL = f"""
WITH q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings),
base AS (
  SELECT vec_id, qv,
    list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i])) AS n2
  FROM q
), nz AS (SELECT * FROM base WHERE n2 > 0),
queries AS (
  SELECT vec_id AS query_id, qv AS qq, n2 AS qn2 FROM nz
  WHERE {_fixed_sample_sql('vec_id', QUERY_MOD, N_QUERIES)}
), scored AS (
  SELECT queries.query_id, nz.vec_id AS match_id,
    CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> nz.qv[i] * queries.qq[i])) AS DOUBLE)
      / (sqrt(CAST(nz.n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))) AS cosine
  FROM nz CROSS JOIN queries
  WHERE nz.vec_id <> queries.query_id
)
SELECT query_id, match_id, cosine,
  CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT) AS n_matches
FROM scored WHERE cosine >= {RANGE_TAU}
"""

register(QuerySpec(
    "similarity_range_search", similarity_range_search_query, _RANGE_SQL,
    description=f"cosine radius search (≥ {RANGE_TAU}) for the fixed "
                "query set: threshold semantics, data-dependent result "
                "size, per-query match counts in-row"))


# --- coreset selection: per-cell representatives --------------------------------

def cell_representatives(emb: DataFrame) -> DataFrame:
    """Diversity/coreset sampling: the vector nearest its cell's
    centroid, per IVF cell — the "pick one representative per semantic
    region" selection step (the dual of SemDeDup's redundancy removal:
    that PRUNES near-duplicates, this KEEPS one exemplar per region).

    One broadcast-codebook distance pass + a struct-min argmin per cell
    (map-side partial agg; shuffles one row per cell). Exact integer
    distances; ties break on id.
    """
    base = emb.select(F.col("vec_id"), quantize(F.col("embedding")).alias("qv"),
                      sq_norm(quantize(F.col("embedding"))).alias("n2"))
    cents = (base.filter(_fixed_sample("vec_id", CENTROID_MOD, N_CENTROIDS))
             .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"),
                     F.col("n2").alias("cn2")))
    # assignment carries (qv, n2) — no corpus id join (r13)
    dists = (_ivf_assign_cols(emb)
             .join(F.broadcast(cents), "cid")
             .select("cid", F.col("vec_id"),
                     (F.col("n2") + F.col("cn2")
                      - 2 * int_dot(F.col("qv"), F.col("cv")))
                     .alias("dist")))
    return (dists.groupBy("cid")
            .agg(F.min(F.struct("dist", F.col("vec_id"))).alias("best"),
                 F.count("*").alias("cell_size"))
            .select("cid", F.col("best.vec_id").alias("rep_id"),
                    F.col("best.dist").cast("bigint").alias("rep_dist"),
                    F.col("cell_size").cast("bigint").alias("cell_size")))


def similarity_cell_reps_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return cell_representatives(emb)


_CELL_REPS_SQL = _coarse_sql_prefix(carry_n2=False, assigned=None) + f""", dists AS (
  SELECT a.cid, b.vec_id,
    b.in2 + c.cn2 - 2 * list_sum(list_transform(range(1, {DIM + 1}),
      i -> b.qv[i] * c.cv[i])) AS dist
  FROM base b
  JOIN assign_scored a ON a.vec_id = b.vec_id AND a.rn = 1
  JOIN cents c ON c.cid = a.cid
), ranked AS (
  SELECT cid, vec_id, dist,
    ROW_NUMBER() OVER (PARTITION BY cid ORDER BY dist, vec_id) AS rn,
    COUNT(*) OVER (PARTITION BY cid) AS cell_size
  FROM dists
)
SELECT cid, vec_id AS rep_id, CAST(dist AS BIGINT) AS rep_dist,
  CAST(cell_size AS BIGINT) AS cell_size
FROM ranked WHERE rn = 1
"""

register(QuerySpec(
    "similarity_cell_representatives", similarity_cell_reps_query,
    _CELL_REPS_SQL,
    description="coreset selection: nearest-to-centroid exemplar per IVF "
                "cell (+cell size) — the keep-one-per-region dual of "
                "SemDeDup's prune"))


# --- MMR diversity selection ----------------------------------------------------

MMR_K = 8
MMR_POOL = 64
MMR_LAMBDA = 0.7


def mmr_select(emb: DataFrame, k: int = MMR_K,
               pool: int = MMR_POOL, lam: float = MMR_LAMBDA) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998): pick ``k`` vectors that are RELEVANT to the query but
    DIVERSE among themselves — the data-selection step that keeps a
    fine-tuning batch or a RAG context from being k copies of the same
    point. Query = the min-id corpus vector (deterministic).

    Two-phase, as every production MMR reranker runs it:

    1. DISTRIBUTED pool retrieval: exact cosine top-``pool`` to the
       query over the whole corpus (broadcast query, integer dots,
       TakeOrderedAndProject) — this is the part that touches 100 TB.
    2. BOUNDED greedy rerank: the pool (≤ ``pool`` rows of quantized
       vectors) is a bounded scalar by construction; the O(pool·k)
       greedy argmax runs driver-side like the engine's other bounded
       iterative steps (kmeans argmin collect, BPE argmax). Scores are
       exact-integer dots scaled to doubles only inside the comparison;
       ties break on id.

    Returns (rank, vec_id, rel, max_sim_to_selected) — rank 0 is the
    query's nearest neighbor by construction.
    """
    import math

    base = (emb.select(F.col("vec_id"), quantize(F.col("embedding")).alias("qv"))
            .withColumn("n2", sq_norm(F.col("qv")))
            .filter(F.col("n2") > 0))
    out_schema = ("rank int, vec_id long, rel double, "
                  "max_sim_to_selected double")
    head = base.orderBy("vec_id").limit(1).collect()
    if not head:  # empty / all-zero-norm input: empty result, not IndexError
        return empty_relation(emb.sparkSession, out_schema)
    qrow = head[0]
    qv, qn2, qid = qrow["qv"], qrow["n2"], qrow["vec_id"]
    qlit = lit_long_array(qv)
    cand = (base.filter(F.col("vec_id") != qid)
            .withColumn("rel",
                        int_dot(F.col("qv"), qlit).cast("double")
                        / (F.sqrt(F.col("n2").cast("double"))
                           * F.lit(math.sqrt(float(qn2)))))
            .orderBy(F.col("rel").desc(), "vec_id")
            .limit(pool)
            .collect())  # bounded: <= pool rows (the rerank working set)

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    vecs = {r["vec_id"]: (list(r["qv"]), int(r["n2"])) for r in cand}
    rels = {r["vec_id"]: float(r["rel"]) for r in cand}
    selected: list = []
    out = []
    remaining = sorted(vecs)
    for rank in range(min(k, len(remaining))):
        best = None
        for i in remaining:
            if selected:
                ms = max(
                    dot(vecs[i][0], vecs[j][0])
                    / (math.sqrt(vecs[i][1]) * math.sqrt(vecs[j][1]))
                    for j in selected)
            else:
                ms = 0.0
            score = lam * rels[i] - (1.0 - lam) * ms
            key = (-score, i)
            if best is None or key < best[0]:
                best = (key, i, ms)
        _, pick, ms = best
        out.append((rank, pick, rels[pick], ms))
        selected.append(pick)
        remaining.remove(pick)
    return emb.sparkSession.createDataFrame(out, out_schema)


def similarity_mmr_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return mmr_select(emb)


def _mmr_sql() -> str:
    """DuckDB oracle for :func:`mmr_select` at the registered fixed
    ``MMR_K`` — the greedy loop unrolled into chained CTEs (r7 advice #6).

    Bit-exact with the driver-side greedy: the marginal score inlines
    ``MMR_LAMBDA`` and ``repr(1.0 - MMR_LAMBDA)`` as literals so both
    engines evaluate the identical IEEE expression (1.0 - 0.7 is NOT 0.3
    in doubles); cosines are exact-integer dots cast to double with the
    same sqrt-product denominator; ties order by (score DESC, id) exactly
    like the Python ``(-score, i)`` min-key. ``pick_r`` is empty once
    the pool is exhausted, so a pool smaller than ``MMR_K`` short-stops
    like ``range(min(k, len(remaining)))``.
    """
    oml = repr(1.0 - MMR_LAMBDA)
    dot = (f"CAST(list_sum(list_transform(range(1, {DIM + 1}), "
           "i -> {a}.qv[i] * {b}.qv[i])) AS DOUBLE)")
    cos = (dot + " / (sqrt(CAST({a}.n2 AS DOUBLE)) "
                 "* sqrt(CAST({b}.n2 AS DOUBLE)))")
    parts = [f"""WITH q0 AS (
  SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings
), base AS (
  SELECT vec_id, qv,
    list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i])) AS n2
  FROM q0
), nz AS MATERIALIZED (SELECT * FROM base WHERE n2 > 0),
qv AS MATERIALIZED (SELECT * FROM nz ORDER BY vec_id LIMIT 1),
pool AS MATERIALIZED (
  SELECT c.vec_id, c.qv, c.n2, {cos.format(a='c', b='q')} AS rel
  FROM nz c, qv q WHERE c.vec_id <> q.vec_id
  ORDER BY rel DESC, c.vec_id LIMIT {MMR_POOL}
), sim AS MATERIALIZED (
  SELECT a.vec_id AS ia, b.vec_id AS ib, {cos.format(a='a', b='b')} AS cs
  FROM pool a, pool b WHERE a.vec_id <> b.vec_id
), pick_0 AS MATERIALIZED (
  SELECT 0 AS rank, vec_id, rel, 0.0 AS ms FROM pool
  ORDER BY {MMR_LAMBDA!r} * rel - {oml} * 0.0 DESC, vec_id LIMIT 1
), sel_0 AS MATERIALIZED (SELECT * FROM pick_0)"""]
    for r in range(1, MMR_K):
        parts.append(f""", pick_{r} AS MATERIALIZED (
  SELECT {r} AS rank, vec_id, rel, ms FROM (
    SELECT p.vec_id, p.rel,
      (SELECT max(s.cs) FROM sim s JOIN sel_{r - 1} t ON s.ib = t.vec_id
       WHERE s.ia = p.vec_id) AS ms
    FROM pool p
    WHERE p.vec_id NOT IN (SELECT vec_id FROM sel_{r - 1})
  ) ORDER BY {MMR_LAMBDA!r} * rel - {oml} * ms DESC, vec_id LIMIT 1
), sel_{r} AS MATERIALIZED (SELECT * FROM sel_{r - 1} UNION ALL SELECT * FROM pick_{r})""")
    parts.append(f"""
SELECT CAST(rank AS INTEGER) AS rank, CAST(vec_id AS BIGINT) AS vec_id,
  rel, ms AS max_sim_to_selected
FROM sel_{MMR_K - 1}""")
    return "".join(parts)


register(QuerySpec(
    "similarity_mmr_select", similarity_mmr_query, _mmr_sql(),
    description="MMR diversity selection: distributed exact top-pool "
                "retrieval + bounded greedy rerank; oracle = the fixed-k "
                "greedy unrolled into chained CTEs with bit-identical "
                "float score literals, plus an independent reference "
                "implementation in units"))


# --- cluster topic cards: distinctive terms per IVF cell ------------------------

TOPIC_TOP_TERMS = 3


def cluster_topics(emb: DataFrame, docs: DataFrame) -> DataFrame:
    """Human-readable topic card per embedding cluster: each IVF coarse
    cell labeled with its ``TOPIC_TOP_TERMS`` most DISTINCTIVE member terms — the
    text⇄embedding bridge that turns an opaque cid into something a
    curator can read (treating embeddings row i as the embedding of
    document i, the all-signal convention).

    Distinctiveness is the exact-integer rarity weight of
    ``tfidf_doc_pairs``: in-cell term count × (N_docs − global df) — so
    corpus-wide boilerplate scores ~0 and cell-specific vocabulary
    rises. Top-``TOPIC_TOP_TERMS`` per cell via a cell-partitioned window with
    (weight desc, token) total order.

    Scale: assignment is the standard IVF build (broadcast codebook);
    token relations shuffle on (cid, token) / token — both uniform;
    the per-cell window is bounded by the cell vocabulary.
    """
    from downscaledclimatedata_spark.operators.textops import _tokens

    assign = ivf_assign(emb).select(
        F.col("vec_id").alias("doc_id"), "cid")
    toks = docs.select(
        F.col("doc_id"),
        F.explode(_tokens(F.col("text"))).alias("token"))
    dfreq = (toks.distinct().groupBy("token")
             .agg(F.count("*").alias("df")))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    cell_counts = (toks.join(assign.hint("merge"), "doc_id")
                   .groupBy("cid", "token").agg(F.count("*").alias("cnt")))
    weighted = (cell_counts
                .join(dfreq.hint("merge"), "token")
                .crossJoin(F.broadcast(n_docs))
                .select("cid", "token",
                        (F.col("cnt") * (F.col("n_docs") - F.col("df")))
                        .cast("bigint").alias("weight")))
    w = Window.partitionBy("cid").orderBy(F.col("weight").desc(), "token")
    return (weighted.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOPIC_TOP_TERMS)
            .select("cid", F.col("rnk").cast("int").alias("rnk"),
                    "token", "weight")
            .orderBy("cid", "rnk"))


def similarity_cluster_topics_query(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return cluster_topics(emb, docs)


def _cluster_topics_sql() -> str:
    from downscaledclimatedata_spark.operators.textops import _TOKS_SQL
    return _coarse_sql_prefix(carry_n2=False, assigned="update") + f""",
toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents
), dfreq AS (
  SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, token FROM toks)
  GROUP BY token
), nd AS (SELECT COUNT(*) AS n_docs FROM documents),
cell_counts AS (
  SELECT a.cid, t.token, COUNT(*) AS cnt
  FROM toks t JOIN assigned a ON a.vec_id = t.doc_id
  GROUP BY a.cid, t.token
), weighted AS (
  SELECT c.cid, c.token,
    CAST(c.cnt * (nd.n_docs - d.df) AS BIGINT) AS weight
  FROM cell_counts c JOIN dfreq d USING (token) CROSS JOIN nd
), ranked AS (
  SELECT cid, token, weight,
    ROW_NUMBER() OVER (PARTITION BY cid ORDER BY weight DESC, token) AS rnk
  FROM weighted
)
SELECT cid, CAST(rnk AS INTEGER) AS rnk, token, weight
FROM ranked WHERE rnk <= {TOPIC_TOP_TERMS}
ORDER BY cid, rnk
"""


register(QuerySpec(
    "similarity_cluster_topics", similarity_cluster_topics_query,
    _cluster_topics_sql(),
    description="topic card per IVF cell: top distinctive member terms "
                "by exact-integer rarity weight — the text-embedding "
                "bridge for cluster review"))


# --- embedding distribution drift ----------------------------------------------

DRIFT_TV_SCALE = 1_000_000_000  # fixed-point scale for exact TV distance


def embedding_drift(ref: DataFrame, new: DataFrame) -> DataFrame:
    """Distribution drift between two embedding snapshots: assign both
    to the SAME coarse codebook (built from the reference — the
    monitored model's fixed quantizer) and compare per-cell occupancy
    shares by exact total-variation distance — the embedding-space twin
    of ``text_corpus_drift``, the check an ML-ops pipeline runs before
    trusting last month's IVF index / SemDeDup thresholds on this
    month's data.

    Exact arithmetic: shares are fixed-point integers (count·SCALE //
    total), TV = Σ|share_ref − share_new| / 2 over cells, one double
    division at the end. The codebook comes from the reference side
    only, so a drifted new snapshot cannot move its own yardstick.

    Scale: two N·k broadcast-codebook assignment passes, two |cells|
    aggregates, one |cells|-row join. Nothing corpus-sized shuffles.
    """
    base_ref = ref.select(F.col("vec_id"), quantize(F.col("embedding")).alias("qv"),
                          sq_norm(quantize(F.col("embedding"))).alias("n2"))
    cents = (base_ref.filter(_fixed_sample("vec_id", CENTROID_MOD, N_CENTROIDS))
             .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"),
                     F.col("n2").alias("cn2")).localCheckpoint())

    def assign_counts(df: DataFrame) -> DataFrame:
        base = df.select(F.col("vec_id"),
                         quantize(F.col("embedding")).alias("qv"),
                         sq_norm(quantize(F.col("embedding"))).alias("n2"))
        scored = (base.crossJoin(F.broadcast(cents))
                  .select(F.col("vec_id"), "cid",
                          (F.col("n2") + F.col("cn2")
                           - 2 * int_dot(F.col("qv"), F.col("cv")))
                          .alias("dist")))
        best = (scored.groupBy("vec_id")
                .agg(F.min(F.struct("dist", "cid")).alias("m"))
                .select(F.col("m.cid").alias("cid")))
        return best.groupBy("cid").agg(F.count("*").alias("n"))

    rc = assign_counts(ref).withColumnRenamed("n", "n_ref")
    nc = assign_counts(new).withColumnRenamed("n", "n_new")
    tot = (rc.agg(F.sum("n_ref").alias("t_ref"))
           .crossJoin(F.broadcast(nc.agg(F.sum("n_new").alias("t_new")))))
    s = DRIFT_TV_SCALE
    joined = (rc.join(nc, "cid", "full_outer")
              .crossJoin(F.broadcast(tot))
              .select(
                  "cid",
                  F.coalesce(F.col("n_ref"), F.lit(0)).alias("n_ref"),
                  F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"),
                  # integer `div`, NOT float-divide-then-cast: DuckDB's
                  # double->BIGINT cast rounds where Spark's truncates —
                  # a half-ULP share divergence the edge suite caught
                  F.expr(f"(coalesce(n_ref, CAST(0 AS BIGINT))"
                         f" * CAST({s} AS BIGINT)) div t_ref")
                  .alias("sh_ref"),
                  F.expr(f"(coalesce(n_new, CAST(0 AS BIGINT))"
                         f" * CAST({s} AS BIGINT)) div t_new")
                  .alias("sh_new")))
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("n_ref").cast("bigint").alias("n_ref_vectors"),
        F.sum("n_new").cast("bigint").alias("n_new_vectors"),
        (F.sum(F.abs(F.col("sh_ref") - F.col("sh_new"))).cast("double")
         / (2.0 * s)).alias("tv_distance"))


def similarity_embedding_drift_query(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Deterministic snapshot split by id parity — same-distribution
    halves, so the recorded tv_distance is the sampling-noise floor a
    monitor would alert above."""
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return embedding_drift(emb.filter(F.col("vec_id") % 2 == 0),
                           emb.filter(F.col("vec_id") % 2 == 1))


def _emb_drift_sql() -> str:
    s = DRIFT_TV_SCALE
    sq = f"list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i]))"
    dot = (f"list_sum(list_transform(range(1, {DIM + 1}), "
           f"i -> b.qv[i] * c.cv[i]))")
    return f"""
WITH q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings),
refb AS (SELECT vec_id, qv, {sq} AS n2 FROM q WHERE vec_id % 2 = 0),
newb AS (SELECT vec_id, qv, {sq} AS n2 FROM q WHERE vec_id % 2 = 1),
cents AS (
  SELECT vec_id AS cid, qv AS cv, n2 AS cn2 FROM refb
  WHERE {_fixed_sample_sql('vec_id', CENTROID_MOD, N_CENTROIDS)}
),
rs AS (
  SELECT b.vec_id, c.cid,
    ROW_NUMBER() OVER (PARTITION BY b.vec_id
      ORDER BY b.n2 + c.cn2 - 2 * {dot}, c.cid) AS rn
  FROM refb b CROSS JOIN cents c
),
ra AS (SELECT vec_id, cid FROM rs WHERE rn = 1),
ns AS (
  SELECT b.vec_id, c.cid,
    ROW_NUMBER() OVER (PARTITION BY b.vec_id
      ORDER BY b.n2 + c.cn2 - 2 * {dot}, c.cid) AS rn
  FROM newb b CROSS JOIN cents c
),
na AS (SELECT vec_id, cid FROM ns WHERE rn = 1),
rc AS (SELECT cid, COUNT(*) AS n_ref FROM ra GROUP BY cid),
nc AS (SELECT cid, COUNT(*) AS n_new FROM na GROUP BY cid),
tot AS (
  SELECT (SELECT SUM(n_ref) FROM rc) AS t_ref,
         (SELECT SUM(n_new) FROM nc) AS t_new
),
joined AS (
  SELECT coalesce(rc.cid, nc.cid) AS cid,
    coalesce(rc.n_ref, 0) AS n_ref, coalesce(nc.n_new, 0) AS n_new,
    (coalesce(rc.n_ref, 0) * {s}) // tot.t_ref AS sh_ref,
    (coalesce(nc.n_new, 0) * {s}) // tot.t_new AS sh_new
  FROM rc FULL OUTER JOIN nc ON nc.cid = rc.cid CROSS JOIN tot
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
  CAST(SUM(n_ref) AS BIGINT) AS n_ref_vectors,
  CAST(SUM(n_new) AS BIGINT) AS n_new_vectors,
  CAST(SUM(abs(sh_ref - sh_new)) AS DOUBLE) / (2.0 * {s}) AS tv_distance
FROM joined
"""


register(QuerySpec(
    "similarity_embedding_drift", similarity_embedding_drift_query,
    _emb_drift_sql(),
    description="embedding distribution drift: shared reference-built "
                "codebook, per-cell occupancy shares, exact fixed-point "
                "total-variation distance"))


# --- IVF cell health statistics -------------------------------------------------

def ivf_cell_stats(emb: DataFrame) -> DataFrame:
    """Per-cell index diagnostics: member count, exact mean squared
    distance to the centroid (scaled-integer, no float sums), and
    radius (max squared distance) — the report that tells an index
    operator which cells are oversized (re-split), which are diffuse
    (bad centroid), and which are empty (wasted list), before query
    latency does.

    The assignment distance is already exact integer |v−c|²; the mean
    divides two exact integers once per cell. One N·k broadcast
    assignment + one |cells| aggregate; empty cells surface via a left
    join from the centroid relation with zero counts.
    """
    base = emb.select(F.col("vec_id"), quantize(F.col("embedding")).alias("qv"),
                      sq_norm(quantize(F.col("embedding"))).alias("n2"))
    cents = (base.filter(_fixed_sample("vec_id", CENTROID_MOD, N_CENTROIDS))
             .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"),
                     F.col("n2").alias("cn2")))
    # tiered argmin keeping the winning distance (r13)
    best = (_argmin_assign(base, cents, "vec_id", N_CENTROIDS,
                           dist_out="dist")
            .select("cid", "dist"))
    per_cell = best.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("dist").alias("sum_d"),
        F.max("dist").alias("radius"))
    return (cents.select("cid")
            .join(per_cell, "cid", "left")
            .select(
                "cid",
                F.coalesce(F.col("n_members"), F.lit(0)).cast("bigint")
                .alias("n_members"),
                F.when(F.coalesce(F.col("n_members"), F.lit(0)) > 0,
                       F.col("sum_d").cast("double")
                       / F.col("n_members").cast("double"))
                .otherwise(F.lit(0.0)).alias("mean_sq_dist"),
                F.coalesce(F.col("radius"), F.lit(0)).cast("bigint")
                .alias("radius"))
            .orderBy("cid"))


def similarity_cell_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return ivf_cell_stats(emb)


def _cell_stats_sql() -> str:
    sq = f"list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i]))"
    dot = (f"list_sum(list_transform(range(1, {DIM + 1}), "
           f"i -> b.qv[i] * c.cv[i]))")
    return f"""
WITH q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings),
base AS (SELECT vec_id, qv, {sq} AS n2 FROM q),
cents AS (
  SELECT vec_id AS cid, qv AS cv, n2 AS cn2 FROM base
  WHERE {_fixed_sample_sql('vec_id', CENTROID_MOD, N_CENTROIDS)}
),
scored AS (
  SELECT b.vec_id, c.cid, b.n2 + c.cn2 - 2 * {dot} AS dist,
    ROW_NUMBER() OVER (PARTITION BY b.vec_id
      ORDER BY b.n2 + c.cn2 - 2 * {dot}, c.cid) AS rn
  FROM base b CROSS JOIN cents c
),
best AS (SELECT vec_id, cid, dist FROM scored WHERE rn = 1),
per_cell AS (
  SELECT cid, COUNT(*) AS n_members, SUM(dist) AS sum_d,
    MAX(dist) AS radius
  FROM best GROUP BY cid
)
SELECT c.cid,
  CAST(coalesce(p.n_members, 0) AS BIGINT) AS n_members,
  CASE WHEN coalesce(p.n_members, 0) > 0
       THEN CAST(p.sum_d AS DOUBLE) / CAST(p.n_members AS DOUBLE)
       ELSE 0.0 END AS mean_sq_dist,
  CAST(coalesce(p.radius, 0) AS BIGINT) AS radius
FROM cents c LEFT JOIN per_cell p USING (cid)
ORDER BY c.cid
"""


register(QuerySpec(
    "similarity_cell_stats", similarity_cell_stats_query, _cell_stats_sql(),
    description="IVF cell health: member count, exact-integer mean/max "
                "squared centroid distance per cell, empty cells "
                "surfaced"))


# --- residual IVF-PQ (true IVFADC, trained residual codebooks) -----------------

RES_CB_OFFSET = 7  # shift the codebook sample off the coarse-centroid ids


def ivfpq_residual_topk(emb: DataFrame) -> DataFrame:
    """Residual-encoding IVF-PQ — the actual IVFADC of Jegou et al.
    (TPAMI 2011), which `ivfpq_topk` approximates by PQ-coding RAW
    vectors. Production IVF-PQ codes the RESIDUAL r = v - centroid(v):
    residuals concentrate near the origin, so the product grid spends
    its codes on within-cell detail instead of re-describing the coarse
    structure the IVF assignment already captured. Two details are
    load-bearing and were found by MEASURING recall vs the exact-L2
    truth rather than assuming the textbook win:

    * the residual sub-codebook must not be seeded from the coarse-
      centroid ids — their residuals are all ZERO (each centroid is its
      own cell center), a degenerate codebook (recall 0.12 vs raw's
      0.32 at sf0.001). The seed sample is shifted by RES_CB_OFFSET.
    * an untrained residual codebook loses badly to raw PQ (0.26 vs
      0.46 at sf0.01), so this operator trains its residual codebooks
      per subspace (same discipline as ``pq_train_codebooks``) and
      uses the floored-int ADC of the trained path for cross-engine
      order-independent sums. Measured honestly: even trained, the
      residual variant scores 0.28/0.30 recall@5 (sf0.001/sf0.01) vs
      raw PQ's 0.32/0.46 at identical (nprobe, m_sub, ks) budgets —
      the literature's IVFADC advantage assumes a TRAINED coarse
      quantizer whose tight cells make residuals small; against this
      family's deterministic fixed-sample coarse codebook the residual
      distribution stays as spread as the raw one and the extra
      indirection buys nothing. The operator is kept as the faithful
      IVFADC composition (and the measurement that shows when NOT to
      prefer it); production deployments should pair it with
      kmeans-refined coarse lists (`ivf_topk_refined`).

    The per-(query, probed-cell) ADC table — the query's residual
    differs per probed centroid — is N_QUERIES x NPROBE x RERANK_M_SUB x PQ_KS
    rows, broadcast; candidates are restricted to probed cells BY the
    (cid, m, code) join itself.

    Scale: coarse assign + residual subtraction ride `ivf_assign`'s
    join with a broadcast centroid side; training state is the
    localCheckpointed (vector, subspace) residual relation (one
    shuffled row per pair per round, map-side-combined argmin); search
    adds one broadcast-table join and one (query, match) aggregate —
    the same shuffle shape as `ivfpq_topk`.
    """
    from pyspark.sql import Window

    sub_dim = DIM // RERANK_M_SUB
    base = emb.select(F.col("vec_id"), quantize(F.col("embedding")).alias("qv"),
                      sq_norm(quantize(F.col("embedding"))).alias("n2"))
    cents = (base.filter(_fixed_sample("vec_id", CENTROID_MOD, N_CENTROIDS))
             .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"),
                     F.col("n2").alias("cn2")))
    # residual vectors: v - centroid(cell(v)), exact integers; the
    # assignment carries qv on the same row — no corpus id join (r13)
    avec = (_ivf_assign_cols(emb)
            .join(F.broadcast(cents.select("cid", "cv")), "cid")
            .select("vec_id", F.col("cid").alias("cell"),
                    F.zip_with("qv", "cv", lambda x, y: x - y).alias("rv")))
    rsubs = (avec.select(
        "vec_id", "cell",
        F.posexplode(_subvectors(F.col("rv"), RERANK_M_SUB, sub_dim))
        .alias("m", "sv"))
        .withColumn("dv", F.transform("sv", lambda x: x.cast("double")))
        .localCheckpoint())

    # per-subspace Lloyd's over residuals, seeded off the shifted sample
    rcb = (rsubs.filter((F.col("vec_id") % CENTROID_MOD == RES_CB_OFFSET)
                        & (F.col("vec_id") < CENTROID_MOD * PQ_KS))
           .select("m", F.col("vec_id").alias("cid"), F.col("dv").alias("cv")))
    vn2 = F.aggregate(F.zip_with(F.col("dv"), F.col("dv"), lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    dot = F.aggregate(F.zip_with(F.col("dv"), F.col("cv"), lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    cn2 = F.aggregate(F.zip_with(F.col("cv"), F.col("cv"), lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    for _ in range(PQ_TRAIN_ITERS):
        c = rcb.select("m", "cid", "cv", cn2.alias("cn2"))
        # relational per-subspace argmin (r13 measured: interpreted HOF
        # lambdas lose to this codegen'd broadcast join + groupBy;
        # NumPy ruled out — DOUBLE distances must keep the JVM fold
        # order). cid unique per m, so the carried sv never decides.
        scored = (rsubs.join(F.broadcast(c), "m")
                  .select(F.col("vec_id"), F.col("m"), F.col("cid"),
                          F.col("sv"), (vn2 + F.col("cn2") - 2 * dot)
                          .alias("dist")))
        assigned = (scored.groupBy("vec_id", "m")
                    .agg(F.min(F.struct("dist", "cid", "sv")).alias("best"))
                    .select("m", F.col("best.cid").alias("cid"),
                            F.col("best.sv").alias("sv")))
        comp = assigned.select("m", "cid",
                               F.posexplode("sv").alias("pos", "comp"))
        means = (comp.groupBy("m", "cid", "pos")
                 .agg(F.sum("comp").alias("s"), F.count("*").alias("n"))
                 .select("m", "cid", "pos",
                         (F.col("s").cast("double")
                          / F.col("n").cast("double")).alias("mc")))
        rcb = (means.groupBy("m", "cid")
               .agg(F.transform(
                   F.array_sort(F.collect_list(F.struct("pos", "mc"))),
                   lambda x: x["mc"]).alias("cv"))).localCheckpoint()

    cwf = rcb.select("m", "cid", "cv", cn2.alias("cn2"))
    # encode every corpus residual against the trained codebook —
    # relational argmin (same r13 measurement as the Lloyd's loop)
    sc = (rsubs.join(F.broadcast(cwf), "m")
          .select(F.col("vec_id"), F.col("cid").alias("code_cid"),
                  F.col("m"), F.col("cell"),
                  (vn2 + F.col("cn2") - 2 * dot).alias("dist")))
    enc = (sc.groupBy("vec_id", "cell", "m")
           .agg(F.min(F.struct("dist", "code_cid")).alias("best"))
           .select(F.col("vec_id").alias("match_id"),
                   F.col("cell").alias("cid"), "m",
                   F.col("best.code_cid").alias("code")))

    # query probes: nprobe nearest coarse cells; residual PER probed cell
    qbase = base.filter(_fixed_sample("vec_id", QUERY_MOD, N_QUERIES))
    qranked = (qbase.crossJoin(F.broadcast(cents))
               .select(F.col("vec_id"), F.col("cid"), F.col("qv"),
                       F.col("cv"),
                       (F.col("n2") + F.col("cn2")
                        - 2 * int_dot(F.col("qv"), F.col("cv")))
                       .alias("dist")))
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    probes = (qranked.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= NPROBE)
              .select(F.col("vec_id").alias("query_id"), "cid",
                      F.zip_with("qv", "cv", lambda x, y: x - y)
                      .alias("rv")))
    qsubs = (probes.select(
        "query_id", F.col("cid").alias("cell"),
        F.posexplode(_subvectors(F.col("rv"), RERANK_M_SUB, sub_dim))
        .alias("m", "sv"))
        .withColumn("dv", F.transform("sv", lambda x: x.cast("double"))))
    qtab = (qsubs.join(F.broadcast(cwf), "m")
            .select("query_id", F.col("cell").alias("cid"),
                    F.col("m"), F.col("cid").alias("code"),
                    F.floor(vn2 + F.col("cn2") - 2 * dot)
                    .cast("long").alias("qd")))

    adc = (enc.join(F.broadcast(qtab), ["cid", "m", "code"])
           .filter(F.col("match_id") != F.col("query_id"))
           .groupBy("query_id", "match_id")
           .agg(F.sum("qd").alias("adc_dist")))
    w2 = Window.partitionBy("query_id").orderBy("adc_dist", "match_id")
    return (adc.withColumn("rnk", F.row_number().over(w2))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "match_id", "adc_dist", "rnk"))


def similarity_ivfpq_residual_query(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return ivfpq_residual_topk(emb)


def _ivfpq_residual_sql() -> str:
    m_sub, ks = RERANK_M_SUB, PQ_KS
    sub_dim = DIM // m_sub
    sd1 = sub_dim + 1
    subs_sql = (f"list_transform(range(0, {m_sub}), "
                f"m -> rv[m * {sub_dim} + 1 : m * {sub_dim} + {sub_dim}])")
    res_sql = "list_transform(range(1, %d), i -> b.qv[i] - c.cv[i])" % (DIM + 1)
    n = PQ_TRAIN_ITERS
    iters = ",\n".join(_lloyd_iteration_sql(i, sd1, key="m", vec="sv")
                       for i in range(n))
    return _coarse_sql_prefix(carry_n2=False, assigned=None) + f""", avec AS (
  SELECT b.vec_id, a.cid AS cell, {res_sql} AS rv
  FROM base b
  JOIN assign_scored a ON a.vec_id = b.vec_id AND a.rn = 1
  JOIN cents c ON c.cid = a.cid
), based AS (
  SELECT vec_id, cell, CAST(m AS INT) AS m, slices[m + 1] AS sv,
    list_transform(slices[m + 1], x -> CAST(x AS DOUBLE)) AS dv,
    list_sum(list_transform(
      list_transform(slices[m + 1], x -> CAST(x AS DOUBLE)),
      x -> x * x)) AS vn2
  FROM (SELECT vec_id, cell, {subs_sql} AS slices FROM avec),
       (SELECT unnest(range(0, {m_sub})) AS m)
), cents0 AS (
  SELECT m, vec_id AS cid, dv AS cv FROM based
  WHERE vec_id % {CENTROID_MOD} = {RES_CB_OFFSET}
    AND vec_id < {CENTROID_MOD * ks}
),
{iters},
cwf AS (
  SELECT m, cid, cv, list_sum(list_transform(cv, x -> x * x)) AS cn2
  FROM cents{n}
), sc AS (
  SELECT b.vec_id, b.cell, b.m, c.cid,
    b.vn2 + c.cn2
      - 2 * list_sum(list_transform(range(1, {sd1}), j -> b.dv[j] * c.cv[j]))
      AS dist
  FROM based b JOIN cwf c ON c.m = b.m
), enc AS (
  SELECT vec_id AS match_id, cell AS cid, m, cid_code AS code FROM (
    SELECT vec_id, cell, m, cid AS cid_code,
      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rn
    FROM sc) r
  WHERE rn = 1
), probes AS (
  SELECT a.vec_id AS query_id, a.cid, {res_sql} AS rv
  FROM assign_scored a
  JOIN base b ON b.vec_id = a.vec_id
  JOIN cents c ON c.cid = a.cid
  WHERE {_fixed_sample_sql('a.vec_id', QUERY_MOD, N_QUERIES)}
    AND a.rn <= {NPROBE}
), qsubs AS (
  SELECT query_id, cid, CAST(m AS INT) AS m, slices[m + 1] AS sv,
    list_transform(slices[m + 1], x -> CAST(x AS DOUBLE)) AS dv,
    list_sum(list_transform(
      list_transform(slices[m + 1], x -> CAST(x AS DOUBLE)),
      x -> x * x)) AS vn2
  FROM (SELECT query_id, cid, {subs_sql} AS slices FROM probes),
       (SELECT unnest(range(0, {m_sub})) AS m)
), qtab AS (
  SELECT s.query_id, s.cid, s.m, c.cid AS code,
    CAST(FLOOR(s.vn2 + c.cn2
      - 2 * list_sum(list_transform(range(1, {sd1}),
                                    j -> s.dv[j] * c.cv[j]))) AS BIGINT) AS qd
  FROM qsubs s JOIN cwf c ON c.m = s.m
), adc AS (
  SELECT t.query_id, e.match_id, CAST(SUM(t.qd) AS BIGINT) AS adc_dist
  FROM enc e
  JOIN qtab t ON t.cid = e.cid AND t.m = e.m AND t.code = e.code
  WHERE e.match_id <> t.query_id
  GROUP BY 1, 2
), ranked AS (
  SELECT query_id, match_id, adc_dist,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc_dist, match_id) AS rnk
  FROM adc
)
SELECT query_id, match_id, adc_dist, rnk FROM ranked WHERE rnk <= {TOP_K}
"""


register(QuerySpec("similarity_ivfpq_residual",
                   similarity_ivfpq_residual_query, _ivfpq_residual_sql(),
                   description="true IVFADC: Lloyd's-trained PQ codebooks "
                               "over residuals v - centroid, per-(query, "
                               "probed-cell) broadcast ADC tables, "
                               "floored-int order-independent sums"))


# --- leave-one-out kNN classification eval (embedding quality metric) ----------

def knn_classify_confusion(emb: DataFrame,
                           centroid_mod: int = CENTROID_MOD,
                           n_centroids: int = N_CENTROIDS,
                           n_super: int | None = None,
                           n_super2: int | None = None,
                           spread_every: int | None = None) -> DataFrame:
    """Leave-one-out kNN classification over the labeled embedding
    corpus: each vector's predicted label is the majority vote of its
    approximate k nearest neighbors (self excluded by the graph), and
    the output is the confusion matrix — the standard intrinsic
    check that an embedding space separates its classes, computed
    in-engine instead of exporting vectors to sklearn.

    Rides :func:`knn_graph` (IVF-cell-restricted, N^1.5 with a √N̄
    codebook, no broadcast of corpus sides); the vote is a
    (vec, label)-grain count aggregate + a struct-min argmax (count
    desc, label asc tie-break — deterministic cross-engine). Vectors
    the graph excludes (zero-norm, singleton cells) drop from the
    matrix — the oracle's inner joins mirror exactly that. Output is
    |labels|²-bounded.
    """
    g = knn_graph(emb, KNN_K, centroid_mod, n_centroids,
                  nprobe=1, n_super=n_super, n_super2=n_super2,
                  spread_every=spread_every)
    nb_labels = emb.select(F.col("vec_id").alias("neighbor_id"),
                           F.col("label").cast("int").alias("nb_label"))
    votes = (g.join(nb_labels, "neighbor_id")
             .groupBy("vec_id", "nb_label")
             .agg(F.count(F.lit(1)).alias("c")))
    pred = (votes.groupBy("vec_id")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), "nb_label"))
                 .alias("best"))
            .select("vec_id", F.col("best.nb_label").alias("pred_label")))
    truth = emb.select(F.col("vec_id"),
                       F.col("label").cast("int").alias("true_label"))
    return (truth.join(pred, "vec_id")
            .groupBy("true_label", "pred_label")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("true_label", "pred_label"))


def similarity_knn_classify_query(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    mod, k, s1, s2, ev = scaled_codebook_three_level(emb.count())
    return knn_classify_confusion(emb, centroid_mod=mod, n_centroids=k,
                                  n_super=s1, n_super2=s2,
                                  spread_every=ev)


def _knn_classify_sql() -> str:
    head = _KNN_GRAPH_SQL.rsplit(
        "SELECT vec_id, neighbor_id, cosine, rnk FROM ranked", 1)[0]
    return head + f""", votes AS (
  SELECT r.vec_id, CAST(e.label AS INTEGER) AS nb_label, COUNT(*) AS c
  FROM ranked r JOIN embeddings e ON e.vec_id = r.neighbor_id
  WHERE r.rnk <= {KNN_K}
  GROUP BY 1, 2
), pred AS (
  SELECT vec_id, nb_label AS pred_label FROM (
    SELECT vec_id, nb_label,
      ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY c DESC, nb_label) AS rn
    FROM votes) x
  WHERE rn = 1
)
SELECT CAST(t.label AS INTEGER) AS true_label, p.pred_label,
  COUNT(*) AS n
FROM pred p JOIN embeddings t ON t.vec_id = p.vec_id
GROUP BY 1, 2
ORDER BY 1, 2
"""


register(QuerySpec(
    "similarity_knn_classify", similarity_knn_classify_query,
    _knn_classify_sql(),
    description="leave-one-out kNN classification confusion matrix over "
                "the approximate graph: the intrinsic does-the-space-"
                "separate-classes metric, |labels|^2-bounded output"))


# --- signed random projection (Johnson-Lindenstrauss) search ------------------

RP_DIM = 32    # projected dimensionality (DIM -> RP_DIM, 2x narrower)
RP_POOL = 100  # coarse-pass candidate pool per query (then exact rerank)
RP_CLAMP = QCLAMP  # projected components share the quantizer's contract


def _rp_planes() -> list[list[int]]:
    """Deterministic ±1 projection matrix (Achlioptas 2003 sign variant)
    derived from md5 — no RNG, both engines reproduce it as literals."""
    return [[1 if int(hashlib.md5(f"rp{j}:{d}".encode()).hexdigest()[:15],
                      16) % 2 == 0 else -1
             for d in range(DIM)] for j in range(RP_DIM)]


def rp_topk(emb: DataFrame) -> DataFrame:
    """ANN top-k via signed random projection: score candidates in a
    JL-projected RP_DIM-space (4x narrower than DIM), keep a per-query
    pool, exact-rerank ONLY the pool in full dimensionality.

    The constants are recall-measured on the synthetic corpus (near-
    random vectors — the worst case for JL cosine preservation):
    RP_DIM 32 / pool 100 gives recall@5 ~0.78 vs exact truth; 16/50
    gave 0.48. Real embedding manifolds (low intrinsic dimension)
    project far better at the same width.

    Scale design (100 TB): the coarse pass scans a (id, pv, pn2)
    relation that is DIM/RP_DIM x narrower than the corpus vectors —
    the full embeddings are touched only for the N_QUERIES*RP_POOL rerank
    rows, fetched by a BROADCAST pool semi-join (no corpus shuffle).
    Projection is a shuffle-free codegen projection (16 exact-int dot
    products against literal sign rows). Projected components clamp to
    ±RP_CLAMP exactly like the quantizer (sum of 64 clamped components
    can reach 6.4e9; its square would overflow int64 — the same r4
    overflow class the quantizer's contract exists for). Zero projected
    norms (possible for nonzero vectors) are excluded from the coarse
    pass on both engines — a recall loss, not a crash.
    """
    from pyspark.sql import Window
    planes = _rp_planes()

    # The whole 32-plane projection as ONE parsed expression: transform
    # over a literal sign matrix, each plane an exact-int dot against qv
    # clamped to the quantizer contract. Identical arithmetic to the
    # per-plane unrolled form, but ~1 py4j round trip instead of ~900
    # (32 x int_dot lambda machinery) — plan construction was 1.9 s of
    # pure Python->JVM chatter (guide §4).
    mat = ",".join(
        "array(" + ",".join(f"{v}L" for v in plane) + ")" for plane in planes)
    pv_expr = F.expr(
        f"transform(array({mat}), p -> cast(least(greatest("
        "aggregate(zip_with(qv, p, (x, y) -> x * y), 0L, (a, x) -> a + x),"
        f" {-RP_CLAMP}L), {RP_CLAMP}L) as bigint))")

    base = (emb.select(F.col("vec_id"), quantize(F.col("embedding")).alias("qv"))
            .withColumn("n2", sq_norm(F.col("qv")))
            .filter(F.col("n2") > 0)
            .withColumn("pv", pv_expr)
            .withColumn("pn2", sq_norm(F.col("pv"))))
    coarse = (base.filter(F.col("pn2") > 0)
              .select(F.col("vec_id").alias("match_id"), "pv", "pn2"))
    pq = (base.filter(_fixed_sample("vec_id", QUERY_MOD, N_QUERIES))
          .filter(F.col("pn2") > 0)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("pv").alias("qpv"), F.col("pn2").alias("qpn2")))
    pcos = (int_dot(F.col("qpv"), F.col("pv")).cast("double")
            / (F.sqrt(F.col("qpn2").cast("double"))
               * F.sqrt(F.col("pn2").cast("double"))))
    wp = Window.partitionBy("query_id").orderBy(F.col("pcos").desc(),
                                                F.col("match_id"))
    pool_rel = (coarse.crossJoin(F.broadcast(pq))
                .filter(F.col("match_id") != F.col("query_id"))
                .select("query_id", "match_id", pcos.alias("pcos"))
                .withColumn("prnk", F.row_number().over(wp))
                .filter(F.col("prnk") <= RP_POOL)
                .select("query_id", "match_id"))
    full = base.select(F.col("vec_id").alias("match_id"),
                       F.col("qv").alias("cq"), F.col("n2").alias("cn2"))
    qfull = (base.filter(_fixed_sample("vec_id", QUERY_MOD, N_QUERIES))
             .select(F.col("vec_id").alias("query_id"),
                     F.col("qv").alias("qq"), F.col("n2").alias("qn2")))
    rer = (full.join(F.broadcast(pool_rel), "match_id")
           .join(F.broadcast(qfull), "query_id")
           .select("query_id", "match_id",
                   (int_dot(F.col("qq"), F.col("cq")).cast("double")
                    / (F.sqrt(F.col("qn2").cast("double"))
                       * F.sqrt(F.col("cn2").cast("double")))).alias("cosine")))
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                                F.col("match_id"))
    return (rer.withColumn("rnk", F.row_number().over(w2))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "match_id", "cosine", "rnk"))


def similarity_rp_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return rp_topk(emb)


def _rp_topk_sql() -> str:
    planes = _rp_planes()
    rows = ", ".join(
        f"({j}, [{', '.join(str(v) for v in plane)}])"
        for j, plane in enumerate(planes))
    return f"""
WITH q AS (
  SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings
), b0 AS (
  SELECT vec_id, qv,
    list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i])) AS n2
  FROM q
), b AS (SELECT * FROM b0 WHERE n2 > 0),
pj AS (
  SELECT b.vec_id, p.j,
    CAST(least(greatest(
      list_sum(list_transform(range(1, {DIM + 1}), d -> b.qv[d] * p.sgn[d])),
      {-RP_CLAMP}), {RP_CLAMP}) AS BIGINT) AS c
  FROM b CROSS JOIN (VALUES {rows}) AS p(j, sgn)
), pvec AS (
  SELECT vec_id, list(c ORDER BY j) AS pv FROM pj GROUP BY vec_id
), pb AS (
  SELECT vec_id, pv,
    list_sum(list_transform(range(1, {RP_DIM + 1}), i -> pv[i] * pv[i]))
      AS pn2
  FROM pvec
), pbnz AS (SELECT * FROM pb WHERE pn2 > 0),
pooled AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS match_id,
    CAST(list_sum(list_transform(range(1, {RP_DIM + 1}),
                                 i -> qs.pv[i] * c.pv[i])) AS DOUBLE)
      / (sqrt(CAST(qs.pn2 AS DOUBLE)) * sqrt(CAST(c.pn2 AS DOUBLE))) AS pcos
  FROM pbnz qs JOIN pbnz c ON c.vec_id <> qs.vec_id
  WHERE {_fixed_sample_sql('qs.vec_id', QUERY_MOD, N_QUERIES)}
), pool AS (
  SELECT query_id, match_id FROM (
    SELECT query_id, match_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY pcos DESC, match_id) AS prnk
    FROM pooled) WHERE prnk <= {RP_POOL}
), rer AS (
  SELECT p.query_id, p.match_id,
    CAST(list_sum(list_transform(range(1, {DIM + 1}),
                                 i -> qb.qv[i] * cb.qv[i])) AS DOUBLE)
      / (sqrt(CAST(qb.n2 AS DOUBLE)) * sqrt(CAST(cb.n2 AS DOUBLE))) AS cosine
  FROM pool p
  JOIN b qb ON qb.vec_id = p.query_id
  JOIN b cb ON cb.vec_id = p.match_id
)
SELECT query_id, match_id, cosine, rnk FROM (
  SELECT query_id, match_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, match_id) AS rnk
  FROM rer) WHERE rnk <= {TOP_K}
"""


register(QuerySpec(
    "similarity_rp_topk", similarity_rp_topk_query, _rp_topk_sql(),
    description="signed-random-projection (JL) ANN: 4x-narrower coarse "
                "scan, broadcast pool semi-join, exact full-dim rerank "
                "of pool rows only"))


# --- scalar quantization (SQ8) search -----------------------------------------

SQ_LEVELS = 255  # 8-bit codes 0..255: the FAISS ScalarQuantizer QT_8bit family
SQ_POOL = 50     # coarse-ADC candidate pool per query (then exact rerank)


def sq8_topk(emb: DataFrame) -> DataFrame:
    """ANN top-k via trained 8-bit scalar quantization (SQ8): per-dim
    [min, max] learned from the corpus, each component stored as a
    0..255 code, coarse ASYMMETRIC scoring (full-precision query vs
    dequantized candidates), exact full-dim rerank of the pool only.

    This is the third compression family next to PQ (codebook per
    subvector) and RP (dimensionality reduction): SQ keeps every
    dimension but narrows each to one byte — in production the scan
    reads 1 byte/dim (4x less than float32) and dequantizes on the
    fly. Here codes dequantize through exact floor-div integer
    arithmetic so the approximation itself is oracle-checkable:
    code_d = (x_d - mn_d) * 255 DIV (mx_d - mn_d), recon_d = mn_d +
    (code_d * (mx_d - mn_d)) DIV 255. recon stays inside [mn_d, mx_d]
    ⊆ ±QCLAMP, so every derived dot/norm obeys the quantizer's int64
    contract (no new overflow class; operands of every DIV are
    non-negative, so Spark DIV and DuckDB // agree).

    Scale design (100 TB): training is ONE single-row min/max
    aggregation over a narrow projection (128 partial-agg expressions,
    no shuffle of vectors), broadcast back as a 1-row relation. The
    coarse pass is a shuffle-free projection + broadcast-query
    crossJoin (N x N_QUERIES, linear); full vectors are touched only
    for the N_QUERIES x SQ_POOL rerank rows via broadcast semi-joins —
    the corpus itself never shuffles.
    """
    from pyspark.sql import Window
    base = (emb.select(F.col("vec_id"), quantize(F.col("embedding")).alias("qv"))
            .withColumn("n2", sq_norm(F.col("qv")))
            .filter(F.col("n2") > 0))
    mm = base.agg(
        F.array(*[F.min(F.col("qv")[d]) for d in range(DIM)]).alias("mn"),
        F.array(*[F.max(F.col("qv")[d]) for d in range(DIM)]).alias("mx"))
    recon = F.expr(f"""
        transform(sequence(0, {DIM - 1}), d ->
          mn[d] + CASE WHEN mx[d] > mn[d]
            THEN ((((qv[d] - mn[d]) * {SQ_LEVELS}) DIV (mx[d] - mn[d]))
                  * (mx[d] - mn[d])) DIV {SQ_LEVELS}
            ELSE CAST(0 AS BIGINT) END)
    """)
    cand = (base.crossJoin(F.broadcast(mm))
            .withColumn("rv", recon)
            .withColumn("rn2", sq_norm(F.col("rv")))
            .filter(F.col("rn2") > 0)
            .select(F.col("vec_id").alias("match_id"), "rv", "rn2"))
    q = (base.filter(_fixed_sample("vec_id", QUERY_MOD, N_QUERIES))
         .select(F.col("vec_id").alias("query_id"),
                 F.col("qv").alias("qq"), F.col("n2").alias("qn2")))
    adc = (int_dot(F.col("qq"), F.col("rv")).cast("double")
           / (F.sqrt(F.col("qn2").cast("double"))
              * F.sqrt(F.col("rn2").cast("double"))))
    wp = Window.partitionBy("query_id").orderBy(F.col("adc").desc(),
                                                F.col("match_id"))
    pool_rel = (cand.crossJoin(F.broadcast(q))
                .filter(F.col("match_id") != F.col("query_id"))
                .select("query_id", "match_id", adc.alias("adc"))
                .withColumn("prnk", F.row_number().over(wp))
                .filter(F.col("prnk") <= SQ_POOL)
                .select("query_id", "match_id"))
    full = base.select(F.col("vec_id").alias("match_id"),
                       F.col("qv").alias("cq"), F.col("n2").alias("cn2"))
    rer = (full.join(F.broadcast(pool_rel), "match_id")
           .join(F.broadcast(q), "query_id")
           .select("query_id", "match_id",
                   (int_dot(F.col("qq"), F.col("cq")).cast("double")
                    / (F.sqrt(F.col("qn2").cast("double"))
                       * F.sqrt(F.col("cn2").cast("double")))).alias("cosine")))
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                                F.col("match_id"))
    return (rer.withColumn("rnk", F.row_number().over(w2))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "match_id", "cosine", "rnk"))


def similarity_sq8_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return sq8_topk(emb)


def _sq8_topk_sql() -> str:
    return f"""
WITH q0 AS (
  SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings
), b0 AS (
  SELECT vec_id, qv,
    list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i])) AS n2
  FROM q0
), b AS (SELECT * FROM b0 WHERE n2 > 0),
mmj AS (
  SELECT j, min(qv[j]) AS mnj, max(qv[j]) AS mxj
  FROM b CROSS JOIN range(1, {DIM + 1}) t(j) GROUP BY j
), mm AS (
  SELECT list(mnj ORDER BY j) AS mn, list(mxj ORDER BY j) AS mx FROM mmj
), cand AS (
  SELECT vec_id AS match_id,
    list_transform(range(1, {DIM + 1}), j ->
      mn[j] + CASE WHEN mx[j] > mn[j]
        THEN ((((qv[j] - mn[j]) * {SQ_LEVELS}) // (mx[j] - mn[j]))
              * (mx[j] - mn[j])) // {SQ_LEVELS}
        ELSE 0 END) AS rv
  FROM b CROSS JOIN mm
), candn AS (
  SELECT match_id, rv,
    list_sum(list_transform(range(1, {DIM + 1}), i -> rv[i] * rv[i])) AS rn2
  FROM cand
), cnz AS (SELECT * FROM candn WHERE rn2 > 0),
qs AS (
  SELECT vec_id AS query_id, qv AS qq, n2 AS qn2 FROM b
  WHERE {_fixed_sample_sql('vec_id', QUERY_MOD, N_QUERIES)}
), pooled AS (
  SELECT qs.query_id, c.match_id,
    CAST(list_sum(list_transform(range(1, {DIM + 1}),
                                 i -> qs.qq[i] * c.rv[i])) AS DOUBLE)
      / (sqrt(CAST(qs.qn2 AS DOUBLE)) * sqrt(CAST(c.rn2 AS DOUBLE))) AS adc
  FROM cnz c CROSS JOIN qs WHERE c.match_id <> qs.query_id
), pool AS (
  SELECT query_id, match_id FROM (
    SELECT query_id, match_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY adc DESC, match_id) AS prnk
    FROM pooled) WHERE prnk <= {SQ_POOL}
), rer AS (
  SELECT p.query_id, p.match_id,
    CAST(list_sum(list_transform(range(1, {DIM + 1}),
                                 i -> qb.qv[i] * cb.qv[i])) AS DOUBLE)
      / (sqrt(CAST(qb.n2 AS DOUBLE)) * sqrt(CAST(cb.n2 AS DOUBLE))) AS cosine
  FROM pool p
  JOIN b qb ON qb.vec_id = p.query_id
  JOIN b cb ON cb.vec_id = p.match_id
)
SELECT query_id, match_id, cosine, rnk FROM (
  SELECT query_id, match_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, match_id) AS rnk
  FROM rer) WHERE rnk <= {TOP_K}
"""


register(QuerySpec(
    "similarity_sq8_topk", similarity_sq8_topk_query, _sq8_topk_sql(),
    description="trained 8-bit scalar-quantization (SQ8) ANN: one-row "
                "min/max training broadcast back, asymmetric coarse ADC "
                "over dequantized codes, exact rerank of pool rows only"))


# --- semantic decontamination (embedding-channel eval overlap) ----------------

EVD_MOD = 37     # spacing of the deterministic "benchmark" vector sample
EVD_COUNT = 30   # fixed eval-set size (benchmarks are MBs, corpus is TBs)
EVD_TAU = 0.45   # cosine threshold; organic corpus pairs top out ~0.51


def semantic_decontaminate(emb: DataFrame) -> DataFrame:
    """Embedding-channel benchmark decontamination: flag every corpus
    vector whose cosine to ANY eval-set vector reaches EVD_TAU, reporting
    the best-matching eval id. The semantic complement of the n-gram
    `dedup_decontaminate` pass — n-grams catch verbatim and lightly
    edited copies, embeddings catch paraphrases (the GSM8k-rephrase
    contamination class n-gram overlap misses).

    Scale design (100 TB): the eval side is a FIXED-size bounded
    sample (benchmarks are MBs) broadcast against the corpus — the
    scan is N x |eval| work with no corpus shuffle; the per-doc argmax
    is a window over the ≤ |eval| matches of each flagged doc, keyed
    by doc id. Exact-int dot products under the quantizer contract;
    ties break (cosine desc, eval_id asc), deterministic cross-engine.

    Here the eval set is a deterministic id-sample of the corpus
    itself (the container ships no external benchmark), so every eval
    member flags its own source row at cosine 1.0 — the planted
    "verbatim benchmark copy" — plus any organic paraphrase-level
    neighbours above tau.
    """
    from pyspark.sql import Window
    base = (emb.select(F.col("vec_id"), quantize(F.col("embedding")).alias("qv"))
            .withColumn("n2", sq_norm(F.col("qv")))
            .filter(F.col("n2") > 0))
    ev = (base.filter(_fixed_sample("vec_id", EVD_MOD, EVD_COUNT))
          .select(F.col("vec_id").alias("eval_id"),
                  F.col("qv").alias("ev"), F.col("n2").alias("en2")))
    cos = (int_dot(F.col("qv"), F.col("ev")).cast("double")
           / (F.sqrt(F.col("n2").cast("double"))
              * F.sqrt(F.col("en2").cast("double"))))
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(),
                                           F.col("eval_id"))
    return (base.crossJoin(F.broadcast(ev))
            .select(F.col("vec_id"), F.col("eval_id"), cos.alias("cosine"))
            .filter(F.col("cosine") >= EVD_TAU)
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
            .select(F.col("vec_id"),
                    F.col("eval_id").alias("best_eval_id"),
                    F.col("cosine").alias("best_cosine"),
                    (F.col("vec_id") == F.col("eval_id"))
                    .alias("is_verbatim_self")))


def dedup_semantic_decon_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return semantic_decontaminate(emb)


_SEM_DECON_SQL = f"""
WITH q AS (
  SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings
), b0 AS (
  SELECT vec_id, qv,
    list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i])) AS n2
  FROM q
), b AS (SELECT * FROM b0 WHERE n2 > 0),
ev AS (
  SELECT vec_id AS eval_id, qv AS evv, n2 AS en2 FROM b
  WHERE {_fixed_sample_sql('vec_id', EVD_MOD, EVD_COUNT)}
), scored AS (
  SELECT b.vec_id, ev.eval_id,
    CAST(list_sum(list_transform(range(1, {DIM + 1}),
                                 i -> b.qv[i] * ev.evv[i])) AS DOUBLE)
      / (sqrt(CAST(b.n2 AS DOUBLE)) * sqrt(CAST(ev.en2 AS DOUBLE))) AS cosine
  FROM b CROSS JOIN ev
)
SELECT vec_id, eval_id AS best_eval_id, cosine AS best_cosine,
  vec_id = eval_id AS is_verbatim_self
FROM (
  SELECT vec_id, eval_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY cosine DESC, eval_id) AS rnk
  FROM scored WHERE cosine >= {EVD_TAU}) WHERE rnk = 1
"""

register(QuerySpec(
    "dedup_semantic_decon", dedup_semantic_decon_query, _SEM_DECON_SQL,
    description="embedding-channel benchmark decontamination: bounded "
                "eval set broadcast against the corpus (no corpus "
                "shuffle), exact-int cosine, per-doc best-match argmax "
                "— catches the paraphrase class n-gram overlap misses"))


# --- IVF cell label purity (clustering-quality eval) ------------------------------

def ivf_cell_purity(emb: DataFrame,
                    centroid_mod: int = CENTROID_MOD,
                    n_centroids: int = N_CENTROIDS) -> DataFrame:
    """Per-cell label purity of the IVF assignment: member count,
    distinct-label count, the majority label (ties broken toward the
    smaller label id — deterministic under any partitioning) and
    purity = majority_count / n_members. The standard external
    clustering-quality check when ground-truth labels exist: a
    low-purity cell means the coarse quantizer mixes classes, so
    label-filtered ANN queries over it will scan mostly-foreign
    vectors.

    Scale: the assignment is the shared N x k broadcast-codebook pass;
    purity itself aggregates the |cells x labels| relation (bounded by
    k x |label alphabet|), then reduces to |cells| rows. Empty cells
    surface with zero members and NULL majority.
    """
    # the assignment projection carries the label column straight
    # through (extra=), so no corpus self-join by id is needed (r13)
    cl = (_ivf_assign_cols(emb, centroid_mod,
                           n_centroids, extra=("label",))
          .select("cid", F.col("label").alias("_lab"))
          .groupBy("cid", "_lab").agg(F.count(F.lit(1)).alias("c")))
    per_cell = (cl.groupBy("cid")
                .agg(F.sum("c").alias("n_members"),
                     F.count(F.lit(1)).alias("n_labels"),
                     F.min(F.struct((-F.col("c")).alias("nc"),
                                    F.col("_lab").alias("lab")))
                     .alias("m")))
    cents = (emb.select(F.col("vec_id"))
             .filter(_fixed_sample("vec_id", centroid_mod, n_centroids))
             .select(F.col("vec_id").alias("cid")))
    return (cents.join(per_cell, "cid", "left")
            .select(
                "cid",
                F.coalesce("n_members", F.lit(0)).cast("bigint")
                .alias("n_members"),
                F.coalesce("n_labels", F.lit(0)).cast("bigint")
                .alias("n_labels"),
                F.col("m.lab").cast("int").alias("majority_label"),
                F.when(F.coalesce(F.col("n_members"), F.lit(0)) > 0,
                       (-F.col("m.nc")).cast("double")
                       / F.col("n_members").cast("double"))
                .alias("purity"))
            .orderBy("cid"))


def similarity_cell_purity_query(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return ivf_cell_purity(emb)


def _cell_purity_sql() -> str:
    sq = f"list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i]))"
    dot = (f"list_sum(list_transform(range(1, {DIM + 1}), "
           f"i -> b.qv[i] * c.cv[i]))")
    return f"""
WITH q AS (SELECT vec_id, label, {_QVEC_SQL} AS qv FROM embeddings),
base AS (SELECT vec_id, label, qv, {sq} AS n2 FROM q),
cents AS (
  SELECT vec_id AS cid, qv AS cv, n2 AS cn2 FROM base
  WHERE {_fixed_sample_sql('vec_id', CENTROID_MOD, N_CENTROIDS)}
),
scored AS (
  SELECT b.vec_id, b.label, c.cid,
    ROW_NUMBER() OVER (PARTITION BY b.vec_id
      ORDER BY b.n2 + c.cn2 - 2 * {dot}, c.cid) AS rn
  FROM base b CROSS JOIN cents c
),
cl AS (
  SELECT cid, label AS lab, COUNT(*) AS c
  FROM scored WHERE rn = 1 GROUP BY cid, label
),
per_cell AS (
  SELECT cid, SUM(c) AS n_members, COUNT(*) AS n_labels,
    MIN({{'nc': -c, 'lab': lab}}) AS m
  FROM cl GROUP BY cid
)
SELECT c.cid,
  CAST(coalesce(p.n_members, 0) AS BIGINT) AS n_members,
  CAST(coalesce(p.n_labels, 0) AS BIGINT) AS n_labels,
  CAST((p.m).lab AS INTEGER) AS majority_label,
  CASE WHEN coalesce(p.n_members, 0) > 0
       THEN CAST(-(p.m).nc AS DOUBLE) / CAST(p.n_members AS DOUBLE)
  END AS purity
FROM cents c LEFT JOIN per_cell p USING (cid)
ORDER BY c.cid
"""


register(QuerySpec(
    "similarity_cell_purity", similarity_cell_purity_query,
    _cell_purity_sql(),
    description="IVF cell label purity: majority label + purity per "
                "cell from the bounded (cell, label) histogram — the "
                "external clustering-quality check"))


# --- label-margin embedding eval (same-class vs cross-class separation) ----------

def label_margin_eval(emb: DataFrame,
                      query_mod: int = QUERY_MOD,
                      n_queries: int = N_QUERIES) -> DataFrame:
    """Embedding-quality eval against labels: for each query in the
    fixed deterministic sample, the best same-label cosine and the best
    different-label cosine over the WHOLE corpus (exact — an index
    would bias the eval), their margin, and whether the embedding
    separates the query's class (margin > 0). The aggregate of
    ``separated`` is the 1-NN label accuracy of the embedding; the
    margin distribution is what a retrieval threshold is tuned on.

    Scale: bounded query set broadcast against the corpus — one N x Q
    scan, no corpus shuffle, map-side partial max per query. Queries
    whose class has no other member surface NULL best_same (margin
    NULL), not a silent drop.
    """
    base = (emb.select(F.col("vec_id"), F.col("label").alias("_lab"),
                       quantize(F.col("embedding")).alias("qv"),
                       sq_norm(quantize(F.col("embedding"))).alias("n2"))
            .filter(F.col("n2") > 0))
    queries = (base.filter(_fixed_sample("vec_id", query_mod, n_queries))
               .select(F.col("vec_id").alias("query_id"),
                       F.col("_lab").alias("qlab"),
                       F.col("qv").alias("qq"), F.col("n2").alias("qn2")))
    scored = (base.crossJoin(F.broadcast(queries))
              .filter(F.col("vec_id") != F.col("query_id"))
              .select("query_id", "qlab",
                      (F.col("_lab") == F.col("qlab")).alias("same"),
                      (int_dot(F.col("qq"), F.col("qv")).cast("double")
                       / (F.sqrt(F.col("qn2").cast("double"))
                          * F.sqrt(F.col("n2").cast("double"))))
                      .alias("cosine")))
    agg = (scored.groupBy("query_id", "qlab")
           .agg(F.max(F.when(F.col("same"), F.col("cosine")))
                .alias("best_same"),
                F.max(F.when(~F.col("same"), F.col("cosine")))
                .alias("best_diff")))
    margin = F.col("best_same") - F.col("best_diff")
    return (agg.select(F.col("query_id"),
                       F.col("qlab").cast("int").alias("label"),
                       "best_same", "best_diff",
                       margin.alias("margin"),
                       (margin > 0).alias("separated"))
            .orderBy("query_id"))


def similarity_label_margin_query(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return label_margin_eval(emb)


_LABEL_MARGIN_SQL = f"""
WITH q AS (SELECT vec_id, label, {_QVEC_SQL} AS qv FROM embeddings),
base0 AS (
  SELECT vec_id, label, qv,
    list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i])) AS n2
  FROM q
), base AS (SELECT * FROM base0 WHERE n2 > 0),
queries AS (
  SELECT vec_id AS query_id, label AS qlab, qv AS qq, n2 AS qn2
  FROM base WHERE {_fixed_sample_sql('vec_id', QUERY_MOD, N_QUERIES)}
),
scored AS (
  SELECT qs.query_id, qs.qlab, b.label = qs.qlab AS same,
    CAST(list_sum(list_transform(range(1, {DIM + 1}),
                                 i -> qs.qq[i] * b.qv[i])) AS DOUBLE)
      / (sqrt(CAST(qs.qn2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
      AS cosine
  FROM base b CROSS JOIN queries qs
  WHERE b.vec_id <> qs.query_id
)
SELECT query_id, CAST(qlab AS INTEGER) AS label,
  MAX(CASE WHEN same THEN cosine END) AS best_same,
  MAX(CASE WHEN NOT same THEN cosine END) AS best_diff,
  MAX(CASE WHEN same THEN cosine END)
    - MAX(CASE WHEN NOT same THEN cosine END) AS margin,
  MAX(CASE WHEN same THEN cosine END)
    - MAX(CASE WHEN NOT same THEN cosine END) > 0 AS separated
FROM scored
GROUP BY query_id, qlab
ORDER BY query_id
"""

register(QuerySpec(
    "similarity_label_margin", similarity_label_margin_query,
    _LABEL_MARGIN_SQL,
    description="label-margin embedding eval: exact best same-label vs "
                "cross-label cosine per sampled query (bounded "
                "broadcast, no corpus shuffle) — 1-NN accuracy + "
                "retrieval-margin distribution"))


# --- out-of-distribution vector detection (codebook-distance outliers) ----------

OOD_FACTOR = 4  # flag vectors whose nearest-centroid distance exceeds
                # OOD_FACTOR x the corpus mean — scale-free, so the rule
                # survives re-embedding and corpus growth unchanged


def ood_vectors(emb: DataFrame,
                centroid_mod: int = CENTROID_MOD,
                n_centroids: int = N_CENTROIDS) -> DataFrame:
    """Embedding-hygiene gate: vectors whose nearest-centroid squared
    distance exceeds ``OOD_FACTOR`` x the corpus mean — encoder glitches,
    wrong-modality rows, and truncation artifacts sit far from every
    cell of a codebook fit to the real distribution, and admitting
    them poisons both ANN recall and k-means refinement.

    Determinism: distances are the exact-integer IVF assignment
    distances; the verdict multiplies through the mean's denominator
    (dist * N > OOD_FACTOR * sum_dist) so NOTHING divides — pure BIGINT /
    HUGEINT comparison (sum_dist can exceed int64: N x 4·QCLAMP²
    overflows at ~14 corpus rows, hence DECIMAL(38,0)). The reported
    ratio divides once for the human reading the report.

    Scale: one N x k broadcast assignment, a single-row global sum
    broadcast back, a shuffle-free verdict filter.
    """
    base = emb.select(F.col("vec_id"), quantize(F.col("embedding")).alias("qv"),
                      sq_norm(quantize(F.col("embedding"))).alias("n2"))
    cents = (base.filter(_fixed_sample("vec_id", centroid_mod, n_centroids))
             .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"),
                     F.col("n2").alias("cn2")))
    # tiered argmin keeping the winning distance (r13)
    best = (_argmin_assign(base, cents, "vec_id", n_centroids,
                           dist_out="dist")
            .select(F.col("vec_id"), "cid", "dist"))
    d38 = lambda c: c.cast("decimal(38,0)")
    tot = best.agg(F.sum(d38(F.col("dist"))).alias("sum_dist"),
                   F.count(F.lit(1)).alias("n"))
    return (best.crossJoin(F.broadcast(tot))
            .filter(d38(F.col("dist")) * F.col("n")
                    > F.lit(OOD_FACTOR) * F.col("sum_dist"))
            .select(F.col("vec_id"), "cid",
                    F.col("dist").cast("bigint").alias("dist"),
                    (F.col("dist").cast("double") * F.col("n").cast("double")
                     / F.col("sum_dist").cast("double"))
                    .alias("mean_ratio")))
    # no trailing orderBy: the OOD set is corpus-proportional in the
    # worst case — sorting it globally is a full-range-shuffle tax


def similarity_ood_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return ood_vectors(emb)


def _ood_sql() -> str:
    sq = f"list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i]))"
    dot = (f"list_sum(list_transform(range(1, {DIM + 1}), "
           f"i -> b.qv[i] * c.cv[i]))")
    return f"""
WITH q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings),
base AS (SELECT vec_id, qv, {sq} AS n2 FROM q),
cents AS (
  SELECT vec_id AS cid, qv AS cv, n2 AS cn2 FROM base
  WHERE {_fixed_sample_sql('vec_id', CENTROID_MOD, N_CENTROIDS)}
),
scored AS (
  SELECT b.vec_id, c.cid, b.n2 + c.cn2 - 2 * {dot} AS dist,
    ROW_NUMBER() OVER (PARTITION BY b.vec_id
      ORDER BY b.n2 + c.cn2 - 2 * {dot}, c.cid) AS rn
  FROM base b CROSS JOIN cents c
),
best AS (SELECT vec_id, cid, dist FROM scored WHERE rn = 1),
tot AS (
  SELECT SUM(CAST(dist AS HUGEINT)) AS sum_dist, COUNT(*) AS n FROM best
)
SELECT b.vec_id, b.cid, CAST(b.dist AS BIGINT) AS dist,
  CAST(b.dist AS DOUBLE) * CAST(t.n AS DOUBLE)
    / CAST(t.sum_dist AS DOUBLE) AS mean_ratio
FROM best b CROSS JOIN tot t
WHERE CAST(b.dist AS HUGEINT) * t.n > {OOD_FACTOR} * t.sum_dist
ORDER BY b.vec_id
"""


register(QuerySpec(
    "similarity_ood_vectors", similarity_ood_query, _ood_sql(),
    description="OOD embedding gate: nearest-centroid distance > "
                "factor x corpus mean, verdict as pure integer "
                "comparison (nothing divides), one broadcast "
                "assignment pass"))


# --- Matryoshka prefix-dimension recall (truncated-embedding eval) ---------------

MRL_PREFIXES = (8, 16, 32)


def prefix_dim_recall(emb: DataFrame,
                      prefixes: tuple = MRL_PREFIXES) -> DataFrame:
    """Recall@k of EXACT search over truncated (prefix) dimensions vs
    the full-dimension exact truth — the evaluation behind
    Matryoshka-style embeddings (Kusupati et al. 2022): if recall at
    16 of 64 dims is high, the index can store 4x fewer bytes and
    rerank the shortlist at full width. Same measure-don't-guess shape
    as ann_recall, with the approximation being dimension truncation
    instead of an index.

    Per (prefix_dim, query) row: truth size, hits, recall — exact
    integer counts, one ratio. Each prefix search is the same N x Q
    broadcast scan as the exact baseline, just over narrower vectors.
    """
    truth = (cosine_topk_quantized(emb)
             .select("query_id", "match_id").localCheckpoint())
    out = None
    for p in prefixes:
        sliced = emb.select(
            F.col("vec_id"),
            F.slice(F.col("embedding"), 1, p).alias("_pv"))
        approx = (cosine_topk_quantized(sliced, "_pv")
                  .select("query_id", "match_id")
                  .withColumn("hit", F.lit(1)))
        scored = (truth.join(F.broadcast(approx),
                             ["query_id", "match_id"], "left")
                  .groupBy("query_id")
                  .agg(F.count(F.lit(1)).alias("n_truth"),
                       F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"))
                  .select(F.lit(p).cast("int").alias("prefix_dim"),
                          "query_id",
                          F.col("n_truth").cast("bigint").alias("n_truth"),
                          F.col("n_hit").cast("bigint").alias("n_hit"),
                          (F.col("n_hit").cast("double")
                           / F.col("n_truth").cast("double"))
                          .alias("recall")))
        out = scored if out is None else out.unionByName(scored)
    return out.orderBy("prefix_dim", "query_id")


def similarity_prefix_recall_query(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return prefix_dim_recall(emb)


def _prefix_recall_sql() -> str:
    def qvec(dim: int) -> str:
        return (f"list_transform(embedding[1:{dim}], x -> CAST(least("
                f"greatest(round(CAST(x AS DOUBLE) * {QUANT}), "
                f"{-QCLAMP}.0), {QCLAMP}.0) AS BIGINT))")

    def topk(dim: int, name: str) -> str:
        sq = (f"list_sum(list_transform(range(1, {dim + 1}), "
              f"i -> qv[i] * qv[i]))")
        return f"""{name}_q AS (
  SELECT vec_id, {qvec(dim)} AS qv FROM embeddings
), {name}_b0 AS (
  SELECT vec_id, qv, CAST({sq} AS DOUBLE) AS n2 FROM {name}_q
), {name}_b AS (SELECT * FROM {name}_b0 WHERE n2 > 0), {name}_s AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS match_id,
    CAST(list_sum(list_transform(range(1, {dim + 1}),
                                 i -> qs.qv[i] * c.qv[i])) AS DOUBLE)
      / (sqrt(qs.n2) * sqrt(c.n2)) AS cosine
  FROM {name}_b qs JOIN {name}_b c ON c.vec_id <> qs.vec_id
  WHERE {_fixed_sample_sql('qs.vec_id', QUERY_MOD, N_QUERIES)}
), {name} AS (
  SELECT query_id, match_id FROM (
    SELECT query_id, match_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cosine DESC, match_id) AS rnk
    FROM {name}_s) WHERE rnk <= {TOP_K}
)"""

    parts = [topk(DIM, "truth")]
    selects = []
    for p in MRL_PREFIXES:
        parts.append(topk(p, f"pfx{p}"))
        selects.append(f"""
SELECT CAST({p} AS INTEGER) AS prefix_dim, t.query_id,
  CAST(COUNT(*) AS BIGINT) AS n_truth,
  CAST(SUM(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0 END)
       AS BIGINT) AS n_hit,
  CAST(SUM(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0 END)
       AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
FROM truth t LEFT JOIN pfx{p} a
  ON a.query_id = t.query_id AND a.match_id = t.match_id
GROUP BY t.query_id""")
    u = " UNION ALL ".join(f"({s})" for s in selects)
    return ("WITH " + ",\n".join(parts) + "\n" + u
            + "\nORDER BY prefix_dim, query_id")


register(QuerySpec(
    "similarity_prefix_recall", similarity_prefix_recall_query,
    _prefix_recall_sql(),
    description="Matryoshka prefix-dimension recall@k vs full-width "
                "exact truth (8/16/32 of 64 dims) — the truncated-"
                "embedding storage/recall tuning curve, exact-integer "
                "counts"))


# --- kNN-graph hubness diagnostic ------------------------------------------------

def knn_hubness(emb: DataFrame, **graph_kwargs) -> DataFrame:
    """k-occurrence distribution of the kNN graph — the hubness
    diagnostic (Radovanović et al. 2010): in high dimensions a few
    "hub" vectors appear in a disproportionate share of neighbor
    lists while many vectors appear in NONE, and both tails degrade
    ANN recall and kNN classification. Output: one row per
    k-occurrence count c with the number (and share) of eligible
    vectors appearing in exactly c neighbor lists — INCLUDING the
    c = 0 anti-hub row, which a naive groupBy silently drops and
    which is precisely the tail an index operator worries about.

    Scale: rides the registered kNN graph (cell-restricted self-join);
    hubness itself is one neighbor-keyed count and a bounded histogram
    roll-up; the eligible-population row is a single-row aggregate
    broadcast.
    """
    g = knn_graph(emb, **graph_kwargs)
    occ = (g.groupBy(F.col("neighbor_id"))
           .agg(F.count(F.lit(1)).alias("c")))
    hist = occ.groupBy("c").agg(F.count(F.lit(1)).alias("n_vectors"))
    base = emb.select(quantize(F.col("embedding")).alias("qv"))
    eligible = base.filter(sq_norm(F.col("qv")) > 0) \
        .agg(F.count(F.lit(1)).alias("n_eligible"))
    n_hubs = occ.agg(F.count(F.lit(1)).alias("n_with_occ"))
    zero = (eligible.crossJoin(F.broadcast(n_hubs))
            .select(F.lit(0).cast("bigint").alias("c"),
                    (F.col("n_eligible") - F.col("n_with_occ"))
                    .alias("n_vectors"))
            .filter(F.col("n_vectors") > 0))
    out = hist.select(F.col("c").cast("bigint").alias("c"),
                      F.col("n_vectors").cast("bigint")
                      .alias("n_vectors")).unionByName(zero)
    return (out.crossJoin(F.broadcast(eligible))
            .select(F.col("c").alias("k_occurrence"),
                    "n_vectors",
                    (F.col("n_vectors").cast("double")
                     / F.col("n_eligible").cast("double")).alias("share"))
            .orderBy("k_occurrence"))


def similarity_hubness_query(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    # size the codebook exactly like the registered graph query — the
    # FIXED default codebook is the quadratic cell-self-join trap the
    # sf1 ladder catches (21.6x measured before this sizing was added)
    mod, k, s1, s2, ev = scaled_codebook_three_level(emb.count())
    return knn_hubness(emb, centroid_mod=mod, n_centroids=k, n_super=s1,
                       n_super2=s2, spread_every=ev)


def _hubness_sql() -> str:
    from downscaledclimatedata_spark.plans import REGISTRY
    graph_sql = REGISTRY["similarity_knn_graph"].oracle
    sq = (f"list_sum(list_transform(range(1, {DIM + 1}), "
          f"i -> qv[i] * qv[i]))")
    return f"""
WITH g AS (
  FROM ({graph_sql})
), occ AS (
  SELECT neighbor_id, COUNT(*) AS c FROM g GROUP BY neighbor_id
), hist AS (
  SELECT c, COUNT(*) AS n_vectors FROM occ GROUP BY c
), elig AS (
  SELECT COUNT(*) AS n_eligible FROM (
    SELECT {_QVEC_SQL} AS qv FROM embeddings) q
  WHERE {sq} > 0
), zero AS (
  SELECT CAST(0 AS BIGINT) AS c,
    e.n_eligible - (SELECT COUNT(*) FROM occ) AS n_vectors
  FROM elig e
), uni AS (
  SELECT CAST(c AS BIGINT) AS c, CAST(n_vectors AS BIGINT) AS n_vectors
  FROM hist
  UNION ALL
  SELECT c, CAST(n_vectors AS BIGINT) FROM zero WHERE n_vectors > 0
)
SELECT u.c AS k_occurrence, u.n_vectors,
  CAST(u.n_vectors AS DOUBLE) / CAST(e.n_eligible AS DOUBLE) AS share
FROM uni u CROSS JOIN elig e
ORDER BY k_occurrence
"""


register(QuerySpec(
    "similarity_knn_hubness", similarity_hubness_query, _hubness_sql(),
    description="kNN-graph hubness: k-occurrence distribution incl. "
                "the c=0 anti-hub row a naive groupBy drops — the "
                "high-dimensional pathology diagnostic for ANN "
                "recall"))


# --- kNN-graph triangle count / clustering coefficient ----------------------------

# Triangle-join tier (r14): at or under this many distinct undirected
# edges (2 longs/row → ≤ ~32 MB payload) the closing self-joins
# broadcast the checkpointed edge relation (built once, reused by both
# joins) instead of four sort-merge exchanges. Above it — a corpus-scale
# n·k graph — the SMJ form runs unchanged. The count rides the edge
# checkpoint as an Observation, so the tier probe costs no extra job.
TRI_BROADCAST_MAX_EDGES = 2_000_000


def knn_triangles(emb: DataFrame, **graph_kwargs) -> DataFrame:
    """Exact triangle count and global clustering coefficient of the
    UNDIRECTED kNN graph — the cohesion diagnostic that separates a
    corpus whose neighborhoods are mutually consistent (high
    clustering: duplicates, tight topic clusters) from one whose
    neighbor lists are hub noise (low clustering, cf. knn_hubness).

    Forward-edge algorithm: orient every undirected edge low-id ->
    high-id, then one join chains u<v<w wedges and a second confirms
    the closing (u, w) edge — each triangle counted EXACTLY once, no
    directionality double-count. Wedges come from the degree relation
    (sum of d*(d-1)/2, exact integers); clustering = 3*triangles /
    wedges is the single division.

    Scale: the edge relation is n*k rows (k-bounded by construction),
    both joins are vertex-keyed shuffles of that bounded relation, and
    degree skew is bounded by the hubness distribution the companion
    diagnostic measures. Nothing touches raw vectors after the graph.

    r14: (a) the edge count folds into the degree aggregate —
    ``n_edges = Σd div 2`` exactly (every distinct a<b edge contributes
    two degree entries), so the third scan-and-aggregate branch and its
    crossJoin wave are gone; (b) the triangle self-joins tier on the
    edge count the checkpoint already observes: at or under
    :data:`TRI_BROADCAST_MAX_EDGES` the closing joins broadcast the
    (checkpointed, reused) edge relation instead of paying four
    sort-merge exchanges — results identical, SMJ stays the default
    above the cap where n·k edges no longer fit an executor.
    """
    from pyspark.sql import Observation

    g = knn_graph(emb, **graph_kwargs)
    obs_e = Observation()
    e = (g.filter(F.col("vec_id") != F.col("neighbor_id"))
         .select(F.least(F.col("vec_id"), F.col("neighbor_id")).alias("a"),
                 F.greatest(F.col("vec_id"), F.col("neighbor_id"))
                 .alias("b"))
         .distinct()
         .observe(obs_e, F.count(F.lit(1)).alias("n"))
         .localCheckpoint())
    small = int(obs_e.get["n"] or 0) <= TRI_BROADCAST_MAX_EDGES
    deg = (e.select(F.col("a").alias("v"))
           .unionAll(e.select(F.col("b").alias("v")))
           .groupBy("v").agg(F.count(F.lit(1)).alias("d")))
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2"))
        .alias("n_wedges"),
        F.count(F.lit(1)).alias("n_vertices"),
        # exact integer div; coalesce 0 = the COUNT(*) an empty edge
        # relation used to report (SUM over zero rows is NULL)
        F.coalesce(F.expr("sum(d) div 2"), F.lit(0))
        .cast("bigint").alias("n_edges"))
    e1 = e.alias("e1")
    e2 = (F.broadcast(e) if small else e.hint("merge")).alias("e2")
    e3 = (F.broadcast(e) if small else e.hint("merge")).alias("e3")
    tri = (e1.join(e2, F.col("e1.b") == F.col("e2.a"))
           .join(e3,
                 (F.col("e3.a") == F.col("e1.a"))
                 & (F.col("e3.b") == F.col("e2.b")))
           .agg(F.count(F.lit(1)).alias("n_triangles")))
    return (wedges.crossJoin(F.broadcast(tri))
            .select(
                F.col("n_vertices").cast("bigint").alias("n_vertices"),
                F.col("n_edges").cast("bigint").alias("n_edges"),
                F.col("n_triangles").cast("bigint").alias("n_triangles"),
                F.col("n_wedges").cast("bigint").alias("n_wedges"),
                F.when(F.col("n_wedges") > 0,
                       F.lit(3.0) * F.col("n_triangles").cast("double")
                       / F.col("n_wedges").cast("double"))
                .otherwise(F.lit(0.0)).alias("clustering_coeff")))


def similarity_triangles_query(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    mod, k, s1, s2, ev = scaled_codebook_three_level(emb.count())
    return knn_triangles(emb, centroid_mod=mod, n_centroids=k,
                         n_super=s1, n_super2=s2, spread_every=ev)


def _triangles_sql() -> str:
    from downscaledclimatedata_spark.plans import REGISTRY
    graph_sql = REGISTRY["similarity_knn_graph"].oracle
    return f"""
WITH g AS (
  FROM ({graph_sql})
), e AS (
  SELECT DISTINCT LEAST(vec_id, neighbor_id) AS a,
    GREATEST(vec_id, neighbor_id) AS b
  FROM g WHERE vec_id <> neighbor_id
), deg AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
  GROUP BY v
), w AS (
  SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges,
    COUNT(*) AS n_vertices
  FROM deg
), tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT CAST(w.n_vertices AS BIGINT) AS n_vertices,
  CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
  CAST(tri.n_triangles AS BIGINT) AS n_triangles,
  w.n_wedges,
  CASE WHEN w.n_wedges > 0
       THEN 3.0 * CAST(tri.n_triangles AS DOUBLE)
            / CAST(w.n_wedges AS DOUBLE)
       ELSE 0.0 END AS clustering_coeff
FROM w CROSS JOIN tri
"""


register(QuerySpec(
    "similarity_knn_triangles", similarity_triangles_query,
    _triangles_sql(), headline=True,
    description="exact triangle count + global clustering coefficient "
                "of the undirected kNN graph via low-id forward-edge "
                "orientation — each triangle counted once, wedges from "
                "the degree relation"))


# --- ANN mean reciprocal rank (integer-exact) --------------------------------------

MRR_LCM = 60  # lcm(1..TOP_K=5): 1/rnk as exact integer units


def ann_mrr(emb: DataFrame) -> DataFrame:
    """Mean reciprocal rank of the IVF searchers: at what position does
    each searcher place the TRUE nearest neighbor? Complements
    recall@k (ann_recall): recall says whether truth appears anywhere
    in the list; MRR says how high — the metric that moves when an
    index returns the right answers in the wrong order.

    Exactness: 1/rank sums are order-dependent in floating point, so
    the reciprocal is accumulated as INTEGER units of lcm(1..k) = 60
    (60/1, 60/2, ... 60/5 are all exact integers) and divided once at
    the end — bit-identical cross-engine, same discipline as the cents
    sums. Per method: one row with n_queries, n_found, exact unit sum,
    and mrr = units / (60 * n_queries).

    Scale: rides the registered searchers; the alignment joins two
    (n_queries x k)-row broadcast relations.
    """
    truth1 = (cosine_topk_quantized(emb)
              .filter(F.col("rnk") == 1)
              .select("query_id", "match_id").localCheckpoint())
    methods = (
        ("ivf_nprobe1", ivf_topk(emb)),
        (f"ivf_nprobe{NPROBE}",
         ivf_topk_multiprobe(emb)),
    )
    out = None
    for name, approx in methods:
        got = approx.select("query_id", "match_id",
                            F.col("rnk").alias("found_rnk"))
        scored = (truth1.join(F.broadcast(got),
                              ["query_id", "match_id"], "left")
                  .agg(F.count(F.lit(1)).alias("n_queries"),
                       F.sum(F.when(F.col("found_rnk").isNotNull(), 1)
                             .otherwise(0)).alias("n_found"),
                       F.sum(F.when(
                           F.col("found_rnk").isNotNull(),
                           F.expr(f"{MRR_LCM} div found_rnk"))
                           .otherwise(0)).alias("mrr_units"))
                  .select(F.lit(name).alias("method"),
                          F.col("n_queries").cast("bigint")
                          .alias("n_queries"),
                          F.col("n_found").cast("bigint").alias("n_found"),
                          F.col("mrr_units").cast("bigint")
                          .alias("mrr_units"),
                          F.when(F.col("n_queries") > 0,
                                 F.col("mrr_units").cast("double")
                                 / (F.lit(float(MRR_LCM))
                                    * F.col("n_queries").cast("double")))
                          .otherwise(F.lit(0.0)).alias("mrr")))
        out = scored if out is None else out.unionByName(scored)
    return out


def similarity_mrr_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return ann_mrr(emb)


def _ann_mrr_sql() -> str:
    evals = []
    for name, sql in (("ivf_nprobe1", _IVF_SQL),
                      (f"ivf_nprobe{NPROBE}", _IVF_MULTIPROBE_SQL)):
        evals.append(f"""
SELECT '{name}' AS method,
  CAST(COUNT(*) AS BIGINT) AS n_queries,
  CAST(SUM(CASE WHEN a.rnk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_found,
  CAST(SUM(CASE WHEN a.rnk IS NOT NULL THEN {MRR_LCM} // a.rnk
           ELSE 0 END) AS BIGINT) AS mrr_units
FROM truth1 t LEFT JOIN (
  SELECT query_id, match_id, rnk FROM ({sql})
) a ON a.query_id = t.query_id AND a.match_id = t.match_id""")
    body = "\nUNION ALL\n".join(evals)
    return f"""
WITH truth1 AS MATERIALIZED (
  SELECT query_id, match_id FROM ({_SIM_TOPK_SQL}) WHERE rnk = 1
)
SELECT method, n_queries, n_found, mrr_units,
  CASE WHEN n_queries > 0
       THEN CAST(mrr_units AS DOUBLE) / ({MRR_LCM}.0 * n_queries)
       ELSE 0.0 END AS mrr
FROM ({body})
"""


register(QuerySpec(
    "similarity_ann_mrr", similarity_mrr_query, _ann_mrr_sql(),
    description="mean reciprocal rank of the IVF searchers vs the "
                "exact top-1 truth — reciprocals summed as exact "
                "integer lcm units, one final division"))


# --- embedding norm histogram ---------------------------------------------------------

NORM_HIST_BINS = 32


def norm_histogram(emb: DataFrame) -> DataFrame:
    """Per-label distribution of embedding norms — the first diagnostic
    when cosine and dot-product retrieval disagree (norm stratification
    by label means dot-product search encodes label priors; a spike at
    zero means dead vectors). Buckets are equal-width over the EXACT
    integer squared norm (sqrt would be irrational — the squared
    domain gives both engines identical integers), sized by one
    min/max driver scalar pair.

    One projection + one (label, bucket) aggregate with map-side
    partials; output <= |labels| x bins rows.
    """
    base = emb.select(F.col("label"),
                      sq_norm(quantize(F.col("embedding"))).alias("sq"))
    st = base.agg(F.min("sq"), F.max("sq")).first()
    lo, hi = int(st[0] or 0), int(st[1] or 0)
    span = hi - lo
    if span <= 0:
        bucket = F.lit(0).cast("bigint")
    else:
        # integer bucketing: (sq - lo) * n_bins / span, clamped — all
        # int64-safe because sq <= 64 * QCLAMP^2 fits decimal(38,0)
        d = lambda c: c.cast("decimal(38,0)")
        bucket = F.least(
            F.floor(d(F.col("sq") - F.lit(lo)) * F.lit(int(NORM_HIST_BINS))
                    / d(F.lit(span))),
            F.lit(int(NORM_HIST_BINS) - 1)).cast("bigint")
    return (base.groupBy("label", bucket.alias("norm_bucket"))
            .agg(F.count(F.lit(1)).alias("n_vectors"))
            .select(F.col("label").cast("int").alias("label"),
                    "norm_bucket",
                    F.col("n_vectors").cast("bigint").alias("n_vectors"))
            .orderBy("label", "norm_bucket"))


def similarity_norm_histogram_query(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return norm_histogram(emb)


def _norm_hist_sql() -> str:
    sq = (f"list_sum(list_transform(range(1, {DIM + 1}), "
          f"i -> qv[i] * qv[i]))")
    return f"""
WITH base AS (
  SELECT CAST(label AS INTEGER) AS label, {sq} AS sq
  FROM (SELECT label, {_QVEC_SQL} AS qv FROM embeddings)
), bounds AS (
  SELECT MIN(sq) AS lo, MAX(sq) AS hi FROM base
)
SELECT b.label,
  CAST(CASE WHEN t.hi > t.lo
       THEN LEAST(CAST(CAST(b.sq - t.lo AS HUGEINT)
                       * {NORM_HIST_BINS}
                       // CAST(t.hi - t.lo AS HUGEINT) AS BIGINT),
                  {NORM_HIST_BINS - 1})
       ELSE 0 END AS BIGINT) AS norm_bucket,
  CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM base b, bounds t
GROUP BY 1, 2 ORDER BY 1, 2
"""


register(QuerySpec(
    "similarity_norm_histogram", similarity_norm_histogram_query,
    _norm_hist_sql(),
    description="per-label embedding-norm histogram over the exact "
                "integer squared-norm domain — the dot-vs-cosine "
                "retrieval diagnostic"))


# --- recall-vs-nprobe tuning curve (ANN operability) -----------------------------

NPROBE_CURVE = (1, 2, 4, 8)


def nprobe_recall_curve(emb: DataFrame) -> DataFrame:
    """The recall-vs-nprobe TUNING CURVE: aggregate recall@k of the
    IVF searcher at each probe depth against ONE exact truth — the
    table an ANN deployment actually reads when picking nprobe (the
    per-query recall spec ``similarity_ann_recall`` shows spread; this
    shows the knob's curve). Candidate sets grow monotonically with
    nprobe, so recall is non-decreasing along the output (pinned by
    unit test).

    One bounded row per probe depth: (nprobe, n_queries, sum_truth,
    sum_hits, recall) — exact integer totals, recall one final
    division, bit-identical cross-engine.

    Scale: the exact truth is computed ONCE (the brute-force headline's
    linear scan); each curve point probes inverted lists only, and the
    alignments join (n_queries x k)-row broadcastable relations.
    """
    truth = (cosine_topk_quantized(emb)
             .select("query_id", "match_id").localCheckpoint())
    out = None
    for np_ in NPROBE_CURVE:
        got = (ivf_topk_multiprobe(emb, nprobe=np_)
               .select("query_id", "match_id")
               .withColumn("hit", F.lit(1)))
        scored = (truth.join(F.broadcast(got), ["query_id", "match_id"],
                             "left")
                  .agg(F.count(F.lit(1)).alias("sum_truth"),
                       F.sum(F.coalesce("hit", F.lit(0)))
                       .cast("bigint").alias("sum_hits"),
                       F.countDistinct("query_id").alias("n_queries"))
                  .select(F.lit(np_).cast("int").alias("nprobe"),
                          F.col("n_queries").cast("bigint")
                          .alias("n_queries"),
                          F.col("sum_truth").cast("bigint")
                          .alias("sum_truth"),
                          "sum_hits",
                          (F.col("sum_hits").cast("double")
                           / F.col("sum_truth").cast("double"))
                          .alias("recall")))
        out = scored if out is None else out.unionByName(scored)
    return out


def similarity_nprobe_curve_query(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return nprobe_recall_curve(emb)


def _ivf_multiprobe_sql_n(nprobe: int) -> str:
    """The multiprobe searcher oracle at an arbitrary probe depth —
    the registered ``_IVF_MULTIPROBE_SQL`` with nprobe as a knob."""
    return _coarse_sql_prefix(carry_n2=True, assigned="search") + f""", probes AS (
  SELECT vec_id AS query_id, cid FROM assign_scored
  WHERE {_fixed_sample_sql('vec_id', QUERY_MOD, N_QUERIES)} AND rn <= {nprobe}
), scored AS (
  SELECT p.query_id, c.vec_id AS match_id,
    CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> qs.qv[i] * c.qv[i])) AS DOUBLE)
      / (sqrt(qs.n2) * sqrt(c.n2)) AS cosine
  FROM probes p
  JOIN base qs ON qs.vec_id = p.query_id AND qs.in2 > 0
  JOIN assigned c ON c.cid = p.cid AND c.vec_id <> p.query_id
)""" + _RANKED_TOPK_TAIL


def _nprobe_curve_sql() -> str:
    points = []
    for np_ in NPROBE_CURVE:
        points.append(f"""
SELECT CAST({np_} AS INT) AS nprobe,
  CAST(COUNT(DISTINCT t.query_id) AS BIGINT) AS n_queries,
  CAST(COUNT(*) AS BIGINT) AS sum_truth,
  CAST(SUM(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS sum_hits
FROM truth t LEFT JOIN (
  SELECT query_id, match_id FROM ({_ivf_multiprobe_sql_n(np_)})
) a ON a.query_id = t.query_id AND a.match_id = t.match_id""")
    body = "\nUNION ALL\n".join(points)
    return f"""
WITH truth AS MATERIALIZED (
  SELECT query_id, match_id FROM ({_SIM_TOPK_SQL})
)
SELECT nprobe, n_queries, sum_truth, sum_hits,
  CAST(sum_hits AS DOUBLE) / CAST(sum_truth AS DOUBLE) AS recall
FROM ({body})
"""


register(QuerySpec(
    "similarity_nprobe_curve", similarity_nprobe_curve_query,
    _nprobe_curve_sql(),
    description="recall@k vs nprobe tuning curve: one exact truth, "
                "four probe depths, exact integer totals — the table "
                "an ANN deployment tunes its recall knob against"))


# --- MIPS: max-inner-product top-k with a Cauchy-Schwarz norm prune ---------------

MIPS_SEED = 32  # seed-pass size: top-MIPS_SEED corpus vectors by norm


def mips_topk_pruned(emb: DataFrame) -> DataFrame:
    """Exact max-INNER-PRODUCT top-k per query — the recommendation /
    reward-model retrieval objective, where norm matters and cosine's
    normalization is wrong — with a two-pass NORM-BOUND PRUNE instead
    of cosine's brute force:

    1. seed pass: the ``MIPS_SEED`` highest-norm corpus vectors (a
       TakeOrdered relation, broadcast) are scored exactly against
       every query; the per-query k-th seed score is a LOWER bound on
       the true k-th inner product.
    2. pruned pass: a corpus row can only enter the top-k if its
       Cauchy-Schwarz ceiling reaches that bound —
       ``dot(q,c)² ≤ ‖q‖²·‖c‖²``, so when ``kth > 0`` and
       ``qn2·cn2 < kth²`` (exact DECIMAL(38,0) products: the squares
       reach ~4e35, past int64) the row is dropped BEFORE the
       64-element dot fold, which is the dominant per-row cost. The
       prune is a PROOF, not a heuristic — at least k seed candidates
       already score ≥ kth, and strict < means the dropped row can
       never displace them — so the oracle is the plain brute force.
       A negative or missing bound (all-negative dots; corpus smaller
       than the seed) disables pruning and degrades to brute force.

    Inner products, norms, and the bound are exact int64/decimal on
    quantized components (QCLAMP contract above). Zero-norm vectors
    KEEP their defined dot of 0 — only cosine has to exclude them.
    """
    from pyspark.sql import Window

    base = emb.select(F.col("vec_id"),
                      quantize(F.col("embedding")).alias("q"))
    base = base.withColumn("n2", sq_norm(F.col("q")))
    queries = (base.filter(_fixed_sample("vec_id", QUERY_MOD, N_QUERIES))
               .select(F.col("vec_id").alias("query_id"),
                       F.col("q").alias("qq"), F.col("n2").alias("qn2")))
    corpus = base.select(F.col("vec_id").alias("match_id"),
                         F.col("q").alias("cq"), F.col("n2").alias("cn2"))
    # 1. seed: bounded TakeOrdered relation, exact per-query kth score
    seed = (corpus.orderBy(F.col("cn2").desc(), "match_id")
            .limit(MIPS_SEED))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("ip").desc(), "match_id")
    kth = (F.broadcast(seed).crossJoin(F.broadcast(queries))
           .filter(F.col("match_id") != F.col("query_id"))
           .select("query_id", "match_id",
                   int_dot(F.col("qq"), F.col("cq")).alias("ip"))
           .withColumn("_r", F.row_number().over(wq))
           .filter(F.col("_r") == TOP_K)
           .select("query_id", F.col("ip").alias("kth")))
    qb = queries.join(kth, "query_id", "left")
    # 2. pruned scan: the bound test (two multiplies) runs before the
    # 64-element fold; survivors get the exact dot
    d38 = "decimal(38,0)"
    cannot_win = (F.col("kth").isNotNull() & (F.col("kth") > 0)
                  & (F.col("qn2").cast(d38) * F.col("cn2").cast(d38)
                     < F.col("kth").cast(d38) * F.col("kth").cast(d38)))
    scored = (corpus.crossJoin(F.broadcast(qb))
              .filter(F.col("match_id") != F.col("query_id"))
              .filter(~cannot_win)
              .select("query_id", "match_id",
                      int_dot(F.col("qq"), F.col("cq")).alias("ip")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("ip").desc(), "match_id")
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "match_id",
                    F.col("ip").cast("bigint").alias("ip"),
                    F.col("rnk").cast("int").alias("rnk")))


def similarity_mips_topk_query(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return mips_topk_pruned(emb)


_MIPS_SQL = f"""
WITH q AS (
  SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings
), scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS match_id,
    CAST(list_sum(list_transform(range(1, {DIM + 1}),
                                 i -> qs.qv[i] * c.qv[i])) AS BIGINT) AS ip
  FROM q qs JOIN q c ON c.vec_id <> qs.vec_id
  WHERE {_fixed_sample_sql('qs.vec_id', QUERY_MOD, N_QUERIES)}
), ranked AS (
  SELECT query_id, match_id, ip,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY ip DESC, match_id) AS rnk
  FROM scored
)
SELECT query_id, match_id, ip, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {TOP_K}
"""

register(QuerySpec(
    "similarity_mips_topk", similarity_mips_topk_query, _MIPS_SQL,
    headline=True,
    description="exact max-inner-product top-k with a Cauchy-Schwarz "
                "norm-bound prune: seed pass on the highest-norm "
                "vectors, bound test before the dot fold — the prune "
                "is a proof, so the oracle is plain brute force"))


# --- hybrid retrieval: reciprocal-rank fusion of dense + lexical top-k -----------
#
# The retrieval shape real RAG/data pipelines run: a dense (embedding
# cosine) shortlist and a lexical (term-frequency) shortlist, fused with
# reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR'09):
# score(d) = Σ_lists 1/(K + rank_list(d)), K = 60. RRF is the standard
# zero-tuning fusion because it only consumes RANKS — the two scorers'
# incomparable scales never meet. The engine's twist for oracle
# exactness: reciprocals are scaled-integer (RRF_SCALE // (K + r), the
# lcm-unit trick similarity_ann_mrr introduced), so fusion is exact
# integer arithmetic on both engines — float 1/x sums would be
# summation-order-sensitive.
#
# Scale shape: each shortlist is orderBy().limit() — Catalyst compiles
# TakeOrderedAndProject (per-partition heap + driver merge of
# RRF_SHORTLIST rows, never a global sort); the rank windows and the
# full-outer fusion run on the two ≤RRF_SHORTLIST-row relations. The
# dense side broadcasts ONE query vector; the lexical side is a
# projection + filter. Nothing corpus-scale shuffles.

RRF_K = 60
RRF_SCALE = 10 ** 12
RRF_TERM = "data"       # fixture-vocab lexical query
RRF_QUERY_ID = 0        # dense query = this row's embedding
RRF_SHORTLIST = 50
RRF_OUT = 20


def hybrid_rrf(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """(id, rank_dense, rank_lex, rrf_score) — top ``RRF_OUT`` fused.

    Missing-from-one-list ids contribute only the other list's term
    (the standard RRF convention); ranks surface as -1 sentinels so the
    nullable-int column stays int64 through pandas on both engines."""
    from pyspark.sql import Window

    from downscaledclimatedata_spark.operators.dedup import tokens

    base = (emb.select(F.col("vec_id"),
                       quantize(F.col("embedding")).alias("qv"),
                       sq_norm(quantize(F.col("embedding"))).alias("n2"))
            .filter(F.col("n2") > 0))
    qvec = (base.filter(F.col("vec_id") == RRF_QUERY_ID)
            .select(F.col("qv").alias("qq"), F.col("n2").alias("qn2")))
    dense_scored = (base.crossJoin(F.broadcast(qvec))
                    .filter(F.col("vec_id") != RRF_QUERY_ID)
                    .select(F.col("vec_id").alias("id"),
                            (int_dot(F.col("qv"), F.col("qq"))
                             .cast("double")
                             / (F.sqrt(F.col("n2").cast("double"))
                                * F.sqrt(F.col("qn2").cast("double"))))
                            .alias("cosine")))
    dense_top = dense_scored.orderBy(F.col("cosine").desc(),
                                     F.col("id")).limit(RRF_SHORTLIST)
    w_d = Window.orderBy(F.col("cosine").desc(), F.col("id"))
    dense = dense_top.select("id", F.row_number().over(w_d)
                             .alias("rank_dense"))
    tf = (docs.select(F.col("doc_id").alias("id"),
                      F.size(F.filter(tokens(F.col("text")),
                                      lambda t: t == F.lit(RRF_TERM)))
                      .alias("tf"))
          .filter((F.col("tf") > 0) & (F.col("id") != RRF_QUERY_ID)))
    lex_top = tf.orderBy(F.col("tf").desc(), F.col("id")).limit(RRF_SHORTLIST)
    w_l = Window.orderBy(F.col("tf").desc(), F.col("id"))
    lex = lex_top.select("id", F.row_number().over(w_l).alias("rank_lex"))
    rd = (F.when(F.col("rank_dense").isNotNull(),
                 F.expr(f"{RRF_SCALE} div ({RRF_K} + rank_dense)"))
          .otherwise(F.lit(0)).cast("long"))
    rl = (F.when(F.col("rank_lex").isNotNull(),
                 F.expr(f"{RRF_SCALE} div ({RRF_K} + rank_lex)"))
          .otherwise(F.lit(0)).cast("long"))
    fused = (dense.join(lex, "id", "full_outer")
             .select("id",
                     F.coalesce("rank_dense", F.lit(-1)).alias("rank_dense"),
                     F.coalesce("rank_lex", F.lit(-1)).alias("rank_lex"),
                     (rd + rl).alias("rrf_score")))
    return (fused.orderBy(F.col("rrf_score").desc(), F.col("id"))
            .limit(RRF_OUT))


def similarity_hybrid_rrf_query(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return hybrid_rrf(docs, emb)


_HYBRID_RRF_SQL = rf"""
WITH q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings),
base0 AS (
  SELECT vec_id, qv,
    CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i])) AS DOUBLE) AS n2
  FROM q
), base AS (SELECT * FROM base0 WHERE n2 > 0),
qv AS (SELECT qv AS qq, n2 AS qn2 FROM base WHERE vec_id = {RRF_QUERY_ID}),
dense_top AS (
  SELECT b.vec_id AS id,
    CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> b.qv[i] * qv.qq[i])) AS DOUBLE)
      / (sqrt(b.n2) * sqrt(qv.qn2)) AS cosine
  FROM base b CROSS JOIN qv
  WHERE b.vec_id <> {RRF_QUERY_ID}
  ORDER BY cosine DESC, id LIMIT {RRF_SHORTLIST}
), dense AS (
  SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, id) AS INT)
    AS rank_dense
  FROM dense_top
), tf AS (
  SELECT doc_id AS id,
    len(list_filter(string_split_regex(lower(text), '{WS_RE}'),
                    t -> t = '{RRF_TERM}')) AS tf
  FROM documents WHERE doc_id <> {RRF_QUERY_ID}
), lex_top AS (
  SELECT id, tf FROM tf WHERE tf > 0 ORDER BY tf DESC, id
  LIMIT {RRF_SHORTLIST}
), lex AS (
  SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, id) AS INT)
    AS rank_lex
  FROM lex_top
), fused AS (
  SELECT COALESCE(d.id, l.id) AS id,
    COALESCE(d.rank_dense, -1) AS rank_dense,
    COALESCE(l.rank_lex, -1) AS rank_lex,
    CAST(COALESCE({RRF_SCALE} // ({RRF_K} + d.rank_dense), 0)
       + COALESCE({RRF_SCALE} // ({RRF_K} + l.rank_lex), 0) AS BIGINT)
      AS rrf_score
  FROM dense d FULL OUTER JOIN lex l ON l.id = d.id
)
SELECT id, rank_dense, rank_lex, rrf_score FROM fused
ORDER BY rrf_score DESC, id LIMIT {RRF_OUT}
"""

register(QuerySpec(
    "similarity_hybrid_rrf", similarity_hybrid_rrf_query, _HYBRID_RRF_SQL,
    description=f"hybrid retrieval: dense cosine + lexical tf shortlists "
                f"fused by reciprocal-rank fusion (K={RRF_K}) in exact "
                "scaled-integer arithmetic; TakeOrderedAndProject "
                "shortlists, windows only on the fused ≤50-row lists"))


# --- hybrid retrieval, BM25 lexical leg ------------------------------------------
#
# The r12 fusion ranked its lexical shortlist by raw term frequency —
# fine for a single-term query, but the standard hybrid-retrieval shape
# fuses dense ranks with BM25 ranks over a MULTI-term query. The engine
# already has an exact-arithmetic BM25 scorer (textops.bm25_topk: ratio
# idf instead of ln() so the double is bit-identical cross-engine,
# single-row stats broadcast, TakeOrderedAndProject top-n); this spec
# fuses ITS ranks with the dense cosine ranks under the same
# scaled-integer RRF. Scale shape unchanged: two shortlists built
# without wide shuffles, rank windows and the full-outer fusion only on
# the two ≤RRF_SHORTLIST-row relations.

def hybrid_rrf_bm25(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """(id, rank_dense, rank_lex, rrf_score) — top ``RRF_OUT`` fused,
    lexical ranks from the engine's BM25 scorer over ``BM25_TERMS``."""
    from pyspark.sql import Window

    from downscaledclimatedata_spark.operators.textops import (
        BM25_TERMS, bm25_topk)

    base = (emb.select(F.col("vec_id"),
                       quantize(F.col("embedding")).alias("qv"),
                       sq_norm(quantize(F.col("embedding"))).alias("n2"))
            .filter(F.col("n2") > 0))
    qvec = (base.filter(F.col("vec_id") == RRF_QUERY_ID)
            .select(F.col("qv").alias("qq"), F.col("n2").alias("qn2")))
    dense_scored = (base.crossJoin(F.broadcast(qvec))
                    .filter(F.col("vec_id") != RRF_QUERY_ID)
                    .select(F.col("vec_id").alias("id"),
                            (int_dot(F.col("qv"), F.col("qq"))
                             .cast("double")
                             / (F.sqrt(F.col("n2").cast("double"))
                                * F.sqrt(F.col("qn2").cast("double"))))
                            .alias("cosine")))
    dense_top = dense_scored.orderBy(F.col("cosine").desc(),
                                     F.col("id")).limit(RRF_SHORTLIST)
    w_d = Window.orderBy(F.col("cosine").desc(), F.col("id"))
    dense = dense_top.select("id", F.row_number().over(w_d)
                             .alias("rank_dense"))
    lex_top = (bm25_topk(docs.filter(F.col("doc_id") != RRF_QUERY_ID),
                         "text", "doc_id", terms=BM25_TERMS, topn=RRF_SHORTLIST)
               .select(F.col("doc_id").alias("id"), "bm25"))
    w_l = Window.orderBy(F.col("bm25").desc(), F.col("id"))
    lex = lex_top.select("id", F.row_number().over(w_l).alias("rank_lex"))
    rd = (F.when(F.col("rank_dense").isNotNull(),
                 F.expr(f"{RRF_SCALE} div ({RRF_K} + rank_dense)"))
          .otherwise(F.lit(0)).cast("long"))
    rl = (F.when(F.col("rank_lex").isNotNull(),
                 F.expr(f"{RRF_SCALE} div ({RRF_K} + rank_lex)"))
          .otherwise(F.lit(0)).cast("long"))
    fused = (dense.join(lex, "id", "full_outer")
             .select("id",
                     F.coalesce("rank_dense", F.lit(-1)).alias("rank_dense"),
                     F.coalesce("rank_lex", F.lit(-1)).alias("rank_lex"),
                     (rd + rl).alias("rrf_score")))
    return (fused.orderBy(F.col("rrf_score").desc(), F.col("id"))
            .limit(RRF_OUT))


def similarity_hybrid_rrf_bm25_query(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return hybrid_rrf_bm25(docs, emb)


def _hybrid_rrf_bm25_sql() -> str:
    from downscaledclimatedata_spark.operators.textops import (
        _TOKS_SQL, BM25_B, BM25_K1, BM25_TERMS)
    tf_cols = ",\n    ".join(
        f"CAST(len(list_filter(t, x -> x = '{t}')) AS BIGINT) AS tf_{i}"
        for i, t in enumerate(BM25_TERMS))
    df_cols = ",\n    ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(BM25_TERMS)))
    k1p1 = BM25_K1 + 1.0
    one_minus_b = 1.0 - BM25_B
    parts = []
    for i in range(len(BM25_TERMS)):
        idf = (f"((CAST(n_docs - df_{i} AS DOUBLE) + 0.5)"
               f" / (CAST(df_{i} AS DOUBLE) + 0.5))")
        part = (f"{idf} * ((CAST(tf_{i} AS DOUBLE) * {k1p1})"
                f" / (CAST(tf_{i} AS DOUBLE) + {BM25_K1} * "
                f"({one_minus_b} + {BM25_B} * (CAST(dl AS DOUBLE)"
                f" / (CASE WHEN sum_dl > 0 THEN CAST(sum_dl AS DOUBLE)"
                f" / CAST(n_docs AS DOUBLE) ELSE 1.0 END)))))")
        parts.append(part)
    score = parts[0]
    for p in parts[1:]:
        score = f"({score} + {p})"
    return rf"""
WITH q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings),
base0 AS (
  SELECT vec_id, qv,
    CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i])) AS DOUBLE) AS n2
  FROM q
), base AS (SELECT * FROM base0 WHERE n2 > 0),
qv AS (SELECT qv AS qq, n2 AS qn2 FROM base WHERE vec_id = {RRF_QUERY_ID}),
dense_top AS (
  SELECT b.vec_id AS id,
    CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> b.qv[i] * qv.qq[i])) AS DOUBLE)
      / (sqrt(b.n2) * sqrt(qv.qn2)) AS cosine
  FROM base b CROSS JOIN qv
  WHERE b.vec_id <> {RRF_QUERY_ID}
  ORDER BY cosine DESC, id LIMIT {RRF_SHORTLIST}
), dense AS (
  SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, id) AS INT)
    AS rank_dense
  FROM dense_top
), toked AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
  WHERE doc_id <> {RRF_QUERY_ID}
), bbase AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
    {tf_cols}
  FROM toked
), stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
    {df_cols}
  FROM bbase
), lex_top AS (
  SELECT doc_id AS id, {score} AS bm25
  FROM bbase CROSS JOIN stats
  ORDER BY bm25 DESC, id LIMIT {RRF_SHORTLIST}
), lex AS (
  SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, id) AS INT)
    AS rank_lex
  FROM lex_top
), fused AS (
  SELECT COALESCE(d.id, l.id) AS id,
    COALESCE(d.rank_dense, -1) AS rank_dense,
    COALESCE(l.rank_lex, -1) AS rank_lex,
    CAST(COALESCE({RRF_SCALE} // ({RRF_K} + d.rank_dense), 0)
       + COALESCE({RRF_SCALE} // ({RRF_K} + l.rank_lex), 0) AS BIGINT)
      AS rrf_score
  FROM dense d FULL OUTER JOIN lex l ON l.id = d.id
)
SELECT id, rank_dense, rank_lex, rrf_score FROM fused
ORDER BY rrf_score DESC, id LIMIT {RRF_OUT}
"""


register(QuerySpec(
    "similarity_hybrid_rrf_bm25", similarity_hybrid_rrf_bm25_query,
    _hybrid_rrf_bm25_sql(),
    description="hybrid retrieval with the standard BM25 lexical leg: "
                "dense cosine shortlist fused with the engine's exact-"
                "arithmetic BM25 ranks (ratio idf, multi-term query) "
                "under scaled-integer reciprocal-rank fusion"))


# --- SemDeDup pair recall vs exact threshold truth --------------------------------
#
# The r12 quality program applied to the dedup family: knn_graph's
# recall ladder measures the GRAPH's neighbor quality; this measures
# how many true >= tau near-pairs the CLUSTER-SCOPED pass (the
# SemDeDup prune's candidate generator) actually sees. A pair is
# missed exactly when its two vectors land in different coarse cells —
# the approximation semantic dedup trades for never running corpus².
# Missed pairs at the prune threshold = duplicates that survive
# dedup, so this recall IS the operator's false-negative rate.

def semantic_pair_recall(emb: DataFrame,
                         tau: float = SEM_TAU,
                         centroid_mod: int = CENTROID_MOD,
                         n_centroids: int = N_CENTROIDS,
                         n_super: int | None = None,
                         n_super2: int | None = None,
                         spread_every: int | None = None,
                         query_every: int = KNN_RECALL_EVERY,
                         query_hash: bool = False) -> DataFrame:
    """Per sampled query: ``n_truth`` = corpus vectors with exact
    cosine >= tau against it, ``n_hit`` = how many of those partners
    the cluster-scoped pair pass also reports, ``recall`` = the ratio.
    Queries with no true partner produce no row (recall undefined).

    Scale shape: truth is the same bounded-broadcast |Q|·N scan as
    :func:`knn_graph_recall`; the approx side reuses the EXACT
    relation semantic_dedup prunes from (`_assigned_corpus` +
    `semantic_pairs_from_assigned`), so the measurement certifies the
    operator as deployed, not a reimplementation.
    """
    base = (emb.select(F.col("vec_id"),
                       quantize(F.col("embedding")).alias("qv"),
                       sq_norm(quantize(F.col("embedding"))).alias("n2"))
            .filter(F.col("n2") > 0))
    pred = (_spread_sample("vec_id", query_every) if query_hash
            else _fixed_sample("vec_id", query_every, KNN_RECALL_N))
    queries = (base.filter(pred)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("qv").alias("qq"), F.col("n2").alias("qn2")))
    truth = (base.crossJoin(F.broadcast(queries))
             .filter(F.col("vec_id") != F.col("query_id"))
             .filter((int_dot(F.col("qq"), F.col("qv")).cast("double")
                      / (F.sqrt(F.col("qn2").cast("double"))
                         * F.sqrt(F.col("n2").cast("double")))) >= tau)
             .select("query_id", F.col("vec_id").alias("partner_id")))
    assigned = _assigned_corpus(emb, centroid_mod,
                                n_centroids, n_super, n_super2,
                                spread_every)
    pairs = semantic_pairs_from_assigned(assigned, tau)
    got = (pairs.select(F.col("id_a").alias("query_id"),
                        F.col("id_b").alias("partner_id"))
           .unionByName(pairs.select(
               F.col("id_b").alias("query_id"),
               F.col("id_a").alias("partner_id")))
           .withColumn("hit", F.lit(1)))
    return (truth.join(got, ["query_id", "partner_id"], "left")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"),
                 F.sum(F.coalesce("hit", F.lit(0))).cast("bigint")
                 .alias("n_hit"))
            .select("query_id", "n_truth", "n_hit",
                    (F.col("n_hit").cast("double")
                     / F.col("n_truth").cast("double")).alias("recall")))


def similarity_semantic_recall_query(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return semantic_pair_recall(emb)


_SEM_RECALL_SQL = f"""
WITH q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings),
base0 AS (
  SELECT vec_id, qv,
    CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i])) AS DOUBLE) AS n2,
    list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i])) AS in2
  FROM q
), base AS (SELECT * FROM base0 WHERE n2 > 0),
cents AS (
  SELECT vec_id AS cid, qv AS cv, in2 AS cn2 FROM base
  WHERE {_fixed_sample_sql('vec_id', CENTROID_MOD, N_CENTROIDS)}
), assign_scored AS (
  SELECT base.vec_id, cents.cid,
    ROW_NUMBER() OVER (PARTITION BY base.vec_id ORDER BY base.in2 + cents.cn2
      - 2 * list_sum(list_transform(range(1, {DIM + 1}), i -> base.qv[i] * cents.cv[i])), cents.cid) AS rn
  FROM base CROSS JOIN cents
), assigned AS (
  SELECT b.vec_id, a.cid, b.qv, b.n2
  FROM base b JOIN assign_scored a ON a.vec_id = b.vec_id AND a.rn = 1
), truth AS MATERIALIZED (
  SELECT qs.vec_id AS query_id, c.vec_id AS partner_id
  FROM base qs JOIN base c ON c.vec_id <> qs.vec_id
  WHERE {_fixed_sample_sql('qs.vec_id', KNN_RECALL_EVERY, KNN_RECALL_N)}
    AND CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> qs.qv[i] * c.qv[i])) AS DOUBLE)
      / (sqrt(qs.n2) * sqrt(c.n2)) >= {SEM_TAU}
), cellpairs AS MATERIALIZED (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assigned a JOIN assigned b
    ON b.cid = a.cid AND a.vec_id < b.vec_id
  WHERE CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
      / (sqrt(a.n2) * sqrt(b.n2)) >= {SEM_TAU}
), got AS (
  SELECT id_a AS query_id, id_b AS partner_id FROM cellpairs
  UNION ALL
  SELECT id_b, id_a FROM cellpairs
)
SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_truth,
  CAST(SUM(CASE WHEN g.partner_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_hit,
  CAST(SUM(CASE WHEN g.partner_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS recall
FROM truth t LEFT JOIN got g
  ON g.query_id = t.query_id AND g.partner_id = t.partner_id
GROUP BY t.query_id
"""

register(QuerySpec(
    "similarity_semantic_recall", similarity_semantic_recall_query,
    _SEM_RECALL_SQL,
    description=f"SemDeDup pair recall at tau={SEM_TAU}: how many true "
                ">= tau near-pairs the cluster-scoped candidate pass "
                "sees, per sampled query vs exact broadcast-query truth "
                "— the prune's false-negative rate, measured in-engine"))


# --- iterated SemDeDup: the measured fix for codebook shattering ------------------
#
# The r12 recallsem ladder measured duplicate clusters deeper than N/k
# SHATTERING across their own corpus-sampled centroids (~5 survivors
# per 1,000-clone group at 2M vectors, removal rate 0.9957). The
# standard fix is to ITERATE on the survivor set: pass 2 re-clusters
# only the survivors (0.5% of the corpus) with a codebook scheduled to
# THEIR count, so shards of a shattered group land together and prune
# each other. Cost: pass 1 dominates; pass 2 is the same operator on a
# corpus two orders smaller.

def semantic_survivors(emb: DataFrame, tau: float = SEM_TAU,
                       centroid_mod: int = CENTROID_MOD,
                       n_centroids: int = N_CENTROIDS,
                       n_super: int | None = None,
                       n_super2: int | None = None,
                       spread_every: int | None = None) -> DataFrame:
    """Ids KEPT by one SemDeDup pass (keep-min within >= tau cell
    pairs) — zero-norm vectors pass through untouched (they have no
    defined cosine, so no pair can remove them)."""
    base = _assigned_corpus(emb, centroid_mod,
                            n_centroids, n_super, n_super2, spread_every)
    removed = (semantic_pairs_from_assigned(base, tau)
               .select(F.col("id_b").alias("vec_id")).distinct())
    return emb.select(F.col("vec_id")).join(removed, "vec_id", "left_anti")


def semantic_dedup_iterated(emb: DataFrame,
                            tau: float = SEM_TAU,
                            schedule=None) -> DataFrame:
    """Two-pass SemDeDup summary: (n_input, n_removed_p1, n_removed_p2,
    n_kept). ``schedule`` maps a row count to the 5-tuple codebook
    configuration (default :func:`scaled_codebook_three_level`) and is
    re-evaluated on the PASS-2 corpus — the survivors — which is what
    reunites the shards of a shattered duplicate group.
    """
    sched = schedule or scaled_codebook_three_level
    n0 = emb.count()
    mod, k, s1, s2, ev = sched(n0)
    surv1 = semantic_survivors(emb, tau, mod, k,
                               s1, s2, ev).localCheckpoint()
    n1 = surv1.count()
    emb2 = emb.join(surv1, "vec_id").localCheckpoint()
    mod2, k2, s12, s22, ev2 = sched(n1)
    surv2 = semantic_survivors(emb2, tau, mod2, k2,
                               s12, s22, ev2)
    n2 = surv2.count()
    return emb.sparkSession.createDataFrame(
        [(n0, n0 - n1, n1 - n2, n2)],
        "n_input long, n_removed_p1 long, n_removed_p2 long, n_kept long")


def dedup_semantic_iterated_query(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return semantic_dedup_iterated(emb)


# Oracle: both passes at the degenerate-exact static codebook (the
# fixture is below every tier threshold, so sched() returns (25,16,...)
# for pass 1 AND for the ~pass-1-survivor count). Pass-2 centroids are
# the fixed window sample OVER THE SURVIVORS — expressible because the
# window predicate only references ids.
_SEM_ITER_SQL = f"""
WITH q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings),
base0 AS (
  SELECT vec_id, qv,
    CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i])) AS DOUBLE) AS n2,
    list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i])) AS in2
  FROM q
), base AS (SELECT * FROM base0 WHERE n2 > 0),
cents1 AS (
  SELECT vec_id AS cid, qv AS cv, in2 AS cn2 FROM base
  WHERE {_fixed_sample_sql('vec_id', CENTROID_MOD, N_CENTROIDS)}
), asg1 AS (
  SELECT b.vec_id, b.qv, b.n2, a.cid
  FROM base b JOIN (
    SELECT base.vec_id, cents1.cid,
      ROW_NUMBER() OVER (PARTITION BY base.vec_id ORDER BY base.in2 + cents1.cn2
        - 2 * list_sum(list_transform(range(1, {DIM + 1}), i -> base.qv[i] * cents1.cv[i])), cents1.cid) AS rn
    FROM base CROSS JOIN cents1) a
    ON a.vec_id = b.vec_id AND a.rn = 1
), rm1 AS (
  SELECT DISTINCT b.vec_id FROM asg1 a JOIN asg1 b
    ON b.cid = a.cid AND a.vec_id < b.vec_id
  WHERE CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
      / (sqrt(a.n2) * sqrt(b.n2)) >= {SEM_TAU}
), surv1 AS (
  SELECT e.vec_id FROM embeddings e
  WHERE e.vec_id NOT IN (SELECT vec_id FROM rm1)
), base2 AS (
  SELECT b.* FROM base b JOIN surv1 s ON s.vec_id = b.vec_id
), cents2 AS (
  SELECT vec_id AS cid, qv AS cv, in2 AS cn2 FROM base2
  WHERE {_fixed_sample_sql('vec_id', CENTROID_MOD, N_CENTROIDS)}
), asg2 AS (
  SELECT b.vec_id, b.qv, b.n2, a.cid
  FROM base2 b JOIN (
    SELECT base2.vec_id, cents2.cid,
      ROW_NUMBER() OVER (PARTITION BY base2.vec_id ORDER BY base2.in2 + cents2.cn2
        - 2 * list_sum(list_transform(range(1, {DIM + 1}), i -> base2.qv[i] * cents2.cv[i])), cents2.cid) AS rn
    FROM base2 CROSS JOIN cents2) a
    ON a.vec_id = b.vec_id AND a.rn = 1
), rm2 AS (
  SELECT DISTINCT b.vec_id FROM asg2 a JOIN asg2 b
    ON b.cid = a.cid AND a.vec_id < b.vec_id
  WHERE CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
      / (sqrt(a.n2) * sqrt(b.n2)) >= {SEM_TAU}
)
SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_input,
  CAST((SELECT COUNT(*) FROM rm1) AS BIGINT) AS n_removed_p1,
  CAST((SELECT COUNT(*) FROM rm2) AS BIGINT) AS n_removed_p2,
  CAST((SELECT COUNT(*) FROM embeddings)
     - (SELECT COUNT(*) FROM rm1)
     - (SELECT COUNT(*) FROM rm2) AS BIGINT) AS n_kept
"""

register(QuerySpec(
    "dedup_semantic_iterated", dedup_semantic_iterated_query,
    _SEM_ITER_SQL,
    description="two-pass SemDeDup (iterate on survivors): pass 2 "
                "re-clusters only pass 1's keepers with a codebook "
                "scheduled to THEIR count — the measured fix for deep "
                "duplicate clusters shattering across corpus-sampled "
                "centroids (BENCH_SCALE r12 batch 7)"))


# --- SemDeDup to convergence (fixed point, capped) --------------------------------
#
# r12 measured two passes leaving a 0.5%-of-ideal survivor excess at 2M
# vectors (removal 0.9998, BENCH_SCALE batch 8); the natural question
# is the fixed point. The iteration is monotone — each pass removes a
# subset of its survivors, and a pass that removes nothing recomputes
# identically forever after — so "run until a pass removes 0" is
# well-defined, and a FIXED-depth unrolling is equal to the early-
# stopping loop whenever convergence arrives within the cap. That
# equality is what lets a while-loop operator carry a fixed-string SQL
# oracle: the oracle unrolls SEM_CONV_MAX_PASSES rounds, and rounds
# after convergence contribute zero removals on both engines.

SEM_CONV_MAX_PASSES = 3


def semantic_dedup_converged(emb: DataFrame,
                             tau: float = SEM_TAU,
                             schedule=None,
                             max_passes: int = SEM_CONV_MAX_PASSES,
                             pass_counts: list | None = None) -> DataFrame:
    """Iterate SemDeDup on survivors until a pass removes nothing (or
    ``max_passes``). Each pass re-schedules the codebook to the CURRENT
    survivor count. Returns one row: (n_input, n_removed_p1..p3,
    n_kept, n_passes) where n_passes counts passes that removed > 0.
    ``pass_counts``, if given, collects the per-pass removal counts for
    callers that want the convergence curve (the scale ladder)."""
    sched = schedule or scaled_codebook_three_level
    n_input = emb.count()
    cur, n_cur = emb, n_input
    removed: list = []
    for _ in range(max_passes):
        mod, k, s1, s2, ev = sched(n_cur)
        surv = semantic_survivors(cur, tau, mod, k,
                                  s1, s2, ev).localCheckpoint()
        n_new = surv.count()
        removed.append(n_cur - n_new)
        if n_new == n_cur:
            break
        cur = cur.join(surv, "vec_id").localCheckpoint()
        n_cur = n_new
    while len(removed) < max_passes:
        removed.append(0)
    if pass_counts is not None:
        pass_counts.extend(removed)
    n_passes = sum(1 for r in removed if r > 0)
    return emb.sparkSession.createDataFrame(
        [(n_input, removed[0], removed[1], removed[2], n_cur, n_passes)],
        "n_input long, n_removed_p1 long, n_removed_p2 long, "
        "n_removed_p3 long, n_kept long, n_passes long")


def dedup_semantic_converged_query(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return semantic_dedup_converged(emb)


def _sem_conv_sql() -> str:
    """Unroll SEM_CONV_MAX_PASSES SemDeDup rounds: each round's
    centroids are the fixed window sample OVER THAT ROUND'S SURVIVORS
    (expressible because the window predicate only references ids) —
    the degenerate-exact static codebook at the oracle scale, same as
    the iterated spec's oracle, extended one level."""
    rounds = []
    prev_base = "base"
    for i in range(1, SEM_CONV_MAX_PASSES + 1):
        rounds.append(f"""cents{i} AS (
  SELECT vec_id AS cid, qv AS cv, in2 AS cn2 FROM {prev_base}
  WHERE {_fixed_sample_sql('vec_id', CENTROID_MOD, N_CENTROIDS)}
), asg{i} AS (
  SELECT b.vec_id, b.qv, b.n2, a.cid
  FROM {prev_base} b JOIN (
    SELECT {prev_base}.vec_id, cents{i}.cid,
      ROW_NUMBER() OVER (PARTITION BY {prev_base}.vec_id
        ORDER BY {prev_base}.in2 + cents{i}.cn2
        - 2 * list_sum(list_transform(range(1, {DIM + 1}),
                       j -> {prev_base}.qv[j] * cents{i}.cv[j])),
        cents{i}.cid) AS rn
    FROM {prev_base} CROSS JOIN cents{i}) a
    ON a.vec_id = b.vec_id AND a.rn = 1
), rm{i} AS (
  SELECT DISTINCT b.vec_id FROM asg{i} a JOIN asg{i} b
    ON b.cid = a.cid AND a.vec_id < b.vec_id
  WHERE CAST(list_sum(list_transform(range(1, {DIM + 1}),
                      j -> a.qv[j] * b.qv[j])) AS DOUBLE)
      / (sqrt(a.n2) * sqrt(b.n2)) >= {SEM_TAU}
), base{i + 1} AS (
  SELECT b.* FROM {prev_base} b
  WHERE b.vec_id NOT IN (SELECT vec_id FROM rm{i})
)""")
        prev_base = f"base{i + 1}"
    body = ",\n".join(rounds)
    rm_counts = ", ".join(
        f"(SELECT COUNT(*) FROM rm{i}) AS r{i}"
        for i in range(1, SEM_CONV_MAX_PASSES + 1))
    total_removed = " + ".join(f"r{i}"
                               for i in range(1, SEM_CONV_MAX_PASSES + 1))
    return f"""
WITH q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings),
base0 AS (
  SELECT vec_id, qv,
    CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i])) AS DOUBLE) AS n2,
    list_sum(list_transform(range(1, {DIM + 1}), i -> qv[i] * qv[i])) AS in2
  FROM q
), base AS (SELECT * FROM base0 WHERE n2 > 0),
{body},
counts AS (SELECT {rm_counts})
SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_input,
  CAST(r1 AS BIGINT) AS n_removed_p1,
  CAST(r2 AS BIGINT) AS n_removed_p2,
  CAST(r3 AS BIGINT) AS n_removed_p3,
  CAST((SELECT COUNT(*) FROM embeddings) - ({total_removed}) AS BIGINT)
    AS n_kept,
  CAST(CASE WHEN r1 = 0 THEN 0 WHEN r2 = 0 THEN 1
            WHEN r3 = 0 THEN 2 ELSE 3 END AS BIGINT) AS n_passes
FROM counts
"""


register(QuerySpec(
    "dedup_semantic_converged", dedup_semantic_converged_query,
    _sem_conv_sql(),
    description=f"SemDeDup iterated to its fixed point (capped at "
                f"{SEM_CONV_MAX_PASSES} passes): each pass re-clusters "
                "the current survivors with a codebook scheduled to "
                "their count and stops when a pass removes nothing — "
                "the monotone iteration makes the early-stopping loop "
                "equal to the oracle's fixed-depth unrolling"))


# --- ANN index persistence: build once, serve many --------------------------------
#
# Every searcher above derives the IVF index (assignment + quantized
# vectors) inline — right for a one-shot analytic query, wrong for the
# production serving shape, where the index over a 100 TB corpus is
# built ONCE (the expensive N·k assignment pass) and then served by
# many query batches that only read the inverted lists they probe. The
# persisted layout is two parquet relations: `lists/` — (cid, id, qv,
# n2), PARTITIONED BY cid so a probe is a partition-pruned read of
# exactly the lists it needs — and `meta/` — the codebook parameters,
# so the searcher never re-derives or guesses the build configuration.

def ann_index_build(emb: DataFrame, path: str,
                    centroid_mod: int = CENTROID_MOD,
                    n_centroids: int = N_CENTROIDS,
                    n_super: int = None, n_super2: int = None,
                    spread_every: int = None) -> None:
    """Materialize the IVF index: coarse assignment + quantized vectors,
    cid-partitioned (the inverted-list layout). The codebook itself is
    persisted too (``centroids/``): a delta batch appended later must
    be assigned against the BUILD's centroids — re-deriving them from a
    changed corpus would silently re-key every existing list.

    ``n_super``/``n_super2``/``spread_every``: when given, the build's
    assignment pass routes through the THREE-level hierarchical
    quantizer instead of the flat N·k argmin — the serve-path twin of
    the graph family's schedule. This is the fix for the wall the r13
    serve-recall ladder measured: under the scaled codebook k ∝ √N the
    flat build is N^1.5 work (a single >30-minute stage at 2M vectors),
    while the routed build is N·3k^(1/3). With the degenerate-exact
    static configuration (``n_super == n_super2 == n_centroids``,
    ``spread_every=None``) the routed build produces BYTE-IDENTICAL
    lists to the flat build (unit-pinned), so the fixed SQL oracles
    stay valid. The serve side is unchanged either way — it reads only
    ``lists/``."""
    # the *_cols assignment variants carry (qv, n2) on the same
    # projected row — no corpus-wide id join before the list write (r13)
    if n_super is not None:
        cols = _ivf_assign_three_level_cols(
            emb, centroid_mod, n_centroids, n_super,
            n_super2 if n_super2 is not None else n_super,
            spread_every)
    else:
        cols = _ivf_assign_cols(emb, centroid_mod, n_centroids)
    lists = (cols.select(F.col("cid"), F.col("vec_id").alias("id"),
                         "qv", "n2")
             .filter(F.col("n2") > 0))
    # repartition on the partition column first: each task owns whole
    # cells, so every cid directory gets ONE well-formed file instead
    # of one shard per shuffle partition (guide: output file sizing)
    lists.repartition("cid").write.partitionBy("cid") \
        .mode("overwrite").parquet(f"{path}/lists")
    base = emb.select(F.col("vec_id"), quantize(F.col("embedding")).alias("qv"),
                      sq_norm(quantize(F.col("embedding"))).alias("n2"))
    cents_pred = (_spread_sample("vec_id", spread_every)
                  if spread_every is not None
                  else _fixed_sample("vec_id", centroid_mod, n_centroids))
    cents = (base.filter(cents_pred)
             .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"),
                     F.col("n2").alias("cn2")))
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    # literal_rows: a Python-backed 1-row relation costs a Python
    # worker round trip inside the write task (functions/rows.py)
    literal_rows(emb.sparkSession, [(centroid_mod, n_centroids)],
                 "centroid_mod int, n_centroids int") \
        .coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def ann_index_append(emb_delta: DataFrame, path: str) -> None:
    """Ingest a delta batch into a persisted index: assign the new
    vectors against the PERSISTED codebook (never re-derived — the
    whole point of persisting it) and append their rows into the same
    cid-partitioned inverted-list layout. A 100 TB index ingests deltas
    far more often than it rebuilds; append touches only the delta's
    rows and the partitions they land in, nothing existing is read or
    rewritten. Serve results over base+delta are identical to a fresh
    rebuild over the union corpus whenever the union's codebook sample
    equals the build's (the registered spec's construction)."""
    spark = emb_delta.sparkSession
    ann_index_meta(spark, path)  # refuse to append into a broken index
    cents = spark.read.parquet(f"{path}/centroids")
    base = (emb_delta.select(F.col("vec_id").alias("id"),
                             quantize(F.col("embedding")).alias("qv"),
                             sq_norm(quantize(F.col("embedding"))).alias("n2"))
            .filter(F.col("n2") > 0))
    # tiered argmin against the persisted codebook (r13): the cheap
    # count on the KB-scale codebook relation picks the measured tier
    assigned = (_argmin_assign(base, cents, "id", cents.count())
                .select("cid", "id", "qv", "n2"))
    # one delta file per touched cid (not one per shuffle partition):
    # compaction reads fewer, better-formed files (guide: file sizing)
    assigned.repartition("cid").write.partitionBy("cid") \
        .mode("append").parquet(f"{path}/lists")


def ann_index_compact(spark: SparkSession, path: str) -> dict:
    """Rewrite the inverted lists to one file per cid partition —
    repeated appends leave one small file per (append, cid) touched,
    and a probed read pays per-file open cost. One cid-keyed shuffle
    into a staging tree that replaces ``lists/`` (``publish.write_dir``:
    a failed or killed compaction leaves the old lists, or an aside that
    the next read recovers; at object-store scale the swap is a manifest
    commit, the rewrite itself is the same cid-keyed job).
    Returns {"files_before": n, "files_after": n, "rows": n}."""
    import glob
    import os

    def _nfiles(d):
        return len(glob.glob(os.path.join(d, "**", "*.parquet"),
                             recursive=True))

    lists_dir = f"{path}/lists"
    publish.recover(lists_dir)
    before = _nfiles(lists_dir)
    lists = spark.read.parquet(lists_dir)
    n_rows = lists.count()
    publish.write_dir(lists_dir, lambda staging: lists.repartition("cid")
                      .write.partitionBy("cid").parquet(staging))
    return {"files_before": before, "files_after": _nfiles(lists_dir),
            "rows": n_rows}


def ann_index_meta(spark: SparkSession, path: str) -> tuple:
    """Read the index's build configuration from ``meta/``. Raises if
    the relation is missing or malformed — a persisted index without
    its codebook parameters is not servable. Every reader and appender
    calls this first, so it also recovers ``lists/``."""
    publish.recover(f"{path}/lists")
    rows = spark.read.parquet(f"{path}/meta").collect()
    if len(rows) != 1:
        raise ValueError(
            f"ANN index meta at {path}/meta must hold exactly one row, "
            f"got {len(rows)}")
    return int(rows[0].centroid_mod), int(rows[0].n_centroids)


def ann_index_search(spark: SparkSession, path: str, k: int = TOP_K,
                     query_mod: int = QUERY_MOD,
                     n_queries: int = N_QUERIES,
                     expect_centroid_mod: int = None,
                     expect_n_centroids: int = None,
                     nprobe: int = 1) -> DataFrame:
    """Serve top-k from a persisted index: queries are looked up in the
    index itself (their list + vector), candidates come only from the
    probed inverted lists — the scan is partition-pruned on cid, so a
    query batch reads |probed lists|, never the corpus.

    The searcher reads ``meta/`` at serve time and refuses to serve if
    it is missing, malformed, or (when ``expect_*`` is given) does not
    match the configuration the caller built with — the build
    parameters are validated, not write-only. The query batch
    (``n_queries * nprobe`` rows: every caller serves a fixed sample)
    is broadcast to the probed lists.

    ``nprobe``: the serve-side recall knob (the r13 serve ladder's
    measured single-probe decay on clustered corpora is the reason it
    exists). At 1, each query reads only its OWN list — its cid comes
    free from the lists row. Above 1, each query's quantized-L2
    distances to the PERSISTED codebook (``centroids/`` — the other
    reason the build persists it) rank its ``nprobe`` nearest lists;
    the probe relation joins the lists on cid, so the scan is still
    pruned to |queries|·nprobe lists. Corpus vectors live in exactly
    one list, so multiprobe never duplicates a candidate."""
    from pyspark.sql import Window
    got_mod, got_k = ann_index_meta(spark, path)
    if expect_centroid_mod is not None and got_mod != expect_centroid_mod:
        raise ValueError(
            f"index at {path} was built with centroid_mod={got_mod}, "
            f"caller expected {expect_centroid_mod}")
    if expect_n_centroids is not None and got_k != expect_n_centroids:
        raise ValueError(
            f"index at {path} was built with n_centroids={got_k}, "
            f"caller expected {expect_n_centroids}")
    lists = spark.read.parquet(f"{path}/lists")
    qbase = (lists.filter(_fixed_sample("id", query_mod, n_queries))
             .select(F.col("id").alias("query_id"), F.col("cid"),
                     F.col("qv").alias("qq"), F.col("n2").alias("qn2")))
    if nprobe > 1:
        cents = spark.read.parquet(f"{path}/centroids")
        ranked = (qbase.drop("cid").crossJoin(F.broadcast(cents))
                  .select("query_id", "qq", "qn2", F.col("cid"),
                          (F.col("qn2") + F.col("cn2")
                           - 2 * int_dot(F.col("qq"), F.col("cv")))
                          .alias("dist")))
        wp = Window.partitionBy("query_id").orderBy("dist", "cid")
        queries = (ranked.withColumn("rn", F.row_number().over(wp))
                   .filter(F.col("rn") <= nprobe)
                   .select("query_id", "cid", "qq", "qn2"))
    else:
        queries = qbase
    corpus = lists.select(F.col("id").alias("match_id"), F.col("cid"),
                          F.col("qv").alias("cq"), F.col("n2").alias("cn2"))
    scored = (corpus.join(F.broadcast(queries), "cid")
              .filter(F.col("match_id") != F.col("query_id"))
              .select("query_id", "match_id",
                      (int_dot(F.col("qq"), F.col("cq")).cast("double")
                       / (F.sqrt(F.col("qn2").cast("double"))
                          * F.sqrt(F.col("cn2").cast("double"))))
                      .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("match_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("query_id", "match_id", "cosine", "rnk"))


def similarity_index_persist_query(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Build the index to disk, then serve the standard query sample
    from the PERSISTED relations. The oracle is the inline IVF
    searcher's SQL verbatim — persistence must change NOTHING about
    the results, which is the whole contract of an index format."""
    import shutil
    import tempfile

    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    base = tempfile.mkdtemp(prefix="dcd_annidx_")
    try:
        ann_index_build(emb, base)
        return ann_index_search(
            spark, base, expect_centroid_mod=CENTROID_MOD,
            expect_n_centroids=N_CENTROIDS).localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


register(QuerySpec(
    "similarity_index_persist", similarity_index_persist_query,
    _IVF_SQL,
    description="ANN index persistence (build once, serve many): the "
                "IVF inverted lists written cid-PARTITIONED to parquet "
                "plus a codebook meta relation; search reads only the "
                "partition-pruned probed lists — results identical to "
                "the inline searcher (same oracle SQL verbatim)"))


# Delta rows for the incremental-maintenance spec: vec_id % 5 == 3.
# Chosen so the codebook window (id % CENTROID_MOD == 0 ⇒ id % 5 == 0)
# and the query window (id % QUERY_MOD == 0 ⇒ id % 5 == 0) can NEVER
# land in the delta — the base build's centroid sample therefore equals
# the union corpus's sample, which is exactly the condition under which
# base+append must equal a fresh rebuild. This holds on ANY corpus (the
# adversarial edge suites included), not just the fixture.
ANN_DELTA_MOD, ANN_DELTA_REM = 5, 3


def similarity_index_append_query(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Incremental index maintenance, proven by rebuild-equality: build
    the index over the base slice, APPEND the delta slice against the
    persisted codebook, COMPACT the inverted lists (one file per cid),
    then serve — the oracle is the inline IVF searcher over the WHOLE
    corpus verbatim, so base+delta+compaction must be indistinguishable
    from a fresh rebuild over the union."""
    import shutil
    import tempfile

    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    is_delta = F.col("vec_id") % ANN_DELTA_MOD == ANN_DELTA_REM
    base = tempfile.mkdtemp(prefix="dcd_annappend_")
    try:
        ann_index_build(emb.filter(~is_delta), base)
        ann_index_append(emb.filter(is_delta), base)
        ann_index_compact(spark, base)
        return ann_index_search(
            spark, base, expect_centroid_mod=CENTROID_MOD,
            expect_n_centroids=N_CENTROIDS).localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


register(QuerySpec(
    "similarity_index_append", similarity_index_append_query,
    _IVF_SQL,
    description="incremental ANN index maintenance: delta batch "
                "assigned against the PERSISTED codebook and appended "
                "into the cid-partitioned lists, then compacted to one "
                "file per list — serve results equal a fresh rebuild "
                "over the union corpus (same oracle SQL verbatim)"))


def similarity_index_routed_query(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The hierarchical-build serve path at the degenerate-exact static
    configuration: routing through the three-level quantizer with
    n_super == n_super2 == k produces byte-identical lists to the flat
    build, so the inline searcher's oracle applies verbatim — the same
    exactness contract every scaled-path operator in this family pins
    at oracle scale."""
    import shutil
    import tempfile

    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    base = tempfile.mkdtemp(prefix="dcd_annrouted_")
    try:
        ann_index_build(emb, base, n_super=N_CENTROIDS,
                        n_super2=N_CENTROIDS)
        return ann_index_search(
            spark, base, expect_centroid_mod=CENTROID_MOD,
            expect_n_centroids=N_CENTROIDS).localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


register(QuerySpec(
    "similarity_index_routed", similarity_index_routed_query,
    _IVF_SQL,
    description="ANN index BUILD routed through the three-level "
                "hierarchical quantizer (N·3k^(1/3) assignment instead "
                "of flat N·k — the serve-path fix for the N^1.5 build "
                "wall the r13 serve ladder measured at 2M vectors); at "
                "the degenerate static config the routed build is "
                "byte-identical to the flat one (same oracle verbatim)"))


def similarity_index_multiprobe_query(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Serve-side multiprobe from the persisted index: the query's
    nprobe nearest lists are ranked against the PERSISTED codebook
    (the second consumer of ``centroids/``, after append). Must equal
    the inline multiprobe searcher exactly — the oracle is
    `similarity_ivf_multiprobe`'s SQL verbatim."""
    import shutil
    import tempfile

    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    base = tempfile.mkdtemp(prefix="dcd_annmp_")
    try:
        ann_index_build(emb, base)
        return ann_index_search(
            spark, base, nprobe=NPROBE,
            expect_centroid_mod=CENTROID_MOD,
            expect_n_centroids=N_CENTROIDS).localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


register(QuerySpec(
    "similarity_index_multiprobe", similarity_index_multiprobe_query,
    _IVF_MULTIPROBE_SQL,
    description=f"persisted-index serve with nprobe={NPROBE}: each "
                "query's nearest lists ranked against the persisted "
                "codebook, scan still pruned to |queries|·nprobe lists "
                "— the serve-side recall knob the r13 clustered ladder "
                "showed single-probe serving needs (results equal the "
                "inline multiprobe searcher, same oracle verbatim)"))


# --- graph-expansion ANN search (IVF seeds + kNN-graph beam walk) ----------------
#
# The r13 clustered ladder measured IVF single-probe recall DECAYING
# per decade (0.426/0.336/0.255 at 20k/200k/2M): cell boundaries cut
# clusters, and the neighbors on the far side are never candidates.
# Graph expansion is the retrieval-stack answer (seed-and-expand, the
# serving shape of NSW/DiskANN-style systems): seed each query with its
# own inverted-list shortlist, then walk the kNN GRAPH outward — the
# probe-2 graph's query-side copies are exactly the cross-cell edges
# that reach over the boundary, so the walk recovers neighbors the cell
# scan structurally cannot see. Recall can only improve: the visited
# set starts at the IVF shortlist and grows monotonically, so the final
# top-k is never worse than the seeds' (hops=0 IS the IVF searcher).
#
# A fixed entry set does NOT work here and is deliberately absent: kNN
# edges are cluster-local, so a walk from global entry points cannot
# navigate across disjoint clusters (NSW/HNSW buy navigability with
# long-range links a cell-restricted build doesn't have) — seeding from
# the query's own cell starts the walk inside the right neighborhood
# and spends hops on boundary recovery, where the measured loss is.
#
# Scale shape (100 TB): queries are a fixed-size bounded relation; each
# hop joins the |Q|·beam frontier against the edge list (broadcast-hash)
# and fetches ≤|Q|·beam·k new candidates' vectors with a second
# broadcast join — per-hop state never exceeds |Q|·(beam·(1+hops·k))
# rows, and the corpus-sized relations (graph, vectors) are scanned,
# never shuffled or broadcast. The graph is the build-once artifact
# (knn_graph: N^1.5 cell-restricted self-join under a √N̄ codebook,
# routable three-level above it; persistable like the IVF index).

GS_BEAM = 5   # seed/beam width (≥ TOP_K so the final top-k is populated)
GS_HOPS = 3   # fixed expansion depth — unrolled, no iteration state


def graph_search(emb: DataFrame, edges: DataFrame | None = None,
                 k: int = TOP_K, hops: int = GS_HOPS,
                 query_mod: int = QUERY_MOD, n_queries: int = N_QUERIES,
                 centroid_mod: int = CENTROID_MOD,
                 n_centroids: int = N_CENTROIDS) -> DataFrame:
    """Top-k cosine search: IVF probe-1 seeds, expanded ``hops`` times
    over the kNN graph with a beam of ``GS_BEAM``.

    ``edges``: a prebuilt (vec_id, neighbor_id) graph — pass the
    scheduled-codebook build at scale; the default builds the flat
    ``knn_graph(nprobe=2)`` (query-side second-cell copies are the
    cross-cell edges the expansion exists to follow). Each hop keeps
    the ``GS_BEAM`` best visited nodes per query, expands their
    out-edges, scores the new candidates exactly (quantized int dot),
    and unions them into the visited set — revisits dedupe exactly
    because a (query, node) pair always scores to the identical
    double. ``hops=0`` degenerates to the IVF probe-1 searcher.
    """
    from pyspark.sql import Window
    if edges is None:
        edges = knn_graph(emb,
                          centroid_mod=centroid_mod,
                          n_centroids=n_centroids, nprobe=2)
    edges = (edges.select(F.col("vec_id").alias("src_id"), "neighbor_id")
             .localCheckpoint())
    corpus = (emb.select(F.col("vec_id"),
                         quantize(F.col("embedding")).alias("qv"),
                         sq_norm(quantize(F.col("embedding"))).alias("n2"))
              .filter(F.col("n2") > 0))
    queries = (corpus.filter(_fixed_sample("vec_id", query_mod, n_queries))
               .select(F.col("vec_id").alias("query_id"),
                       F.col("qv").alias("qq"),
                       F.col("n2").alias("qn2"))
               .localCheckpoint())
    visited = (ivf_topk(emb,
                        query_mod=query_mod, n_queries=n_queries,
                        centroid_mod=centroid_mod,
                        n_centroids=n_centroids)
               .select("query_id", F.col("match_id").alias("node"),
                       "cosine")
               .localCheckpoint())
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("node"))
    for _ in range(hops):
        frontier = (visited.withColumn("rnk", F.row_number().over(w))
                    .filter(F.col("rnk") <= GS_BEAM)
                    .select("query_id", "node"))
        cand = (edges.join(F.broadcast(frontier),
                           edges["src_id"] == frontier["node"])
                .select("query_id", F.col("neighbor_id").alias("node"))
                .distinct()
                .filter(F.col("node") != F.col("query_id"))
                .join(F.broadcast(queries), "query_id"))
        scored = (corpus.join(F.broadcast(cand),
                              corpus["vec_id"] == cand["node"])
                  .select("query_id", "node",
                          (int_dot(F.col("qq"), F.col("qv")).cast("double")
                           / (F.sqrt(F.col("qn2").cast("double"))
                              * F.sqrt(F.col("n2").cast("double"))))
                          .alias("cosine")))
        visited = visited.unionByName(scored).distinct().localCheckpoint()
    return (visited.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("query_id", F.col("node").alias("match_id"),
                    "cosine", "rnk"))


def similarity_graph_search_query(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return graph_search(emb)


def _graph_search_sql() -> str:
    """DuckDB oracle: the probe-2 kNN-graph CTEs (query side = the two
    best-ranked cells from assign_scored, candidate side = own cell
    only) + the IVF probe-1 seed shortlist + the hop chain unrolled —
    beam/expand/score/union per hop, exactly the DataFrame plan."""
    sql = _coarse_sql_prefix(carry_n2=True, assigned="search") + f""", g2 AS (
  SELECT b.vec_id, a.cid, b.qv, b.n2
  FROM base b JOIN assign_scored a ON a.vec_id = b.vec_id AND a.rn <= 2
  WHERE b.in2 > 0
), gscored AS (
  SELECT a.vec_id AS src_id, b.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
      / (sqrt(a.n2) * sqrt(b.n2)) AS cosine
  FROM g2 a JOIN assigned b
    ON b.cid = a.cid AND b.vec_id <> a.vec_id
), gedges AS (
  SELECT src_id, neighbor_id FROM (
    SELECT src_id, neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM gscored
  ) WHERE rnk <= {KNN_K}
), queries AS (
  SELECT vec_id AS query_id, qv AS qq, n2 AS qn2 FROM base
  WHERE in2 > 0 AND {_fixed_sample_sql('vec_id', QUERY_MOD, N_QUERIES)}
), seed_scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS node,
    CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> qs.qv[i] * c.qv[i])) AS DOUBLE)
      / (sqrt(qs.n2) * sqrt(c.n2)) AS cosine
  FROM assigned qs JOIN assigned c
    ON c.cid = qs.cid AND c.vec_id <> qs.vec_id
  WHERE {_fixed_sample_sql('qs.vec_id', QUERY_MOD, N_QUERIES)}
), v0 AS (
  SELECT query_id, node, cosine FROM (
    SELECT query_id, node, cosine,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, node) AS rnk
    FROM seed_scored
  ) WHERE rnk <= {GS_BEAM}
)"""
    dot_qc = (f"list_sum(list_transform(range(1, {DIM + 1}), "
              f"i -> q.qq[i] * c.qv[i]))")
    for h in range(GS_HOPS):
        sql += f""", b{h} AS (
  SELECT query_id, node FROM (
    SELECT query_id, node,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, node) AS rnk
    FROM v{h}
  ) WHERE rnk <= {GS_BEAM}
), x{h} AS (
  SELECT DISTINCT b.query_id, g.neighbor_id AS node
  FROM b{h} b JOIN gedges g ON g.src_id = b.node
  WHERE g.neighbor_id <> b.query_id
), s{h} AS (
  SELECT x.query_id, x.node,
    CAST({dot_qc} AS DOUBLE) / (sqrt(q.qn2) * sqrt(c.n2)) AS cosine
  FROM x{h} x
  JOIN queries q ON q.query_id = x.query_id
  JOIN base c ON c.vec_id = x.node
), v{h + 1} AS (
  SELECT * FROM v{h} UNION SELECT * FROM s{h}
)"""
    sql += f""", scored AS (
  SELECT query_id, node AS match_id, cosine FROM v{GS_HOPS}
)""" + _RANKED_TOPK_TAIL
    return sql


_GRAPH_SEARCH_SQL = _graph_search_sql()

register(QuerySpec(
    "similarity_graph_search", similarity_graph_search_query,
    _GRAPH_SEARCH_SQL,
    description=f"graph-expansion ANN search (seed-and-expand, the "
                f"NSW/DiskANN serving shape): IVF probe-1 seeds walked "
                f"{GS_HOPS} hops over the probe-2 kNN graph with a "
                f"beam of {GS_BEAM} — the graph's cross-cell edges "
                "recover the boundary neighbors whose loss the r13 "
                "clustered ladder measured as per-decade IVF recall "
                "decay; hops=0 degenerates to the IVF searcher, so "
                "recall is monotone in hops by construction"))


# --- persisted kNN graph (build-once / serve-many for graph expansion) -----------
#
# The graph-expansion searcher's 100 TB story needs the graph to be a
# persisted artifact like the IVF index (a kNN graph over 10^8 vectors
# is an N^1.5 cell-restricted build — nothing to recompute per query
# batch). Layout: adjacency rows with the NEIGHBOR'S quantized vector
# inline (the DiskANN trick — one pruned read per hop serves both
# expansion and exact scoring; no second corpus fetch), partitioned by
# a src-id bucket so each hop's scan is dynamically partition-pruned
# to the frontier's buckets (≤ |Q|·beam partitions of n_buckets).

GRAPH_BUCKETS = 64


def knn_graph_persist(emb: DataFrame, path: str, nprobe: int = 2) -> None:
    """Materialize the kNN graph for serving: adjacency + inline
    neighbor vectors, bucket-partitioned on the source id. ``meta/``
    records the build configuration (k, nprobe, n_buckets) — the
    searcher validates it at serve time, same discipline as the IVF
    index."""
    edges = knn_graph(emb, nprobe=nprobe)
    nbr = (emb.select(F.col("vec_id").alias("neighbor_id"),
                      quantize(F.col("embedding")).alias("nq"),
                      sq_norm(quantize(F.col("embedding"))).alias("nn2"))
           .filter(F.col("nn2") > 0))
    rows = (edges.select(F.col("vec_id").alias("src_id"), "neighbor_id")
            .join(nbr, "neighbor_id")
            .withColumn("bkt", F.pmod(F.col("src_id"),
                                      F.lit(GRAPH_BUCKETS))))
    rows.repartition("bkt").write.partitionBy("bkt") \
        .mode("overwrite").parquet(f"{path}/graph")
    literal_rows(emb.sparkSession, [(KNN_K, nprobe, GRAPH_BUCKETS)],
                 "k int, nprobe int, n_buckets int") \
        .coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def knn_graph_meta(spark: SparkSession, path: str) -> tuple:
    """Read the persisted graph's build configuration; raises if the
    relation is missing or malformed — a graph without its bucket
    count is not servable (the serve-side bucket derivation must match
    the build's or every pruned read misses)."""
    rows = spark.read.parquet(f"{path}/meta").collect()
    if len(rows) != 1:
        raise ValueError(
            f"kNN graph meta at {path}/meta must hold exactly one row, "
            f"got {len(rows)}")
    return int(rows[0].k), int(rows[0].nprobe), int(rows[0].n_buckets)


def graph_search_persisted(spark: SparkSession, index_path: str,
                           graph_path: str,
                           expect_nprobe: int = None) -> DataFrame:
    """Serve graph-expansion search from PERSISTED artifacts: seeds
    from the IVF index (``ann_index_search``, the partition-pruned
    probe-1 shortlist), hops over the persisted adjacency — each hop's
    scan dynamically partition-pruned to the frontier's buckets, with
    scoring vectors read inline from the adjacency rows. Results are
    identical to the inline :func:`graph_search` — persistence must
    change nothing, the same contract as the IVF index's."""
    from pyspark.sql import Window
    _gk, gnprobe, n_buckets = knn_graph_meta(spark, graph_path)
    if expect_nprobe is not None and gnprobe != expect_nprobe:
        raise ValueError(
            f"graph at {graph_path} was built with nprobe={gnprobe}, "
            f"caller expected {expect_nprobe}")
    g = spark.read.parquet(f"{graph_path}/graph")
    lists = spark.read.parquet(f"{index_path}/lists")
    queries = (lists.filter(_fixed_sample("id", QUERY_MOD, N_QUERIES))
               .select(F.col("id").alias("query_id"),
                       F.col("qv").alias("qq"),
                       F.col("n2").alias("qn2"))
               .localCheckpoint())
    visited = (ann_index_search(spark, index_path)
               .select("query_id", F.col("match_id").alias("node"),
                       "cosine")
               .localCheckpoint())
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("node"))
    for _ in range(GS_HOPS):
        frontier = (visited.withColumn("rnk", F.row_number().over(w))
                    .filter(F.col("rnk") <= GS_BEAM)
                    .select("query_id", "node",
                            F.pmod(F.col("node"),
                                   F.lit(n_buckets)).alias("bkt")))
        scored = _graph_hop(g, frontier, queries)
        visited = visited.unionByName(scored).distinct().localCheckpoint()
    return (visited.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", F.col("node").alias("match_id"),
                    "cosine", "rnk"))


def _graph_hop(g: DataFrame, frontier: DataFrame,
               queries: DataFrame) -> DataFrame:
    """One expansion hop over the persisted adjacency: the frontier's
    (bkt, node) pairs broadcast against the bucket-partitioned graph —
    the scan is dynamically partition-pruned to the frontier's buckets
    (plan-asserted in tests) — then exact scoring from the inline
    neighbor vectors."""
    cand = (g.join(F.broadcast(frontier),
                   (g["bkt"] == frontier["bkt"])
                   & (g["src_id"] == frontier["node"]))
            .select("query_id",
                    F.col("neighbor_id").alias("node"), "nq", "nn2")
            .filter(F.col("node") != F.col("query_id"))
            .dropDuplicates(["query_id", "node"])
            .join(F.broadcast(queries), "query_id"))
    return cand.select(
        "query_id", "node",
        (int_dot(F.col("qq"), F.col("nq")).cast("double")
         / (F.sqrt(F.col("qn2").cast("double"))
            * F.sqrt(F.col("nn2").cast("double")))).alias("cosine"))


def similarity_graph_persist_query(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Build the IVF index AND the kNN graph to disk, then serve the
    standard query sample entirely from the persisted relations. The
    oracle is the inline graph searcher's SQL verbatim — persistence
    must change NOTHING about the results."""
    import shutil
    import tempfile

    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    base = tempfile.mkdtemp(prefix="dcd_gsp_")
    try:
        ann_index_build(emb, f"{base}/idx")
        knn_graph_persist(emb, f"{base}/graph")
        return graph_search_persisted(
            spark, f"{base}/idx", f"{base}/graph",
            expect_nprobe=2).localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


register(QuerySpec(
    "similarity_graph_persist", similarity_graph_persist_query,
    _GRAPH_SEARCH_SQL,
    description="persisted graph-expansion serving (build once, serve "
                "many): the probe-2 kNN graph written as bucket-"
                "partitioned adjacency with inline neighbor vectors "
                "(one pruned read per hop serves expansion AND exact "
                "scoring), seeds from the persisted IVF index — "
                "results identical to the inline graph searcher (same "
                "oracle SQL verbatim)"))
