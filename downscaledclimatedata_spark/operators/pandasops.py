"""Grouped pandas-UDF operators: applyInPandas group transforms and
grouped-aggregate pandas UDFs.

These complete the engine's UDF surface (SURVEY §2.10): mapInPandas
(ingest/NetCDF decode) covers stateless batch maps, applyInPandasWithState
(streaming) covers keyed state — this module covers per-group dataframe
transforms and vectorized custom aggregates, the shapes a feature-
engineering pipeline reaches for when an aggregate isn't expressible as
built-in expressions.

Scale: groupBy().applyInPandas shuffles once on the key and hands each
group to Arrow as a single pandas frame — groups must fit in executor
memory (fine for per-user/per-entity groups; NOT for global transforms).
Float variants are unit-tested against in-Spark expression formulations;
the registered checks use exact variants (integer-space reductions, fixed
double expression order) that hash-match the DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from downscaledclimatedata_spark.plans import QuerySpec, register
from downscaledclimatedata_spark.sources.tables import load_table_parallel

ZSCORE_SCHEMA = ("user_id bigint, event_id bigint, value double, "
                 "zscore double")


def zscore_per_group(df: DataFrame) -> DataFrame:
    """Per-group z-score via applyInPandas (group-wise normalize — the
    canonical grouped-map example; ddof=0 so singleton groups yield 0)."""
    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        std = v.std(ddof=0)
        z = (v - v.mean()) / std if std > 0 else v * 0.0
        return pd.DataFrame({
            "user_id": pdf["user_id"], "event_id": pdf["event_id"],
            "value": v, "zscore": z,
        })

    return (df.select("user_id", "event_id", "value")
            .groupBy("user_id").applyInPandas(normalize, ZSCORE_SCHEMA))


def weighted_mean_agg(df: DataFrame) -> DataFrame:
    """Custom vectorized aggregate via a GROUPED_AGG pandas_udf:
    event-id-weighted mean of value per type."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wmean(v: pd.Series, w: pd.Series) -> float:
        tw = w.sum()
        return float((v * w).sum() / tw) if tw else 0.0

    w = (F.col("event_id") % 10 + 1).cast("double")
    # NB: a GROUPED_AGG pandas_udf cannot share an agg() with built-in
    # aggregate functions (INVALID_PANDAS_UDF_PLACEMENT)
    return (df.groupBy("event_type")
            .agg(wmean(F.col("value"), w).alias("weighted_mean")))


# --- exact variants (oracle-checkable) ----------------------------------------
#
# The float paths above reduce in numpy order and can't hash-match another
# engine. These variants take a pre-quantized integer column `xq`
# (floor(value*1000) as bigint — per-row, so deterministic), do every
# REDUCTION in exact int64 space inside pandas, and only then evaluate a
# fixed double expression. Identical integer sums + identical IEEE-754
# expression order ⇒ bit-identical doubles across pandas and DuckDB.
# int64 headroom: |xq| ≤ ~5e5 here, xq² ≤ 2.5e11 — exact past 1e6-row groups;
# beyond that switch the UDF sums to Python ints (object dtype).

ZSCORE_EXACT_SCHEMA = ("user_id bigint, event_id bigint, xq bigint, "
                       "zscore double")


def zscore_per_group_exact(df: DataFrame) -> DataFrame:
    """Per-group z-score over an integer column `xq`; exact int sums, then
    double math in a fixed order (matches the SQL oracle bit-for-bit)."""
    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        import math
        v = pdf["xq"]
        fn = float(len(v))
        # arbitrary-precision python ints: numpy int64 would WRAP
        # silently on xq² beyond ~3e9 (the oracle's HUGEINT sums match)
        vo = v.astype(object)
        m = float(int(vo.sum())) / fn
        var = float(int((vo * vo).sum())) / fn - m * m
        std = math.sqrt(var) if var > 0 else 0.0
        z = (v.astype("float64") - m) / std if std > 0 else v * 0.0
        return pd.DataFrame({
            "user_id": pdf["user_id"], "event_id": pdf["event_id"],
            "xq": v, "zscore": z,
        })

    return (df.select("user_id", "event_id", "xq")
            .groupBy("user_id").applyInPandas(normalize, ZSCORE_EXACT_SCHEMA))


def weighted_mean_agg_exact(df: DataFrame) -> DataFrame:
    """GROUPED_AGG pandas_udf weighted mean over integer columns xq, w:
    int64 numerator/denominator, one double division at the end."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wmean(xq: pd.Series, w: pd.Series) -> float:
        # object dtype -> python-int products; int64 would wrap silently
        num = int((xq.astype(object) * w.astype(object)).sum())
        den = int(w.sum())
        return float(num) / float(den) if den else 0.0

    return (df.groupBy("event_type")
            .agg(wmean(F.col("xq"), F.col("w")).alias("weighted_mean")))


# --- registered checks ---------------------------------------------------------

def _quantized_events(spark: SparkSession, sf_dir: str, key: str) -> DataFrame:
    ev = load_table_parallel(spark, sf_dir, "events", key=key)
    return ev.select(
        "user_id", "event_id", "event_type",
        F.floor(F.col("value") * F.lit(1000.0)).cast("bigint").alias("xq"),
        (F.col("event_id") % 10 + 1).alias("w"))


def pandas_zscore_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _quantized_events(spark, sf_dir, key="user_id")
    z = zscore_per_group_exact(ev)
    return (z.groupBy("user_id")
            .agg(F.count("*").alias("n"), F.max("zscore").alias("max_z")))


_ZSCORE_SQL = """
WITH q AS (
  SELECT user_id, event_id, CAST(FLOOR(value * 1000.0) AS BIGINT) AS xq
  FROM events
), g AS (
  SELECT user_id, COUNT(*) AS n,
         CAST(SUM(xq) AS DOUBLE) AS s,
         -- HUGEINT product: xq*xq overflows INT64 past |xq| ~ 3e9
         CAST(SUM(CAST(xq AS HUGEINT) * xq) AS DOUBLE) AS ss
  FROM q GROUP BY user_id
), z AS (
  SELECT q.user_id, q.xq,
         s / n AS m,
         ss / n - (s / n) * (s / n) AS var
  FROM q JOIN g USING (user_id)
)
SELECT user_id, COUNT(*) AS n,
       MAX(CASE WHEN var > 0 THEN (CAST(xq AS DOUBLE) - m) / SQRT(var)
                ELSE 0.0 END) AS max_z
FROM z GROUP BY user_id
"""


def pandas_weighted_mean_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _quantized_events(spark, sf_dir, key="event_id")
    return weighted_mean_agg_exact(ev)


_WMEAN_SQL = """
SELECT event_type,
  CASE WHEN SUM(w) > 0
       THEN CAST(SUM(CAST(xq AS HUGEINT) * w) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)
       ELSE 0.0 END AS weighted_mean
FROM (SELECT event_type, CAST(FLOOR(value * 1000.0) AS BIGINT) AS xq,
             event_id % 10 + 1 AS w
      FROM events)
GROUP BY event_type
"""


register(QuerySpec("pandas_zscore_groups", pandas_zscore_query, _ZSCORE_SQL,
                   description="applyInPandas per-group z-score (exact int sums -> fixed double expr)"))
register(QuerySpec("pandas_weighted_mean", pandas_weighted_mean_query, _WMEAN_SQL,
                   description="GROUPED_AGG pandas_udf weighted mean (exact int sums)"))


def compression_signals(df: DataFrame) -> DataFrame:
    """Per-document zlib compression ratio — the RedPajama/Dolma
    repetitiveness signal (highly repetitive or templated text
    compresses far below natural prose; near-random text ratios ≈ 1).

    This is a genuine Pandas-UDF case: no Catalyst expression computes
    DEFLATE, so the ratio runs as an Arrow-batched SCALAR_ITER pandas
    UDF — per-batch Python dispatch, C-speed zlib per row, no
    row-at-a-time pickling. No DuckDB oracle exists for DEFLATE either,
    so this operator is unit-gated against direct zlib, not
    spec-registered.

    Columns: raw/compressed byte counts and their ratio (1.0 for empty
    or NULL text — "compresses to itself").
    """
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<n_bytes: bigint, n_compressed: bigint, ratio: double>")
    def comp(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for s in batches:
            raw = s.fillna("").map(lambda t: t.encode("utf-8"))
            n = raw.map(len)
            c = raw.map(lambda b: len(zlib.compress(b, 6)))
            ratio = (c / n.where(n > 0)).fillna(1.0)
            yield pd.DataFrame(
                {"n_bytes": n, "n_compressed": c, "ratio": ratio})

    out = df.select(F.col("doc_id"), comp(F.col("text")).alias("z"))
    return out.select("doc_id", "z.n_bytes", "z.n_compressed", "z.ratio")


# --- Unicode normalization (NFC + accent fold) --------------------------------

def unicode_normalize_report(df: DataFrame) -> DataFrame:
    """Per-document Unicode normalization report: NFC canonical form
    and an accent-folded view (NFD, combining marks dropped) — the
    text-canonicalization step a multilingual corpus runs before
    dedup/hashing, since byte-different encodings of the SAME text
    ('café' composed vs decomposed) otherwise defeat every exact-hash
    operator downstream.

    Genuine Pandas-UDF case: Catalyst has no NFC expression, so the
    normalization runs as an Arrow-batched SCALAR_ITER pandas UDF over
    stdlib unicodedata. The report carries 60-bit md5 checksums of both
    normalized forms instead of the strings themselves — the oracle
    (DuckDB nfc_normalize / strip_accents, a DIFFERENT Unicode
    implementation: utf8proc vs Python's unicodedata) recomputes the
    hashes, so a green row certifies byte-identical normalization
    across two independent Unicode libraries, while the shuffle and
    the canon compare never carry document bodies. NULL text folds to
    '' in both engines.
    """
    import hashlib
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    def h60(t: str) -> int:
        return int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)

    @pandas_udf("struct<n_chars_raw: bigint, n_chars_nfc: bigint, "
                "nfc_changed: boolean, nfc_hash: bigint, "
                "n_chars_folded: bigint, fold_hash: bigint>")
    def norm(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for s in batches:
            raw = s.fillna("")
            nfc = raw.map(lambda t: unicodedata.normalize("NFC", t))
            folded = raw.map(lambda t: "".join(
                c for c in unicodedata.normalize("NFD", t)
                if not unicodedata.combining(c)))
            yield pd.DataFrame({
                "n_chars_raw": raw.map(len),
                "n_chars_nfc": nfc.map(len),
                "nfc_changed": (nfc != raw),
                "nfc_hash": nfc.map(h60),
                "n_chars_folded": folded.map(len),
                "fold_hash": folded.map(h60)})

    out = df.select(F.col("doc_id"), norm(F.col("text")).alias("u"))
    return out.select("doc_id", "u.n_chars_raw", "u.n_chars_nfc",
                      "u.nfc_changed", "u.nfc_hash", "u.n_chars_folded",
                      "u.fold_hash")


def prep_unicode_normalize_query(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return unicode_normalize_report(docs)


_UNICODE_SQL = """
WITH n AS (
  SELECT doc_id, coalesce(text, '') AS raw,
    nfc_normalize(coalesce(text, '')) AS nfc,
    strip_accents(coalesce(text, '')) AS folded
  FROM documents
)
SELECT doc_id,
  CAST(length(raw) AS BIGINT) AS n_chars_raw,
  CAST(length(nfc) AS BIGINT) AS n_chars_nfc,
  nfc <> raw AS nfc_changed,
  CAST(('0x' || substr(md5(nfc), 1, 15)) AS BIGINT) AS nfc_hash,
  CAST(length(folded) AS BIGINT) AS n_chars_folded,
  CAST(('0x' || substr(md5(folded), 1, 15)) AS BIGINT) AS fold_hash
FROM n
"""

register(QuerySpec(
    "prep_unicode_normalize", prep_unicode_normalize_query, _UNICODE_SQL,
    description="NFC + accent-fold normalization report: Python "
                "unicodedata vs DuckDB utf8proc certified byte-identical "
                "via 60-bit checksums; Arrow-batched, no document bodies "
                "in the shuffle"))


# --- capped running balance (inexpressible as window functions) ---------------

CAPBAL_CAP = 20_000   # balance ceiling, cents
CAPBAL_INFLOW = ("purchase", "signup")
CAPBAL_SCHEMA = ("user_id bigint, n_events bigint, final_balance bigint, "
                 "n_clamped_low bigint, n_clamped_high bigint")


def capped_balance(df: DataFrame) -> DataFrame:
    """Per-user running balance clamped to [0, CAPBAL_CAP] at every step —
    inventory-with-capacity / prepaid-wallet semantics.

    A one-sided clamp has a closed form (S_n - min(0, running-min S))
    and stays in window functions; the TWO-sided clamp does not — each
    step depends non-associatively on the previous clamped value, the
    textbook case for per-key imperative state. One shuffle on user_id,
    then each group folds in Arrow-batched pandas with python-int
    arithmetic (no int64 wrap), ordered by the deterministic
    (ts, event_id) tiebreak every sequential operator in the engine
    uses. Groups are per-user sequences — bounded; the 100 TB path
    shards by (user, epoch-window) with carried-in opening balances,
    the same shape as streaming's applyInPandasWithState twin.
    """
    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        bal, nlo, nhi = 0, 0, 0
        for d in pdf["delta"]:
            raw = bal + int(d)
            if raw < 0:
                bal, nlo = 0, nlo + 1
            elif raw > CAPBAL_CAP:
                bal, nhi = CAPBAL_CAP, nhi + 1
            else:
                bal = raw
        return pd.DataFrame({
            "user_id": pdf["user_id"].iloc[:1],
            "n_events": [len(pdf)], "final_balance": [bal],
            "n_clamped_low": [nlo], "n_clamped_high": [nhi]})

    cents = F.round(F.col("value") * 100).cast("bigint")
    deltas = df.select(
        "user_id", "ts", "event_id",
        F.when(F.col("event_type").isin(*CAPBAL_INFLOW), cents)
        .otherwise(-cents).alias("delta"))
    return deltas.groupBy("user_id").applyInPandas(fold, CAPBAL_SCHEMA)


def pandas_capped_balance_query(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    ev = load_table_parallel(spark, sf_dir, "events", key="user_id")
    return capped_balance(ev)


_CAPBAL_INFLOW_SQL = "(" + ", ".join(f"'{t}'" for t in CAPBAL_INFLOW) + ")"

_CAPBAL_SQL = f"""
WITH RECURSIVE seq AS (
  SELECT user_id,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
    CASE WHEN event_type IN {_CAPBAL_INFLOW_SQL}
         THEN CAST(round(value * 100) AS BIGINT)
         ELSE -CAST(round(value * 100) AS BIGINT) END AS delta
  FROM events
), users AS (
  SELECT user_id, COUNT(*) AS n FROM seq GROUP BY 1
), bal AS (
  SELECT user_id, 0 AS rn, CAST(0 AS BIGINT) AS bal,
         CAST(0 AS BIGINT) AS nlo, CAST(0 AS BIGINT) AS nhi
  FROM users
  UNION ALL
  SELECT s.user_id, s.rn,
    CAST(CASE WHEN b.bal + s.delta < 0 THEN 0
              WHEN b.bal + s.delta > {CAPBAL_CAP} THEN {CAPBAL_CAP}
              ELSE b.bal + s.delta END AS BIGINT),
    b.nlo + CASE WHEN b.bal + s.delta < 0 THEN 1 ELSE 0 END,
    b.nhi + CASE WHEN b.bal + s.delta > {CAPBAL_CAP} THEN 1 ELSE 0 END
  FROM bal b JOIN seq s ON s.user_id = b.user_id AND s.rn = b.rn + 1
)
SELECT u.user_id, CAST(u.n AS BIGINT) AS n_events,
  b.bal AS final_balance, b.nlo AS n_clamped_low, b.nhi AS n_clamped_high
FROM bal b JOIN users u ON u.user_id = b.user_id AND b.rn = u.n
"""

register(QuerySpec(
    "pandas_capped_balance", pandas_capped_balance_query, _CAPBAL_SQL,
    description="two-sided clamped running balance per user via "
                "applyInPandas python-int fold (non-associative — no "
                "window form exists); oracle is a recursive CTE"))


# --- vectorized cosine top-k: the Arrow/numpy twin of the JVM kernel --------------

def cosine_topk_vectorized(emb: DataFrame) -> DataFrame:
    """Brute-force cosine top-k where the per-batch scoring runs as ONE
    numpy int64 matmul inside mapInPandas — the vectorized-Python path
    for kernels the built-in expressions cannot express (here they can,
    which is the point: the Arrow twin must agree with the JVM fold and
    the DuckDB oracle bit-for-bit).

    Exactness: dots are int64 matmuls of the QUANTIZED vectors (exact —
    |component| <= QCLAMP so a 64-dim dot is <= 6.4e17, inside int64;
    numpy would wrap silently past that, which is why the clamp is part
    of the quantizer contract), and only the final
    ``dot / (sqrt(qn2) * sqrt(cn2))`` is floating — the identical
    per-pair IEEE expression all three implementations use, so no
    accumulation-order drift exists anywhere.

    Scale: the fixed query matrix (<= N_QUERIES rows by contract)
    ships inside the closure; each Arrow batch emits only its LOCAL
    top-k per query — global top-k under (cosine DESC, match_id) is a
    subset of the union of per-batch top-ks under the same order — so
    the final exact rank window runs over a <= batches*k*queries
    relation, never the corpus.
    """
    from downscaledclimatedata_spark.operators.similarity import (
        N_QUERIES, QUERY_MOD, TOP_K, _fixed_sample, quantize, sq_norm)
    from pyspark.sql import Window

    base = emb.select(
        F.col("vec_id"), quantize(F.col("embedding")).alias("q"))
    base = base.withColumn("n2", sq_norm(F.col("q"))).filter(
        F.col("n2") > 0)
    qrows = (base.filter(_fixed_sample("vec_id", QUERY_MOD, N_QUERIES))
             .select("vec_id", "q").collect())  # bounded by contract
    if not qrows:
        return emb.sparkSession.createDataFrame(
            [], "query_id long, match_id long, cosine double, rnk int")
    qids = [r["vec_id"] for r in qrows]
    qmat = [list(r["q"]) for r in qrows]

    def _score(batches):
        import numpy as np
        import pandas as pd
        qm = np.asarray(qmat, dtype=np.int64)          # (Q, D)
        qn = np.sqrt((qm * qm).sum(axis=1).astype(np.float64))
        qid = np.asarray(qids, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.asarray(list(pdf["q"]), dtype=np.int64)  # (B, D)
            cid = pdf["vec_id"].to_numpy(dtype=np.int64)
            cn = np.sqrt((cm * cm).sum(axis=1).astype(np.float64))
            dots = cm @ qm.T                            # exact int64
            cos = dots.astype(np.float64) / (cn[:, None] * qn[None, :])
            out_q, out_m, out_c = [], [], []
            for j in range(len(qid)):
                col = cos[:, j]
                mask = cid != qid[j]
                order = np.lexsort((cid[mask], -col[mask]))[:TOP_K]
                sel = np.flatnonzero(mask)[order]
                out_q.extend([qid[j]] * len(sel))
                out_m.extend(cid[sel].tolist())
                out_c.extend(col[sel].tolist())
            yield pd.DataFrame({"query_id": out_q, "match_id": out_m,
                                "cosine": out_c})

    partial = base.select("vec_id", "q").mapInPandas(
        _score, "query_id long, match_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "match_id")
    return (partial.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "match_id", "cosine",
                    F.col("rnk").cast("int").alias("rnk")))


def pandas_cosine_topk_query(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings", key="vec_id")
    return cosine_topk_vectorized(emb)


def _pandas_cosine_sql() -> str:
    from downscaledclimatedata_spark.operators.similarity import (
        _SIM_TOPK_SQL)
    # cosine_topk_quantized's rnk is bigint; this spec casts to int
    return _SIM_TOPK_SQL.replace(
        "SELECT query_id, match_id, cosine, rnk FROM ranked",
        "SELECT query_id, match_id, cosine, CAST(rnk AS INT) AS rnk "
        "FROM ranked")


register(QuerySpec(
    "pandas_cosine_topk", pandas_cosine_topk_query, _pandas_cosine_sql(),
    description="Arrow/numpy twin of the exact cosine top-k: int64 "
                "matmul per batch, per-batch partial top-k, final rank "
                "over a bounded relation — bit-identical to the JVM "
                "fold and the DuckDB oracle"))


# --- capped sessionization: the grouped-map op built-ins cannot express ------------

CAP_GAP_US = 1_800_000_000    # 30 min inactivity splits
CAP_SPAN_US = 7_200_000_000   # 2 h max session span splits


def capped_sessions(ev: DataFrame) -> DataFrame:
    """Sessions that split on EITHER a 30-minute inactivity gap OR a
    2-hour maximum span since the session started. The span cap makes
    this a true sequential recurrence — each row's session depends on
    the session START its predecessor chose, which `session_window`
    (gap-only) and window functions (no carried state) cannot express
    — so this is the principled applyInPandas escape hatch: sequential
    WITHIN each user's bounded group, parallel ACROSS users, exact
    integer microsecond arithmetic throughout.

    The oracle is a linear recursion (DuckDB WITH RECURSIVE walking
    rn -> rn+1 per user), the SQL spelling of the same recurrence.
    """
    def assign(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts_us", "event_id"])
        sids = []
        sid = -1
        start = prev = None
        for t in pdf["ts_us"]:
            t = int(t)
            if prev is None or t - prev > CAP_GAP_US or t - start > CAP_SPAN_US:
                sid += 1
                start = t
            prev = t
            sids.append(sid)
        pdf = pdf.assign(session_id=sids)
        g = pdf.groupby("session_id", as_index=False).agg(
            n_events=("event_id", "size"),
            start_us=("ts_us", "min"),
            end_us=("ts_us", "max"))
        g.insert(0, "user_id", pdf["user_id"].iloc[0])
        g["span_us"] = g["end_us"] - g["start_us"]
        return g[["user_id", "session_id", "n_events", "span_us"]]

    base = ev.select("user_id", "event_id",
                     F.unix_micros("ts").alias("ts_us"))
    return base.groupBy("user_id").applyInPandas(
        assign, "user_id long, session_id long, n_events long, "
                "span_us long")


def pandas_capped_sessions_query(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from downscaledclimatedata_spark.sources.tables import load_table
    return capped_sessions(load_table(spark, sf_dir, "events"))


_CAPPED_SESSIONS_SQL = f"""
WITH RECURSIVE numbered AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
    ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
), walk(user_id, rn, ts_us, sess_start, sid) AS (
  SELECT user_id, rn, ts_us, ts_us, 0 FROM numbered WHERE rn = 1
  UNION ALL
  SELECT n.user_id, n.rn, n.ts_us,
    CASE WHEN n.ts_us - w.ts_us > {CAP_GAP_US}
           OR n.ts_us - w.sess_start > {CAP_SPAN_US}
         THEN n.ts_us ELSE w.sess_start END,
    CASE WHEN n.ts_us - w.ts_us > {CAP_GAP_US}
           OR n.ts_us - w.sess_start > {CAP_SPAN_US}
         THEN w.sid + 1 ELSE w.sid END
  FROM walk w
  JOIN numbered n ON n.user_id = w.user_id AND n.rn = w.rn + 1
)
SELECT user_id, CAST(sid AS BIGINT) AS session_id,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS span_us
FROM walk GROUP BY user_id, sid
"""

register(QuerySpec(
    "pandas_capped_sessions", pandas_capped_sessions_query,
    _CAPPED_SESSIONS_SQL,
    description="gap-OR-span-capped sessionization: a true sequential "
                "recurrence (session depends on the start its "
                "predecessor chose) — applyInPandas per user, oracle = "
                "the same recurrence as a linear recursive CTE"))
