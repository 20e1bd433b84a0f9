"""Text analysis operators: token stats, quality scoring, language ID,
document fingerprinting.

All pure Catalyst expressions (split/filter/transform/aggregate/regexp) —
one narrow pass over the corpus, no shuffle except final aggregations, no
Python UDFs. Ratios divide exact integer counts so doubles are
bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from downscaledclimatedata_spark.functions.hashing import md5_long, md5_long_sql
from downscaledclimatedata_spark.functions.rows import literal_rows
from downscaledclimatedata_spark.plans import QuerySpec, register
from downscaledclimatedata_spark.sources.tables import load_table, load_table_parallel
from downscaledclimatedata_spark.functions.text import WS_RE

STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")

# marker vocabularies for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ("the", "a", "and", "of"),
    "es": ("el", "la", "de", "que"),
    "fr": ("le", "la", "et", "les"),
    "de": ("der", "die", "und", "das"),
    "zh": ("de5", "le5", "shi4", "zai4"),  # pinyin-romanized markers
}
_LANG_ORDER = ("en", "es", "fr", "de", "zh")  # deterministic tie-break order

_WORD_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _tokens(col: Column) -> Column:
    return F.filter(F.split(F.lower(col), WS_RE), lambda x: x != "")


def _safe_ratio(num: Column, den: Column) -> Column:
    """num/den as double, 0.0 when den = 0 (ANSI mode raises on x/0;
    empty documents are legal input)."""
    return F.when(den > 0, num.cast("double") / den.cast("double")) \
        .otherwise(F.lit(0.0))


def token_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Whitespace + regex (BPE-ish) token counts and length stats."""
    toks = _tokens(F.col(text_col))
    total_len = F.aggregate(F.transform(toks, F.length),
                            F.lit(0), lambda a, x: a + x)
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.regexp_count(F.col(text_col), F.lit(_WORD_RE)).alias("n_regex_tokens"),
        F.length(text_col).alias("n_chars"),
        _safe_ratio(total_len, F.size(toks)).alias("avg_token_len"),
    )


def quality_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Length/stopword/uniqueness heuristic quality score in [0,1]."""
    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_uniq = F.size(F.array_distinct(toks))
    stop_ratio = _safe_ratio(n_stop, n)
    uniq_ratio = _safe_ratio(n_uniq, n)
    len_score = F.least(n.cast("double") / F.lit(50.0), F.lit(1.0))
    score = (F.lit(0.4) * len_score + F.lit(0.3) * uniq_ratio
             + F.lit(0.3) * F.least(stop_ratio * 5, F.lit(1.0)))
    return df.select(
        F.col(id_col), n.alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        uniq_ratio.alias("unique_ratio"),
        score.alias("quality_score"),
    )


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Marker-vocabulary language scores + argmax prediction.

    Deterministic: ties resolve in _LANG_ORDER. (A production system
    would use char n-gram profiles; the operator shape — per-language
    score columns + argmax — is identical.)
    """
    toks = _tokens(F.col(text_col))
    cols = [F.col(id_col)]
    for lang in _LANG_ORDER:
        marker_arr = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        cols.append(F.size(F.filter(toks, lambda t: F.array_contains(marker_arr, t)))
                    .alias(f"score_{lang}"))
    scored = df.select(*cols)
    best = None
    for lang in _LANG_ORDER:
        cond = None
        for other in _LANG_ORDER:
            if other == lang:
                continue
            # strictly greater than later langs, >= earlier langs handled by order
            c = (F.col(f"score_{lang}") >= F.col(f"score_{other}")) \
                if _LANG_ORDER.index(other) > _LANG_ORDER.index(lang) \
                else (F.col(f"score_{lang}") > F.col(f"score_{other}"))
            cond = c if cond is None else (cond & c)
        term = F.when(cond, F.lit(lang))
        best = term if best is None else best.when(cond, F.lit(lang))
    return scored.select(
        id_col, *[f"score_{lang}" for lang in _LANG_ORDER],
        F.coalesce(best, F.lit(_LANG_ORDER[0])).alias("predicted_lang"))


def fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """60-bit content fingerprint of whitespace-normalized text."""
    norm = F.concat_ws(" ", _tokens(F.col(text_col)))
    return df.select(F.col(id_col), md5_long(norm).alias("fingerprint"))


# --- oracle-checked query entries -------------------------------------------

_TOKS_SQL = r"list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'), x -> x <> '')"


def text_token_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(load_table_parallel(spark, sf_dir, "documents", key="doc_id"), "text", "doc_id")


_TEXT_TOKENS_SQL = f"""
SELECT doc_id,
  len({_TOKS_SQL}) AS n_tokens,
  len(regexp_extract_all(text, '{_WORD_RE}')) AS n_regex_tokens,
  length(text) AS n_chars,
  CASE WHEN len({_TOKS_SQL}) > 0
       THEN CAST(list_sum(list_transform({_TOKS_SQL}, x -> length(x))) AS DOUBLE)
            / CAST(len({_TOKS_SQL}) AS DOUBLE)
       ELSE 0.0 END AS avg_token_len
FROM documents
"""


def text_quality_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_scores(load_table_parallel(spark, sf_dir, "documents", key="doc_id"), "text", "doc_id")


_STOP_LIST = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"
_TEXT_QUALITY_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
m AS (
  SELECT doc_id,
    len(toks) AS n_tokens,
    len(list_filter(toks, x -> list_contains({_STOP_LIST}, x))) AS n_stop,
    len(list_distinct(toks)) AS n_uniq
  FROM t
)
SELECT doc_id, n_tokens,
  CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       ELSE 0.0 END AS stopword_ratio,
  CASE WHEN n_tokens > 0 THEN CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       ELSE 0.0 END AS unique_ratio,
  0.4 * least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
    + 0.3 * (CASE WHEN n_tokens > 0 THEN CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END)
    + 0.3 * least((CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) * 5, 1.0) AS quality_score
FROM m
"""


def text_langid_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(load_table_parallel(spark, sf_dir, "documents", key="doc_id"), "text", "doc_id")


def _langid_sql() -> str:
    score_cols = ",\n    ".join(
        f"len(list_filter(toks, x -> list_contains(["
        + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        + f"], x))) AS score_{lang}"
        for lang in _LANG_ORDER)
    # argmax with _LANG_ORDER tie-break
    cases = []
    for lang in _LANG_ORDER:
        conds = []
        for other in _LANG_ORDER:
            if other == lang:
                continue
            op = ">=" if _LANG_ORDER.index(other) > _LANG_ORDER.index(lang) else ">"
            conds.append(f"score_{lang} {op} score_{other}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{_LANG_ORDER[0]}' END"
    cols = ", ".join(f"score_{lang}" for lang in _LANG_ORDER)
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
s AS (SELECT doc_id,
    {score_cols}
  FROM t)
SELECT doc_id, {cols}, {case_sql} AS predicted_lang FROM s
"""


def text_fingerprint_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprints(load_table_parallel(spark, sf_dir, "documents", key="doc_id"), "text", "doc_id")


_TEXT_FINGERPRINT_SQL = f"""
SELECT doc_id, {md5_long_sql(f"coalesce(array_to_string({_TOKS_SQL}, ' '), '')")} AS fingerprint
FROM documents
"""


def text_rolling_hash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp polynomial rolling hash over the token stream: a true
    order-sensitive document fingerprint (unlike the md5-of-joined-text
    one, this composes incrementally and supports windowed substring
    fingerprinting at scale). Fold stays JVM-side via `aggregate`."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    toks = F.filter(F.split(F.lower("text"), WS_RE), lambda x: x != "")
    hashes = F.transform(toks, lambda t: md5_long(t) % F.lit(2147483647))
    # NULL text hashes like an empty doc (0 = the fold's initial acc),
    # explicitly on both sides — not left to engine NULL propagation
    safe = F.coalesce(hashes, F.array().cast("array<bigint>"))
    poly = F.aggregate(safe, F.lit(0).cast("long"),
                       lambda acc, h: (acc * 31 + h) % 2147483647)
    return docs.select("doc_id", poly.alias("rolling_hash"))


_TEXT_ROLLING_SQL = f"""
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      coalesce(list_transform({_TOKS_SQL}, x -> {md5_long_sql('x')} % 2147483647),
               [])),
    (acc, h) -> (acc * 31 + h) % 2147483647) AS rolling_hash
FROM documents
"""


# --- TF-IDF-style top terms (corpus-relative term relevance) -----------------

def top_terms(df: DataFrame, text_col: str, id_col: str, k: int = 5) -> DataFrame:
    """Per-doc top-k terms by corpus-relative relevance.

    Classic TF-IDF plan shape at scale: explode to (doc, term), one
    aggregation for term frequency (shuffle on (doc, term) — uniform),
    one for document frequency (map-side partial, shuffle on term), an
    equi-join back on term, then a per-doc top-k window. At 100 TB each
    shuffle carries counts, not text.

    Ranking uses the exact integer key (tf DESC, df ASC, term) rather
    than tf*ln(N/df): ln is not required to be correctly rounded by
    IEEE-754, so cross-engine hashes could flip on a 1-ulp boundary; the
    integer ordering keeps the oracle exact (monotone in tf and 1/df —
    the same greedy relevance direction). A production scorer multiplies
    the same joined relation by log(N/df) — identical plan.
    """
    from pyspark.sql import Window
    terms = df.select(F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # df as a count window over tf instead of a groupBy+self-join: the
    # join would re-evaluate the whole tf subtree (double corpus scan);
    # the window reuses tf's output with one extra shuffle on term
    w_term = Window.partitionBy("term")
    w_doc = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term"))
    return (tf.withColumn("df", F.count("*").over(w_term))
            .withColumn("rnk", F.row_number().over(w_doc))
            .filter(F.col("rnk") <= k)
            .select(id_col, "term", "tf", "df", "rnk"))


def text_top_terms_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_terms(load_table_parallel(spark, sf_dir, "documents", key="doc_id"), "text", "doc_id")


_TEXT_TOP_TERMS_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                       ORDER BY tf.tf DESC, dfreq.df ASC, tf.term) AS rnk
  FROM tf JOIN dfreq USING (term)
)
SELECT doc_id, term, tf, df, rnk FROM ranked WHERE rnk <= 5
"""


# --- PMI collocations ---------------------------------------------------------

def collocations(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Top-k bigram collocations by a PMI-monotone integer score.

    PMI = log(p(xy) / (p(x)p(y))) ranks identically to the exact integer
    score n_xy * N_uni * 1_000_000 div (n_x * n_y) (log is monotone; the
    div keeps everything in int64) — so the oracle is exact where a
    log-based score would be 1-ulp-fragile cross-engine. Plan shape:
    explode bigrams -> count (shuffle ∝ distinct bigrams), explode
    unigrams -> count, two joins of bigram counts to unigram counts
    (shuffle on term), global top-k (TakeOrdered). The count-5 floor prunes the
    long tail BEFORE the joins — at 100 TB that's the difference between
    joining billions vs millions of bigram rows.

    int64 headroom: n_xy * n_total * 1e6 fits while n_xy * n_total <
    ~9e12; for corpora beyond that, rank by the equivalent double
    log-PMI (ordering there no longer needs cross-engine bit equality).
    """
    from downscaledclimatedata_spark.operators.dedup import shingles_of_tokens
    toked = df.select(F.col(id_col), _tokens(F.col(text_col)).alias("_toks"))
    bigrams = toked.select(F.explode(
        shingles_of_tokens(F.col("_toks"), 2)).alias("bigram"))
    uni = toked.select(F.explode("_toks").alias("term"))
    n_uni = uni.agg(F.count("*").alias("n_total"))
    uc = uni.groupBy("term").agg(F.count("*").alias("n_term"))
    bc = (bigrams.groupBy("bigram").agg(F.count("*").alias("n_xy"))
          .filter(F.col("n_xy") >= 5)
          .withColumn("x", F.substring_index("bigram", " ", 1))
          .withColumn("y", F.substring_index("bigram", " ", -1)))
    scored = (bc.join(uc.select(F.col("term").alias("x"),
                                F.col("n_term").alias("n_x")), "x")
              .join(uc.select(F.col("term").alias("y"),
                              F.col("n_term").alias("n_y")), "y")
              .crossJoin(F.broadcast(n_uni))
              .select("bigram", "n_xy", "n_x", "n_y",
                      F.expr("n_xy * n_total * 1000000 div (n_x * n_y)")
                      .alias("pmi_score")))
    return (scored.orderBy(F.col("pmi_score").desc(), F.col("bigram"))
            .limit(20))


def text_collocations_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return collocations(load_table_parallel(spark, sf_dir, "documents", key="doc_id"), "text", "doc_id")


_TEXT_COLLOC_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
bi AS (
  SELECT toks[i] || ' ' || toks[i+1] AS bigram
  FROM t, LATERAL (SELECT UNNEST(range(1, greatest(len(toks) - 1, 0) + 1)) AS i) idx
),
uni AS (SELECT UNNEST(toks) AS term FROM t),
n_uni AS (SELECT COUNT(*) AS n_total FROM uni),
uc AS (SELECT term, COUNT(*) AS n_term FROM uni GROUP BY term),
bc AS (
  SELECT bigram, COUNT(*) AS n_xy,
    string_split(bigram, ' ')[1] AS x, string_split(bigram, ' ')[2] AS y
  FROM bi GROUP BY bigram HAVING COUNT(*) >= 5
)
SELECT bigram, n_xy, ux.n_term AS n_x, uy.n_term AS n_y,
  CAST(n_xy * n_total * 1000000 // (ux.n_term * uy.n_term) AS BIGINT) AS pmi_score
FROM bc
JOIN uc ux ON ux.term = bc.x
JOIN uc uy ON uy.term = bc.y
CROSS JOIN n_uni
ORDER BY pmi_score DESC, bigram
LIMIT 20
"""


register(QuerySpec("text_collocations", text_collocations_query, _TEXT_COLLOC_SQL,
                   description="top-k PMI bigram collocations via integer-exact PMI-monotone score"))


# --- Gopher-style repetition / quality flags ---------------------------------

def repetition_flags(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Repetition-based quality gates in the spirit of the Gopher rules
    (Rae et al. 2021, §A1.1): most-frequent-token fraction, duplicate
    2-gram fraction, and a minimum length, each as an exact flag.

    Fractions are compared by integer cross-multiplication
    (cnt * denom > n * num) so flags never depend on float rounding;
    ratio columns are emitted as exact single-division doubles for
    reporting. All per-row array expressions — one narrow corpus pass,
    no shuffle, no Python.
    """
    # materialize tokens/bigrams through projections — inlining the
    # split+filter expression would re-evaluate it per reference (the
    # same trap shingles_of_tokens documents)
    toks = F.col("_toks")
    n = F.size(toks)
    staged = df.select(
        F.col(id_col), _tokens(F.col(text_col)).alias("_toks"))
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>"))  # sequence descends when stop < start
    staged = staged.select(
        id_col, "_toks",
        F.transform(idx, lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1))).alias("_bi"))
    top_cnt = F.coalesce(
        F.array_max(F.transform(
            F.array_distinct(toks),
            lambda t: F.size(F.filter(toks, lambda x: x == t)))),
        F.lit(0))
    staged = staged.select(
        id_col, "_toks", "_bi", top_cnt.alias("_top_cnt"),
        (F.size("_bi") - F.size(F.array_distinct("_bi"))).alias("_dup_bi"))
    tt_num, tt_den = (1, 5)
    db_num, db_den = (3, 10)
    return staged.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.col("_top_cnt").alias("top_token_count"),
        F.col("_dup_bi").alias("dup_bigram_count"),
        _safe_ratio(F.col("_top_cnt"), n).alias("top_token_frac"),
        (n < 20).alias("flag_too_short"),
        (F.col("_top_cnt") * tt_den > n * tt_num).alias("flag_repetitive_token"),
        (F.col("_dup_bi") * db_den > F.size("_bi") * db_num).alias("flag_repetitive_bigram"),
    )


def text_repetition_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_flags(load_table_parallel(spark, sf_dir, "documents", key="doc_id"), "text", "doc_id")


_TEXT_REPETITION_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
m AS (
  SELECT doc_id, toks, len(toks) AS n,
    coalesce(list_max(list_transform(list_distinct(toks),
             t -> len(list_filter(toks, x -> x = t)))), 0) AS top_cnt,
    CASE WHEN len(toks) >= 2
         THEN list_transform(range(1, len(toks)),
              i -> toks[i] || ' ' || toks[i+1])
         ELSE [] END AS bigrams
  FROM t
),
b AS (
  SELECT doc_id, n, top_cnt,
    len(bigrams) AS n_bi,
    len(bigrams) - len(list_distinct(bigrams)) AS dup_bi
  FROM m
)
SELECT doc_id,
  n AS n_tokens,
  top_cnt AS top_token_count,
  dup_bi AS dup_bigram_count,
  CASE WHEN n > 0 THEN CAST(top_cnt AS DOUBLE) / CAST(n AS DOUBLE)
       ELSE 0.0 END AS top_token_frac,
  n < 20 AS flag_too_short,
  top_cnt * 5 > n * 1 AS flag_repetitive_token,
  dup_bi * 10 > n_bi * 3 AS flag_repetitive_bigram
FROM b
"""


register(QuerySpec("text_top_terms", text_top_terms_query, _TEXT_TOP_TERMS_SQL,
                   headline=True,
                   description="per-doc top-k terms, TF-IDF plan shape with exact integer ranking"))
register(QuerySpec("text_repetition_flags", text_repetition_query, _TEXT_REPETITION_SQL,
                   description="Gopher-style repetition gates (top-token / dup-bigram fractions, exact flags)"))
register(QuerySpec("text_rolling_hash", text_rolling_hash_query, _TEXT_ROLLING_SQL,
                   description="Rabin-Karp polynomial rolling-hash fingerprint over the token stream"))
register(QuerySpec("text_token_stats", text_token_stats_query, _TEXT_TOKENS_SQL,
                   description="whitespace + regex token counting, length stats"))
register(QuerySpec("text_quality", text_quality_query, _TEXT_QUALITY_SQL, headline=True,
                   description="heuristic quality scoring (length/stopword/uniqueness)"))
register(QuerySpec("text_langid", text_langid_query, _langid_sql(),
                   description="marker-vocabulary language ID with deterministic argmax"))
register(QuerySpec("text_fingerprint", text_fingerprint_query, _TEXT_FINGERPRINT_SQL,
                   description="60-bit md5 content fingerprint of normalized text"))


# --- sliding-window document chunking (context-window preprocessing) -----------

CHUNK_W = 64   # window size in tokens
CHUNK_S = 48   # stride (W - S = 16-token overlap)


def chunk_windows(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Explode each document into overlapping fixed-size token windows —
    the context-window chunking step of a training pipeline (long doc ->
    N model-sized sequences with overlap so no boundary context is lost).

    One narrow pass: chunk starts are a ``F.sequence`` up to the FIRST
    start whose window reaches the end of the doc (a naive
    while-start<n rule would emit a final chunk fully contained in the
    previous window); the fan-out is a single ``explode`` (no shuffle at
    all until a consumer aggregates). Returns
    (id, chunk_idx, chunk_start, chunk_len) with chunk_len =
    min(window, n - start); empty docs produce no rows.
    """
    toked = df.select(F.col(id_col), _tokens(F.col(text_col)).alias("_toks"))
    n = F.size("_toks")
    # last start = stride * ceil((n - window)/stride) when n > window
    # (the first start covering the doc tail), else 0
    last = F.when(
        n > CHUNK_W,
        ((n - CHUNK_W + (CHUNK_S - 1)) / CHUNK_S).cast("int") * CHUNK_S
    ).otherwise(F.lit(0))
    starts = F.when(n > 0, F.sequence(F.lit(0), last, F.lit(CHUNK_S))) \
        .otherwise(F.array().cast("array<int>"))
    chunks = toked.select(
        F.col(id_col), n.alias("n_tokens"),
        F.posexplode(starts).alias("chunk_idx", "chunk_start"))
    return chunks.select(
        F.col(id_col), "chunk_idx", "chunk_start",
        F.least(F.lit(CHUNK_W), F.col("n_tokens") - F.col("chunk_start"))
        .alias("chunk_len"))


def text_chunk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-length histogram over the corpus: full windows collapse to
    one bucket, tail windows spread below it — verifies the window/stride
    arithmetic and the explode fan-out exactly."""
    from downscaledclimatedata_spark.sources.tables import load_table_parallel
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return (chunk_windows(docs, "text", "doc_id")
            .groupBy("chunk_len")
            .agg(F.count("*").alias("n_chunks"),
                 F.countDistinct("doc_id").alias("n_docs")))


_TEXT_CHUNK_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
), sized AS (
  SELECT doc_id, len(t) AS n FROM toks WHERE len(t) > 0
), bounded AS (
  SELECT doc_id, n,
    CASE WHEN n > {CHUNK_W}
         THEN ((n - {CHUNK_W} + {CHUNK_S - 1}) // {CHUNK_S}) * {CHUNK_S}
         ELSE 0 END AS last_start
  FROM sized
), chunks AS (
  SELECT doc_id, LEAST({CHUNK_W}, n - start) AS chunk_len
  FROM bounded, LATERAL (
    SELECT UNNEST(range(0, last_start + 1, {CHUNK_S})) AS start) s
)
SELECT chunk_len, COUNT(*) AS n_chunks, COUNT(DISTINCT doc_id) AS n_docs
FROM chunks GROUP BY chunk_len
"""


register(QuerySpec("text_chunk_windows", text_chunk_query, _TEXT_CHUNK_SQL,
                   description=f"overlapping {CHUNK_W}-token windows at stride {CHUNK_S}: chunk-length histogram (explode fan-out, no shuffle before agg)"))


# --- vocabulary build + broadcast-join token encoding ---------------------------

VOCAB_N = 512


def build_vocab(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Top-``VOCAB_N`` tokens by corpus frequency with dense integer
    ids — the vocabulary-construction half of tokenization. One hash
    aggregation over exploded tokens (map-side partial counts), then a
    TakeOrderedAndProject for the top-N and a row_number over the tiny
    N-row relation. Ties break lexicographically so ids are deterministic.
    """
    from pyspark.sql import Window
    counts = (df.select(F.explode(_tokens(F.col(text_col))).alias("token"))
              .groupBy("token").agg(F.count("*").alias("freq")))
    top = counts.orderBy(F.col("freq").desc(), F.col("token")).limit(VOCAB_N)
    w = Window.orderBy(F.col("freq").desc(), F.col("token"))
    return top.select("token", "freq",
                      (F.row_number().over(w) - 1).alias("token_id"))


def encode_tokens(df: DataFrame, vocab: DataFrame, text_col: str,
                  id_col: str) -> DataFrame:
    """Encode each doc against the vocabulary via a BROADCAST join —
    the scale shape of tokenization (vocab is small and replicated; the
    token stream never shuffles). Returns per-doc
    (n_tokens, n_oov, id_checksum) with OOV tokens counted, not dropped;
    id_checksum = sum of matched ids (exact ints) certifies the exact
    id assignment without emitting an array column.
    """
    toks = df.select(F.col(id_col),
                     F.explode(_tokens(F.col(text_col))).alias("token"))
    joined = toks.join(F.broadcast(vocab.select("token", "token_id")),
                       "token", "left")
    return (joined.groupBy(id_col)
            .agg(F.count("*").alias("n_tokens"),
                 F.sum(F.when(F.col("token_id").isNull(), 1).otherwise(0))
                 .alias("n_oov"),
                 F.sum(F.coalesce("token_id", F.lit(0))).alias("id_checksum")))


def text_vocab_encode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from downscaledclimatedata_spark.sources.tables import load_table_parallel
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    vocab = build_vocab(docs, "text", "doc_id")
    return encode_tokens(docs, vocab, "text", "doc_id")


_TEXT_VOCAB_SQL = f"""
WITH toks AS (
  SELECT doc_id, UNNEST({_TOKS_SQL}) AS token FROM documents
), counts AS (
  SELECT token, COUNT(*) AS freq FROM toks GROUP BY token
), vocab AS (
  SELECT token,
    ROW_NUMBER() OVER (ORDER BY freq DESC, token) - 1 AS token_id
  FROM counts ORDER BY freq DESC, token LIMIT {VOCAB_N}
)
SELECT t.doc_id,
  COUNT(*) AS n_tokens,
  CAST(SUM(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
  CAST(SUM(COALESCE(v.token_id, 0)) AS BIGINT) AS id_checksum
FROM toks t LEFT JOIN vocab v ON v.token = t.token
GROUP BY t.doc_id
"""


register(QuerySpec("text_vocab_encode", text_vocab_encode_query, _TEXT_VOCAB_SQL,
                   description=f"top-{VOCAB_N} vocabulary build + broadcast-join token encoding (n_tokens/n_oov/id-checksum per doc)"))


# --- BM25 ranked retrieval over the corpus --------------------------------------

BM25_TERMS = ("table", "merge", "vector")  # fixed query term set
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPN = 25


def bm25_topk(df: DataFrame, text_col: str, id_col: str,
              terms: tuple[str, ...] = BM25_TERMS,
              k1: float = BM25_K1, b: float = BM25_B,
              topn: int = BM25_TOPN) -> DataFrame:
    """BM25 ranked retrieval for a fixed multi-term query.

    Scoring uses the ratio idf variant (N - df + ½)/(df + ½) instead of
    its logarithm: ln() is not required to be correctly rounded by IEEE
    754 so Spark and DuckDB may differ in the last ulp, while +, ×, ÷,
    on the exact integer inputs here are — the score is bit-identical
    cross-engine (same discipline as top_terms/collocations above).
    The per-term sum is written as a fixed left-associated expression,
    not an aggregate, for the same reason.

    Scale: per-document term frequencies are per-row array expressions
    (no explode, no shuffle); the corpus statistics (N, Σdl, per-term
    document frequencies) are ONE single-row aggregate broadcast back
    via crossJoin; top-n is TakeOrderedAndProject (per-partition heads,
    never a global sort). Two narrow passes over the corpus, zero wide
    shuffles — the inverted-index-free scoring shape that works when the
    query set is small and fixed; for large query workloads build the
    (term, doc, tf) relation once instead.
    """
    toks = _tokens(F.col(text_col))

    def _tf(term: str):  # closure: a 2-arg lambda would bind the array index
        return F.size(F.filter(toks, lambda x: x == term)).cast("bigint")

    base = df.select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("dl"),
        *[_tf(t).alias(f"tf_{i}") for i, t in enumerate(terms)])
    base = base.localCheckpoint()  # tokenize once: stats pass + score pass
    stats = base.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"df_{i}")
          for i in range(len(terms))])
    scored = base.crossJoin(F.broadcast(stats))
    # all-empty corpus: avgdl's value is irrelevant (every tf = 0 ->
    # every score term is 0) but it must not divide by zero; pin 1.0
    avgdl = F.when(F.col("sum_dl") > 0,
                   F.col("sum_dl").cast("double")
                   / F.col("n_docs").cast("double")).otherwise(F.lit(1.0))
    norm = F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / avgdl)
    score = None
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}").cast("double")
        idf = ((F.col("n_docs") - F.col(f"df_{i}")).cast("double") + F.lit(0.5)) \
            / (F.col(f"df_{i}").cast("double") + F.lit(0.5))
        part = idf * ((tf * F.lit(k1 + 1.0)) / (tf + F.lit(k1) * norm))
        score = part if score is None else score + part
    ranked = scored.select(
        F.col(id_col), F.col("dl"),
        *[F.col(f"tf_{i}").alias(f"tf_{t}") for i, t in enumerate(terms)],
        score.alias("bm25"))
    return ranked.orderBy(F.col("bm25").desc(), F.col(id_col)).limit(topn)


def text_bm25_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from downscaledclimatedata_spark.sources.tables import load_table
    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, "text", "doc_id")


def _bm25_sql() -> str:
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
    # left-associated like the Spark expression: ((p0 + p1) + p2)
    score = parts[0]
    for p in parts[1:]:
        score = f"({score} + {p})"
    tf_out = ", ".join(f"tf_{i} AS tf_{t}" for i, t in enumerate(BM25_TERMS))
    return f"""
WITH toked AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
), base AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
    {tf_cols}
  FROM toked
), stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
    {df_cols}
  FROM base
)
SELECT doc_id, dl, {tf_out},
  {score} AS bm25
FROM base CROSS JOIN stats
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_TOPN}
"""


register(QuerySpec(
    "text_bm25_search", text_bm25_query, _bm25_sql(),
    description=f"BM25 top-{BM25_TOPN} retrieval for a fixed "
                f"{len(BM25_TERMS)}-term query: single-row stats "
                "broadcast, per-row tf arrays, TakeOrderedAndProject "
                "top-n — zero wide shuffles"))


# --- corpus drift: token-distribution divergence between two corpora ------------

DRIFT_TOPK = 10


def corpus_drift(ref_df: DataFrame, new_df: DataFrame) -> DataFrame:
    """Top drifting tokens between two corpora + the total-variation
    distance — the monitoring op a pipeline runs between crawl
    snapshots (did the token distribution move?).

    TV distance = Σ|c_ref·N_new − c_new·N_ref| / (2·N_ref·N_new), kept
    in exact integer arithmetic until one final double division, so the
    statistic is bit-identical cross-engine (no float sums over the
    vocabulary — the sum happens on exact int64). Domain: exact while
    c·N < 2⁶³ (≈10⁹-token corpora with 10⁹-count tokens); beyond that,
    cast the products to DECIMAL(38,0) — same expression shape.

    Scale: one explode+count per corpus (shuffle keyed on token), a
    full-outer equi-join on token, one single-row total broadcast; top-k
    is TakeOrderedAndProject. Returns the ``DRIFT_TOPK`` largest-drift tokens
    with (c_ref, c_new, drift_num) and the corpus-level tv_distance
    repeated on every row (one relation, no second job).
    """
    def counts(df, side):
        toks = _tokens(F.col("text"))
        return (df.select(F.explode(toks).alias("token"))
                .groupBy("token").agg(F.count("*").alias(f"c_{side}")))

    joined = (counts(ref_df, "ref")
              .join(counts(new_df, "new"), "token", "full_outer")
              .select("token",
                      F.coalesce(F.col("c_ref"), F.lit(0)).alias("c_ref"),
                      F.coalesce(F.col("c_new"), F.lit(0)).alias("c_new")))
    totals = joined.agg(F.sum("c_ref").alias("n_ref"),
                        F.sum("c_new").alias("n_new"))
    scored = (joined.crossJoin(F.broadcast(totals))
              .withColumn("drift_num",
                          F.abs(F.col("c_ref") * F.col("n_new")
                                - F.col("c_new") * F.col("n_ref"))))
    tv = scored.agg(
        F.sum("drift_num").alias("tv_num"),
        F.first("n_ref").alias("n_ref"), F.first("n_new").alias("n_new"))
    ranked = (scored.select("token", "c_ref", "c_new", "drift_num")
              .orderBy(F.col("drift_num").desc(), F.col("token"))
              .limit(DRIFT_TOPK))
    # one side empty (comparing against an empty corpus): TV is 1.0 by
    # convention — the guard also keeps ANSI mode from dividing by zero
    tv_expr = F.when(
        (F.col("n_ref") > 0) & (F.col("n_new") > 0),
        F.col("tv_num").cast("double")
        / (F.lit(2.0) * (F.col("n_ref") * F.col("n_new")).cast("double"))
    ).otherwise(F.lit(1.0))
    return (ranked.crossJoin(F.broadcast(tv))
            .select("token", "c_ref", "c_new", "drift_num",
                    tv_expr.alias("tv_distance")))


def text_corpus_drift_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from downscaledclimatedata_spark.functions.hashing import md5_long
    from downscaledclimatedata_spark.sources.tables import load_table
    docs = load_table(spark, sf_dir, "documents")
    is_ref = md5_long(F.col("source"), seed="xsplit:") % 2 == 0
    return corpus_drift(docs.filter(is_ref), docs.filter(~is_ref))


def _corpus_drift_sql() -> str:
    from downscaledclimatedata_spark.functions.hashing import md5_long_sql
    split = f"({md5_long_sql('source', seed='xsplit:')}) % 2 = 0"
    return f"""
WITH toks AS (
  SELECT ({split}) AS is_ref, unnest({_TOKS_SQL}) AS token FROM documents
), cr AS (
  SELECT token, COUNT(*) AS c_ref FROM toks WHERE is_ref GROUP BY token
), cn AS (
  SELECT token, COUNT(*) AS c_new FROM toks WHERE NOT is_ref GROUP BY token
), joined AS (
  SELECT coalesce(cr.token, cn.token) AS token,
    CAST(coalesce(c_ref, 0) AS BIGINT) AS c_ref,
    CAST(coalesce(c_new, 0) AS BIGINT) AS c_new
  FROM cr FULL OUTER JOIN cn ON cn.token = cr.token
), totals AS (
  SELECT CAST(SUM(c_ref) AS BIGINT) AS n_ref,
         CAST(SUM(c_new) AS BIGINT) AS n_new FROM joined
), scored AS (
  SELECT token, c_ref, c_new,
    abs(c_ref * n_new - c_new * n_ref) AS drift_num, n_ref, n_new
  FROM joined CROSS JOIN totals
), tv AS (
  SELECT CAST(SUM(drift_num) AS BIGINT) AS tv_num,
    any_value(n_ref) AS n_ref, any_value(n_new) AS n_new
  FROM scored
)
SELECT token, c_ref, c_new, CAST(drift_num AS BIGINT) AS drift_num,
  CASE WHEN tv.n_ref > 0 AND tv.n_new > 0
       THEN CAST(tv_num AS DOUBLE) / (2.0 * CAST(tv.n_ref * tv.n_new AS DOUBLE))
       ELSE 1.0 END AS tv_distance
FROM scored CROSS JOIN tv
ORDER BY drift_num DESC, token LIMIT {DRIFT_TOPK}
"""


register(QuerySpec(
    "text_corpus_drift", text_corpus_drift_query, _corpus_drift_sql(),
    description="token-distribution drift between corpus halves: exact-"
                f"integer total-variation distance + top-{DRIFT_TOPK} "
                "drifting tokens, one explode+count per corpus"))


# --- Heaps-law vocabulary growth curve ------------------------------------------

GROWTH_BUCKETS = 8


def vocab_growth(df: DataFrame, n_buckets: int = GROWTH_BUCKETS) -> DataFrame:
    """Vocabulary growth curve (Heaps' law diagnostic): cumulative
    distinct-type count vs cumulative token count over ``n_buckets``
    equal doc-id slices of the corpus — the sizing curve a tokenizer /
    vocab budget decision reads (does type growth flatten, and where?).

    Exact, not sampled: a type's first appearance is ``min(doc_id)``
    per token (one hash aggregate with map-side partial min — the
    inherent cost of exact distinct-type counting), so the cumulative
    type count at bucket b is just the count of tokens first seen at
    or before b. Token mass per bucket rides a per-doc projection —
    the corpus-scale explode is never materialized twice.

    Bucketing is integer-exact in both engines: ``rid = doc_id -
    min_id``, width ``W = (max_id - min_id) div K + 1``, bucket =
    ``rid div W`` (truncating integer division — Spark ``div`` and
    DuckDB ``//`` agree on nonnegative operands, and ``rid`` is
    nonnegative by construction). The final cumulative window runs
    over exactly ``n_buckets`` rows.

    Scale: one token-keyed aggregate (partial-min combine), one
    doc-keyed projection aggregate, two K-row relations joined and
    windowed — no corpus-scale sort, no skew-prone key (token-keyed
    aggregation partial-combines the stopword head on the map side).
    """
    bounds = F.broadcast(df.agg(
        F.min(F.col("doc_id")).alias("min_id"),
        F.max(F.col("doc_id")).alias("max_id")))
    toks = df.select(F.col("doc_id"),
                     F.explode(_tokens(F.col("text"))).alias("token"))
    first = (toks.groupBy("token")
             .agg(F.min(F.col("doc_id")).alias("first_seen")))
    bucket_of = lambda c: F.expr(  # noqa: E731 — shared exact bucketing
        f"({c} - min_id) div ((max_id - min_id) div {n_buckets} + 1)")
    new_types = (first.crossJoin(F.broadcast(bounds))
                 .groupBy(bucket_of("first_seen").alias("bucket"))
                 .agg(F.count("*").alias("n_new_types")))
    doc_toks = df.select(
        F.col("doc_id"),
        F.coalesce(F.size(_tokens(F.col("text"))).cast("bigint"),
                   F.lit(0)).alias("n_toks"))
    bucket_toks = (doc_toks.crossJoin(F.broadcast(bounds))
                   .groupBy(bucket_of("doc_id").alias("bucket"))
                   .agg(F.sum("n_toks").alias("bucket_tokens"),
                        F.count("*").alias("bucket_docs")))
    from pyspark.sql import Window
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (bucket_toks.join(new_types, "bucket", "left")
            .select("bucket", "bucket_docs", "bucket_tokens",
                    F.coalesce("n_new_types", F.lit(0)).cast("bigint")
                    .alias("n_new_types"))
            .withColumn("cum_types",
                        F.sum("n_new_types").over(w).cast("bigint"))
            .withColumn("cum_tokens",
                        F.sum("bucket_tokens").over(w).cast("bigint"))
            .withColumn("type_token_ratio",
                        F.when(F.col("cum_tokens") > 0,
                               F.col("cum_types").cast("double")
                               / F.col("cum_tokens").cast("double"))
                        .otherwise(F.lit(0.0))))


def text_vocab_growth_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return vocab_growth(docs)


_VOCAB_GROWTH_SQL = f"""
WITH bounds AS (
  SELECT MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
    (MAX(doc_id) - MIN(doc_id)) // {GROWTH_BUCKETS} + 1 AS w
  FROM documents
), toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents
), first AS (
  SELECT token, MIN(doc_id) AS first_seen FROM toks GROUP BY token
), new_types AS (
  SELECT (first_seen - b.min_id) // b.w AS bucket,
         COUNT(*) AS n_new_types
  FROM first, bounds b GROUP BY 1
), doc_toks AS (
  SELECT doc_id, coalesce(len({_TOKS_SQL}), 0) AS n_toks FROM documents
), bucket_toks AS (
  SELECT (doc_id - b.min_id) // b.w AS bucket,
         CAST(SUM(n_toks) AS BIGINT) AS bucket_tokens,
         COUNT(*) AS bucket_docs
  FROM doc_toks, bounds b GROUP BY 1
), rolled AS (
  SELECT bt.bucket, bt.bucket_docs, bt.bucket_tokens,
    CAST(coalesce(nt.n_new_types, 0) AS BIGINT) AS n_new_types
  FROM bucket_toks bt LEFT JOIN new_types nt ON nt.bucket = bt.bucket
)
SELECT bucket, bucket_docs, bucket_tokens, n_new_types,
  CAST(SUM(n_new_types) OVER cum AS BIGINT) AS cum_types,
  CAST(SUM(bucket_tokens) OVER cum AS BIGINT) AS cum_tokens,
  CASE WHEN SUM(bucket_tokens) OVER cum > 0 THEN
    CAST(SUM(n_new_types) OVER cum AS DOUBLE)
      / CAST(SUM(bucket_tokens) OVER cum AS DOUBLE)
  ELSE 0.0 END AS type_token_ratio
FROM rolled
WINDOW cum AS (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
"""


register(QuerySpec(
    "text_vocab_growth", text_vocab_growth_query, _VOCAB_GROWTH_SQL,
    description=f"Heaps-law vocabulary growth over {GROWTH_BUCKETS} "
                "doc-id slices: exact first-appearance type counts + "
                "cumulative type/token curve and TTR (token-keyed "
                "partial-min aggregate; no corpus sort)"))


# --- Count-Min Sketch term-frequency estimation ---------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 512
CMS_TERMS = ("table", "merge", "vector", "the", "window",
             "quasar")  # last one absent from the corpus


def cms_estimate(df: DataFrame, text_col: str, id_col: str,
                 terms: tuple[str, ...] = CMS_TERMS) -> DataFrame:
    """Count-Min Sketch frequency estimates vs exact counts.

    The CMS is the streaming/mergeable counter structure heavy-hitter
    pipelines use when the vocabulary doesn't fit memory: CMS_DEPTH×CMS_WIDTH
    cells, est(t) = min_d cell[d][h_d(t)], overestimate-only. Built
    here with the portable md5 hash family, the sketch is fully
    DETERMINISTIC — unlike engine-native sketches (HLL), every cell and
    therefore every estimate is bit-identical in the SQL oracle, so the
    approximation itself is correctness-checked, not just bounded.

    Scale: cell build is explode(tokens)×depth -> groupBy (d, cell) —
    the shuffle carries ≤ depth·width counter rows out of the map side
    (partial aggregation collapses the token stream per task); the
    sketch (2 KiB here) is broadcast-sized and mergeable across
    corpora by cell-wise addition. Output per query term: exact count,
    CMS estimate, overestimate (≥ 0 by construction).
    """
    from downscaledclimatedata_spark.functions.hashing import md5_long
    toks = df.select(F.explode(_tokens(F.col(text_col))).alias("token"))
    toks = toks.localCheckpoint()  # one tokenize: cells + exact counts
    rows = [toks.select(F.lit(d).alias("d"),
                        (md5_long(F.col("token"), seed=f"cms{d}:") % CMS_WIDTH)
                        .alias("cell"))
            for d in range(CMS_DEPTH)]
    union = rows[0]
    for r in rows[1:]:
        union = union.unionByName(r)
    cells = union.groupBy("d", "cell").agg(F.count("*").alias("n"))

    import hashlib

    def h(d: int, t: str) -> int:
        return int(hashlib.md5(f"cms{d}:{t}".encode()).hexdigest()[:15],
                   16) % CMS_WIDTH
    spark = df.sparkSession
    # literal_rows: a Python local relation in a JVM join costs a
    # Python-worker round trip per task (functions/rows.py)
    probes = literal_rows(
        spark,
        [(t, d, h(d, t)) for t in terms for d in range(CMS_DEPTH)],
        "term string, d int, cell bigint")
    est = (probes.join(cells, ["d", "cell"], "left")
           .groupBy("term")
           .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("cms_est")))
    # exact side restricted to the probe terms BEFORE the aggregate: the
    # groupBy shuffles |terms| rows, not the whole vocabulary (the join
    # below would discard everything else anyway)
    exact = (toks.filter(F.col("token").isin(*terms))
             .groupBy("token").agg(F.count("*").alias("exact"))
             .withColumnRenamed("token", "term"))
    return (est.join(exact, "term", "left")
            .select("term",
                    F.coalesce(F.col("exact"), F.lit(0)).cast("bigint")
                    .alias("exact"),
                    F.col("cms_est").cast("bigint").alias("cms_est"),
                    (F.col("cms_est")
                     - F.coalesce(F.col("exact"), F.lit(0))).cast("bigint")
                    .alias("overestimate")))


def text_cms_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from downscaledclimatedata_spark.sources.tables import load_table_parallel
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return cms_estimate(docs, "text", "doc_id")


def _cms_sql() -> str:
    cell_selects = "\nUNION ALL\n".join(
        f"SELECT {d} AS d, ({md5_long_sql('token', seed=f'cms{d}:')})"
        f" % {CMS_WIDTH} AS cell FROM toks"
        for d in range(CMS_DEPTH))
    import hashlib

    def h(d, t):
        return int(hashlib.md5(f"cms{d}:{t}".encode()).hexdigest()[:15],
                   16) % CMS_WIDTH
    probe_rows = ", ".join(f"('{t}', {d}, {h(d, t)})"
                           for t in CMS_TERMS for d in range(CMS_DEPTH))
    return f"""
WITH toks AS (
  SELECT unnest({_TOKS_SQL}) AS token FROM documents
), cellstream AS (
{cell_selects}
), cells AS (
  SELECT d, cell, COUNT(*) AS n FROM cellstream GROUP BY d, cell
), probes(term, d, cell) AS (VALUES {probe_rows}),
est AS (
  SELECT p.term, MIN(coalesce(c.n, 0)) AS cms_est
  FROM probes p LEFT JOIN cells c ON c.d = p.d AND c.cell = p.cell
  GROUP BY p.term
), exact AS (
  SELECT token AS term, COUNT(*) AS exact FROM toks
  WHERE token IN ({", ".join(f"'{t}'" for t in CMS_TERMS)})
  GROUP BY token
)
SELECT e.term, CAST(coalesce(x.exact, 0) AS BIGINT) AS exact,
  CAST(e.cms_est AS BIGINT) AS cms_est,
  CAST(e.cms_est - coalesce(x.exact, 0) AS BIGINT) AS overestimate
FROM est e LEFT JOIN exact x ON x.term = e.term
"""


register(QuerySpec(
    "text_cms_heavy_hitters", text_cms_query, _cms_sql(),
    description=f"Count-Min Sketch ({CMS_DEPTH}x{CMS_WIDTH}, portable md5 "
                "hash family) term-frequency estimates vs exact — the "
                "sketch itself is deterministic and oracle-checked"))


# --- Bloom filter membership sketch ---------------------------------------------

BLOOM_K = 5        # hash functions
BLOOM_M = 8192     # bits
BLOOM_PROBES = ("table", "merge", "vector", "the", "window",
                "quasar", "zyzzyva")  # last two absent from the corpus


def bloom_membership(df: DataFrame,
                     probes: tuple[str, ...] = BLOOM_PROBES) -> DataFrame:
    """Bloom-filter membership probes vs exact membership, in-engine.

    The Bloom filter is the have-we-seen-it structure of ingest dedup
    (URL seen? content hash seen?) — one-sided error: membership may
    false-positive, never false-negative. As with ``cms_estimate``, the
    hash family is a deterministic portable md5 (seed ``bloom{i}:``), so
    the SKETCH ITSELF — which bits are set, which probes hit — is
    bit-identical across engines and oracle-checked, not just its
    contract.

    Output: one row per probe — n_bits_hit (of k), in_filter (all k
    bits set), truly_present (exact vocabulary membership, probe-
    filtered before the aggregate as in CMS), false_positive.

    Scale: the filter relation is the DISTINCT set-bit list — at most
    ``BLOOM_M`` rows regardless of corpus size (the reduction to ≤BLOOM_M rows is a
    map-side-combining distinct keyed on the uniform bit index); probes
    are a ≤|probes|·k literal relation, broadcast. Bitwise-OR merge of
    per-shard filters = union of bit sets — pinned by the merge unit.
    """
    toks = df.select(F.explode(_tokens(F.col("text"))).alias("token"))
    bit_exprs = [(md5_long(F.col("token"), seed=f"bloom{i}:") % BLOOM_M)
                 for i in range(BLOOM_K)]
    bits = (toks.select(F.explode(F.array(*bit_exprs)).alias("bit"))
            .distinct())
    spark = df.sparkSession
    import hashlib

    def h(i: int, t: str) -> int:
        return int(hashlib.md5(f"bloom{i}:{t}".encode()).hexdigest()[:15],
                   16) % BLOOM_M
    probe_bits = literal_rows(
        spark,
        [(t, h(i, t)) for t in probes for i in range(BLOOM_K)],
        "term string, bit bigint")
    # probe_bits (|probes|*k rows) is the genuinely tiny side, but Spark
    # can only broadcast the BUILD (right) side of a semi join — a
    # broadcast hint on the stream side is silently ignored. Joining
    # FROM the set-bits relation with the probes broadcast realizes the
    # intended plan: scan bits (<= m rows) -> broadcast-hash-join ->
    # partial agg. `bits` is distinct on bit, so each probe row matches
    # at most once and the per-term count is identical to the semi-join
    # formulation (hash collisions within one term count once per hash
    # fn, exactly like a real Bloom probe re-checking the same bit).
    hit = (bits.join(F.broadcast(probe_bits), "bit")
           .groupBy("term").agg(F.count("*").alias("n_bits_hit")))
    present = (toks.filter(F.col("token").isin(*probes))
               .select(F.col("token").alias("term")).distinct()
               .withColumn("truly_present", F.lit(True)))
    names = literal_rows(spark, [(t,) for t in probes], "term string")
    return (names
            .join(hit, "term", "left")
            .join(present, "term", "left")
            .select(
                "term",
                F.coalesce(F.col("n_bits_hit"), F.lit(0)).cast("int")
                .alias("n_bits_hit"),
                (F.coalesce(F.col("n_bits_hit"), F.lit(0)) == BLOOM_K)
                .alias("in_filter"),
                F.coalesce(F.col("truly_present"), F.lit(False))
                .alias("truly_present"))
            .withColumn("false_positive",
                        F.col("in_filter") & ~F.col("truly_present"))
            .orderBy("term"))


def text_bloom_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from downscaledclimatedata_spark.sources.tables import load_table_parallel
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return bloom_membership(docs)


def _bloom_sql() -> str:
    import hashlib

    def h(i, t):
        return int(hashlib.md5(f"bloom{i}:{t}".encode()).hexdigest()[:15],
                   16) % BLOOM_M
    bit_selects = "\nUNION ALL\n".join(
        f"SELECT ({md5_long_sql('token', seed=f'bloom{i}:')})"
        f" % {BLOOM_M} AS bit FROM toks"
        for i in range(BLOOM_K))
    probe_rows = ", ".join(f"('{t}', {h(i, t)})"
                           for t in BLOOM_PROBES for i in range(BLOOM_K))
    probe_list = ", ".join(f"'{t}'" for t in BLOOM_PROBES)
    return f"""
WITH toks AS (
  SELECT unnest({_TOKS_SQL}) AS token FROM documents
), bits AS (
  SELECT DISTINCT bit FROM (
{bit_selects}
  )
), probes(term, bit) AS (VALUES {probe_rows}),
hit AS (
  SELECT p.term, COUNT(*) AS n_bits_hit
  FROM probes p SEMI JOIN bits b USING (bit)
  GROUP BY p.term
), present AS (
  SELECT DISTINCT token AS term, TRUE AS truly_present FROM toks
  WHERE token IN ({probe_list})
), names(term) AS (VALUES {", ".join(f"('{t}')" for t in BLOOM_PROBES)})
SELECT n.term,
  CAST(coalesce(h.n_bits_hit, 0) AS INTEGER) AS n_bits_hit,
  coalesce(h.n_bits_hit, 0) = {BLOOM_K} AS in_filter,
  coalesce(p.truly_present, FALSE) AS truly_present,
  (coalesce(h.n_bits_hit, 0) = {BLOOM_K})
    AND NOT coalesce(p.truly_present, FALSE) AS false_positive
FROM names n
LEFT JOIN hit h ON h.term = n.term
LEFT JOIN present p ON p.term = n.term
ORDER BY n.term
"""


register(QuerySpec(
    "text_bloom_membership", text_bloom_query, _bloom_sql(),
    description=f"Bloom filter ({BLOOM_K} portable md5 hashes, "
                f"{BLOOM_M} bits) membership probes vs exact — the "
                "sketch's set bits are deterministic and oracle-checked"))


# --- TF-IDF weighted lexical document similarity --------------------------------

TFIDF_MAX_DF = 64      # candidate generation: only terms this rare pair docs
TFIDF_COS_T = 0.30


def tfidf_doc_pairs(df: DataFrame,
                    threshold: float = TFIDF_COS_T) -> DataFrame:
    """(id_a, id_b, cosine) document pairs by TF-IDF-weighted cosine —
    the rarity-weighted lexical similarity that sits between raw
    Jaccard (no term weighting) and embedding cosine (no lexical
    grounding).

    EXACT-INTEGER weighting for cross-engine bit-identity: the weight
    of term t in doc d is ``tf(t,d) * (N - df(t))`` — an integer
    rarity surrogate monotone in the usual idf (log(N/df)) — so dot
    products and squared norms are exact BIGINT sums in any
    aggregation order; only the final cosine divides (IEEE sqrt and
    division are correctly rounded, hence deterministic). Overflow
    bound: per-term product ≤ tf² · N², summed over shared terms —
    inside int64 for corpora to ~10⁶ docs with bounded tf; beyond
    that, weight terms with (N - df) / scale.

    Candidates come from the same prefix-filter as containment: only
    terms with 2 ≤ df ≤ ``TFIDF_MAX_DF`` generate pairs (a term in k docs
    contributes k² join rows; frequent terms carry ~zero idf weight
    anyway). The full dot product then uses ALL shared terms of each
    candidate pair, candidate-first — so the cap trades recall only,
    never correctness of a reported cosine.

    Scale: one shuffle keyed on token (uniform), fan-out bounded by
    max_df² per rare term; dot/norm joins keyed on candidate ids.
    Never O(n²) in the corpus.
    """
    toks = df.select(F.col("doc_id"),
                     F.explode(_tokens(F.col("text"))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    w = (tf.join(dfreq, "token")
         .crossJoin(F.broadcast(n_docs))
         .select(F.col("doc_id"), "token",
                 (F.col("tf") * (F.col("n_docs") - F.col("df")))
                 .cast("bigint").alias("w"),
                 "df")
         .localCheckpoint())
    norms = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    rare = w.filter((F.col("df") >= 2) & (F.col("df") <= TFIDF_MAX_DF)) \
        .select("doc_id", "token")
    a = rare.select(F.col("doc_id").alias("id_a"), F.col("token").alias("tk"))
    b = rare.select(F.col("doc_id").alias("id_b"), F.col("token").alias("tk"))
    cand = (a.join(b.hint("merge"),
                   (a.tk == b.tk) & (F.col("id_a") < F.col("id_b")))
            .select("id_a", "id_b").distinct())
    wa = w.select(F.col("doc_id").alias("id_a"), "token",
                  F.col("w").alias("wa"))
    wb = w.select(F.col("doc_id").alias("id_b"), "token",
                  F.col("w").alias("wb"))
    dots = (cand
            .join(wa.hint("merge"), "id_a")
            .join(wb.hint("merge"), ["id_b", "token"])
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot")))
    return (dots
            .join(norms.select(F.col("doc_id").alias("id_a"),
                               F.col("n2").alias("na2")).hint("merge"), "id_a")
            .join(norms.select(F.col("doc_id").alias("id_b"),
                               F.col("n2").alias("nb2")).hint("merge"), "id_b")
            .withColumn("cosine",
                        F.col("dot").cast("double")
                        / (F.sqrt(F.col("na2").cast("double"))
                           * F.sqrt(F.col("nb2").cast("double"))))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def text_tfidf_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return tfidf_doc_pairs(docs)


_TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
), dfreq AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
), nd AS (SELECT COUNT(*) AS n_docs FROM documents),
w AS (
  SELECT tf.doc_id, tf.token,
    CAST(tf.tf * (nd.n_docs - dfreq.df) AS BIGINT) AS w, dfreq.df
  FROM tf JOIN dfreq USING (token) CROSS JOIN nd
), norms AS (
  SELECT doc_id, SUM(w * w) AS n2 FROM w GROUP BY doc_id
), rare AS (
  SELECT doc_id, token FROM w WHERE df BETWEEN 2 AND {TFIDF_MAX_DF}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM rare a JOIN rare b
    ON a.token = b.token AND a.doc_id < b.doc_id
), dots AS (
  SELECT c.id_a, c.id_b, SUM(x.w * y.w) AS dot
  FROM cand c
  JOIN w x ON x.doc_id = c.id_a
  JOIN w y ON y.doc_id = c.id_b AND y.token = x.token
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b,
  CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE))
                         * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
FROM dots
JOIN norms na ON na.doc_id = id_a
JOIN norms nb ON nb.doc_id = id_b
WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE))
                             * sqrt(CAST(nb.n2 AS DOUBLE))) >= {TFIDF_COS_T}
"""

register(QuerySpec(
    "text_tfidf_pairs", text_tfidf_pairs_query, _TFIDF_SQL,
    description="TF-IDF-weighted lexical cosine pairs: exact-integer "
                "rarity weights (bit-identical dots), rare-term "
                "prefix-filter candidates, candidate-first dot products"))


# --- inverted-index phrase search -----------------------------------------------

PHRASE_QUERY = ("table", "hash")  # present in the synthetic corpus


def phrase_search(df: DataFrame, phrase: tuple[str, ...]) -> DataFrame:
    """Exact phrase occurrences via positional postings — the inverted-
    index primitive (term -> (doc, position) list) and its classic
    consumer, k-term adjacency intersection, as one declarative plan.

    Postings are filtered to the PHRASE'S OWN terms before any join
    (predicate pushdown to the scan: the posting relation that shuffles
    is ∝ occurrences of the queried terms, not the corpus token
    stream), then the k terms chain-join on (doc, pos + offset).
    Output: (id, n_matches, first_pos) per matching doc.

    Scale: k-1 equi-joins keyed on (doc, pos) — co-partitioned after
    the first shuffle, so Catalyst plans one exchange per side and
    reuses it down the chain; a phrase of stopwords degrades to the
    posting mass of those stopwords, the index's documented worst case.
    """
    if len(phrase) < 1:
        raise ValueError("phrase must have at least one term")
    toks = df.select(
        F.col("doc_id"),
        F.posexplode(_tokens(F.col("text"))).alias("pos", "token"))
    post = toks.filter(F.col("token").isin(*phrase))
    cur = (post.filter(F.col("token") == phrase[0])
           .select("doc_id", F.col("pos").alias("p0")))
    for i, term in enumerate(phrase[1:], start=1):
        nxt = (post.filter(F.col("token") == term)
               .select(F.col("doc_id"), (F.col("pos") - i).alias("p0")))
        # merge hint: a posting list is term-frequency-scaled — for a
        # stopword term it is corpus-scaled, far beyond broadcast
        # budgets; the shuffled strategy keyed (doc, pos) co-partitions
        # the whole chain after one exchange per side
        cur = cur.join(nxt.hint("merge"), ["doc_id", "p0"])
    # match relation is corpus-scaled for common phrases: no
    # trailing global sort (r8 audit sweep)
    return (cur.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_matches"),
                 F.min("p0").cast("bigint").alias("first_pos")))


def text_phrase_search_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return phrase_search(docs, PHRASE_QUERY)


def _phrase_sql() -> str:
    joins = []
    for i in range(1, len(PHRASE_QUERY)):
        joins.append(
            f"JOIN post t{i} ON t{i}.doc_id = t0.doc_id"
            f" AND t{i}.token = '{PHRASE_QUERY[i]}'"
            f" AND t{i}.pos = t0.pos + {i}")
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
), post AS (
  SELECT doc_id, t[i] AS token, i - 1 AS pos
  FROM toks, LATERAL (SELECT UNNEST(range(1, len(t) + 1)) AS i) idx
  WHERE t[i] IN ({", ".join(f"'{w}'" for w in PHRASE_QUERY)})
)
SELECT t0.doc_id, COUNT(*) AS n_matches,
  CAST(MIN(t0.pos) AS BIGINT) AS first_pos
FROM post t0
{chr(10).join(joins)}
WHERE t0.token = '{PHRASE_QUERY[0]}'
GROUP BY t0.doc_id
ORDER BY t0.doc_id
"""


register(QuerySpec(
    "text_phrase_search", text_phrase_search_query, _phrase_sql(),
    description="positional-postings phrase search: term-filtered "
                "postings + (doc, pos+offset) adjacency chain join"))


# --- bigram language-model familiarity score ------------------------------------

LM_SCALE = 1_000_000  # fixed-point scale for exact conditional probabilities


def _lm_doc_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, n_bigrams, fp_sum): the exact fixed-point per-document LM
    evidence behind :func:`lm_familiarity` — fp_sum is an
    order-independent BIGINT sum of ``(c(w1 w2) * LM_SCALE) div c(w1·)``
    terms, so downstream consumers (the familiarity double, the
    perplexity-bucket ranking) derive from ONE audited relation.
    Docs with fewer than 2 tokens have no bigrams and NO row."""
    toks = df.select(F.col(id_col), _tokens(F.col(text_col)).alias("t"))
    bg = toks.select(
        F.col(id_col),
        F.explode(F.zip_with(
            F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
            F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))).alias("p")
    ).select(id_col, "p.w1", "p.w2")
    bgc = bg.groupBy("w1", "w2").agg(F.count("*").alias("cbg"))
    pref = bgc.groupBy("w1").agg(F.sum("cbg").alias("cw1"))
    # merge hints: the model relation is vocabulary²-bounded and the
    # prefix marginal vocabulary-bounded — web-scale corpora put both
    # beyond broadcast budgets, so the shuffled strategy is pinned (the
    # checkpoint-size-estimate lesson from ngram_jaccard_pairs)
    model = bgc.join(pref.hint("merge"), "w1").select(
        "w1", "w2",
        F.expr(f"(cbg * CAST({LM_SCALE} AS BIGINT)) div cw1").alias("fp"))
    return (bg.join(model.hint("merge"), ["w1", "w2"])
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.sum("fp").alias("fp_sum")))


def lm_familiarity(df: DataFrame) -> DataFrame:
    """Per-document bigram language-model familiarity — the in-engine
    analogue of the LM-perplexity filter pretraining pipelines run
    (CCNet-style): documents whose word transitions are typical of the
    corpus score high, gibberish and boilerplate-mangled text score
    low.

    Model = corpus bigram counts with conditional probability
    p(w2|w1) = c(w1 w2) / c(w1·), where c(w1·) is derived from the
    bigram relation itself (prefix-marginal), so model and scorer can
    never disagree on tokenization. Scoring is EXACT fixed-point:
    each bigram contributes ``(c(w1 w2) * LM_SCALE) div c(w1·)`` — integer
    division, order-independent BIGINT sums — and only the final
    familiarity = sum / (n_bigrams * scale) divides as a double.
    (log-perplexity itself would need ln(), which is not correctly
    rounded, hence not cross-engine hash-stable; the fixed-point mean
    conditional probability is monotone in the same signal.)

    Scale: one shuffle keyed on the bigram (count), a tiny prefix
    marginal, one join back keyed on the bigram, one per-doc aggregate.
    The model relation is vocabulary²-bounded, not corpus-bounded.
    """
    return (_lm_doc_scores(df, "text", "doc_id")
            .select("doc_id",
                    F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
                    (F.col("fp_sum").cast("double")
                     / (F.col("n_bigrams") * F.lit(LM_SCALE)).cast("double"))
                    .alias("familiarity")))
    # no trailing orderBy: one row per doc — a corpus-sized output whose
    # global sort would be a pure full-range-shuffle tax at scale
    # (driver hash and canon compares are order-insensitive)


def text_lm_familiarity_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return lm_familiarity(docs)


_LM_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
), bg AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM toks, LATERAL (SELECT UNNEST(range(1, greatest(len(t) - 1, 0) + 1)) AS i) idx
), bgc AS (
  SELECT w1, w2, COUNT(*) AS cbg FROM bg GROUP BY w1, w2
), pref AS (
  SELECT w1, SUM(cbg) AS cw1 FROM bgc GROUP BY w1
), model AS (
  SELECT b.w1, b.w2, (b.cbg * CAST({LM_SCALE} AS BIGINT)) // p.cw1 AS fp
  FROM bgc b JOIN pref p USING (w1)
)
SELECT g.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  CAST(SUM(m.fp) AS DOUBLE)
    / CAST(COUNT(*) * {LM_SCALE} AS DOUBLE) AS familiarity
FROM bg g JOIN model m ON m.w1 = g.w1 AND m.w2 = g.w2
GROUP BY g.doc_id
ORDER BY g.doc_id
"""

register(QuerySpec(
    "text_lm_familiarity", text_lm_familiarity_query, _LM_SQL,
    description="bigram-LM familiarity (CCNet-style LM quality signal): "
                "exact fixed-point conditional probabilities, "
                "order-independent integer sums"))


# --- BPE tokenizer training (iterative pair merges) -----------------------------

BPE_MERGES = 12
EOW = "</w>"


def bpe_train(df: DataFrame, n_merges: int = BPE_MERGES) -> DataFrame:
    """Byte-Pair-Encoding tokenizer training (Sennrich et al. 2016) —
    the vocabulary-learning step of a training-data pipeline, run
    in-engine over word TYPES weighted by corpus frequency.

    Per round: count adjacent symbol pairs (weighted by word
    frequency), pick the most frequent (ties broken lexicographically
    — fully deterministic), and rewrite every word's symbol array with
    the pair greedily merged left-to-right. The rewrite is a Catalyst
    ``aggregate`` fold over the symbol array — no UDF — and each round
    ``localCheckpoint``s the (word, freq, syms) relation so lineage
    stays flat across iterations (the kmeans_refine discipline).

    Returns the merge table: (rank, left, right, merged, pair_count).
    Iterative-algorithm class (streaming/PageRank family), but SQL-
    expressible at the registered FIXED round count: the oracle
    (:func:`_bpe_sql`) unrolls the loop into chained CTEs; an
    independent pure-Python reference implementation additionally pins
    the fold semantics in unit tests.

    Scale: the state is the word-TYPE relation (vocabulary-bounded,
    not corpus-bounded — 100 TB of text is still ~10⁷ word types);
    each round is one pair-count aggregate (shuffle ∝ distinct pairs)
    + one broadcast single-row argmax + one shuffle-free rewrite
    projection.
    """
    merges, _ = _bpe_fit(df, "text", n_merges)
    return df.sparkSession.createDataFrame(
        merges, "rank int, left string, right string, merged string, "
                "pair_count bigint")


def _bpe_fit(df: DataFrame, text_col: str,
             n_merges: int) -> tuple[list, DataFrame]:
    """Shared BPE fit loop: returns (merge rows, final word-type relation
    ``(w, freq, syms)`` with every learned merge applied) so training
    (:func:`bpe_train`) and application (:func:`bpe_encode`) run ONE
    loop — the encoder reuses the fully-merged symbol state instead of
    re-folding the corpus."""
    words = (df.select(F.explode(_tokens(F.col(text_col))).alias("w"))
             .groupBy("w").agg(F.count("*").alias("freq"))
             .select("w", "freq",
                     F.concat(
                         F.transform(F.split(F.col("w"), ""),
                                     lambda c: c),
                         F.array(F.lit(EOW))).alias("syms"))
             .localCheckpoint())
    merges = []
    for rank in range(n_merges):
        pairs = (words.select(
            "freq",
            F.explode(F.zip_with(
                F.slice(F.col("syms"), 1,
                        F.greatest(F.size("syms") - 1, F.lit(0))),
                F.slice(F.col("syms"), 2,
                        F.greatest(F.size("syms") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("l"), b.alias("r")))).alias("p"))
            .groupBy("p.l", "p.r").agg(F.sum("freq").alias("n")))
        top = (pairs.orderBy(F.col("n").desc(), "l", "r").limit(1)
               .collect())  # bounded: exactly one row
        if not top or top[0]["n"] < 2:
            break
        left, right, n = top[0]["l"], top[0]["r"], top[0]["n"]
        merged = left + right
        merges.append((rank, left, right, merged, int(n)))
        fold = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(left))
                & (x == F.lit(right)),
                F.concat(F.slice(acc, 1, F.size(acc) - 1),
                         F.array(F.lit(merged))))
            .otherwise(F.concat(acc, F.array(x))))
        words = words.select("w", "freq", fold.alias("syms")) \
            .localCheckpoint()
    return merges, words


def text_bpe_train_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return bpe_train(docs)


def _bpe_chain_sql() -> str:
    """Shared oracle prefix: the fixed-round BPE fit loop unrolled into
    chained CTEs ending at ``words_{BPE_MERGES}`` (the fully-merged
    word-type relation). :func:`_bpe_sql` appends the merge-table
    select; :func:`_bpe_encode_sql` appends the per-doc segmentation
    join instead — ONE unroll serves both specs.

    The symbol array is encoded as a delimited string: symbol ``s`` →
    ``chr(31) + s + chr(30)``, concatenated. Under that encoding the
    Catalyst greedy left-to-right fold is EXACTLY non-overlapping
    ``replace()``: the pattern ``␟l␞␟r␞`` → ``␟lr␞`` consumes both
    wrapped symbols, so a just-merged symbol cannot re-merge as the
    LEFT of the next occurrence in the same pass (fold semantics:
    [a,a,a] -> [aa,a]), while fresh pairs later in the word still
    match ([a,a,a,a] -> [aa,aa]) — both verified against the fold in
    unit tests. chr(31)/chr(30) (US/RS separators) must not appear in
    corpus tokens; they are non-printing controls no tokenizer emits.

    Early stop: ``best_r`` keeps only a pair with count >= 2; when it
    is empty the merge row vanishes and ``words_{r+1}`` passes through
    unchanged, so every later round is empty too — same fixpoint as
    the Spark loop's ``break``.
    """
    wrap = "chr(31)||{0}||chr(30)"
    parts = [f"""WITH toks AS (
  SELECT unnest({_TOKS_SQL}) AS w FROM documents
), words_0 AS MATERIALIZED (
  SELECT w, COUNT(*) AS freq,
    list_aggregate(list_transform(string_split(w, ''),
                                  c -> {wrap.format('c')}), 'string_agg', '')
      || {wrap.format("'{0}'".format(EOW))} AS syms
  FROM toks GROUP BY w
)"""]
    # every per-round CTE is referenced twice (pairs_r + words_{r+1} both
    # read words_r) — MATERIALIZED stops DuckDB's default inlining, which
    # would otherwise double the expression tree per round (2^n_merges
    # blowup, observed as a hang even at sf0.001)
    for r in range(BPE_MERGES):
        parts.append(f""", pairs_{r} AS MATERIALIZED (
  SELECT t.sl[i] AS l, t.sl[i+1] AS r2, SUM(wd.freq) AS n
  FROM words_{r} wd,
       LATERAL (SELECT string_split(wd.syms[2:length(wd.syms)-1],
                                    chr(30)||chr(31)) AS sl) t,
       LATERAL (SELECT unnest(range(1, greatest(len(t.sl), 1))) AS i) idx
  GROUP BY l, r2
), best_{r} AS MATERIALIZED (
  SELECT l, r2, n FROM pairs_{r} WHERE n >= 2 ORDER BY n DESC, l, r2 LIMIT 1
), words_{r + 1} AS MATERIALIZED (
  SELECT wd.w, wd.freq,
    coalesce((SELECT replace(wd.syms,
                             {wrap.format('b.l')}||{wrap.format('b.r2')},
                             chr(31)||b.l||b.r2||chr(30))
              FROM best_{r} b), wd.syms) AS syms
  FROM words_{r} wd
)""")
    return "".join(parts)


def _bpe_sql() -> str:
    """DuckDB oracle for :func:`bpe_train`: the unrolled chain plus the
    merge-table select (one row per non-empty ``best_r``)."""
    merge_rows = "\nUNION ALL\n".join(
        f'SELECT CAST({r} AS INTEGER) AS rank, l AS "left", r2 AS "right", '
        f"l||r2 AS merged, CAST(n AS BIGINT) AS pair_count FROM best_{r}"
        for r in range(BPE_MERGES))
    return _bpe_chain_sql() + f"\nSELECT * FROM (\n{merge_rows}\n)"


register(QuerySpec(
    "text_bpe_train", text_bpe_train_query, _bpe_sql(),
    description="BPE tokenizer training: per-round weighted pair argmax "
                "+ Catalyst-fold greedy merge over the vocabulary-bounded "
                "word-type relation; oracle = the fixed-round loop "
                "unrolled into chained CTEs over a delimited-string "
                "symbol encoding, plus an independent pure-Python "
                "reference implementation in units"))


BPE_SEG_MOD = 1_000_000_007  # segmentation-hash modulus (sums stay < 2^63)


def bpe_encode(df: DataFrame, n_merges: int = BPE_MERGES) -> DataFrame:
    """Tokenizer APPLICATION — the other half of :func:`bpe_train`:
    segment every document with the learned merges and report per-doc
    subword statistics, certifying the exact segmentation via a
    per-word-type hash.

    Output per doc: ``n_words`` (whitespace tokens), ``n_subwords``
    (BPE symbols after all merges — the sequence length a trainer
    would see), ``max_word_subwords``, and ``seg_checksum`` =
    Σ count(w) · (md5_60(subwords-of-w joined by space) mod 1e9+7) —
    an order-insensitive certificate that both engines produced the
    IDENTICAL segmentation of every token occurrence, without
    emitting a corpus-scale array column.

    Scale: segmentation happens ONCE per word TYPE (the fit loop's
    final ``(w, freq, syms)`` state is reused — no second fold pass),
    so the expensive part is vocabulary-bounded exactly like training.
    The corpus-side work is one (doc, word)-grain count aggregate —
    keyed by (doc_id, w), so no stopword skew — and a sort-merge join
    of that relation to the word-type segmentation on ``w``
    (merge-pinned: the checkpointed type relation has no size stats,
    and at web scale ~10⁷-10⁸ types exceed the broadcast budget; AQE
    skew-split handles the head words). One final per-doc aggregate.
    """
    _, words = _bpe_fit(df, "text", n_merges)
    seg = words.select(
        "w",
        F.size("syms").cast("bigint").alias("n_sub"),
        (md5_long(F.array_join("syms", " ")) % BPE_SEG_MOD)
        .alias("seg_hash"))
    doc_words = (df.select(F.col("doc_id"),
                           F.explode(_tokens(F.col("text"))).alias("w"))
                 .groupBy("doc_id", "w").agg(F.count("*").alias("cnt")))
    return (doc_words.join(seg.hint("merge"), "w")
            .groupBy("doc_id")
            .agg(F.sum("cnt").alias("n_words"),
                 F.sum(F.col("cnt") * F.col("n_sub")).alias("n_subwords"),
                 F.max("n_sub").alias("max_word_subwords"),
                 F.sum(F.col("cnt") * F.col("seg_hash"))
                 .alias("seg_checksum")))


def text_bpe_encode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return bpe_encode(docs)


def _bpe_encode_sql() -> str:
    """DuckDB oracle for :func:`bpe_encode`: the same unrolled chain,
    then the per-word segmentation stats decoded from the delimited
    string and joined back to the (doc, word) count relation."""
    inner = "syms[2:length(syms)-1]"
    sub_list = f"string_split({inner}, chr(30)||chr(31))"
    joined = f"array_to_string({sub_list}, ' ')"
    return _bpe_chain_sql() + f""", seg AS MATERIALIZED (
  SELECT w, CAST(len({sub_list}) AS BIGINT) AS n_sub,
    ({md5_long_sql(joined)}) % {BPE_SEG_MOD} AS seg_hash
  FROM words_{BPE_MERGES}
), dw AS (
  SELECT doc_id, w, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS w FROM documents)
  GROUP BY doc_id, w
)
SELECT dw.doc_id,
  CAST(SUM(dw.cnt) AS BIGINT) AS n_words,
  CAST(SUM(dw.cnt * seg.n_sub) AS BIGINT) AS n_subwords,
  CAST(MAX(seg.n_sub) AS BIGINT) AS max_word_subwords,
  CAST(SUM(dw.cnt * seg.seg_hash) AS BIGINT) AS seg_checksum
FROM dw JOIN seg ON seg.w = dw.w
GROUP BY dw.doc_id
"""


register(QuerySpec(
    "text_bpe_encode", text_bpe_encode_query, _bpe_encode_sql(),
    description="BPE tokenizer application: segment every doc with the "
                "learned merges (segmentation computed once per word "
                "TYPE, joined back merge-pinned); per-doc subword "
                "counts + an exact per-occurrence segmentation "
                "checksum"))


# --- blocklist filtering (C4/RefinedWeb-style document gating) ---------------

BL_WORDS = ("slow", "big", "hash")        # word-level blocklist
BL_PHRASES = ("table table", "a a")       # substring (multi-pattern) blocklist
BL_MAX_PPM = 60_000                       # keep iff blocked fraction < 6%


def blocklist_filter(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """C4/RefinedWeb-style blocklist gating: per-document blocked-token
    fraction (exact integer ppm) + non-overlapping substring-pattern
    hits, and the keep/drop verdict.

    Scale design (100 TB): the blocklist is a LITERAL broadcast into the
    expression tree (word membership via an array literal, phrases
    compiled into ONE alternation regex scanned once per doc) — the
    whole operator is a shuffle-free whole-stage-codegen projection;
    adding a term never adds a pass over the corpus. Real blocklists
    (10k+ entries) swap the array literal for a broadcast join on token
    and an Aho-Corasick pandas UDF, same single-scan shape. The ratio
    is exact-integer DIV ppm, hash-identical cross-engine.
    """
    safe = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.filter(F.split(F.lower(safe), WS_RE), lambda x: x != "")
    block_arr = F.array(*[F.lit(w) for w in BL_WORDS])
    n = F.size(toks)
    n_blocked = F.size(F.filter(toks, lambda t: F.array_contains(block_arr, t)))
    import re as _re
    pattern = "|".join(_re.escape(p) for p in BL_PHRASES)
    n_hits = F.regexp_count(F.lower(safe), F.lit(pattern))
    blocked_ppm = F.when(F.col("n_tokens") > 0, F.expr(
        f"CAST(CAST(n_blocked AS DECIMAL(38,0)) * {PPM_SCALE} "
        f"DIV CAST(n_tokens AS DECIMAL(38,0)) AS BIGINT)")).otherwise(F.lit(0))
    base = df.select(
        F.col(id_col), n.alias("n_tokens"), n_blocked.alias("n_blocked"),
        n_hits.alias("n_pattern_hits"))
    return base.select(
        id_col, "n_tokens", "n_blocked", "n_pattern_hits",
        blocked_ppm.cast("bigint").alias("blocked_ppm"),
    ).withColumn(
        "keep", (F.col("blocked_ppm") < BL_MAX_PPM)
                & (F.col("n_pattern_hits") == 0))


PPM_SCALE = 1_000_000


def text_blocklist_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return blocklist_filter(
        load_table_parallel(spark, sf_dir, "documents", key="doc_id"),
        "text", "doc_id")


_BL_WORD_LIST = "[" + ", ".join(f"'{w}'" for w in BL_WORDS) + "]"
_BL_PATTERN = "|".join(BL_PHRASES)  # literals need no escaping here
_SAFE_TOKS_SQL = (r"list_filter(string_split_regex(lower(coalesce(text, '')), "
                  r"'[ \t\n\r\f\x0B]+'), x -> x <> '')")

_TEXT_BLOCKLIST_SQL = f"""
WITH t AS (
  SELECT doc_id,
    len({_SAFE_TOKS_SQL}) AS n_tokens,
    len(list_filter({_SAFE_TOKS_SQL},
        x -> list_contains({_BL_WORD_LIST}, x))) AS n_blocked,
    len(regexp_extract_all(lower(coalesce(text, '')), '{_BL_PATTERN}'))
      AS n_pattern_hits
  FROM documents
)
SELECT doc_id, n_tokens, n_blocked, n_pattern_hits,
  CAST(CASE WHEN n_tokens > 0
       THEN CAST(n_blocked AS HUGEINT) * {PPM_SCALE} // n_tokens
       ELSE 0 END AS BIGINT) AS blocked_ppm,
  (CASE WHEN n_tokens > 0
        THEN CAST(n_blocked AS HUGEINT) * {PPM_SCALE} // n_tokens
        ELSE 0 END) < {BL_MAX_PPM} AND n_pattern_hits = 0 AS keep
FROM t
"""

register(QuerySpec("text_blocklist_filter", text_blocklist_query,
                   _TEXT_BLOCKLIST_SQL,
                   description="blocklist document gating: literal-"
                               "broadcast word membership + one-regex "
                               "multi-pattern scan, shuffle-free "
                               "single-projection; exact ppm verdict"))


# --- PII detection + redaction (privacy-scrub stage) --------------------------

# RE2-compatible subset (no lookaround/backrefs) so Java regex and DuckDB
# RE2 match the SAME spans; \d and \b are ASCII-\w-based in both engines.
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\b\d{3}-\d{4}\b"
PII_PLANT_MOD = 7  # every 7th doc gets a planted PII suffix


def pii_redact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Dolma/RedPajama-style privacy scrub: count and mask emails, IPv4
    addresses, and phone-shaped numbers, reporting per-doc hit counts,
    the redacted-length delta, and a portable fingerprint of the
    redacted text (so a downstream pass can verify the scrub happened
    without re-reading the original).

    Redaction order is part of the contract (email first — its local
    part may contain digits an IP/phone pattern would otherwise bite
    into); each class replaces with a fixed tag. Everything is
    shuffle-free whole-stage-codegen regexp work: three counts + three
    replaces in one projection, no joins, no Python.

    Scale design (100 TB): this is a pure map stage — it pipelines with
    whatever scan feeds it and costs one pass. Real deployments add
    more classes (SSNs, credit cards with Luhn, street addresses via a
    model); the regex classes here are the exact-span subset both
    engines reproduce, which is what makes the scrub itself
    oracle-checkable.
    """
    safe = F.coalesce(F.col(text_col), F.lit(""))
    n_emails = F.regexp_count(safe, F.lit(PII_EMAIL_RE))
    red1 = F.regexp_replace(safe, PII_EMAIL_RE, "<EMAIL>")
    n_ips = F.regexp_count(red1, F.lit(PII_IPV4_RE))
    red2 = F.regexp_replace(red1, PII_IPV4_RE, "<IP>")
    n_phones = F.regexp_count(red2, F.lit(PII_PHONE_RE))
    red3 = F.regexp_replace(red2, PII_PHONE_RE, "<PHONE>")
    return df.select(
        F.col(id_col),
        n_emails.cast("bigint").alias("n_emails"),
        n_ips.cast("bigint").alias("n_ips"),
        n_phones.cast("bigint").alias("n_phones"),
        (F.length(safe) - F.length(red3)).cast("bigint").alias("chars_removed"),
        md5_long(red3, seed="pii0").alias("redacted_fp"),
        (n_emails + n_ips + n_phones > 0).alias("had_pii"))


def _pii_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with a deterministic PII suffix on every PLANT_MOD-th
    doc — the synthetic corpus contains no organic PII, so the planted
    rows make every regex class (and the redaction itself) load-bearing
    inside the oracle-checked population."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    d = F.col("doc_id")
    suffix = F.concat(
        F.lit(" contact user"), d.cast("string"),
        F.lit("@example.com from 10.0."), (d % 256).cast("string"),
        F.lit("."), (d % 97).cast("string"),
        F.lit(" call 555-"), F.lpad((d % 10000).cast("string"), 4, "0"),
        F.lit("."))
    return docs.withColumn(
        "text",
        F.when(d % PII_PLANT_MOD == 0,
               F.concat(F.coalesce(F.col("text"), F.lit("")), suffix))
        .otherwise(F.col("text")))


def text_pii_redact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_redact(_pii_planted(spark, sf_dir), "text", "doc_id")


_PII_SQL = f"""
WITH planted AS (
  SELECT doc_id,
    CASE WHEN doc_id % {PII_PLANT_MOD} = 0
         THEN coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.' || CAST(doc_id % 97 AS VARCHAR)
              || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || '.'
         ELSE text END AS text
  FROM documents
), r AS (
  SELECT doc_id,
    coalesce(text, '') AS safe,
    regexp_replace(coalesce(text, ''), '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS red1
  FROM planted
), r2 AS (
  SELECT doc_id, safe,
    len(regexp_extract_all(safe, '{PII_EMAIL_RE}')) AS n_emails,
    len(regexp_extract_all(red1, '{PII_IPV4_RE}')) AS n_ips,
    regexp_replace(red1, '{PII_IPV4_RE}', '<IP>', 'g') AS red2
  FROM r
)
SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails,
  CAST(n_ips AS BIGINT) AS n_ips,
  CAST(len(regexp_extract_all(red2, '{PII_PHONE_RE}')) AS BIGINT) AS n_phones,
  CAST(length(safe) - length(regexp_replace(red2, '{PII_PHONE_RE}',
       '<PHONE>', 'g')) AS BIGINT) AS chars_removed,
  {md5_long_sql("regexp_replace(red2, '" + PII_PHONE_RE + "', '<PHONE>', 'g')",
                seed="pii0")} AS redacted_fp,
  n_emails + n_ips + len(regexp_extract_all(red2, '{PII_PHONE_RE}')) > 0
    AS had_pii
FROM r2
"""

register(QuerySpec("text_pii_redact", text_pii_redact_query, _PII_SQL,
                   description="privacy scrub: email/IPv4/phone span "
                               "counting + masking as one shuffle-free "
                               "codegen projection, redacted-text "
                               "fingerprint for downstream verification; "
                               "planted PII keeps every class load-"
                               "bearing"))


# --- readability scoring (Flesch / Flesch-Kincaid) ----------------------------

def readability_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade from regex-derived
    counts: sentences = [.!?]+ runs, words = whitespace tokens,
    syllables ~= [aeiouy]+ vowel groups — the classical heuristic used
    as a quality-classifier feature in corpus pipelines (too-low AND
    too-high readability both correlate with junk).

    Everything is a shuffle-free codegen projection: three regexp
    counts, then two fixed formulas over exact integers. The divisions
    and double-literal multiplications are structured IDENTICALLY in
    both engines (left-associated), so the doubles are bit-equal.
    Empty docs (no words) surface NULL scores, not a divide error;
    docs with words but no terminator count as one sentence.
    """
    safe = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.filter(F.split(F.lower(safe), WS_RE), lambda x: x != "")
    n_words = F.size(toks)
    n_sent = F.greatest(F.regexp_count(safe, F.lit(r"[.!?]+")), F.lit(1))
    n_syl = F.regexp_count(F.lower(safe), F.lit(r"[aeiouy]+"))
    wps = n_words.cast("double") / n_sent.cast("double")
    spw = n_syl.cast("double") / n_words.cast("double")
    flesch = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    fk = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    has = n_words > 0
    return df.select(
        F.col(id_col),
        n_words.cast("bigint").alias("n_words"),
        n_sent.cast("bigint").alias("n_sentences"),
        n_syl.cast("bigint").alias("n_syllables"),
        F.when(has, wps).alias("words_per_sentence"),
        F.when(has, spw).alias("syllables_per_word"),
        F.when(has, flesch).alias("flesch"),
        F.when(has, fk).alias("fk_grade"))


def text_readability_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return readability_scores(
        load_table_parallel(spark, sf_dir, "documents", key="doc_id"),
        "text", "doc_id")


_READABILITY_SQL = r"""
WITH t AS (
  SELECT doc_id,
    len(list_filter(string_split_regex(lower(coalesce(text, '')),
        '[ \t\n\r\f\x0B]+'), x -> x <> '')) AS n_words,
    greatest(len(regexp_extract_all(coalesce(text, ''), '[.!?]+')), 1)
      AS n_sentences,
    len(regexp_extract_all(lower(coalesce(text, '')), '[aeiouy]+'))
      AS n_syllables
  FROM documents
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
  CAST(n_sentences AS BIGINT) AS n_sentences,
  CAST(n_syllables AS BIGINT) AS n_syllables,
  CASE WHEN n_words > 0 THEN
    CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)
  END AS words_per_sentence,
  CASE WHEN n_words > 0 THEN
    CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)
  END AS syllables_per_word,
  CASE WHEN n_words > 0 THEN
    206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
    - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
  END AS flesch,
  CASE WHEN n_words > 0 THEN
    0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
    + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
    - 15.59
  END AS fk_grade
FROM t
"""

register(QuerySpec("text_readability", text_readability_query,
                   _READABILITY_SQL,
                   description="Flesch / Flesch-Kincaid readability as "
                               "one shuffle-free codegen projection: "
                               "regex sentence/word/vowel-group counts, "
                               "bit-identical left-associated formulas"))


# --- within-document repetition signals (Gopher quality rules) -------------------

# Gopher (Rae et al. 2022, table A1) gates documents on within-doc
# repetition: the fraction of the doc taken by its single most common
# 2-gram, and the fraction of duplicated higher-order n-gram windows.
# These are the WITHIN-doc complement of dedup_repeated_spans (which
# counts spans repeated ACROSS documents).
TOP2_MAX_FRAC = 0.20
DUP3_MAX_FRAC = 0.20
# a clause only votes when its n-gram relation has enough windows for a
# fraction to mean anything (a 2-token doc's single window is trivially
# 100% of itself — that is smallness, not repetition; Gopher likewise
# gates its repetition rules on a minimum document length)
MIN_WINDOWS = 5


def intradoc_repetition(df: DataFrame) -> DataFrame:
    """Per-document within-doc repetition report: for word 2-grams and
    3-grams, the window count, distinct-window count, the most common
    window's count, the duplicate-window fraction
    ((windows - distinct) / windows) and the top-window fraction
    (top / windows), plus the Gopher-style ``repetitive`` verdict
    (top2_frac > 0.20 OR dup3_frac > 0.20, each clause voting only when
    its relation has >= MIN_WINDOWS windows).

    Scale: each n-gram relation shuffles ONCE keyed on
    (doc_id, window-hash) — key space grows with the corpus, so no
    reducer sees more than one document's windows for one hash; the
    second aggregate is keyed on doc_id alone (bounded by the largest
    single document, the same bound tokenization itself needs). Windows
    travel as 60-bit md5 hashes, never text. Docs with fewer than n
    tokens have no windows: counts 0, fractions NULL, verdict FALSE —
    a short doc is not "repetitive", it is unscoreable.
    """
    from downscaledclimatedata_spark.operators.dedup import shingled_rows

    def stats(n: int, pre: str) -> DataFrame:
        return (shingled_rows(df, "text", "doc_id", n=n)
                .select(F.col("doc_id"), md5_long(F.col("shingle")).alias("h"))
                .groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("c"))
                .groupBy("doc_id")
                .agg(F.sum("c").cast("bigint").alias(f"{pre}_windows"),
                     F.count(F.lit(1)).cast("bigint").alias(f"{pre}_distinct"),
                     F.max("c").cast("bigint").alias(f"{pre}_top")))

    # corpus-scaled per-doc relations: pin sort-merge (house rule for
    # joins where neither side is provably bounded)
    out = (df.select(F.col("doc_id"))
           .join(stats(2, "n2").hint("merge"), "doc_id", "left")
           .join(stats(3, "n3").hint("merge"), "doc_id", "left"))

    def frac(num: Column, den: Column) -> Column:
        return F.when(den > 0, num.cast("double") / den.cast("double"))

    z = F.lit(0).cast("bigint")
    n2w = F.coalesce("n2_windows", z)
    n3w = F.coalesce("n3_windows", z)
    dup2 = frac(n2w - F.coalesce("n2_distinct", z), n2w)
    top2 = frac(F.coalesce("n2_top", z), n2w)
    dup3 = frac(n3w - F.coalesce("n3_distinct", z), n3w)
    top3 = frac(F.coalesce("n3_top", z), n3w)
    rep = (((n2w >= MIN_WINDOWS)
            & F.coalesce(top2 > TOP2_MAX_FRAC, F.lit(False)))
           | ((n3w >= MIN_WINDOWS)
              & F.coalesce(dup3 > DUP3_MAX_FRAC, F.lit(False))))
    return out.select(
        F.col("doc_id"),
        n2w.alias("n2_windows"), F.coalesce("n2_top", z).alias("n2_top"),
        n3w.alias("n3_windows"), F.coalesce("n3_top", z).alias("n3_top"),
        dup2.alias("dup2_frac"), top2.alias("top2_frac"),
        dup3.alias("dup3_frac"), top3.alias("top3_frac"),
        rep.alias("repetitive"))


def text_intradoc_repetition_query(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return intradoc_repetition(docs)


def _intradoc_sql() -> str:
    def gram_cte(n: int, pre: str) -> str:
        span = " || ' ' || ".join(f"t[i+{k}]" for k in range(n))
        h = md5_long_sql(f"({span})")
        return f"""g{pre} AS (
  SELECT doc_id, {h} AS h
  FROM toks, LATERAL (
    SELECT UNNEST(range(1, greatest(len(t) - {n - 1}, 0) + 1)) AS i) idx
), c{pre} AS (
  SELECT doc_id, h, COUNT(*) AS c FROM g{pre} GROUP BY doc_id, h
), s{pre} AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS {pre}_windows,
    CAST(COUNT(*) AS BIGINT) AS {pre}_distinct,
    CAST(MAX(c) AS BIGINT) AS {pre}_top
  FROM c{pre} GROUP BY doc_id
)"""

    def frac(num: str, den: str) -> str:
        return (f"CASE WHEN {den} > 0 THEN CAST({num} AS DOUBLE)"
                f" / CAST({den} AS DOUBLE) END")

    dup2 = frac("s2.n2_windows - s2.n2_distinct", "s2.n2_windows")
    top2 = frac("s2.n2_top", "s2.n2_windows")
    dup3 = frac("s3.n3_windows - s3.n3_distinct", "s3.n3_windows")
    top3 = frac("s3.n3_top", "s3.n3_windows")
    return rf"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
), {gram_cte(2, 'n2')},
{gram_cte(3, 'n3')}
SELECT d.doc_id,
  CAST(COALESCE(s2.n2_windows, 0) AS BIGINT) AS n2_windows,
  CAST(COALESCE(s2.n2_top, 0) AS BIGINT) AS n2_top,
  CAST(COALESCE(s3.n3_windows, 0) AS BIGINT) AS n3_windows,
  CAST(COALESCE(s3.n3_top, 0) AS BIGINT) AS n3_top,
  {dup2} AS dup2_frac,
  {top2} AS top2_frac,
  {dup3} AS dup3_frac,
  {top3} AS top3_frac,
  (COALESCE(s2.n2_windows, 0) >= {MIN_WINDOWS}
     AND COALESCE({top2} > {TOP2_MAX_FRAC}, FALSE))
    OR (COALESCE(s3.n3_windows, 0) >= {MIN_WINDOWS}
     AND COALESCE({dup3} > {DUP3_MAX_FRAC}, FALSE)) AS repetitive
FROM documents d
LEFT JOIN sn2 s2 ON s2.doc_id = d.doc_id
LEFT JOIN sn3 s3 ON s3.doc_id = d.doc_id
ORDER BY d.doc_id
"""


register(QuerySpec(
    "text_intradoc_repetition", text_intradoc_repetition_query,
    _intradoc_sql(),
    description="Gopher within-doc repetition: duplicate / top 2- and "
                "3-gram window fractions per document, one "
                "(doc_id, hash)-keyed shuffle per n, windows travel as "
                "60-bit hashes"))


# --- CCNet-style perplexity bucketing (head / middle / tail) ---------------------

def perplexity_buckets(df: DataFrame) -> DataFrame:
    """CCNet's corpus partitioning (Wenzek et al. 2020): rank every
    document by language-model quality and split the corpus into
    head / middle / tail thirds — the head trains, the tail is dropped
    or down-weighted. The LM signal is the engine's bigram familiarity
    (:func:`lm_familiarity`; CCNet uses KenLM perplexity — same role,
    and this one is exactly reproducible cross-engine).

    Determinism: the ranking key is the EXACT fixed-point mean
    ``fp_key = fp_sum div n_bigrams`` (BIGINT in [0, LM_SCALE]) with
    doc_id tie-break — no doubles anywhere in the ordering. Bucket
    boundaries are pure rank arithmetic (rank*3 vs n), so the thirds
    are exact by construction.

    Scale: the global rank over the |docs|-row score relation uses the
    shared binned two-phase machinery (functions/ranks.py) — row_number
    windows partition on a 65k-way value bin of the key, never on the
    whole relation (a bare ``row_number() OVER (ORDER BY score)`` is a
    single-reducer global sort at 100 TB). Docs with < 2 tokens have no
    bigrams, hence no score: they surface with NULL key/rank in the
    'tail' bucket (CCNet likewise keeps unscoreable fragments out of
    the head).
    """
    from downscaledclimatedata_spark.functions.ranks import (
        binned_row_number, value_bin)

    scores = (_lm_doc_scores(df, "text", "doc_id")
              .withColumn("fp_key", F.expr("fp_sum div n_bigrams"))
              .withColumn("_neg", -F.col("fp_key"))
              .withColumn("_lmbin", value_bin(F.col("_neg"), -LM_SCALE, 0)))
    ranked = binned_row_number(
        scores, "_lmbin", order_cols=(F.col("_neg"), F.col("doc_id")),
        out="lm_rank", count_col="n_scored").drop("_neg", "_lmbin",
                                                  "fp_sum")
    bucket = (F.when(F.col("lm_rank").isNull(), F.lit("tail"))
              .when(F.col("lm_rank") * 3 <= F.col("n_scored"), "head")
              .when(F.col("lm_rank") * 3 <= F.col("n_scored") * 2,
                    "middle")
              .otherwise("tail"))
    # corpus-scaled score relation back onto the corpus: pin sort-merge
    return (df.select(F.col("doc_id"))
            .join(ranked.hint("merge"), "doc_id", "left")
            .select(F.col("doc_id"),
                    F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
                    F.col("fp_key").cast("bigint").alias("fp_key"),
                    F.col("lm_rank").cast("bigint").alias("lm_rank"),
                    F.col("n_scored").cast("bigint").alias("n_scored"),
                    bucket.alias("bucket")))


def text_perplexity_buckets_query(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return perplexity_buckets(docs)


_PPL_BUCKETS_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
), bg AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM toks, LATERAL (SELECT UNNEST(range(1, greatest(len(t) - 1, 0) + 1)) AS i) idx
), bgc AS (
  SELECT w1, w2, COUNT(*) AS cbg FROM bg GROUP BY w1, w2
), pref AS (
  SELECT w1, SUM(cbg) AS cw1 FROM bgc GROUP BY w1
), model AS (
  SELECT b.w1, b.w2, (b.cbg * CAST({LM_SCALE} AS BIGINT)) // p.cw1 AS fp
  FROM bgc b JOIN pref p USING (w1)
), sc AS (
  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
    CAST(SUM(m.fp) AS BIGINT) AS fp_sum
  FROM bg g JOIN model m ON m.w1 = g.w1 AND m.w2 = g.w2
  GROUP BY g.doc_id
), rk AS (
  SELECT doc_id, n_bigrams, fp_sum // n_bigrams AS fp_key,
    CAST(ROW_NUMBER() OVER (ORDER BY fp_sum // n_bigrams DESC, doc_id)
         AS BIGINT) AS lm_rank,
    CAST(COUNT(*) OVER () AS BIGINT) AS n_scored
  FROM sc
)
SELECT d.doc_id, r.n_bigrams, CAST(r.fp_key AS BIGINT) AS fp_key,
  r.lm_rank, r.n_scored,
  CASE WHEN r.lm_rank IS NULL THEN 'tail'
       WHEN r.lm_rank * 3 <= r.n_scored THEN 'head'
       WHEN r.lm_rank * 3 <= r.n_scored * 2 THEN 'middle'
       ELSE 'tail' END AS bucket
FROM documents d LEFT JOIN rk r ON r.doc_id = d.doc_id
ORDER BY d.doc_id
"""

register(QuerySpec(
    "text_perplexity_buckets", text_perplexity_buckets_query,
    _PPL_BUCKETS_SQL,
    description="CCNet head/middle/tail corpus split by exact "
                "fixed-point LM familiarity rank — binned two-phase "
                "global rank (no single-reducer sort), thirds by pure "
                "rank arithmetic"))


# --- language-ID evaluation (confusion vs the labeled lang column) ---------------

def langid_confusion(df: DataFrame) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the
    corpus's labeled ``lang`` column: per (true, predicted) pair the
    doc count and its share of the true class — the eval every
    classifier-gated pipeline stage owes its operators before its
    verdicts route documents. One classification projection
    (shuffle-free), one bounded |langs|² aggregate.
    """
    from pyspark.sql import Window

    pred = language_id(df, "text", "doc_id").select(
        F.col("doc_id"), "predicted_lang")
    truth = df.select(F.col("doc_id"), F.col("lang").alias("true_lang"))
    # corpus-scaled join keyed on the id — sort-merge pinned
    cm = (truth.join(pred.hint("merge"), "doc_id")
          .groupBy("true_lang", "predicted_lang")
          .agg(F.count(F.lit(1)).alias("n_docs")))
    # per-true-class share: window over the BOUNDED |langs|² confusion
    # relation only (the low-cardinality-window rule applies to corpus
    # relations, not bounded roll-ups — same as the ranks.py offsets)
    w = F.sum("n_docs").over(Window.partitionBy("true_lang"))
    return (cm.select("true_lang", "predicted_lang",
                      F.col("n_docs").cast("bigint").alias("n_docs"),
                      (F.col("n_docs").cast("double")
                       / w.cast("double")).alias("share_of_true"))
            .orderBy("true_lang", "predicted_lang"))


def text_langid_eval_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return langid_confusion(docs)


def _langid_eval_sql() -> str:
    score_cols = ",\n    ".join(
        f"len(list_filter(toks, x -> list_contains(["
        + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        + f"], x))) AS score_{lang}"
        for lang in _LANG_ORDER)
    cases = []
    for lang in _LANG_ORDER:
        conds = []
        for other in _LANG_ORDER:
            if other == lang:
                continue
            op = (">=" if _LANG_ORDER.index(other) > _LANG_ORDER.index(lang)
                  else ">")
            conds.append(f"score_{lang} {op} score_{other}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{_LANG_ORDER[0]}' END"
    return f"""
WITH t AS (SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents),
s AS (SELECT doc_id, lang AS true_lang,
    {score_cols}
  FROM t),
p AS (SELECT doc_id, true_lang, {case_sql} AS predicted_lang FROM s),
cm AS (
  SELECT true_lang, predicted_lang, COUNT(*) AS n_docs
  FROM p GROUP BY true_lang, predicted_lang
)
SELECT true_lang, predicted_lang, CAST(n_docs AS BIGINT) AS n_docs,
  CAST(n_docs AS DOUBLE)
    / CAST(SUM(n_docs) OVER (PARTITION BY true_lang) AS DOUBLE)
    AS share_of_true
FROM cm
ORDER BY true_lang, predicted_lang
"""


register(QuerySpec(
    "text_langid_eval", text_langid_eval_query, _langid_eval_sql(),
    description="language-ID confusion matrix vs the labeled lang "
                "column: one classification projection, bounded "
                "|langs|^2 aggregate, per-true-class shares"))


# --- code-vs-prose detection (corpus routing signal) ------------------------------

# Documented thresholds: symbol-heavy, brace/semicolon-bearing,
# low-stopword text reads as code. Mirrors the routing gate pretraining
# pipelines run before tokenizer training (code and prose want different
# vocabularies and different quality rules).
CODE_SYMBOL_MIN = 0.05   # code symbols per character
CODE_STOPWORD_MAX = 0.05  # prose carries stopwords; code barely does
CODE_MIN_CHARS = 40


def code_signals(df: DataFrame) -> DataFrame:
    """Per-document code-likeness: counts of code-signal characters
    (braces/brackets/semicolons/operators), their density per char,
    stopword density per token, and the routing verdict
    (symbol-dense AND stopword-poor AND long enough to mean it).
    One shuffle-free codegen projection — regexp counts + the shared
    tokenizer; the verdict is two exact-ratio comparisons against
    documented thresholds (each ratio is ONE division of exact ints,
    so the comparison is engine-stable).
    """
    safe = F.coalesce(F.col("text"), F.lit(""))
    n_chars = F.length(safe)
    n_sym = F.regexp_count(safe, F.lit(r"[{}\[\]();=<>+*/&|^%#]"))
    toks = _tokens(safe)
    n_tok = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    sym_density = F.when(n_chars > 0,
                         n_sym.cast("double") / n_chars.cast("double"))
    stop_density = F.when(n_tok > 0,
                          n_stop.cast("double") / n_tok.cast("double"))
    is_code = ((n_chars >= CODE_MIN_CHARS)
               & F.coalesce(sym_density > CODE_SYMBOL_MIN, F.lit(False))
               & F.coalesce(stop_density < CODE_STOPWORD_MAX,
                            F.lit(False)))
    return df.select(
        F.col("doc_id"),
        n_chars.cast("bigint").alias("n_chars"),
        n_sym.cast("bigint").alias("n_code_symbols"),
        n_stop.cast("bigint").alias("n_stopwords"),
        sym_density.alias("symbol_density"),
        stop_density.alias("stopword_density"),
        is_code.alias("is_code"))


def text_code_detect_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return code_signals(docs)


def _code_detect_sql() -> str:
    stop_list = _STOP_LIST
    return rf"""
WITH m AS (
  SELECT doc_id,
    length(coalesce(text, '')) AS n_chars,
    length(coalesce(text, ''))
      - length(regexp_replace(coalesce(text, ''),
                              '[{{}}\[\]();=<>+*/&|^%#]', '', 'g'))
      AS n_sym,
    {_SAFE_TOKS_SQL} AS toks
  FROM documents
), s AS (
  SELECT doc_id, n_chars, n_sym, len(toks) AS n_tok,
    len(list_filter(toks, x -> list_contains({stop_list}, x))) AS n_stop
  FROM m
)
SELECT doc_id,
  CAST(n_chars AS BIGINT) AS n_chars,
  CAST(n_sym AS BIGINT) AS n_code_symbols,
  CAST(n_stop AS BIGINT) AS n_stopwords,
  CASE WHEN n_chars > 0
       THEN CAST(n_sym AS DOUBLE) / CAST(n_chars AS DOUBLE) END
    AS symbol_density,
  CASE WHEN n_tok > 0
       THEN CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE) END
    AS stopword_density,
  n_chars >= {CODE_MIN_CHARS}
    AND COALESCE(CASE WHEN n_chars > 0
          THEN CAST(n_sym AS DOUBLE) / CAST(n_chars AS DOUBLE) END
          > {CODE_SYMBOL_MIN}, FALSE)
    AND COALESCE(CASE WHEN n_tok > 0
          THEN CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE) END
          < {CODE_STOPWORD_MAX}, FALSE) AS is_code
FROM s
"""


register(QuerySpec(
    "text_code_detect", text_code_detect_query, _code_detect_sql(),
    description="code-vs-prose routing signal: symbol density + "
                "stopword density, shuffle-free projection, "
                "engine-stable exact-ratio thresholds"))


# --- winnowing fingerprints (Schleimer et al. 2003, the MOSS algorithm) ---------

WINNOW_K = 3   # k-gram size (tokens)
WINNOW_W = 4   # window: every w consecutive k-grams contribute >= 1 print


def winnow_fingerprints(df: DataFrame) -> DataFrame:
    """Winnowing document fingerprints: in every window of ``WINNOW_W``
    consecutive k-gram hashes select the minimum, breaking ties toward
    the RIGHTMOST position (the paper's rule — it maximizes window
    overlap so consecutive windows usually reselect the same print).
    Unlike mod-p fingerprint sampling (text_rolling_hash), winnowing
    GUARANTEES every w-window is covered, so no shared substring of
    length >= w + k - 1 tokens can escape detection — the property
    plagiarism/overlap detectors are built on.

    Output per doc: k-gram count, selected-print count, an
    order-independent XOR checksum of the selected (hash, pos) set, and
    density (prints per window; the paper's expected density is
    2/(w+1)). Shuffles are keyed on (doc, window-start) — key space
    grows with the corpus — and rows carry 8-byte hashes.
    """
    # positions must be the in-document k-gram index, so k-grams are
    # built with posexplode here rather than via shingled_rows (which
    # drops positions)
    toked = df.select(F.col("doc_id"), _tokens(F.col("text")).alias("t"))
    # sequence(1, stop) DESCENDS when stop < 1 (the shingles_of_tokens
    # gotcha) — short docs must produce an EMPTY index array
    idx = F.when(F.size("t") >= WINNOW_K,
                 F.sequence(F.lit(1), F.size("t") - (WINNOW_K - 1))
                 ).otherwise(F.array().cast("array<int>"))
    grams = toked.select(
        F.col("doc_id"),
        F.posexplode(F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at("t", i + j) for j in range(WINNOW_K)])))
        .alias("pos", "gram")).select(
        F.col("doc_id"), "pos", md5_long(F.col("gram")).alias("h"))
    # windows: gram at pos joins every window starting in
    # [pos - w + 1, pos]; clip to valid starts later via the group key
    offs = F.explode(F.array(*[F.lit(o) for o in range(WINNOW_W)])).alias("off")
    win = (grams.select(F.col("doc_id"), "pos", "h", offs)
           .select(F.col("doc_id"), (F.col("pos") - F.col("off"))
                   .alias("wstart"), "pos", "h")
           .filter(F.col("wstart") >= 0))
    n_grams = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    # merge-pinned (NOT broadcast): n_grams is one row per DOCUMENT —
    # corpus-scale — and Spark resolves BROADCAST over MERGE when both
    # hints are present, which would broadcast a corpus-sized relation
    full = (win.join(
                n_grams.select(F.col("doc_id"), (F.col("n_grams") - WINNOW_W)
                               .alias("max_start")).hint("merge"),
                "doc_id")
            .filter(F.col("wstart") <= F.col("max_start")))
    sel = (full.groupBy("doc_id", "wstart")
           .agg(F.min(F.struct(F.col("h"),
                               (-F.col("pos")).alias("np"))).alias("m"))
           .select(F.col("doc_id"), F.col("m.h").alias("h"),
                   (-F.col("m.np")).alias("pos"))
           .distinct())
    # XOR fingerprint of the selected set: order-independent and
    # overflow-free (a SUM of 60-bit hashes wraps int64 within ~8 rows)
    prints = (sel.select("doc_id", (F.col("h") + F.col("pos")).alias("hp"))
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_prints"),
                   F.expr("bit_xor(hp)").alias("checksum")))
    return (df.select(F.col("doc_id"))
            .join(n_grams.hint("merge"), "doc_id", "left")
            .join(prints.hint("merge"), "doc_id", "left")
            .select(
                F.col("doc_id"),
                F.coalesce("n_grams", F.lit(0)).cast("bigint")
                .alias("n_grams"),
                F.coalesce("n_prints", F.lit(0)).cast("bigint")
                .alias("n_prints"),
                F.coalesce("checksum", F.lit(0)).cast("bigint")
                .alias("checksum"),
                F.when(F.coalesce("n_grams", F.lit(0)) >= WINNOW_W,
                       F.coalesce("n_prints", F.lit(0)).cast("double")
                       / (F.col("n_grams") - WINNOW_W + 1).cast("double"))
                .alias("density")))
    # no trailing orderBy: per-doc report is corpus-sized; sorting it
    # globally is a full-range-shuffle tax with no consumer


def text_winnow_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return winnow_fingerprints(docs)


def _winnow_sql() -> str:
    k, w = WINNOW_K, WINNOW_W
    span = " || ' ' || ".join(f"t[i+{j}]" for j in range(k))
    h = md5_long_sql(f"({span})")
    return rf"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
), grams AS (
  SELECT doc_id, i - 1 AS pos, {h} AS h
  FROM toks, LATERAL (
    SELECT UNNEST(range(1, greatest(len(t) - {k - 1}, 0) + 1)) AS i) idx
), ng AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id
), win AS (
  SELECT g.doc_id, g.pos - o.off AS wstart, g.pos, g.h
  FROM grams g, LATERAL (SELECT UNNEST(range(0, {w})) AS off) o
  WHERE g.pos - o.off >= 0
), valid AS (
  SELECT w1.* FROM win w1 JOIN ng ON ng.doc_id = w1.doc_id
  WHERE w1.wstart <= ng.n_grams - {w}
), sel AS (
  SELECT DISTINCT doc_id, (m).h AS h, -(m).np AS pos FROM (
    SELECT doc_id, wstart, MIN({{'h': h, 'np': -pos}}) AS m
    FROM valid GROUP BY doc_id, wstart)
), prints AS (
  SELECT doc_id, COUNT(*) AS n_prints, BIT_XOR(h + pos) AS checksum
  FROM sel GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(COALESCE(n.n_grams, 0) AS BIGINT) AS n_grams,
  CAST(COALESCE(p.n_prints, 0) AS BIGINT) AS n_prints,
  CAST(COALESCE(p.checksum, 0) AS BIGINT) AS checksum,
  CASE WHEN COALESCE(n.n_grams, 0) >= {w}
       THEN CAST(COALESCE(p.n_prints, 0) AS DOUBLE)
            / CAST(n.n_grams - {w} + 1 AS DOUBLE) END AS density
FROM documents d
LEFT JOIN ng n ON n.doc_id = d.doc_id
LEFT JOIN prints p ON p.doc_id = d.doc_id
ORDER BY d.doc_id
"""


register(QuerySpec(
    "text_winnow_fingerprints", text_winnow_query, _winnow_sql(),
    description="winnowing (MOSS) fingerprints: rightmost-min per "
                "w-window of k-gram hashes — guaranteed coverage of "
                "every w-window, unlike mod-p sampling; "
                "(doc, window)-keyed shuffles of 8-byte hashes"))


# --- mojibake (encoding-damage) detection ----------------------------------------

# The classic UTF-8-read-as-Latin-1 artifacts: accented letters become
# "Ã" + a continuation glyph, smart quotes become "â€™"-family triples,
# and NBSP becomes "Â ". Literal alternation (no classes) so the Java
# and RE2 engines match byte-identical spans.
MOJIBAKE_RE = ("(Ã©|Ã¨|Ã¡|Ã³|Ãº|Ã±|Ã¤|Ã¶|Ã¼|Ã§|"
               "â€™|â€œ|â€˜|â€“|â€”|Â )")


def mojibake_signals(df: DataFrame) -> DataFrame:
    """Encoding-damage report: count of classic UTF-8-as-Latin-1
    artifact sequences per document, their density per character, and
    the damaged verdict (any artifact — one mojibake sequence means
    the document took a wrong decode somewhere in the pipeline and
    every non-ASCII char in it is suspect; the ftfy repair class).
    One shuffle-free codegen projection.
    """
    safe = F.coalesce(F.col("text"), F.lit(""))
    n = F.regexp_count(safe, F.lit(MOJIBAKE_RE))
    n_chars = F.length(safe)
    return df.select(
        F.col("doc_id"),
        n_chars.cast("bigint").alias("n_chars"),
        n.cast("bigint").alias("n_mojibake"),
        F.when(n_chars > 0, n.cast("double") / n_chars.cast("double"))
        .alias("mojibake_density"),
        (n > 0).alias("encoding_damaged"))


def text_mojibake_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return mojibake_signals(docs)


_MOJIBAKE_SQL = f"""
WITH m AS (
  SELECT doc_id,
    length(coalesce(text, '')) AS n_chars,
    length(regexp_split_to_array(coalesce(text, ''),
                                 '{MOJIBAKE_RE}')) - 1 AS n
  FROM documents
)
SELECT doc_id,
  CAST(n_chars AS BIGINT) AS n_chars,
  CAST(n AS BIGINT) AS n_mojibake,
  CASE WHEN n_chars > 0
       THEN CAST(n AS DOUBLE) / CAST(n_chars AS DOUBLE) END
    AS mojibake_density,
  n > 0 AS encoding_damaged
FROM m
"""

register(QuerySpec(
    "text_mojibake", text_mojibake_query, _MOJIBAKE_SQL,
    description="encoding-damage detection: UTF-8-as-Latin-1 artifact "
                "count per doc (literal alternation, engine-identical "
                "spans), shuffle-free projection"))


# --- vocabulary coverage / OOV rate on a held-out split ---------------------------

def oov_rate(df: DataFrame) -> DataFrame:
    """Out-of-vocabulary rate of a frozen vocabulary on held-out text:
    the vocabulary is every distinct token of the TRAIN half (even doc
    ids — the engine's deterministic split idiom), measured per
    language on the TEST half as both token-occurrence OOV mass and
    distinct-type OOV — the first number a tokenizer/vocab budget
    review asks for (what fraction of tomorrow's text does today's
    vocab not cover?).

    Scale: one explode per half; the vocab relation is DISTINCT tokens
    (vocab-bounded, far below corpus scale) and the membership test is
    a token-keyed left join of test-token COUNTS (not occurrences)
    against it — the stopword head partial-combines map-side before
    the shuffle, so the join carries |test types| rows, and the final
    report is a |langs|-row aggregate. No windows, no sorts.
    """
    toks = df.select(F.col("doc_id"), F.col("lang"),
                     F.explode(_tokens(F.coalesce(F.col("text"),
                                                  F.lit("")))).alias("t"))
    vocab = (toks.filter(F.col("doc_id") % 2 == 0)
             .select("t").distinct()
             .withColumn("in_vocab", F.lit(1)))
    test = (toks.filter(F.col("doc_id") % 2 == 1)
            .groupBy("lang", "t").agg(F.count(F.lit(1)).alias("n")))
    j = test.join(vocab.hint("merge"), "t", "left")
    oov = F.col("in_vocab").isNull()
    return (j.groupBy("lang")
            .agg(F.sum("n").alias("n_tokens"),
                 F.sum(F.when(oov, F.col("n")).otherwise(0))
                 .alias("n_oov"),
                 F.count(F.lit(1)).alias("n_types"),
                 F.sum(F.when(oov, 1).otherwise(0)).alias("n_oov_types"))
            .select("lang",
                    F.col("n_tokens").cast("bigint").alias("n_tokens"),
                    F.col("n_oov").cast("bigint").alias("n_oov"),
                    F.when(F.col("n_tokens") > 0,
                           F.col("n_oov").cast("double")
                           / F.col("n_tokens").cast("double"))
                    .otherwise(F.lit(0.0)).alias("oov_rate"),
                    F.col("n_types").cast("bigint").alias("n_types"),
                    F.col("n_oov_types").cast("bigint")
                    .alias("n_oov_types"))
            .orderBy("lang"))


def text_oov_rate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return oov_rate(load_table_parallel(spark, sf_dir, "documents",
                                        key="doc_id"))


_OOV_TOKS = (r"list_filter(string_split_regex(lower(coalesce(text, '')), "
             r"'[ \t\n\r\f\x0B]+'), x -> x <> '')")

_OOV_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({_OOV_TOKS}) AS t FROM documents
), vocab AS (
  SELECT DISTINCT t FROM toks WHERE doc_id % 2 = 0
), test AS (
  SELECT lang, t, COUNT(*) AS n FROM toks WHERE doc_id % 2 = 1
  GROUP BY lang, t
), j AS (
  SELECT test.lang, test.t, test.n, vocab.t IS NULL AS oov
  FROM test LEFT JOIN vocab ON test.t = vocab.t
)
SELECT lang,
  CAST(SUM(n) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN oov THEN n ELSE 0 END) AS BIGINT) AS n_oov,
  CASE WHEN SUM(n) > 0
       THEN CAST(SUM(CASE WHEN oov THEN n ELSE 0 END) AS DOUBLE)
            / CAST(SUM(n) AS DOUBLE) ELSE 0.0 END AS oov_rate,
  CAST(COUNT(*) AS BIGINT) AS n_types,
  CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov_types
FROM j GROUP BY lang ORDER BY lang
"""

register(QuerySpec(
    "text_oov_rate", text_oov_rate_query, _OOV_SQL,
    description="frozen-vocab OOV rate on a held-out split, per "
                "language: occurrence mass and distinct types; "
                "membership join carries type counts, never "
                "occurrences"))


# --- hapax / type-token lexical profile --------------------------------------------

def hapax_profile(df: DataFrame) -> DataFrame:
    """Per-source lexical-richness profile: token mass, distinct types,
    hapax legomena (types occurring exactly once IN THAT SOURCE),
    type/token ratio and hapax share — the Zipf-tail health check that
    distinguishes genuinely diverse text from template spam (boilerplate
    sources have cratered TTR and hapax share; OCR noise inflates both).

    Scale: one explode to (source, token) counts — the stopword head
    partial-combines map-side, so the shuffle carries |source x type|
    rows — then a |sources|-row roll-up. Exact integers; two divisions
    at the end.
    """
    toks = df.select(F.col("source"),
                     F.explode(_tokens(F.coalesce(F.col("text"),
                                                  F.lit("")))).alias("t"))
    per = toks.groupBy("source", "t").agg(F.count(F.lit(1)).alias("n"))
    return (per.groupBy("source")
            .agg(F.sum("n").alias("n_tokens"),
                 F.count(F.lit(1)).alias("n_types"),
                 F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
                 .alias("n_hapax"))
            .select("source",
                    F.col("n_tokens").cast("bigint").alias("n_tokens"),
                    F.col("n_types").cast("bigint").alias("n_types"),
                    F.col("n_hapax").cast("bigint").alias("n_hapax"),
                    F.when(F.col("n_tokens") > 0,
                           F.col("n_types").cast("double")
                           / F.col("n_tokens").cast("double"))
                    .otherwise(F.lit(0.0)).alias("type_token_ratio"),
                    F.when(F.col("n_types") > 0,
                           F.col("n_hapax").cast("double")
                           / F.col("n_types").cast("double"))
                    .otherwise(F.lit(0.0)).alias("hapax_share"))
            .orderBy("source"))


def text_hapax_profile_query(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    return hapax_profile(load_table_parallel(spark, sf_dir, "documents",
                                             key="doc_id"))


_HAPAX_TOKS = (r"list_filter(string_split_regex(lower(coalesce(text, '')), "
               r"'[ \t\n\r\f\x0B]+'), x -> x <> '')")

_HAPAX_SQL = f"""
WITH toks AS (
  SELECT source, unnest({_HAPAX_TOKS}) AS t FROM documents
), per AS (
  SELECT source, t, COUNT(*) AS n FROM toks GROUP BY source, t
)
SELECT source,
  CAST(SUM(n) AS BIGINT) AS n_tokens,
  CAST(COUNT(*) AS BIGINT) AS n_types,
  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
  CASE WHEN SUM(n) > 0
       THEN CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
       ELSE 0.0 END AS type_token_ratio,
  CASE WHEN COUNT(*) > 0
       THEN CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE)
       ELSE 0.0 END AS hapax_share
FROM per GROUP BY source ORDER BY source
"""

register(QuerySpec(
    "text_hapax_profile", text_hapax_profile_query, _HAPAX_SQL,
    description="per-source lexical richness: hapax legomena, "
                "type/token ratio, hapax share — exact counts, "
                "map-side-combined token shuffle"))


# --- sentence segmentation stats ----------------------------------------------------

SENT_RE = "[.!?]+"


def sentence_stats(df: DataFrame) -> DataFrame:
    """Per-doc sentence segmentation profile: sentence count, token
    mass, mean and max sentence length — the upstream signal for
    chunkers (split on sentence boundaries, pack to a token budget)
    and for quality heuristics (wall-of-text docs have one giant
    "sentence"; listicles have hundreds of tiny ones).

    Shuffle-free higher-order-function projection: one regex split on
    the terminator class, trim + drop empties, then per-sentence token
    counts folded with ``aggregate`` — no explode, so the corpus-scale
    row count never multiplies. The splitter is the same literal class
    in both engines (Java regex == DuckDB RE2 on this pattern).
    """
    low = F.coalesce(F.col("text"), F.lit(""))
    sents = F.filter(
        F.transform(F.split(low, SENT_RE), lambda s: F.trim(s)),
        lambda s: s != "")
    tok_counts = F.transform(
        sents,
        lambda s: F.size(F.filter(F.split(F.lower(s), WS_RE),
                                  lambda x: x != "")).cast("bigint"))
    n_sent = F.size(sents).cast("bigint")
    n_tok = F.aggregate(tok_counts, F.lit(0).cast("bigint"),
                        lambda acc, x: acc + x)
    return df.select(
        F.col("doc_id"),
        n_sent.alias("n_sentences"),
        n_tok.alias("n_tokens"),
        F.when(n_sent > 0, n_tok.cast("double") / n_sent.cast("double"))
        .otherwise(F.lit(0.0)).alias("mean_sentence_tokens"),
        F.when(n_sent > 0, F.array_max(tok_counts))
        .otherwise(F.lit(0)).cast("bigint").alias("max_sentence_tokens"))


def text_sentence_stats_query(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    return sentence_stats(load_table_parallel(spark, sf_dir, "documents",
                                              key="doc_id"))


_SENT_LIST = (r"list_filter(list_transform("
              r"string_split_regex(coalesce(text, ''), '[.!?]+'), "
              r"s -> trim(s)), s -> s <> '')")
_SENT_TOKS = (r"list_transform(" + _SENT_LIST + r", "
              r"s -> CAST(len(list_filter(string_split_regex(lower(s), "
              r"'[ \t\n\r\f\x0B]+'), x -> x <> '')) AS BIGINT))")

_SENT_SQL = f"""
WITH s AS (
  SELECT doc_id, {_SENT_TOKS} AS tc FROM documents
)
SELECT doc_id,
  CAST(len(tc) AS BIGINT) AS n_sentences,
  CAST(coalesce(list_sum(tc), 0) AS BIGINT) AS n_tokens,
  CASE WHEN len(tc) > 0
       THEN CAST(list_sum(tc) AS DOUBLE) / CAST(len(tc) AS DOUBLE)
       ELSE 0.0 END AS mean_sentence_tokens,
  CAST(CASE WHEN len(tc) > 0 THEN list_max(tc) ELSE 0 END AS BIGINT)
    AS max_sentence_tokens
FROM s
"""

register(QuerySpec(
    "text_sentence_stats", text_sentence_stats_query, _SENT_SQL,
    description="per-doc sentence segmentation profile via "
                "higher-order functions — no explode, corpus rows "
                "never multiply"))


# --- character-class (charset) profile ----------------------------------------------

def charset_profile(df: DataFrame) -> DataFrame:
    """Per-language character-class census: lowercase / uppercase /
    digit / whitespace / other counts and the ascii-letter fraction —
    the cheap signal behind language-ID features, OCR-noise detection
    (inflated 'other'), and tokenizer byte-budget planning.

    Shuffle-free regexp_count projections (identical literal classes
    in both regex engines), then one |langs|-row aggregate with
    map-side partials. Exact integers; one division.
    """
    t = F.coalesce(F.col("text"), F.lit(""))
    cls = {"n_lower": "[a-z]", "n_upper": "[A-Z]", "n_digit": "[0-9]",
           "n_space": r"[ \t\n\r\f\x0B]"}
    proj = df.select(
        F.col("lang"),
        F.length(t).cast("bigint").alias("n_chars"),
        *[F.regexp_count(t, F.lit(p)).cast("bigint").alias(k)
          for k, p in cls.items()])
    agg = proj.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
        *[F.sum(k).alias(k) for k in cls])
    other = (F.col("n_chars") - F.col("n_lower") - F.col("n_upper")
             - F.col("n_digit") - F.col("n_space"))
    return (agg.select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        *[F.col(k).cast("bigint").alias(k) for k in cls],
        other.cast("bigint").alias("n_other"),
        F.when(F.col("n_chars") > 0,
               (F.col("n_lower") + F.col("n_upper")).cast("double")
               / F.col("n_chars").cast("double"))
        .otherwise(F.lit(0.0)).alias("ascii_letter_frac"))
        .orderBy("lang"))


def text_charset_profile_query(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    return charset_profile(load_table_parallel(spark, sf_dir, "documents",
                                               key="doc_id"))


_CHARSET_SQL = r"""
WITH proj AS (
  SELECT lang,
    CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars,
    CAST(length(coalesce(text, ''))
         - length(regexp_replace(coalesce(text, ''), '[a-z]', '', 'g'))
         AS BIGINT) AS n_lower,
    CAST(length(coalesce(text, ''))
         - length(regexp_replace(coalesce(text, ''), '[A-Z]', '', 'g'))
         AS BIGINT) AS n_upper,
    CAST(length(coalesce(text, ''))
         - length(regexp_replace(coalesce(text, ''), '[0-9]', '', 'g'))
         AS BIGINT) AS n_digit,
    CAST(length(coalesce(text, ''))
         - length(regexp_replace(coalesce(text, ''),
                                 '[ \t\n\r\f\x0B]', '', 'g'))
         AS BIGINT) AS n_space
  FROM documents
)
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
  CAST(SUM(n_lower) AS BIGINT) AS n_lower,
  CAST(SUM(n_upper) AS BIGINT) AS n_upper,
  CAST(SUM(n_digit) AS BIGINT) AS n_digit,
  CAST(SUM(n_space) AS BIGINT) AS n_space,
  CAST(SUM(n_chars) - SUM(n_lower) - SUM(n_upper) - SUM(n_digit)
       - SUM(n_space) AS BIGINT) AS n_other,
  CASE WHEN SUM(n_chars) > 0
       THEN CAST(SUM(n_lower) + SUM(n_upper) AS DOUBLE)
            / CAST(SUM(n_chars) AS DOUBLE)
       ELSE 0.0 END AS ascii_letter_frac
FROM proj GROUP BY lang ORDER BY lang
"""

register(QuerySpec(
    "text_charset_profile", text_charset_profile_query, _CHARSET_SQL,
    description="per-language character-class census (lower/upper/"
                "digit/space/other + ascii-letter fraction) — "
                "shuffle-free projections, bounded aggregate"))


# --- RAKE-style keyword extraction ---------------------------------------------------

RAKE_MIN_FREQ = 3
RAKE_MAX_PHRASE = 4


def rake_keywords(df: DataFrame) -> DataFrame:
    """RAKE-style corpus keywords (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; each is scored by its words'
    corpus-wide degree (co-occurrence mass) against their frequency.
    The classic unsupervised keyword extractor — no model, one pass of
    counting.

    Scoring deviation, for exactness: canonical RAKE sums PER-WORD
    ratios deg(w)/freq(w) — a float accumulation whose order is not
    reproducible cross-engine. Here the phrase score is
    sum(deg(w)) / sum(freq(w)) — the same two integer masses, ONE
    division — which preserves the metric's direction (degree-rich
    words up, common words down) and is bit-identical everywhere.

    Plan: posexplode to (doc, pos, token); phrase ids are a running
    stopword count per doc (doc-keyed window, uniform); phrases over
    ``RAKE_MAX_PHRASE`` words are discarded (RAKE's own practice); word
    stats aggregate over phrase-word rows (map-side combine); phrase
    relation joins word stats on the word. Output is every phrase with
    corpus frequency >= ``RAKE_MIN_FREQ`` (a deterministic threshold, not a
    ratio-ordered top-k whose cutoff could ulp-flip between engines).
    """
    from pyspark.sql import Window

    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    toks = df.select(
        F.col("doc_id"),
        F.posexplode(_tokens(F.coalesce(F.col("text"), F.lit(""))))
        .alias("pos", "token"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    marked = toks.withColumn(
        "grp", F.sum(F.array_contains(stop_arr, F.col("token"))
                     .cast("int")).over(w))
    words = marked.filter(~F.array_contains(stop_arr, F.col("token")))
    phrases = (words.groupBy("doc_id", "grp")
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("pos", "token"))),
                       lambda x: x["token"]), " ").alias("phrase"),
                   F.count(F.lit(1)).alias("n_words"))
               .filter(F.col("n_words") <= RAKE_MAX_PHRASE))
    pw = phrases.select("phrase", "n_words",
                        F.explode(F.split("phrase", " ")).alias("wd"))
    wstats = (pw.groupBy("wd")
              .agg(F.count(F.lit(1)).alias("freq"),
                   F.sum("n_words").alias("deg")))
    scored = (pw.join(wstats.hint("merge"), "wd")
              .groupBy("phrase")
              .agg((F.count(F.lit(1))
                    / F.max("n_words")).cast("bigint").alias("n_occur"),
                   F.sum("deg").alias("sum_deg"),
                   F.sum("freq").alias("sum_freq")))
    # sums above count each occurrence once per word; normalize the
    # occurrence count by the phrase's word count (exact integer div —
    # the pw relation has n_words rows per occurrence)
    return (scored.filter(F.col("n_occur") >= RAKE_MIN_FREQ)
            .select("phrase",
                    F.col("n_occur").cast("bigint").alias("n_occur"),
                    F.col("sum_deg").cast("bigint").alias("sum_deg"),
                    F.col("sum_freq").cast("bigint").alias("sum_freq"),
                    (F.col("sum_deg").cast("double")
                     / F.col("sum_freq").cast("double")).alias("score"))
            .orderBy("phrase"))


def text_rake_keywords_query(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    return rake_keywords(load_table_parallel(spark, sf_dir, "documents",
                                             key="doc_id"))


_RAKE_TOKS = (r"list_filter(string_split_regex(lower(coalesce(text, '')), "
              r"'[ \t\n\r\f\x0B]+'), x -> x <> '')")

_RAKE_SQL = f"""
WITH toks AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS token
  FROM (SELECT doc_id, {_RAKE_TOKS} AS t FROM documents),
  LATERAL (SELECT UNNEST(range(1, len(t) + 1)) AS i) ix
), marked AS (
  SELECT doc_id, pos, token,
    SUM(CASE WHEN token IN {_STOP_LIST.replace('[', '(').replace(']', ')')}
        THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM toks
), words AS (
  SELECT * FROM marked
  WHERE token NOT IN {_STOP_LIST.replace('[', '(').replace(']', ')')}
), phrases AS (
  SELECT doc_id, grp,
    array_to_string(list_transform(
      list_sort(list({{'p': pos, 't': token}})), x -> x['t']), ' ')
      AS phrase,
    COUNT(*) AS n_words
  FROM words GROUP BY doc_id, grp
  HAVING COUNT(*) <= {RAKE_MAX_PHRASE}
), pw AS (
  SELECT phrase, n_words, UNNEST(string_split(phrase, ' ')) AS wd
  FROM phrases
), wstats AS (
  SELECT wd, COUNT(*) AS freq, SUM(n_words) AS deg FROM pw GROUP BY wd
), scored AS (
  SELECT p.phrase,
    COUNT(*) // MAX(p.n_words) AS n_occur,
    SUM(w.deg) AS sum_deg,
    SUM(w.freq) AS sum_freq
  FROM pw p JOIN wstats w USING (wd)
  GROUP BY p.phrase
)
SELECT phrase,
  CAST(n_occur AS BIGINT) AS n_occur,
  CAST(sum_deg AS BIGINT) AS sum_deg,
  CAST(sum_freq AS BIGINT) AS sum_freq,
  CAST(sum_deg AS DOUBLE) / CAST(sum_freq AS DOUBLE) AS score
FROM scored WHERE n_occur >= {RAKE_MIN_FREQ}
ORDER BY phrase
"""

register(QuerySpec(
    "text_rake_keywords", text_rake_keywords_query, _RAKE_SQL,
    description="RAKE-style keywords: stopword-delimited phrase runs "
                "scored by exact integer degree/frequency masses with "
                "one division — no model, deterministic threshold"))


# --- byte fertility (bytes per token) per language -------------------------------------

def byte_fertility(df: DataFrame) -> DataFrame:
    """Bytes-per-token by language — the tokenizer-budget planning
    number (byte-level models pay this directly; BPE vocab sizing
    follows it): exact UTF-8 byte mass over exact whitespace-token
    counts, one division per language row.

    Shuffle-free projections (octet_length / token size), one bounded
    aggregate with map-side partials.
    """
    t = F.coalesce(F.col("text"), F.lit(""))
    toks = F.filter(F.split(F.lower(t), WS_RE), lambda x: x != "")
    proj = df.select(F.col("lang"),
                     F.octet_length(t).cast("bigint").alias("n_bytes"),
                     F.size(toks).cast("bigint").alias("n_toks"))
    return (proj.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_bytes").alias("n_bytes"),
                 F.sum("n_toks").alias("n_tokens"))
            .select("lang",
                    F.col("n_docs").cast("bigint").alias("n_docs"),
                    F.col("n_bytes").cast("bigint").alias("n_bytes"),
                    F.col("n_tokens").cast("bigint").alias("n_tokens"),
                    F.when(F.col("n_tokens") > 0,
                           F.col("n_bytes").cast("double")
                           / F.col("n_tokens").cast("double"))
                    .otherwise(F.lit(0.0)).alias("bytes_per_token"))
            .orderBy("lang"))


def text_byte_fertility_query(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    return byte_fertility(load_table_parallel(spark, sf_dir, "documents",
                                              key="doc_id"))


_FERTILITY_SQL = r"""
WITH proj AS (
  SELECT lang,
    CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
    CAST(len(list_filter(string_split_regex(lower(coalesce(text, '')),
         '[ \t\n\r\f\x0B]+'), x -> x <> '')) AS BIGINT) AS n_toks
  FROM documents
)
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_bytes) AS BIGINT) AS n_bytes,
  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
  CASE WHEN SUM(n_toks) > 0
       THEN CAST(SUM(n_bytes) AS DOUBLE) / CAST(SUM(n_toks) AS DOUBLE)
       ELSE 0.0 END AS bytes_per_token
FROM proj GROUP BY lang ORDER BY lang
"""

register(QuerySpec(
    "text_byte_fertility", text_byte_fertility_query, _FERTILITY_SQL,
    description="bytes-per-token by language: exact UTF-8 byte mass / "
                "token counts, shuffle-free projections"))
