"""Training-data preparation operators: cleaning/PII redaction, per-source
quota sampling, and token-balanced shard assignment via a distributed rank.

These extend the engine beyond the reference's ingest surface (the
builder-brief "large-scale training-data pipeline" family, alongside
operators/dedup.py and operators/textops.py). Reference parity anchor:
the reference normalizes asset text metadata with anchored regex rewrites
(/root/reference/downscaled_climate_data/assets/loca2.py:120-143); the
cleaning pass here applies the same regexp-rewrite discipline to document
bodies at corpus scale.

Design notes (100 TB):

- Cleaning is a single narrow projection — regexp_replace / filter /
  aggregate Catalyst expressions, no shuffle, no Python. It pushes only
  (doc_id, text, source) through the scan.
- Quota sampling shuffles once on ``source`` (the window key). Per-source
  state is one counter; skewed sources cost one task's sort, bounded by
  the per-source cap's early TakeOrdered when ``cap`` is small.
- Shard assignment needs a GLOBAL rank by token count. A naive
  ``row_number() OVER (ORDER BY ...)`` collapses to ONE task at any
  scale, so rank is computed in two phases like q59's packing
  (plans/scale.py): row_number within fixed token-count bins (parallel
  width = bins x AQE splits) + a broadcast cumulative-offset relation
  over the tiny per-bin histogram. Bins are ranges of the sort key, so
  bin-major order == global order and the composition is exact, not
  approximate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from downscaledclimatedata_spark.functions.hashing import md5_long, md5_long_sql
from downscaledclimatedata_spark.functions.text import WS_RE
from downscaledclimatedata_spark.plans import QuerySpec, register
from downscaledclimatedata_spark.sources.tables import load_table

# PII patterns restricted to syntax with identical semantics in Java
# regex (Spark) and RE2 (DuckDB): character classes, +, {m,n} — no
# backrefs, no lookaround. Whitespace uses the explicit WS_RE class
# (functions/text.py) — Java \s matches \x0B, RE2 \s does not.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
URL_RE = "https?://[^ ]+"
IPV4_RE = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
# Separated-digit-group shapes only (4-4-4-4 cards, 3-3-4 phones with an
# optional +CC/area parens) — unseparated digit runs are left alone so the
# two classes cannot swallow arbitrary numeric text. Literal +() appear as
# classes ([+] [(] [)]) — identical parse in Java regex and RE2.
CC_RE = "[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}"
PHONE_RE = "([+][0-9]{1,2}[-. ])?[(]?[0-9]{3}[)]?[-. ][0-9]{3}[-. ][0-9]{4}"

STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")


def clean_documents(df: DataFrame,
                    keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Normalize + redact one document column in a single projection.

    Steps (order matters — count PII before redacting): count email/URL/
    IPv4/credit-card/phone matches, rewrite them to typed placeholder
    tokens (card before phone, so a card's digit groups are gone before
    the phone shape scans), collapse runs of whitespace, trim, and
    derive a stopword-free content view for downstream dedup/quality
    passes. Counts are per-class over the RAW text. ``keep_cols`` are
    passed through untouched (still one projection — no join needed
    downstream).
    """
    t = F.col("text")
    n_pii = (F.regexp_count(t, F.lit(EMAIL_RE))
             + F.regexp_count(t, F.lit(URL_RE))
             + F.regexp_count(t, F.lit(IPV4_RE))
             + F.regexp_count(t, F.lit(CC_RE))
             + F.regexp_count(t, F.lit(PHONE_RE)))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(t, EMAIL_RE, "<EMAIL>"),
                    URL_RE, "<URL>"),
                IPV4_RE, "<IP>"),
            CC_RE, "<CC>"),
        PHONE_RE, "<PHONE>")
    clean = F.trim(F.regexp_replace(redacted, WS_RE, " "))
    toks = F.filter(F.split(clean, " "), lambda x: x != "")
    kept = F.filter(toks, lambda x: ~x.isin(*STOPWORDS))
    return df.select(
        F.col("doc_id"),
        *[F.col(c) for c in keep_cols],
        clean.alias("clean_text"),
        n_pii.cast("bigint").alias("n_pii"),
        # coalesce: NULL text must yield '' like the oracle's
        # coalesce(array_to_string(...), ''), not NULL
        F.coalesce(F.array_join(kept, " "), F.lit("")).alias("content_text"),
        F.size(kept).cast("bigint").alias("n_content_tokens"),
    )


def source_quota_sample(df: DataFrame, cap: int,
                        order_col: str = "n_chars") -> DataFrame:
    """Keep at most ``cap`` documents per source, preferring the longest.

    The domain-quota pass every crawl-derived corpus needs (bound any one
    domain's share of the training mix). Deterministic: ties broken by id.
    All input columns are preserved (plus ``rk``) so the op composes in
    pipelines.

    Scale: Catalyst rewrites the ``row_number() <= cap`` filter into
    WindowGroupLimit with a PARTIAL pass before the shuffle — every map
    task keeps at most ``cap`` rows per source locally, so a HOT source
    (one domain = 30% of a 100 TB crawl) ships ≤ tasks x cap rows to its
    reducer instead of its whole partition. The plan test pins this
    rewrite; a hand-rolled two-phase prefilter would duplicate it.
    """
    w = (Window.partitionBy("source")
         .orderBy(F.col(order_col).desc(), F.col("doc_id")))
    return (df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= cap))


MAX_BINS = 1_000_000  # broadcast budget for the bin histogram


def auto_bin_width(max_tokens: int) -> int:
    """Smallest bin width keeping the bin histogram under ``MAX_BINS``
    rows (bins = token-count ranges, so |bins| <= max_tokens/width + 1),
    never below 16. The global rank is exact for ANY width — width
    is a pure scale knob, auto-derived instead of hand-retuned."""
    if max_tokens <= 0:
        return 16
    return max(16, -(-(max_tokens + 1) // MAX_BINS))


def token_balanced_shards(df: DataFrame, n_shards: int, id_col: str = "doc_id",
                          bin_width: int | None = None,
                          n_tokens_col: str | None = None) -> DataFrame:
    """Assign docs to ``n_shards`` output shards with near-equal token mass.

    Longest-processing-time round-robin: rank all docs by token count
    descending, shard = (rank-1) % n_shards. The global rank is computed
    scale-safely in two phases (see module docstring): per-bin
    row_number + broadcast cumulative offsets over the per-bin histogram.

    ``bin_width=None`` (default) derives the width from the corpus's max
    token count (one aggregation over the checkpointed narrow relation)
    so the histogram is provably <= MAX_BINS rows at any corpus; results
    are identical for every width. Pass ``n_tokens_col`` to reuse a token
    count an upstream stage already computed instead of re-tokenizing
    ``text``.
    """
    # NULL-text docs count as 0 tokens: a NULL n_tokens would make a NULL
    # bin, and the equi-join on bin below silently DROPS NULL keys — the
    # doc would vanish from the shard assignment (pinned by the NULL-text
    # row in the edge-corpus parity suite).
    if n_tokens_col is not None:
        with_n = df.select(
            F.col(id_col),
            F.coalesce(F.col(n_tokens_col).cast("bigint"), F.lit(0))
            .alias("n_tokens"))
    else:
        toks = F.filter(F.split(F.lower("text"), WS_RE), lambda x: x != "")
        with_n = df.select(
            F.col(id_col),
            F.coalesce(F.size(toks).cast("bigint"), F.lit(0))
            .alias("n_tokens"))
    if bin_width is None:
        # checkpoint so tokenization runs once, not once for the max and
        # once for the ranking; the max is a bounded driver scalar
        with_n = with_n.localCheckpoint()
        mx = with_n.agg(F.max("n_tokens")).first()[0]
        bin_width = auto_bin_width(int(mx or 0))
    binned = with_n.withColumn(
        "bin", (F.col("n_tokens") / F.lit(bin_width)).cast("bigint"))

    # phase 1: rank within each token-count bin (parallel across bins)
    wb = Window.partitionBy("bin").orderBy(
        F.col("n_tokens").desc(), F.col(id_col))
    ranked = binned.withColumn("rn", F.row_number().over(wb))

    # phase 2: tiny histogram -> docs in strictly-higher bins = offset
    hist = binned.groupBy("bin").agg(F.count("*").alias("n"))
    wo = (Window.orderBy(F.col("bin").desc())
          .rowsBetween(Window.unboundedPreceding, -1))
    offsets = hist.select(
        "bin", F.coalesce(F.sum("n").over(wo), F.lit(0)).alias("offset"))

    return (ranked.join(F.broadcast(offsets), "bin")
            .select(id_col, "n_tokens",
                    (F.col("offset") + F.col("rn")).alias("global_rank"))
            .withColumn(
                "shard",
                ((F.col("global_rank") - 1) % n_shards).cast("bigint")))


def global_shuffle(df: DataFrame, n_shards: int,
                   seed: str = "epoch0",
                   carry_rows: bool = False) -> DataFrame:
    """Deterministic seeded global shuffle for training-order randomization.

    Every training epoch wants the corpus in a fresh pseudo-random order
    that is reproducible across re-runs and independent of input
    partitioning / task scheduling. Key = portable 60-bit md5 of
    (seed, id); ``shard`` = key % n_shards; ``pos`` = row_number within
    the shard ordered by (key, id). Reading shards in shard order and
    rows in pos order realizes the composite ordering
    ``ORDER BY (key % K, key, id)`` — a deterministic function of the
    uniform hash key, so a new ``seed`` yields an unrelated order.

    Scale: the only shuffle is the hash-partitioned window on ``shard``
    — each window holds ~corpus/n_shards rows and ranks in parallel
    across shards; there is never a global single-task ORDER BY (the
    same trap token_balanced_shards avoids). ``n_shards`` is the
    parallelism knob: size it so corpus/n_shards rows fit one task.

    ``carry_rows=True`` keeps the input columns on the ranked rows —
    for a caller that will immediately re-attach them (the corpus
    builder's shard write), pushing the full rows through the ONE
    window shuffle is strictly cheaper than ranking a narrow (id, k)
    relation and joining the corpus back (the join re-shuffles the
    same corpus bytes AND the key relation a second time; r13).
    ``shard``/``pos`` values are identical either way.
    """
    key = md5_long(F.col("doc_id").cast("string"), seed=f"{seed}:")
    keyed = (df.withColumn("_gsk", key) if carry_rows
             else df.select(F.col("doc_id"), key.alias("_gsk")))
    w = Window.partitionBy("shard").orderBy("_gsk", "doc_id")
    ranked = (keyed.withColumn("shard",
                               (F.col("_gsk") % n_shards).cast("bigint"))
              .withColumn("pos", F.row_number().over(w).cast("bigint")))
    return (ranked.drop("_gsk") if carry_rows
            else ranked.select("doc_id", "shard", "pos"))


N_SHUFFLE_SHARDS = 64


def prep_global_shuffle_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return global_shuffle(docs, N_SHUFFLE_SHARDS)


_PREP_SHUFFLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
    {md5_long_sql("CAST(doc_id AS VARCHAR)", seed="epoch0:")} AS k
  FROM documents)
SELECT doc_id, CAST(k % {N_SHUFFLE_SHARDS} AS BIGINT) AS shard,
  CAST(ROW_NUMBER() OVER (
    PARTITION BY k % {N_SHUFFLE_SHARDS} ORDER BY k, doc_id) AS BIGINT) AS pos
FROM keyed
"""


# --- registered specs ----------------------------------------------------------

def prep_text_clean_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No trailing orderBy: a global sort's range-sampling pass evaluates
    # the whole (regex-heavy) projection a second time, doubling the
    # query — and the driver compare is order-insensitive anyway. At
    # corpus scale the cleaned output is consumed partition-wise, never
    # globally sorted.
    docs = load_table(spark, sf_dir, "documents")
    return clean_documents(docs)


_PREP_CLEAN_SQL = r"""
WITH red AS (
  SELECT doc_id,
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>', 'g'),
              'https?://[^ ]+', '<URL>', 'g'),
            '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', '<IP>', 'g'),
          '[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}', '<CC>', 'g'),
        '([+][0-9]{1,2}[-. ])?[(]?[0-9]{3}[)]?[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g'),
      '[ \t\n\r\f\x0B]+', ' ', 'g')) AS clean_text,
    CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}'))
       + len(regexp_extract_all(text, 'https?://[^ ]+'))
       + len(regexp_extract_all(text, '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}'))
       + len(regexp_extract_all(text, '[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}'))
       + len(regexp_extract_all(text, '([+][0-9]{1,2}[-. ])?[(]?[0-9]{3}[)]?[-. ][0-9]{3}[-. ][0-9]{4}'))
       AS BIGINT) AS n_pii
  FROM documents),
kept AS (
  SELECT doc_id, clean_text, n_pii,
    list_filter(
      list_filter(string_split(clean_text, ' '), x -> x <> ''),
      x -> NOT list_contains(['the','a','of','and','in','to','is'], x)) AS ks
  FROM red)
SELECT doc_id, clean_text, n_pii,
  coalesce(array_to_string(ks, ' '), '') AS content_text,
  CAST(len(ks) AS BIGINT) AS n_content_tokens
FROM kept
"""


def prep_source_quota_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (source_quota_sample(docs, cap=10)
            .select("doc_id", "source", "n_chars", "rk")
            .orderBy("source", "rk"))


_PREP_QUOTA_SQL = """
SELECT doc_id, source, n_chars, rk FROM (
  SELECT doc_id, source, n_chars,
    row_number() OVER (PARTITION BY source
                       ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents)
WHERE rk <= 10 ORDER BY source, rk
"""

N_SHARDS = 8


def prep_balanced_shards_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    shards = token_balanced_shards(docs, n_shards=N_SHARDS)
    return (shards.groupBy("shard")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.min("global_rank").alias("first_rank"))
            .orderBy("shard"))


_PREP_SHARDS_SQL = rf"""
WITH t AS (
  SELECT doc_id,
    coalesce(CAST(len(list_filter(
      string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'),
      x -> x <> '')) AS BIGINT), 0) AS n_tokens
  FROM documents),
r AS (
  SELECT doc_id, n_tokens,
    row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS global_rank
  FROM t)
SELECT CAST((global_rank - 1) % {N_SHARDS} AS BIGINT) AS shard,
  COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  MIN(global_rank) AS first_rank
FROM r GROUP BY 1 ORDER BY shard
"""

register(QuerySpec(
    "prep_text_clean", prep_text_clean_query, _PREP_CLEAN_SQL,
    headline=True,
    description="normalize + PII-redact + stopword-strip every document "
                "in one shuffle-free projection"))
register(QuerySpec(
    "prep_source_quota", prep_source_quota_query, _PREP_QUOTA_SQL,
    description="per-source document cap (domain quota), longest-first"))
register(QuerySpec(
    "prep_balanced_shards", prep_balanced_shards_query, _PREP_SHARDS_SQL,
    description="LPT round-robin token-balanced shard assignment via "
                "two-phase distributed global rank"))
register(QuerySpec(
    "prep_global_shuffle", prep_global_shuffle_query, _PREP_SHUFFLE_SQL,
    description="seeded deterministic global shuffle (training-order "
                "randomization) via shard-parallel windows"))


# --- prep_pipeline: the prep family composed end-to-end -------------------------

PIPE_CAP = 15       # per-source quota
PIPE_SHARDS = 4     # output shards


def prep_pipeline_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clean -> per-source quota -> exact dedup -> token-balanced shards,
    composed as one declarative plan.

    The full prep pass a training-data run makes before tokenization:
    redact and normalize every document, cap any one source's share,
    drop exact content duplicates (min-id representative), and assign
    survivors to near-equal-token output shards. Catalyst plans the
    whole chain with three shuffles (source window, content-hash
    aggregation, bin window) — none global, none quadratic. Returns
    per-shard stats (small, deterministic).
    """
    from downscaledclimatedata_spark.functions.hashing import md5_long

    docs = load_table(spark, sf_dir, "documents")
    cleaned = clean_documents(docs, keep_cols=("source",))
    capped = source_quota_sample(cleaned, cap=PIPE_CAP,
                                 order_col="n_content_tokens")
    # exact dedup on the cleaned content: keep the min doc_id per hash
    hashed = capped.withColumn("content_hash", md5_long(F.col("content_text")))
    keep = (hashed.groupBy("content_hash")
            .agg(F.min("doc_id").alias("doc_id"),
                 F.min_by("n_content_tokens", "doc_id").alias("n_tokens")))
    shards = token_balanced_shards(keep, n_shards=PIPE_SHARDS,
                                   n_tokens_col="n_tokens")
    return (shards.groupBy("shard")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.min("global_rank").alias("first_rank"))
            .orderBy("shard"))


def _prep_pipeline_sql() -> str:
    from downscaledclimatedata_spark.functions.hashing import md5_long_sql
    stop_list = "['" + "','".join(STOPWORDS) + "']"
    return rf"""
WITH red AS (
  SELECT doc_id, source,
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{{2,}}', '<EMAIL>', 'g'),
              'https?://[^ ]+', '<URL>', 'g'),
            '[0-9]{{1,3}}[.][0-9]{{1,3}}[.][0-9]{{1,3}}[.][0-9]{{1,3}}', '<IP>', 'g'),
          '[0-9]{{4}}[- ][0-9]{{4}}[- ][0-9]{{4}}[- ][0-9]{{4}}', '<CC>', 'g'),
        '([+][0-9]{{1,2}}[-. ])?[(]?[0-9]{{3}}[)]?[-. ][0-9]{{3}}[-. ][0-9]{{4}}', '<PHONE>', 'g'),
      '[ \t\n\r\f\x0B]+', ' ', 'g')) AS clean_text
  FROM documents),
kept AS (
  SELECT doc_id, source,
    list_filter(
      list_filter(string_split(clean_text, ' '), x -> x <> ''),
      x -> NOT list_contains({stop_list}, x)) AS ks
  FROM red),
cleaned AS (
  SELECT doc_id, source,
    coalesce(array_to_string(ks, ' '), '') AS content_text,
    CAST(len(ks) AS BIGINT) AS n_content_tokens
  FROM kept),
capped AS (
  SELECT doc_id, content_text, n_content_tokens FROM (
    SELECT *, row_number() OVER (PARTITION BY source
      ORDER BY n_content_tokens DESC, doc_id) AS rk
    FROM cleaned)
  WHERE rk <= {PIPE_CAP}),
dedup AS (
  SELECT MIN(doc_id) AS doc_id,
    coalesce(MIN_BY(n_content_tokens, doc_id), 0) AS n_tokens
  FROM capped
  GROUP BY {md5_long_sql('content_text')}),
ranked AS (
  SELECT doc_id, n_tokens,
    row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS global_rank
  FROM dedup)
SELECT CAST((global_rank - 1) % {PIPE_SHARDS} AS BIGINT) AS shard,
  COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  MIN(global_rank) AS first_rank
FROM ranked GROUP BY 1 ORDER BY shard
"""


register(QuerySpec(
    "prep_pipeline", prep_pipeline_query, _prep_pipeline_sql(),
    description="clean -> source quota -> exact dedup -> balanced shards, "
                "one declarative plan (3 bounded shuffles)"))


# --- prep_pipeline_full: corpus -> training shards, end to end ------------------

PIPE_PACK_CAPACITY = 512   # tokens per packed training sequence
PIPE_PACK_BLOCK = 512      # phase-1 prefix-sum block (pure scale knob)
PIPE_FULL_SHARDS = 4
PIPE_SHUFFLE_SEED = "epoch0"


def prep_pipeline_full(docs: DataFrame, *, cap: int,
                       n_shards: int, pack_capacity: int,
                       pack_block: int, seed: str,
                       bin_width: int | None = None,
                       checkpoint: bool = True) -> DataFrame:
    """The whole corpus-to-training-shards job as ONE declarative plan:
    clean -> source quota -> exact dedup -> sequence packing -> token-
    balanced shards -> seeded in-shard shuffle order.

    Output is chunk-level: (ck, n_tokens, global_rank, shard, pos) where
    ``ck`` is the portable 60-bit hash of (source, chunk_id) — the
    training artifact: which packed sequence goes to which shard file,
    in which deterministic pseudo-random read order.

    Corpus-scale shuffles (each bounded, none global, none quadratic):
    quota window on source; dedup groupBy on content hash; packing
    phase-1 window on (source, block); chunk aggregation on
    (source, chunk_id); shard bin window; in-shard pos window. The
    packing offsets, bin histogram and bin offsets are tiny relations
    (≤ MAX_OFFSET_ROWS / MAX_BINS rows by construction) handled with
    broadcast joins / one single-partition window over the histogram.

    ``checkpoint=False`` keeps the full lineage in one logical plan
    (used by the plan-regression test to count exchanges across the
    whole chain); production leaves it True so the narrow sized
    relation materializes once.
    """
    cleaned = clean_documents(docs, keep_cols=("source",))
    capped = source_quota_sample(cleaned, cap=cap,
                                 order_col="n_content_tokens")
    hashed = capped.withColumn("content_hash", md5_long(F.col("content_text")))
    keep = (hashed.groupBy("content_hash")
            .agg(F.min("doc_id").alias("doc_id"),
                 F.min_by("source", "doc_id").alias("source"),
                 F.min_by("n_content_tokens", "doc_id").alias("n_tokens")))
    sized = keep.select(
        "doc_id", "source",
        F.expr(f"doc_id DIV {pack_block}").alias("block"), "n_tokens")
    if checkpoint:
        sized = sized.localCheckpoint()
    # packing: two-phase prefix sum (q59 discipline — parallel width ∝
    # blocks, per-source offsets over the tiny per-block relation)
    wb = (Window.partitionBy("source", "block").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = sized.withColumn(
        "local_before", F.sum("n_tokens").over(wb) - F.col("n_tokens"))
    wo = (Window.partitionBy("source").orderBy("block")
          .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (sized.groupBy("source", "block")
               .agg(F.sum("n_tokens").alias("block_total"))
               .select("source", "block",
                       F.coalesce(F.sum("block_total").over(wo), F.lit(0))
                       .alias("block_offset")))
    chunked = (local.join(F.broadcast(offsets), ["source", "block"])
               .select("source", "n_tokens",
                       F.floor((F.col("block_offset") + F.col("local_before"))
                               / pack_capacity).alias("chunk_id")))
    chunks = (chunked.groupBy("source", "chunk_id")
              .agg(F.sum("n_tokens").alias("chunk_tokens")))
    ck_rel = chunks.select(
        md5_long(F.concat_ws(":", "source",
                             F.col("chunk_id").cast("string"))).alias("ck"),
        "chunk_tokens")
    shards = token_balanced_shards(
        ck_rel, n_shards=n_shards, id_col="ck",
        n_tokens_col="chunk_tokens", bin_width=bin_width)
    # seeded training order WITHIN each balanced shard (global_shuffle's
    # shard-parallel window discipline, keyed on the balanced shard)
    k = md5_long(F.col("ck").cast("string"), seed=f"{seed}:")
    wp = Window.partitionBy("shard").orderBy("k", "ck")
    return (shards.withColumn("k", k)
            .withColumn("pos", F.row_number().over(wp).cast("bigint"))
            .select("ck", "n_tokens", "global_rank", "shard", "pos"))


def prep_pipeline_full_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return prep_pipeline_full(
        docs, cap=PIPE_CAP, n_shards=PIPE_FULL_SHARDS,
        pack_capacity=PIPE_PACK_CAPACITY, pack_block=PIPE_PACK_BLOCK,
        seed=PIPE_SHUFFLE_SEED)


def _prep_pipeline_full_sql() -> str:
    stop_list = "['" + "','".join(STOPWORDS) + "']"
    ck_expr = md5_long_sql("source || ':' || CAST(chunk_id AS VARCHAR)")
    k_expr = md5_long_sql("CAST(ck AS VARCHAR)", seed=f"{PIPE_SHUFFLE_SEED}:")
    return rf"""
WITH red AS (
  SELECT doc_id, source,
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{{2,}}', '<EMAIL>', 'g'),
              'https?://[^ ]+', '<URL>', 'g'),
            '[0-9]{{1,3}}[.][0-9]{{1,3}}[.][0-9]{{1,3}}[.][0-9]{{1,3}}', '<IP>', 'g'),
          '[0-9]{{4}}[- ][0-9]{{4}}[- ][0-9]{{4}}[- ][0-9]{{4}}', '<CC>', 'g'),
        '([+][0-9]{{1,2}}[-. ])?[(]?[0-9]{{3}}[)]?[-. ][0-9]{{3}}[-. ][0-9]{{4}}', '<PHONE>', 'g'),
      '[ \t\n\r\f\x0B]+', ' ', 'g')) AS clean_text
  FROM documents),
kept AS (
  SELECT doc_id, source,
    list_filter(
      list_filter(string_split(clean_text, ' '), x -> x <> ''),
      x -> NOT list_contains({stop_list}, x)) AS ks
  FROM red),
cleaned AS (
  SELECT doc_id, source,
    coalesce(array_to_string(ks, ' '), '') AS content_text,
    CAST(len(ks) AS BIGINT) AS n_content_tokens
  FROM kept),
capped AS (
  SELECT doc_id, source, content_text, n_content_tokens FROM (
    SELECT *, row_number() OVER (PARTITION BY source
      ORDER BY n_content_tokens DESC, doc_id) AS rk
    FROM cleaned)
  WHERE rk <= {PIPE_CAP}),
dedup AS (
  SELECT MIN(doc_id) AS doc_id,
    MIN_BY(source, doc_id) AS source,
    coalesce(MIN_BY(n_content_tokens, doc_id), 0) AS n_tokens
  FROM capped
  GROUP BY {md5_long_sql('content_text')}),
chunked AS (
  SELECT source, n_tokens,
    CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_tokens) / {PIPE_PACK_CAPACITY}) AS BIGINT) AS chunk_id
  FROM dedup),
chunks AS (
  SELECT source, chunk_id, CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens
  FROM chunked GROUP BY source, chunk_id),
ckrel AS (
  SELECT {ck_expr} AS ck, chunk_tokens AS n_tokens FROM chunks),
ranked AS (
  SELECT ck, n_tokens,
    row_number() OVER (ORDER BY n_tokens DESC, ck) AS global_rank
  FROM ckrel),
sharded AS (
  SELECT ck, n_tokens, global_rank,
    CAST((global_rank - 1) % {PIPE_FULL_SHARDS} AS BIGINT) AS shard
  FROM ranked)
SELECT ck, n_tokens, global_rank, shard,
  CAST(row_number() OVER (PARTITION BY shard ORDER BY {k_expr}, ck)
       AS BIGINT) AS pos
FROM sharded
"""


register(QuerySpec(
    "prep_pipeline_full", prep_pipeline_full_query, _prep_pipeline_full_sql(),
    description="corpus -> training shards end to end: clean -> quota -> "
                "exact dedup -> sequence packing -> token-balanced shards "
                "-> seeded in-shard order, one declarative plan"))


# --- Gopher-style quality-rule filter ------------------------------------------

# Rule thresholds (Rae et al. 2021 "Scaling Language Models" C4/Gopher
# filtering, adapted to the synthetic corpus's ranges so each rule
# actually splits it). Every rule is a pure per-row Catalyst expression.
QF_MIN_TOKENS = 15
QF_MAX_TOKENS = 100_000
QF_MIN_MEAN_WLEN = 4.0
QF_MAX_MEAN_WLEN = 10.0
QF_MAX_SYMBOL_RATIO = 0.1
QF_MAX_TOP_TOKEN_RATIO = 0.12
QF_MIN_STOPWORDS = 2
_SYMBOL_RE = "[^a-z0-9 ]"


def quality_filter(df: DataFrame, keep_input: bool = False) -> DataFrame:
    """Gopher-style rule-chain filter: per-document boolean verdicts with
    per-rule provenance (which rule failed), not just a score.

    Rules: token-count bounds, mean-word-length bounds, symbol-character
    ratio, most-frequent-token ratio (repetition), and minimum distinct
    stopwords. Float rules divide exact integers (counts/lengths), so the
    doubles are correctly rounded and bit-identical to the DuckDB oracle.

    Scale: one narrow projection, no shuffle, no UDF — the rule chain is
    entirely whole-stage-codegen'd. The top-token ratio is an O(u·n)
    per-row array expression (u = distinct tokens per doc), which stays
    embarrassingly parallel at any corpus size.
    """
    # NULL text is scored like the empty document (total function — a
    # NULL would otherwise propagate NULL rule flags in both engines)
    low = F.coalesce(F.lower(F.col("text")), F.lit(""))
    t = F.filter(F.split(low, WS_RE), lambda x: x != "")
    n = F.size(t)
    nd = n.cast("double")
    mean_wlen = F.when(
        n > 0,
        F.aggregate(t, F.lit(0).cast("bigint"),
                    lambda acc, x: acc + F.length(x)).cast("double") / nd
    ).otherwise(F.lit(0.0))
    top_cnt = F.when(
        n > 0,
        F.array_max(F.transform(
            F.array_distinct(t),
            lambda x: F.size(F.filter(t, lambda y: y == x))))
    ).otherwise(F.lit(0))
    top_ratio = F.when(n > 0, top_cnt.cast("double") / nd).otherwise(F.lit(0.0))
    sym_ratio = F.when(
        F.length(low) > 0,
        F.regexp_count(low, F.lit(_SYMBOL_RE)).cast("double")
        / F.length(low).cast("double")
    ).otherwise(F.lit(0.0))
    n_stop = F.size(F.array_intersect(
        F.array_distinct(t), F.array(*[F.lit(s) for s in STOPWORDS])))
    rules = [
        ("r_token_count", (n >= QF_MIN_TOKENS) & (n <= QF_MAX_TOKENS)),
        ("r_mean_word_len", (mean_wlen >= QF_MIN_MEAN_WLEN)
                            & (mean_wlen <= QF_MAX_MEAN_WLEN)),
        ("r_symbol_ratio", sym_ratio <= QF_MAX_SYMBOL_RATIO),
        ("r_top_token_ratio", top_ratio <= QF_MAX_TOP_TOKEN_RATIO),
        ("r_stopwords", n_stop >= QF_MIN_STOPWORDS),
    ]
    n_failed = None
    for _, cond in rules:
        piece = F.when(cond, F.lit(0)).otherwise(F.lit(1))
        n_failed = piece if n_failed is None else n_failed + piece
    if keep_input:
        # verdict columns appended to the full input row — lets a
        # pipeline filter on `passes` with NO join (and therefore no
        # shuffle) between scoring and selection.
        return df.select(
            "*",
            *[cond.alias(name) for name, cond in rules],
            n_failed.cast("bigint").alias("n_failed"),
            (n_failed == 0).alias("passes"),
        )
    return df.select(
        F.col("doc_id"),
        n.cast("bigint").alias("n_tokens"),
        mean_wlen.alias("mean_word_len"),
        top_ratio.alias("top_token_ratio"),
        n_stop.cast("bigint").alias("n_stopwords"),
        *[cond.alias(name) for name, cond in rules],
        n_failed.cast("bigint").alias("n_failed"),
        (n_failed == 0).alias("passes"),
    )


def prep_quality_filter_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return quality_filter(docs)


_TOKS_QF_SQL = (r"list_filter(string_split_regex(lower(text),"
                r" '[ \t\n\r\f\x0B]+'), x -> x <> '')")
_STOPLIST_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

_PREP_QUALITY_SQL = f"""
WITH toks AS (
  SELECT doc_id, coalesce(lower(text), '') AS low,
    list_filter(string_split_regex(coalesce(lower(text), ''),
                '[ \\t\\n\\r\\f\\x0B]+'), x -> x <> '') AS t
  FROM documents
), meas AS (
  SELECT doc_id, len(t) AS n,
    CASE WHEN len(t) > 0 THEN
      CAST(list_sum(list_transform(t, x -> CAST(len(x) AS BIGINT))) AS DOUBLE)
        / CAST(len(t) AS DOUBLE)
      ELSE 0.0 END AS mean_word_len,
    CASE WHEN len(t) > 0 THEN
      CAST(list_max(list_transform(list_distinct(t),
        x -> len(list_filter(t, y -> y = x)))) AS DOUBLE)
        / CAST(len(t) AS DOUBLE)
      ELSE 0.0 END AS top_token_ratio,
    CASE WHEN len(low) > 0 THEN
      CAST(len(regexp_extract_all(low, '{_SYMBOL_RE}')) AS DOUBLE)
        / CAST(len(low) AS DOUBLE)
      ELSE 0.0 END AS sym_ratio,
    len(list_intersect(list_distinct(t), {_STOPLIST_SQL})) AS n_stop
  FROM toks
), flagged AS (
  SELECT doc_id, n, mean_word_len, top_token_ratio, n_stop,
    (n >= {QF_MIN_TOKENS} AND n <= {QF_MAX_TOKENS}) AS r_token_count,
    (mean_word_len >= {QF_MIN_MEAN_WLEN}
     AND mean_word_len <= {QF_MAX_MEAN_WLEN}) AS r_mean_word_len,
    (sym_ratio <= {QF_MAX_SYMBOL_RATIO}) AS r_symbol_ratio,
    (top_token_ratio <= {QF_MAX_TOP_TOKEN_RATIO}) AS r_top_token_ratio,
    (n_stop >= {QF_MIN_STOPWORDS}) AS r_stopwords
  FROM meas
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, mean_word_len,
  top_token_ratio, CAST(n_stop AS BIGINT) AS n_stopwords,
  r_token_count, r_mean_word_len, r_symbol_ratio, r_top_token_ratio,
  r_stopwords,
  CAST((CASE WHEN r_token_count THEN 0 ELSE 1 END)
     + (CASE WHEN r_mean_word_len THEN 0 ELSE 1 END)
     + (CASE WHEN r_symbol_ratio THEN 0 ELSE 1 END)
     + (CASE WHEN r_top_token_ratio THEN 0 ELSE 1 END)
     + (CASE WHEN r_stopwords THEN 0 ELSE 1 END) AS BIGINT) AS n_failed,
  ((CASE WHEN r_token_count THEN 0 ELSE 1 END)
 + (CASE WHEN r_mean_word_len THEN 0 ELSE 1 END)
 + (CASE WHEN r_symbol_ratio THEN 0 ELSE 1 END)
 + (CASE WHEN r_top_token_ratio THEN 0 ELSE 1 END)
 + (CASE WHEN r_stopwords THEN 0 ELSE 1 END)) = 0 AS passes
FROM flagged
"""

register(QuerySpec(
    "prep_quality_filter", prep_quality_filter_query, _PREP_QUALITY_SQL,
    description="Gopher-style quality rule chain: token-count / mean-word-"
                "length / symbol-ratio / top-token-ratio / stopword rules "
                "with per-rule verdicts, one shuffle-free projection"))


# --- temperature-based domain-mixture sampling ---------------------------------

MIX_BUDGET_TOKENS = 50_000   # target token budget for the sampled mix
MIX_ACCEPT_MOD = 1_000_000   # acceptance-hash resolution


def domain_mixture_sample(df: DataFrame, budget_tokens: int) -> DataFrame:
    """Temperature-weighted per-source sampling toward a token budget.

    The data-mixture step of a training pipeline: given S sources with
    token masses tok_s, draw a sample whose expected per-source token
    mass is budget·w_s where w_s ∝ tok_s^α (temperature α = 1/2 —
    up-weights small sources relative to proportional sampling, the
    standard multilingual/multi-domain mix correction). The per-source
    acceptance rate is min(1, budget·w_s / tok_s); acceptance is a
    deterministic seeded 60-bit hash of (seed, id), so the sample is
    reproducible and independent of partitioning.

    Cross-engine exactness: α = 1/2 is computed as floor(sqrt(tok_s)) —
    an exact integer in both engines (IEEE sqrt is correctly rounded;
    pow() is not, which is why α is not a free parameter here). Rates
    are ratios of exact <2^53 integer products, so the doubles are
    bit-identical to the oracle.

    Scale: one groupBy(source) over a narrow (source, n_tokens)
    projection; the per-source rate relation is |S| rows, broadcast back
    onto the corpus; acceptance is a per-row hash compare. Returns
    per-source summary (rate + realized sample size/mass).
    """
    toks = F.filter(F.split(F.lower(F.col("text")), WS_RE),
                    lambda x: x != "")
    base = df.select(
        F.col("doc_id"), F.col("source"),
        F.coalesce(F.size(toks).cast("bigint"), F.lit(0)).alias("n_tokens"))
    base = base.localCheckpoint()  # tokenize once: stats pass + accept pass
    stats = (base.groupBy("source")
             .agg(F.count("*").alias("n_docs"),
                  F.sum("n_tokens").alias("tok_s"))
             .withColumn("w", F.floor(F.sqrt(F.col("tok_s").cast("double")))
                         .cast("bigint")))
    total = stats.agg(F.sum("w").alias("total_w"))
    rates = (stats.crossJoin(F.broadcast(total))
             .withColumn(
                 "rate",
                 F.least(F.lit(1.0),
                         (F.lit(budget_tokens) * F.col("w")).cast("double")
                         / (F.col("total_w") * F.col("tok_s")).cast("double")))
             .select("source", "n_docs", "tok_s", "rate"))
    accept = (md5_long(F.col("doc_id").cast("string"), seed="mix0:")
              % MIX_ACCEPT_MOD)
    sampled = (base.join(F.broadcast(rates.select("source", "rate")), "source")
               .filter(accept.cast("double")
                       < F.col("rate") * MIX_ACCEPT_MOD))
    realized = (sampled.groupBy("source")
                .agg(F.count("*").alias("n_sampled"),
                     F.sum("n_tokens").alias("tok_sampled")))
    return (rates.join(realized, "source", "left")
            .select("source", "n_docs", "tok_s", "rate",
                    F.coalesce(F.col("n_sampled"), F.lit(0)).cast("bigint")
                    .alias("n_sampled"),
                    F.coalesce(F.col("tok_sampled"), F.lit(0)).cast("bigint")
                    .alias("tok_sampled")))


def prep_domain_mixture_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return domain_mixture_sample(docs, MIX_BUDGET_TOKENS)


_PREP_MIXTURE_SQL = f"""
WITH base AS (
  SELECT doc_id, source,
    coalesce(len({_TOKS_QF_SQL}), 0) AS n_tokens
  FROM documents
), stats AS (
  -- CAST: DuckDB SUM(INTEGER) is HUGEINT, which pandas renders float64
  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS tok_s,
    CAST(floor(sqrt(CAST(SUM(n_tokens) AS DOUBLE))) AS BIGINT) AS w
  FROM base GROUP BY source
), rates AS (
  SELECT source, n_docs, tok_s,
    least(1.0, CAST({MIX_BUDGET_TOKENS} * w AS DOUBLE)
               / CAST((SELECT SUM(w) FROM stats) * tok_s AS DOUBLE)) AS rate
  FROM stats
), sampled AS (
  SELECT b.source, b.n_tokens
  FROM base b JOIN rates r ON r.source = b.source
  WHERE CAST({md5_long_sql("CAST(doc_id AS VARCHAR)", seed="mix0:")}
             % {MIX_ACCEPT_MOD} AS DOUBLE) < r.rate * {MIX_ACCEPT_MOD}
), realized AS (
  SELECT source, COUNT(*) AS n_sampled, SUM(n_tokens) AS tok_sampled
  FROM sampled GROUP BY source
)
SELECT r.source, r.n_docs, r.tok_s, r.rate,
  CAST(coalesce(z.n_sampled, 0) AS BIGINT) AS n_sampled,
  CAST(coalesce(z.tok_sampled, 0) AS BIGINT) AS tok_sampled
FROM rates r LEFT JOIN realized z ON z.source = r.source
"""

register(QuerySpec(
    "prep_domain_mixture", prep_domain_mixture_query, _PREP_MIXTURE_SQL,
    description="temperature-1/2 domain-mixture sampling to a token "
                "budget: exact integer-sqrt weights, seeded-hash "
                "acceptance, broadcast per-source rates"))


# --- training-shard sink --------------------------------------------------------

def write_training_shards(df: DataFrame, out_dir: str) -> None:
    """Materialize a sharded training corpus: one Hive-partitioned
    directory per shard, rows stored in ``pos`` order, so a sequential
    reader of shard/pos realizes the pipeline's seeded global order
    (global_shuffle / prep_pipeline_full contract) without any sort at
    read time.

    Scale: repartition BY THE SHARD COLUMN first so each shard is
    written by exactly one task (one file per shard — no small-file
    spray), then sortWithinPartitions orders rows inside the task before
    the write. No global sort anywhere; parallel width = shard count,
    which the upstream pipeline already sized to fit a task. When
    ``df`` is already hash-partitioned by ``shard`` on the same
    partition count (``global_shuffle``'s window), EnsureRequirements
    drops the repartition's Exchange, so the write pays one shuffle.
    """
    (df.repartition(F.col("shard"))
     .sortWithinPartitions("shard", "pos")
     .write.mode("overwrite").partitionBy("shard").parquet(out_dir))


# --- corpus report (the "corpus card" summary) ----------------------------------

def corpus_report(df: DataFrame) -> DataFrame:
    """One-pass corpus card: doc/token/char totals overall, per language,
    and per source — the summary table a dataset release ships.

    GROUPING SETS ((), (lang), (source)) computes all three groupings in
    a single scan + one shuffle (Spark expands rows once per set,
    partial-aggregates map-side); `grain` labels each output row. Token
    counts share the engine-wide tokenizer.
    """
    toks = F.filter(F.split(F.lower(F.col("text")), WS_RE),
                    lambda x: x != "")
    base = df.select(
        F.col("lang"), F.col("source"),
        F.coalesce(F.size(toks).cast("bigint"), F.lit(0)).alias("n_tokens"),
        F.coalesce(F.length("text").cast("bigint"), F.lit(0))
        .alias("n_chars"))
    g = base.groupingSets([[], [F.col("lang")], [F.col("source")]],
                          F.col("lang"), F.col("source"))
    return (g.agg(F.count("*").alias("n_docs"),
                  F.sum("n_tokens").alias("total_tokens"),
                  F.sum("n_chars").alias("total_chars"),
                  F.max("n_tokens").alias("max_tokens"))
            .select(
                F.when(F.col("lang").isNotNull(), F.lit("lang"))
                .when(F.col("source").isNotNull(), F.lit("source"))
                .otherwise(F.lit("all")).alias("grain"),
                F.coalesce(F.col("lang"), F.col("source"), F.lit("*"))
                .alias("key"),
                "n_docs", "total_tokens", "total_chars", "max_tokens"))


def prep_corpus_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus_report(docs)


_PREP_REPORT_SQL = f"""
WITH base AS (
  SELECT lang, source,
    coalesce(len({_TOKS_QF_SQL}), 0) AS n_tokens,
    coalesce(len(text), 0) AS n_chars
  FROM documents
)
SELECT
  CASE WHEN lang IS NOT NULL THEN 'lang'
       WHEN source IS NOT NULL THEN 'source'
       ELSE 'all' END AS grain,
  coalesce(lang, source, '*') AS key,
  COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
FROM base
GROUP BY GROUPING SETS ((), (lang), (source))
"""

register(QuerySpec(
    "prep_corpus_report", prep_corpus_report_query, _PREP_REPORT_SQL,
    description="corpus card: doc/token/char totals overall + per lang "
                "+ per source via GROUPING SETS — one scan, one shuffle"))


# --- pipeline observability (Observation metrics) -------------------------------

def observed(df: DataFrame, name: str = "prep"):
    """Attach zero-cost pipeline counters to a prep relation: rows,
    total tokens (when an ``n_tokens``-like column is present), and NULL
    text count. Returns (df, Observation) — metrics materialize as a
    side effect of whatever action the caller already runs, with NO
    extra pass over the data (the production alternative to a separate
    .count() job per pipeline stage).

    Read ``obs.get`` AFTER an action completes.
    """
    from pyspark.sql import Observation
    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    cols = set(df.columns)
    for c in ("n_tokens", "n_content_tokens"):
        if c in cols:
            metrics.append(
                F.sum(F.coalesce(F.col(c), F.lit(0))).alias("total_tokens"))
            break
    for c in ("text", "clean_text"):
        if c in cols:
            metrics.append(
                F.sum(F.col(c).isNull().cast("bigint")).alias("n_null_text"))
            break
    return df.observe(obs, *metrics), obs


def observed_get(obs, defaults: dict) -> dict:
    """``Observation.get`` that survives a zero-row action.

    When a runtime-empty side of an inner join sits BELOW the observed
    node, AQE's empty-relation propagation replaces the join with an
    empty relation and discards the whole not-yet-executed chain above
    it — including the ``CollectMetrics`` node. The JVM observation
    then completes with a SCHEMALESS empty row that pyspark's
    ``Observation.get`` cannot convert (``toPyRow`` asserts — observed
    r13 on an edge corpus whose mixture stage sampled zero docs). That
    state has exactly one meaning: zero rows reached the observed node,
    so the zero-row aggregate values (``defaults``) ARE the metrics the
    eliminated node would have reported.
    """
    jrow = obs._jo.getRow()  # blocks until the action completes
    if jrow is None or jrow.length() == 0:
        return dict(defaults)
    return obs.get


# --- curriculum ordering: quality-stratified training order --------------------

CURRICULUM_STAGES = 4


def curriculum_order(df: DataFrame) -> DataFrame:
    """(id, quality_score, stage, pos) curriculum assignment: documents
    stratified into ``CURRICULUM_STAGES`` quality bands (stage 0 = highest
    quality, consumed first) with a seeded pseudo-random order inside
    each stage — curriculum learning's data-side half.

    NO stage-cardinality plan step anywhere (the r7 audit's finding):

    * Stage cuts are EXACT ``quantile_cont`` values derived from exact
      order statistics, not ``percentile()`` (whose aggregation buffer
      holds per-distinct-value state — unbounded on a high-cardinality
      double score): the score is binned (``value_bin``, <= 64Ki-row
      histogram), ranked with the two-phase binned row_number
      (functions/ranks.py), and only the <= 2*(CURRICULUM_STAGES-1) rows at the
      quantile ranks are collected; the interpolated cuts come back as
      broadcast-free literals. An ulp of interpolation drift cannot
      flip a ``score > cut`` comparison — the cut lies between ADJACENT
      order statistics, where no data value exists (ranks.py).
    * In-stage position is the same binned row_number PARTITIONED BY
      (stage, hash-bin) — 64Ki hash bins per stage, so parallelism is
      ∝ bins, not ∝ the 4 stages (the previous window gave exactly
      n_stages reducers: 25 TB per task at 100 TB). Ordering key is the
      portable 60-bit seeded hash, deterministic under any input
      partitioning; equal hashes share a bin, so the two-phase rank is
      the exact same total order the old single window produced.

    A (stage, pos)-ordered reader realizes the curriculum exactly,
    mirroring ``global_shuffle``'s shard/pos contract. The score is
    ``quality_scores``' composite (textops.py) so the stratification
    key is itself oracle-checked upstream.
    """
    from downscaledclimatedata_spark.functions.ranks import (
        binned_row_number, hash_bin, interpolated_cuts, quantile_ranks,
        value_bin)
    from downscaledclimatedata_spark.operators.textops import quality_scores

    # checkpoint: consumed by the stats agg, the quantile-rank job, and
    # the returned plan — score the corpus once
    scored = quality_scores(df, "text", "doc_id") \
        .select("doc_id", "quality_score").localCheckpoint()
    st = scored.agg(F.count("quality_score").alias("n"),
                    F.min("quality_score").alias("lo"),
                    F.max("quality_score").alias("hi")).first()
    n, lo, hi = int(st["n"]), st["lo"], st["hi"]
    qs = [i / CURRICULUM_STAGES for i in range(1, CURRICULUM_STAGES)]
    if n == 0:
        # all-NULL scores: every comparison is false, all rows fall to
        # the bottom stage — same as NULL percentile cuts did
        cuts = [float("inf")] * len(qs)
    elif hi == lo:
        cuts = [float(lo)] * len(qs)
    else:
        ranks = quantile_ranks(n, qs)
        nn = (scored.filter(F.col("quality_score").isNotNull())
              .withColumn("_qbin", value_bin(F.col("quality_score"),
                                             float(lo), float(hi))))
        ranked = binned_row_number(nn, "_qbin",
                                   ("quality_score", "doc_id"), out="_grk")
        stats = [(int(r["_grk"]), float(r["quality_score"]))
                 for r in ranked.filter(F.col("_grk").isin(ranks))
                 .select("_grk", "quality_score").collect()]
        cuts = interpolated_cuts(stats, n, qs)
    # stage k = number of cuts the score strictly exceeds, counted from
    # the top: highest scores -> stage 0 (same chain as before, with
    # the cut scalars now literals instead of a crossJoin relation)
    stage = F.lit(CURRICULUM_STAGES - 1)
    for i, c in enumerate(cuts):
        stage = F.when(F.col("quality_score") > F.lit(c),
                       F.lit(CURRICULUM_STAGES - 2 - i)).otherwise(stage)
    staged = scored.select(
        F.col("doc_id"), F.col("quality_score"),
        stage.cast("int").alias("stage"),
        md5_long(F.col("doc_id").cast("string"), seed="cur0:").alias("_h"))
    pos = binned_row_number(
        staged.withColumn("_hbin", hash_bin(F.col("_h"))),
        "_hbin", (F.col("_h"), F.col("doc_id")),
        partition_cols=("stage",), out="_rk")
    return pos.select(
        "doc_id", "quality_score", "stage",
        (F.col("_rk") - 1).cast("bigint").alias("pos"))


def prep_curriculum_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return curriculum_order(docs)


def _curriculum_sql() -> str:
    from downscaledclimatedata_spark.operators.textops import (
        _TEXT_QUALITY_SQL)
    qs = [i / CURRICULUM_STAGES for i in range(1, CURRICULUM_STAGES)]
    cut_cols = ", ".join(
        f"quantile_cont(quality_score, {q}) AS c{i}"
        for i, q in enumerate(qs))
    # flat CASE, HIGHEST cut first: a score above c2 (p75) must land in
    # stage 0 even though it also exceeds c0/c1
    whens = " ".join(
        f"WHEN quality_score > c{i} THEN {CURRICULUM_STAGES - 2 - i}"
        for i in range(len(qs) - 1, -1, -1))
    stage_expr = f"CASE {whens} ELSE {CURRICULUM_STAGES - 1} END"
    return f"""
WITH scored AS (
  SELECT doc_id, quality_score FROM ({_TEXT_QUALITY_SQL})
), cuts AS (SELECT {cut_cols} FROM scored),
staged AS (
  SELECT doc_id, quality_score,
    CAST({stage_expr} AS INTEGER) AS stage
  FROM scored CROSS JOIN cuts
)
SELECT doc_id, quality_score, stage,
  CAST(ROW_NUMBER() OVER (
    PARTITION BY stage
    ORDER BY {md5_long_sql("CAST(doc_id AS VARCHAR)", seed="cur0:")}, doc_id
  ) - 1 AS BIGINT) AS pos
FROM staged
"""


register(QuerySpec(
    "prep_curriculum_order", prep_curriculum_query, _curriculum_sql(),
    description="curriculum learning order: percentile-stratified "
                "quality stages (broadcast scalar cuts, no global "
                "sort) + seeded in-stage positions"))


# --- corpus snapshot diff -------------------------------------------------------

def corpus_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Per-document diff of two corpus snapshots: ``added`` (id only in
    new), ``removed`` (only in old), ``changed`` (both, content hash
    differs), ``unchanged`` — the audit primitive of corpus versioning
    (what actually moved between crawl N and crawl N+1, before anyone
    retrains on it).

    Content equality is by portable 60-bit md5 of the text, so the diff
    never ships document bodies — both sides reduce to (id, hash)
    before the single full-outer join, keyed on the uniform id.
    """
    oh = old.select(F.col("doc_id"),
                    md5_long(F.coalesce(F.col("text"), F.lit("")))
                    .alias("old_hash"))
    nh = new.select(F.col("doc_id"),
                    md5_long(F.coalesce(F.col("text"), F.lit("")))
                    .alias("new_hash"))
    joined = oh.join(nh, "doc_id", "full_outer")
    status = (F.when(F.col("old_hash").isNull(), F.lit("added"))
              .when(F.col("new_hash").isNull(), F.lit("removed"))
              .when(F.col("old_hash") != F.col("new_hash"),
                    F.lit("changed"))
              .otherwise(F.lit("unchanged")))
    # corpus-sized output: no trailing global sort (r8 audit sweep)
    return joined.select(F.col("doc_id"), status.alias("status"))


def prep_corpus_diff_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic snapshots: old = ids with id % 7 != 0,
    new = ids with id % 5 != 0, and new's text carries an edit marker on
    id % 11 == 0 — so all four statuses appear in the report."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = (docs.filter(F.col("doc_id") % 5 != 0)
           .withColumn("text",
                       F.when(F.col("doc_id") % 11 == 0,
                              F.concat(F.coalesce(F.col("text"), F.lit("")),
                                       F.lit(" [edited]")))
                       .otherwise(F.col("text"))))
    return corpus_diff(old, new)


_PREP_DIFF_SQL = f"""
WITH old AS (
  SELECT doc_id, {md5_long_sql("coalesce(text, '')")} AS old_hash
  FROM documents WHERE doc_id % 7 <> 0
), new AS (
  SELECT doc_id,
    {md5_long_sql("coalesce(text, '') || CASE WHEN doc_id % 11 = 0 THEN ' [edited]' ELSE '' END")} AS new_hash
  FROM documents WHERE doc_id % 5 <> 0
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
  CASE WHEN o.old_hash IS NULL THEN 'added'
       WHEN n.new_hash IS NULL THEN 'removed'
       WHEN o.old_hash <> n.new_hash THEN 'changed'
       ELSE 'unchanged' END AS status
FROM old o FULL OUTER JOIN new n ON n.doc_id = o.doc_id
ORDER BY doc_id
"""

register(QuerySpec(
    "prep_corpus_diff", prep_corpus_diff_query, _PREP_DIFF_SQL,
    description="corpus snapshot diff: added/removed/changed/unchanged "
                "per doc via (id, content-hash) full-outer join — bodies "
                "never shuffle"))


# --- batch padding-efficiency report -------------------------------------------

PAD_BATCH = 32


def padding_report(df: DataFrame, batch_size: int = PAD_BATCH) -> DataFrame:
    """Padding waste of two batching strategies, measured exactly: a
    padded batch costs ``batch_rows × max_len`` tokens, of which
    ``sum_len`` are real — the rest is padding the GPU burns. Compares
    ``arrival`` (id-order batches, what a naive loader does) against
    ``length_sorted`` (length-bucketed batches, what every serious
    loader does), per strategy: batches, real tokens, padded tokens,
    waste ratio.

    Exact integers end to end (counts and sums of token counts); the
    one ratio divides at the end.

    Scale (r8 audit fix): the per-strategy batch index is a GLOBAL
    exact rank, but never a single-task window — both orderings
    (arrival id and token length) run on the binned two-phase
    row_number (functions/ranks.py), the same machinery behind
    global_shuffle and perplexity_buckets: windows partitioned on a
    64Ki value bin of the leading sort key, cumulative offsets over the
    bounded histogram broadcast back. The ranked relation is
    (id, n_tokens) — 16 bytes/doc — checkpointed once so tokenization
    runs a single time; driver scalars are the two (min, max) pairs
    sizing the bins.
    """
    from downscaledclimatedata_spark.functions.ranks import (
        binned_row_number, value_bin)

    toks = df.select(
        F.col("doc_id"),
        F.size(F.filter(F.split(F.lower(F.coalesce(F.col("text"),
                                                   F.lit(""))), WS_RE),
                        lambda x: x != "")).cast("bigint").alias("n_tokens")) \
        .localCheckpoint()
    st = toks.agg(F.min("doc_id"), F.max("doc_id"),
                  F.min("n_tokens"), F.max("n_tokens")).first()
    bounds = {"doc_id": (float(st[0] or 0), float(st[1] or 0)),
              "n_tokens": (float(st[2] or 0), float(st[3] or 0))}
    out = None
    for strategy, lead, order in (
            ("arrival", "doc_id", [F.col("doc_id")]),
            ("length_sorted", "n_tokens",
             [F.col("n_tokens"), F.col("doc_id")])):
        lo, hi = bounds[lead]
        binned = toks.withColumn(
            "_pbin", value_bin(F.col(lead).cast("double"), lo, hi))
        batched = binned_row_number(
            binned, "_pbin", tuple(order), out="_prn").withColumn(
            "batch", ((F.col("_prn") - 1)
                      / F.lit(batch_size)).cast("bigint"))
        per_batch = batched.groupBy("batch").agg(
            F.count(F.lit(1)).alias("rows"),
            F.max("n_tokens").alias("mx"),
            F.sum("n_tokens").alias("sm"))
        rep = per_batch.agg(
            F.count(F.lit(1)).alias("n_batches"),
            F.sum("sm").alias("real_tokens"),
            F.sum(F.col("rows") * F.col("mx") - F.col("sm"))
            .alias("padding_tokens"),
        ).select(
            F.lit(strategy).alias("strategy"),
            F.col("n_batches").cast("bigint").alias("n_batches"),
            F.col("real_tokens").cast("bigint").alias("real_tokens"),
            F.col("padding_tokens").cast("bigint").alias("padding_tokens"),
            F.when(F.col("real_tokens") + F.col("padding_tokens") > 0,
                   F.col("padding_tokens").cast("double")
                   / (F.col("real_tokens")
                      + F.col("padding_tokens")).cast("double"))
            .otherwise(F.lit(0.0)).alias("waste_ratio"))
        out = rep if out is None else out.unionAll(rep)
    return out.orderBy("strategy")


def prep_padding_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return padding_report(docs)


_PAD_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split_regex(lower(coalesce(text, '')),
      '[ \t\n\r\f\x0B]+'), x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
), strategies AS (
  SELECT 'arrival' AS strategy, doc_id, n_tokens,
    (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // {PAD_BATCH} AS batch
  FROM toks
  UNION ALL
  SELECT 'length_sorted', doc_id, n_tokens,
    (ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) - 1) // {PAD_BATCH}
  FROM toks
), per_batch AS (
  SELECT strategy, batch, COUNT(*) AS rows, MAX(n_tokens) AS mx,
    SUM(n_tokens) AS sm
  FROM strategies GROUP BY strategy, batch
)
SELECT strategy,
  CAST(COUNT(*) AS BIGINT) AS n_batches,
  CAST(SUM(sm) AS BIGINT) AS real_tokens,
  CAST(SUM(rows * mx - sm) AS BIGINT) AS padding_tokens,
  CASE WHEN SUM(sm) + SUM(rows * mx - sm) > 0
       THEN CAST(SUM(rows * mx - sm) AS DOUBLE)
            / CAST(SUM(sm) + SUM(rows * mx - sm) AS DOUBLE)
       ELSE 0.0 END AS waste_ratio
FROM per_batch GROUP BY strategy
ORDER BY strategy
"""

register(QuerySpec(
    "prep_padding_report", prep_padding_report_query, _PAD_SQL,
    description="batch padding-waste report: arrival-order vs "
                "length-sorted batching, exact token accounting"))


# --- context-length truncation --------------------------------------------------

TRUNC_MAX_TOKENS = 48


def truncate_documents(df: DataFrame) -> DataFrame:
    """Clip every document to its first ``TRUNC_MAX_TOKENS`` tokens — the
    context-length truncation step in front of any fixed-window model —
    reporting exactly what was lost: per doc the kept text, kept/clipped
    token counts, and the truncated flag.

    One shuffle-free projection (tokenize, slice, rejoin); clipped
    counts are exact integers, so the corpus-level loss report
    downstream is a plain aggregate of this relation.
    """
    toks = F.filter(F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))),
                            WS_RE), lambda x: x != "")
    n = F.size(toks)
    kept = F.slice(toks, 1, TRUNC_MAX_TOKENS)
    return df.select(
        F.col("doc_id"),
        F.concat_ws(" ", kept).alias("kept_text"),
        F.least(n, F.lit(TRUNC_MAX_TOKENS)).cast("bigint").alias("n_kept"),
        F.greatest(n - TRUNC_MAX_TOKENS, F.lit(0)).cast("bigint")
        .alias("n_clipped"),
        (n > TRUNC_MAX_TOKENS).alias("truncated"))


def prep_truncate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return truncate_documents(docs)


_TRUNC_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(coalesce(text, '')),
      '[ \t\n\r\f\x0B]+'), x -> x <> '') AS t
  FROM documents
)
SELECT doc_id,
  coalesce(array_to_string(t[1:{TRUNC_MAX_TOKENS}], ' '), '') AS kept_text,
  CAST(least(len(t), {TRUNC_MAX_TOKENS}) AS BIGINT) AS n_kept,
  CAST(greatest(len(t) - {TRUNC_MAX_TOKENS}, 0) AS BIGINT) AS n_clipped,
  len(t) > {TRUNC_MAX_TOKENS} AS truncated
FROM toks
"""

register(QuerySpec(
    "prep_truncate", prep_truncate_query, _TRUNC_SQL,
    description="context-length truncation: clip to max tokens with an "
                "exact per-doc loss report, one shuffle-free projection"))


# --- exact token-budget waterfilling (mixture planning) ---------------------------

WATERFILL_BUDGET = 12_000  # tokens, for the registered spec


def token_budget_waterfill(df: DataFrame, budget_tokens: int) -> DataFrame:
    """Exact waterfilling allocation of a token budget across sources:
    every source is capped at its own mass; the remainder is shared at
    a common water level t, computed EXACTLY in integers — small
    sources keep everything they have, big sources are clipped to t,
    and the ``rem`` leftover units go one-each to the first ``rem``
    unsaturated sources in (mass, name) order so Σ alloc == min(budget,
    total) holds to the token. This is the allocation the temperature
    mixture (domain_mixture_sample) RATES approximate in expectation;
    the waterfill is the deterministic plan a mixture budget review
    signs off on.

    Scale: one corpus scan partial-aggregates to the |sources|-row
    relation; every window below runs over that bounded relation only
    (the ranks.py-offsets discipline), so the corpus never sorts.
    """
    from pyspark.sql import Window

    toks = F.filter(F.split(F.lower(F.coalesce(F.col("text"),
                                               F.lit(""))), WS_RE),
                    lambda x: x != "")
    src = (df.select(F.col("source"),
                     F.size(toks).cast("bigint").alias("n"))
           .groupBy("source").agg(F.sum("n").alias("tok")))
    w = Window.orderBy("tok", "source")
    wall = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    b = F.lit(int(budget_tokens)).cast("bigint")
    lev = (src
           .withColumn("rn", F.row_number().over(w).cast("bigint"))
           .withColumn("cum_prev",
                       F.coalesce(F.sum("tok").over(
                           Window.orderBy("tok", "source")
                           .rowsBetween(Window.unboundedPreceding, -1)),
                           F.lit(0)).cast("bigint"))
           .withColumn("s_total", F.count(F.lit(1)).over(wall))
           .withColumn("nrest", F.col("s_total") - F.col("rn") + 1)
           .withColumn("level",
                       F.expr("(CAST({b} AS BIGINT) - cum_prev) div nrest"
                              .format(b=int(budget_tokens)))))
    bound = lev.withColumn(
        "boundary",
        F.min(F.when(F.col("tok") > F.col("level"), F.col("rn")))
        .over(wall))
    at_b = bound.filter(F.col("rn") == F.col("boundary")).select(
        F.col("level").alias("t_level"),
        ((b - F.col("cum_prev")) % F.col("nrest")).alias("t_rem"),
        F.col("boundary").alias("b_rn"))
    # when no boundary exists (total <= budget) at_b is empty: left join
    # on TRUE keeps every source with NULL level fields
    out = bound.join(F.broadcast(at_b), F.lit(True), "left")
    alloc = (F.when(F.col("b_rn").isNull()
                    | (F.col("rn") < F.col("b_rn")), F.col("tok"))
             .otherwise(F.col("t_level")
                        + F.when(F.col("rn") - F.col("b_rn")
                                 < F.col("t_rem"), 1).otherwise(0)))
    return (out.select(
                "source",
                F.col("tok").cast("bigint").alias("tok_tokens"),
                alloc.cast("bigint").alias("alloc_tokens"),
                F.when(F.col("tok") > 0,
                       alloc.cast("double") / F.col("tok").cast("double"))
                .alias("rate"),
                (alloc < F.col("tok")).alias("clipped"))
            .orderBy("source"))


def prep_waterfill_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return token_budget_waterfill(docs, WATERFILL_BUDGET)


_WATERFILL_SQL = rf"""
WITH src AS (
  SELECT source,
    CAST(SUM(len(list_filter(string_split_regex(lower(coalesce(text, '')),
      '[ \t\n\r\f\x0B]+'), x -> x <> ''))) AS BIGINT) AS tok
  FROM documents GROUP BY source
), lev AS (
  SELECT source, tok,
    CAST(ROW_NUMBER() OVER (ORDER BY tok, source) AS BIGINT) AS rn,
    CAST(COALESCE(SUM(tok) OVER (ORDER BY tok, source
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS cum_prev,
    COUNT(*) OVER () AS s_total
  FROM src
), lv2 AS (
  SELECT *, s_total - rn + 1 AS nrest,
    ({WATERFILL_BUDGET} - cum_prev) // (s_total - rn + 1) AS level
  FROM lev
), bnd AS (
  SELECT *, MIN(CASE WHEN tok > level THEN rn END) OVER () AS b_rn
  FROM lv2
), atb AS (
  SELECT level AS t_level,
    ({WATERFILL_BUDGET} - cum_prev) % nrest AS t_rem, rn AS bb
  FROM bnd WHERE rn = b_rn
), j AS (
  SELECT b.*, a.t_level, a.t_rem FROM bnd b LEFT JOIN atb a ON TRUE
), alloc AS (
  SELECT source, tok,
    CASE WHEN b_rn IS NULL OR rn < b_rn THEN tok
         ELSE t_level + CASE WHEN rn - b_rn < t_rem THEN 1 ELSE 0 END
    END AS alloc
  FROM j
)
SELECT source, CAST(tok AS BIGINT) AS tok_tokens,
  CAST(alloc AS BIGINT) AS alloc_tokens,
  CASE WHEN tok > 0 THEN CAST(alloc AS DOUBLE) / CAST(tok AS DOUBLE) END
    AS rate,
  alloc < tok AS clipped
FROM alloc
ORDER BY source
"""

register(QuerySpec(
    "prep_token_waterfill", prep_waterfill_query, _WATERFILL_SQL,
    description="exact integer waterfilling of a token budget across "
                "sources: caps, common water level, remainder units "
                "placed deterministically so the allocation sums to "
                "the budget TO THE TOKEN; all windows over the bounded "
                "source relation"))


# --- data-constrained epoch schedule (repetition planner) -------------------------

MAX_EPOCHS = 4


def epoch_schedule(df: DataFrame, budget_tokens: int) -> DataFrame:
    """Data-constrained repetition plan: how many epochs each source
    repeats to fill its share of a token budget — the schedule a
    data-constrained training run derives when unique data is scarcer
    than compute (repeat clean sources a few epochs, never past the
    point of diminishing returns; cap at ``MAX_EPOCHS``).

    Per source (exact integer arithmetic end to end):
      quota   = budget * n_tokens / total_tokens   (proportional share,
                truncating div — identical in both engines on
                nonnegative operands)
      epochs  = ceil(quota / n_tokens), clamped to [1, MAX_EPOCHS]
      used    = min(quota, n_tokens * MAX_EPOCHS)
      deficit = quota - used  (> 0 iff even max_epochs repeats cannot
                fill the share — the budget the mixture must
                reallocate)

    Scale: one corpus scan to |sources| token sums (map-side partials);
    every subsequent expression runs on the bounded summary. Products
    as DECIMAL(38,0) — budget * n_tokens overflows int64 at ~1e9 docs.
    """
    toks = F.filter(F.split(F.lower(F.coalesce(F.col("text"),
                                               F.lit(""))), WS_RE),
                    lambda x: x != "")
    per = (df.groupBy("source")
           .agg(F.sum(F.size(toks).cast("bigint")).alias("n_tokens"),
                F.count(F.lit(1)).alias("n_docs")))
    tot = per.agg(F.sum("n_tokens").alias("total_tokens"))
    d = lambda c: c.cast("decimal(38,0)")
    # floor, not cast: Spark's decimal->decimal cast rounds HALF_UP
    # while the oracle's HUGEINT // truncates — floor on positive
    # operands matches // exactly
    quota = F.floor(d(F.lit(int(budget_tokens))) * d(F.col("n_tokens"))
                    / d(F.col("total_tokens")))
    j = per.crossJoin(F.broadcast(tot)) \
        .filter(F.col("n_tokens") > 0) \
        .withColumn("quota", quota.cast("bigint"))
    nt = F.col("n_tokens")
    # integer ceil-div via `div` (exact at any magnitude; `/` would go
    # through double and drift past ~2^53)
    epochs = F.least(
        F.greatest(F.expr("(quota + n_tokens - 1) div n_tokens"),
                   F.lit(1)),
        F.lit(int(MAX_EPOCHS)))
    used = F.least(F.col("quota"), nt * F.lit(int(MAX_EPOCHS)))
    return (j.select(
        F.col("source"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        nt.cast("bigint").alias("n_tokens"),
        F.col("quota").cast("bigint").alias("quota_tokens"),
        epochs.cast("bigint").alias("epochs"),
        used.cast("bigint").alias("used_tokens"),
        (F.col("quota") - used).cast("bigint").alias("deficit_tokens"))
        .orderBy("source"))


def prep_epoch_schedule_query(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return epoch_schedule(docs, budget_tokens=5_000_000)


_EPOCH_TOKS = (r"list_filter(string_split_regex(lower(coalesce(text, '')), "
               r"'[ \t\n\r\f\x0B]+'), x -> x <> '')")

_EPOCH_SQL = f"""
WITH per AS (
  SELECT source,
    CAST(SUM(len({_EPOCH_TOKS})) AS BIGINT) AS n_tokens,
    COUNT(*) AS n_docs
  FROM documents GROUP BY source
), tot AS (
  SELECT SUM(n_tokens) AS total_tokens FROM per
), j AS (
  SELECT p.source, p.n_docs, p.n_tokens,
    CAST(CAST(5000000 AS HUGEINT) * CAST(p.n_tokens AS HUGEINT)
         // CAST(t.total_tokens AS HUGEINT) AS BIGINT) AS quota
  FROM per p CROSS JOIN tot t
  WHERE p.n_tokens > 0
)
SELECT source,
  CAST(n_docs AS BIGINT) AS n_docs,
  n_tokens,
  quota AS quota_tokens,
  CAST(LEAST(GREATEST((quota + n_tokens - 1) // n_tokens, 1), 4)
       AS BIGINT) AS epochs,
  CAST(LEAST(quota, n_tokens * 4) AS BIGINT) AS used_tokens,
  CAST(quota - LEAST(quota, n_tokens * 4) AS BIGINT) AS deficit_tokens
FROM j ORDER BY source
"""

register(QuerySpec(
    "prep_epoch_schedule", prep_epoch_schedule_query, _EPOCH_SQL,
    description="data-constrained repetition plan per source: "
                "proportional token quota, epoch count (ceil, capped), "
                "usable mass and unfillable deficit — exact integers "
                "on the bounded source summary"))


# --- exact stratified sample (Neyman-style allocation) -----------------------------

STRAT_SAMPLE_N = 2000


def stratified_sample(df: DataFrame, n_sample: int) -> DataFrame:
    """EXACT-size stratified sample: allocate ``n_sample`` docs across
    sources Neyman-style (more budget to strata with more docs AND more
    internal spread) and draw exactly the allocated count from each —
    unlike rate-based sampling (domain_mixture), the output size is
    deterministic TO THE DOCUMENT, which eval-set construction needs.

    Exactness discipline: the textbook S_h (per-stratum std) is a
    double whose ulps could flip largest-remainder orderings between
    engines, so the spread term is the exact integer token-count RANGE
    (max - min) + 1 — same monotone intent (uniform strata get less
    budget), fully integer. Allocation = floor(n * units_h / total)
    with the leftover seats placed by largest remainder (exact integer
    remainders, ties by source name); per-stratum quotas are then
    realized by taking the ``quota_h`` lowest seeded-hash docs — a
    deterministic function of (seed, id), so re-runs and engines agree.
    ONE allocation round: a quota exceeding its stratum's population
    caps there and the excess seats are NOT redistributed (the sample
    is exactly ``n_sample`` whenever no stratum saturates, smaller by
    the capped seats otherwise — deterministic either way).

    Scale: one scan to the bounded per-source summary (map-side
    partials); the draw ranks by hash with the binned two-phase
    row_number partitioned on (source, hash-bin) — never |sources|
    single-task windows — and the quota join broadcasts the bounded
    allocation relation.
    """
    from downscaledclimatedata_spark.functions.ranks import (
        binned_row_number, hash_bin)

    toks = F.filter(F.split(F.lower(F.coalesce(F.col("text"),
                                               F.lit(""))), WS_RE),
                    lambda x: x != "")
    base = df.select(F.col("doc_id"), F.col("source"),
                     F.size(toks).cast("bigint").alias("n_toks"))
    per = (base.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                (F.max("n_toks") - F.min("n_toks") + 1).alias("spread")))
    d = lambda c: c.cast("decimal(38,0)")
    units = d(F.col("n_docs")) * d(F.col("spread"))
    tot = per.select(F.sum(units).alias("total_units"),
                     F.count(F.lit(1)).alias("n_sources"))
    alloc = (per.crossJoin(F.broadcast(tot))
             .withColumn("units", units)
             .withColumn("base_quota",
                         F.floor(d(F.lit(int(n_sample)))
                                 * F.col("units")
                                 / F.col("total_units")))
             .withColumn("rem",
                         (d(F.lit(int(n_sample))) * F.col("units"))
                         % F.col("total_units")))
    # leftover seats: n_sample - sum(base_quota), one each to the
    # largest integer remainders (source-name tie-break) — the
    # allocation relation is |sources|-bounded, so this window is free
    wr = Window.orderBy(F.col("rem").desc(), F.col("source"))
    leftover = F.lit(int(n_sample)) - F.sum("base_quota").over(
        Window.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing))
    alloc = (alloc.withColumn("seat", F.row_number().over(wr))
             .withColumn("quota",
                         (F.col("base_quota")
                          + F.when(F.col("seat") <= leftover, 1)
                          .otherwise(0))
                         # a stratum cannot give more docs than it has
                         .cast("bigint"))
             .withColumn("quota", F.least(F.col("quota"),
                                          F.col("n_docs").cast("bigint")))
             .select("source", "quota"))
    keyed = base.withColumn(
        "h", md5_long(F.col("doc_id").cast("string"), seed="strat0:"))
    ranked = binned_row_number(
        keyed.withColumn("_hb", hash_bin(F.col("h"))),
        "_hb", (F.col("h"), F.col("doc_id")),
        partition_cols=("source",), out="rk")
    return (ranked.join(F.broadcast(alloc), "source")
            .filter(F.col("rk") <= F.col("quota"))
            .select(F.col("doc_id"), F.col("source"),
                    F.col("rk").cast("bigint").alias("stratum_rank")))


def prep_stratified_sample_query(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, STRAT_SAMPLE_N)


def _strat_sql() -> str:
    toks = (r"list_filter(string_split_regex(lower(coalesce(text, '')), "
            r"'[ \t\n\r\f\x0B]+'), x -> x <> '')")
    h = md5_long_sql("CAST(doc_id AS VARCHAR)", seed="strat0:")
    n = STRAT_SAMPLE_N
    return f"""
WITH base AS (
  SELECT doc_id, source,
    CAST(len({toks}) AS BIGINT) AS n_toks,
    {h} AS h
  FROM documents
), per AS (
  SELECT source, COUNT(*) AS n_docs,
    CAST(MAX(n_toks) - MIN(n_toks) + 1 AS HUGEINT)
      * CAST(COUNT(*) AS HUGEINT) AS units
  FROM base GROUP BY source
), tot AS (
  SELECT SUM(units) AS total_units FROM per
), alloc0 AS (
  SELECT p.source, p.n_docs,
    CAST({n} AS HUGEINT) * p.units // t.total_units AS base_quota,
    (CAST({n} AS HUGEINT) * p.units) % t.total_units AS rem
  FROM per p CROSS JOIN tot t
), seats AS (
  SELECT source, n_docs, base_quota, rem,
    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS seat,
    {n} - SUM(base_quota) OVER () AS leftover
  FROM alloc0
), alloc AS (
  SELECT source,
    LEAST(base_quota + CASE WHEN seat <= leftover THEN 1 ELSE 0 END,
          CAST(n_docs AS HUGEINT)) AS quota
  FROM seats
), ranked AS (
  SELECT doc_id, source, h,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
  FROM base
)
SELECT r.doc_id, r.source, CAST(r.rk AS BIGINT) AS stratum_rank
FROM ranked r JOIN alloc a USING (source)
WHERE r.rk <= a.quota
"""


register(QuerySpec(
    "prep_stratified_sample", prep_stratified_sample_query, _strat_sql(),
    description="exact-size Neyman-style stratified sample: integer "
                "range-proxy allocation + largest-remainder seats, "
                "realized by the quota_h lowest seeded-hash docs per "
                "stratum via binned ranks"))


# --- epoch-expanded training order ---------------------------------------------------

def epoch_expand(df: DataFrame, budget_tokens: int,
                 n_shards: int = 16) -> DataFrame:
    """Materialize :func:`epoch_schedule` into an actual training
    order: every document appears once per scheduled epoch of its
    source, and the (doc, epoch) copies are seeded-hash shuffled into
    (shard, pos) — each copy independently and uniformly placed, so
    repeats are spread across the realized order in expectation (naive
    epoch concatenation places every repeat exactly one corpus-length
    apart; adjacent repeats here have ~1/N probability instead of a
    structural guarantee).

    The expansion is a broadcast join of the |sources|-row schedule +
    one ``explode(sequence(1, epochs))`` — output rows ∝ corpus x
    epochs, exactly the training mix. Order keys are md5(seed, id,
    epoch): deterministic, epoch-sensitive (each epoch's pass is an
    unrelated permutation), realized with global_shuffle's shard/pos
    contract (per-shard windows, never a global sort).
    """
    sched = (epoch_schedule(df, budget_tokens)
             .select("source", "epochs"))
    expanded = (df.select("doc_id", "source")
                .join(F.broadcast(sched), "source")
                .select(F.col("doc_id"),
                        F.explode(F.sequence(F.lit(1), F.col("epochs")))
                        .alias("epoch")))
    key = md5_long(F.concat_ws("|", F.col("doc_id").cast("string"),
                               F.col("epoch").cast("string")),
                   seed="epoch-expand0:")
    keyed = expanded.select(F.col("doc_id"), "epoch", key.alias("k"))
    w = Window.partitionBy("shard").orderBy("k", "doc_id", "epoch")
    return (keyed.withColumn("shard",
                             (F.col("k") % n_shards).cast("bigint"))
            .withColumn("pos", F.row_number().over(w).cast("bigint"))
            .select(F.col("doc_id"), F.col("epoch").cast("bigint")
                    .alias("epoch"), "shard", "pos"))


def prep_epoch_expand_query(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return epoch_expand(docs, budget_tokens=50_000_000, n_shards=16)


def _epoch_expand_sql() -> str:
    key = md5_long_sql(
        "concat_ws('|', CAST(doc_id AS VARCHAR), CAST(epoch AS VARCHAR))",
        seed="epoch-expand0:")
    return f"""
WITH per AS (
  SELECT source,
    CAST(SUM(len({_EPOCH_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT SUM(n_tokens) AS total_tokens FROM per
), sched AS (
  SELECT p.source,
    LEAST(GREATEST((CAST(CAST(50000000 AS HUGEINT)
                         * CAST(p.n_tokens AS HUGEINT)
                         // CAST(t.total_tokens AS HUGEINT) AS BIGINT)
                    + p.n_tokens - 1) // p.n_tokens, 1), 4) AS epochs
  FROM per p CROSS JOIN tot t
  WHERE p.n_tokens > 0
), expanded AS (
  SELECT d.doc_id, UNNEST(range(1, s.epochs + 1)) AS epoch
  FROM documents d JOIN sched s USING (source)
), keyed AS (
  SELECT doc_id, epoch, {key} AS k FROM expanded
)
SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
  CAST(k % 16 AS BIGINT) AS shard,
  CAST(ROW_NUMBER() OVER (PARTITION BY k % 16
                          ORDER BY k, doc_id, epoch) AS BIGINT) AS pos
FROM keyed
"""


register(QuerySpec(
    "prep_epoch_expand", prep_epoch_expand_query, _epoch_expand_sql(),
    description="epoch-expanded training order: schedule epochs "
                "broadcast-exploded per doc, (id, epoch)-seeded hash "
                "shuffle to shard/pos so repeats land far apart"))


# --- shard balance report --------------------------------------------------------------

def shard_balance(df: DataFrame) -> DataFrame:
    """Token-mass balance of :func:`global_shuffle`'s shards — the
    pre-flight check before a training run trusts its data loader: a
    hash shuffle balances DOC COUNTS by construction, but token mass
    can still skew when document lengths are heavy-tailed. One row:
    shard count, min/max/total token mass, and the max/mean imbalance
    ratio (1.0 = perfectly even; the number the loader's stragglers
    follow).

    Plan: the shuffle assignment is re-derived from the same seeded
    hash (a projection — global_shuffle's window is not needed for
    per-shard SUMS), so the report costs one scan + a |shards|-row
    aggregate.
    """
    toks = F.filter(F.split(F.lower(F.coalesce(F.col("text"),
                                               F.lit(""))), WS_RE),
                    lambda x: x != "")
    key = md5_long(F.col("doc_id").cast("string"), seed="epoch0:")
    per = (df.select((key % N_SHUFFLE_SHARDS).alias("shard"),
                     F.size(toks).cast("bigint").alias("n_toks"))
           .groupBy("shard").agg(F.sum("n_toks").alias("mass")))
    return (per.agg(F.count(F.lit(1)).alias("n_shards"),
                    F.min("mass").alias("min_mass"),
                    F.max("mass").alias("max_mass"),
                    F.sum("mass").alias("total_mass"))
            .select(F.col("n_shards").cast("bigint").alias("n_shards"),
                    F.col("min_mass").cast("bigint").alias("min_mass"),
                    F.col("max_mass").cast("bigint").alias("max_mass"),
                    F.col("total_mass").cast("bigint").alias("total_mass"),
                    F.when(F.col("total_mass") > 0,
                           F.col("max_mass").cast("double")
                           * F.col("n_shards").cast("double")
                           / F.col("total_mass").cast("double"))
                    .otherwise(F.lit(0.0)).alias("imbalance")))


def prep_shard_balance_query(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return shard_balance(docs)


def _shard_balance_sql() -> str:
    toks = (r"list_filter(string_split_regex(lower(coalesce(text, '')), "
            r"'[ \t\n\r\f\x0B]+'), x -> x <> '')")
    key = md5_long_sql("CAST(doc_id AS VARCHAR)", seed="epoch0:")
    return f"""
WITH per AS (
  SELECT ({key}) % {N_SHUFFLE_SHARDS} AS shard,
    SUM(CAST(len({toks}) AS BIGINT)) AS mass
  FROM documents GROUP BY shard
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_shards,
  CAST(MIN(mass) AS BIGINT) AS min_mass,
  CAST(MAX(mass) AS BIGINT) AS max_mass,
  CAST(SUM(mass) AS BIGINT) AS total_mass,
  CASE WHEN SUM(mass) > 0
       THEN CAST(MAX(mass) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
            / CAST(SUM(mass) AS DOUBLE)
       ELSE 0.0 END AS imbalance
FROM per
"""


register(QuerySpec(
    "prep_shard_balance", prep_shard_balance_query, _shard_balance_sql(),
    description="token-mass balance of the seeded shuffle's shards: "
                "min/max/total mass + max/mean imbalance ratio from "
                "one scan and a |shards|-row aggregate"))


# --- per-source document-length profile ---------------------------------------------

def length_profile(df: DataFrame) -> DataFrame:
    """Per-source document-length percentile table (p25/p50/p75/p95 of
    token counts + count) — the dataset-card table that exposes
    truncation risk (p95 vs the training context window) and
    boilerplate collapse (p25 near zero). Exact interpolated
    percentiles from :func:`grouped_quantile_cont` — binned two-phase
    ranks, no percentile() buffer, parallelism ∝ bins regardless of
    |sources|.
    """
    from downscaledclimatedata_spark.functions.ranks import (
        grouped_quantile_cont)

    toks = F.filter(F.split(F.lower(F.coalesce(F.col("text"),
                                               F.lit(""))), WS_RE),
                    lambda x: x != "")
    base = df.select(F.col("doc_id"),
                     F.col("source"),
                     F.size(toks).cast("double").alias("n_toks"))
    prof = grouped_quantile_cont(
        base, "n_toks",
        [(0.25, "p25"), (0.5, "p50"), (0.75, "p75"), (0.95, "p95")],
        group_cols=("source",), id_cols=("doc_id",), count_name="n_docs")
    return prof.select("source",
                       F.col("n_docs").cast("bigint").alias("n_docs"),
                       "p25", "p50", "p75", "p95") \
        .orderBy("source")


def prep_length_profile_query(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return length_profile(docs)


def _length_profile_sql() -> str:
    toks = (r"list_filter(string_split_regex(lower(coalesce(text, '')), "
            r"'[ \t\n\r\f\x0B]+'), x -> x <> '')")
    return f"""
WITH base AS (
  SELECT source, CAST(len({toks}) AS DOUBLE) AS n_toks FROM documents
)
SELECT source,
  CAST(COUNT(n_toks) AS BIGINT) AS n_docs,
  quantile_cont(n_toks, 0.25) AS p25,
  quantile_cont(n_toks, 0.5) AS p50,
  quantile_cont(n_toks, 0.75) AS p75,
  quantile_cont(n_toks, 0.95) AS p95
FROM base GROUP BY source ORDER BY source
"""


register(QuerySpec(
    "prep_length_profile", prep_length_profile_query,
    _length_profile_sql(),
    description="per-source token-length percentile table "
                "(p25/p50/p75/p95) via grouped_quantile_cont — the "
                "dataset-card truncation-risk view, no percentile() "
                "buffer"))


# --- deterministic source interleave ---------------------------------------------

def source_interleave(df: DataFrame) -> DataFrame:
    """(id, key, pos) deterministic round-robin interleave of the
    corpus's sources: position ``pos = rnk * n_sources + sidx`` where
    ``rnk`` is the document's 0-based sequence number within its source
    (ordered by id) and ``sidx`` is the source's 0-based index in
    sorted source order. Reading ORDER BY pos yields
    s0[0] s1[0] ... sK[0] s0[1] s1[1] ... — the fixed-stride domain
    mixing a multi-source training run wants, independent of input
    partitioning. ``pos`` is a TOTAL ORDER, not a contiguous index:
    once a smaller source exhausts, its stride slots are simply absent
    (readers consume by order, so gaps cost nothing — renumbering them
    contiguously would require exactly the global corpus sort this
    engine refuses).

    Plan: per-source ranks come from the two-phase binned row_number
    (functions/ranks.py) over id-value bins — windows partition on
    (source, bin), parallelism ∝ bins; the source-index relation is
    |sources|-bounded (its unpartitioned windows are over that bounded
    relation only, WINDOW_OK) and joins back broadcast. Driver
    scalars: the one (min, max) id pair sizing the bins. Output is
    corpus-sized — no trailing sort by contract.
    """
    from downscaledclimatedata_spark.functions.ranks import (
        binned_row_number, value_bin)

    st = df.agg(F.min("doc_id"), F.max("doc_id")).first()
    if st[0] is None:
        return df.sparkSession.createDataFrame(
            [], "doc_id long, source string, pos long")
    lo, hi = float(st[0]), float(st[1])
    binned = df.select("doc_id", "source").withColumn(
        "_ibin", value_bin(F.col("doc_id").cast("double"), lo, hi))
    ranked = binned_row_number(binned, "_ibin", ("doc_id",),
                               partition_cols=("source",), out="_irk")
    wsrc = Window.orderBy(F.asc_nulls_first("source"))
    src = (df.select("source").distinct()
           .select("source",
                   (F.row_number().over(wsrc) - 1).alias("_sidx"),
                   F.count(F.lit(1)).over(
                       Window.partitionBy()).alias("_nsrc")))
    return (ranked.join(F.broadcast(src), "source")
            .select("doc_id", "source",
                    ((F.col("_irk") - 1) * F.col("_nsrc")
                     + F.col("_sidx")).cast("bigint").alias("pos")))


def prep_interleave_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return source_interleave(docs)


_INTERLEAVE_SQL = """
WITH s AS (
  SELECT source,
    ROW_NUMBER() OVER (ORDER BY source NULLS FIRST) - 1 AS sidx,
    COUNT(*) OVER () AS n_src
  FROM (SELECT DISTINCT source FROM documents)
), r AS (
  SELECT doc_id, source,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS rnk
  FROM documents
)
SELECT doc_id, source,
  CAST(rnk * n_src + sidx AS BIGINT) AS pos
FROM r JOIN s USING (source)
"""

register(QuerySpec(
    "prep_interleave", prep_interleave_query, _INTERLEAVE_SQL,
    description="deterministic round-robin source interleave: "
                "pos = rnk * n_sources + source_idx on binned "
                "per-source ranks — fixed-stride domain mixing "
                "without a global sort"))


# --- mixture temperature curve -----------------------------------------------------

def mixture_temperature_curve(df: DataFrame, budget_tokens: int) -> DataFrame:
    """The tuning table for :func:`domain_mixture_sample`'s α knob:
    per-source weight, mixture share and acceptance rate at the three
    temperatures whose arithmetic is EXACT cross-engine — α=1
    (proportional, w = tok), α=1/2 (w = floor(sqrt(tok))) and α=1/4
    (w = floor(sqrt(floor(sqrt(tok)))), two correctly-rounded sqrts) —
    pow() is not correctly rounded per IEEE-754, so α is a menu of
    sqrt-composable values here, not a float free-for-all. One
    |sources|×3 bounded relation: the table a pipeline owner reads to
    see how hard each temperature up-weights the small sources before
    committing a budget.

    Shares and rates are single divisions of exact <2^53 integer
    products — bit-identical in both engines.
    """
    toks = F.filter(F.split(F.lower(F.col("text")), WS_RE),
                    lambda x: x != "")
    stats = (df.select(F.col("source"),
                       F.coalesce(F.size(toks).cast("bigint"), F.lit(0))
                       .alias("n_tokens"))
             .groupBy("source")
             .agg(F.sum("n_tokens").alias("tok_s")))
    sqrt1 = F.floor(F.sqrt(F.col("tok_s").cast("double"))).cast("bigint")
    curves = []
    for label, w in (("1", F.col("tok_s")),
                     ("1/2", sqrt1),
                     ("1/4", F.floor(F.sqrt(sqrt1.cast("double")))
                      .cast("bigint"))):
        curves.append(stats.select(
            F.lit(label).alias("alpha"), "source", "tok_s",
            w.alias("w")))
    cur = curves[0].unionByName(curves[1]).unionByName(curves[2])
    tot = cur.groupBy("alpha").agg(F.sum("w").alias("total_w"))
    return (cur.join(F.broadcast(tot), "alpha")
            .select(
                "alpha", "source", "tok_s", "w",
                (F.col("w").cast("double")
                 / F.col("total_w").cast("double")).alias("share"),
                F.least(F.lit(1.0),
                        (F.lit(float(budget_tokens))
                         * F.col("w").cast("double"))
                        / (F.col("total_w").cast("double")
                           * F.col("tok_s").cast("double")))
                .alias("rate")))
    # rate denominator: cast EACH factor to double BEFORE multiplying —
    # at alpha=1, total_w * tok_s ~ (corpus tokens)^2, which overflows
    # int64 under ANSI semantics well below real corpus scale.


def prep_mixture_curve_query(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return mixture_temperature_curve(docs, MIX_BUDGET_TOKENS)


_MIX_CURVE_SQL = f"""
WITH base AS (
  SELECT source, coalesce(len({_TOKS_QF_SQL}), 0) AS n_tokens
  FROM documents
), stats AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tok_s
  FROM base GROUP BY source
), cur AS (
  SELECT '1' AS alpha, source, tok_s, tok_s AS w FROM stats
  UNION ALL
  SELECT '1/2', source, tok_s,
    CAST(floor(sqrt(CAST(tok_s AS DOUBLE))) AS BIGINT) FROM stats
  UNION ALL
  SELECT '1/4', source, tok_s,
    CAST(floor(sqrt(floor(sqrt(CAST(tok_s AS DOUBLE))))) AS BIGINT)
  FROM stats
), tot AS (
  SELECT alpha, CAST(SUM(w) AS BIGINT) AS total_w FROM cur GROUP BY alpha
)
SELECT alpha, source, tok_s, CAST(w AS BIGINT) AS w,
  CAST(w AS DOUBLE) / CAST(total_w AS DOUBLE) AS share,
  least(1.0, (CAST({MIX_BUDGET_TOKENS} AS DOUBLE) * CAST(w AS DOUBLE))
             / (CAST(total_w AS DOUBLE) * CAST(tok_s AS DOUBLE))) AS rate
FROM cur JOIN tot USING (alpha)
"""

register(QuerySpec(
    "prep_mixture_curve", prep_mixture_curve_query, _MIX_CURVE_SQL,
    description="mixture temperature tuning curve: per-source weight/"
                "share/rate at alpha = 1, 1/2, 1/4 — sqrt-composable "
                "exact temperatures, single-division doubles"))


# --- DSIR-style importance resampling (exact-integer) ---------------------------

DSIR_BUCKETS = 256        # hashed unigram feature buckets
DSIR_SCALE = 1_000_000    # per-bucket likelihood-ratio fixed point
DSIR_KEEP_DIV = 10        # keep n_docs div 10 (rank-defined top decile)


def dsir_resample(df: DataFrame, keep_div: int = DSIR_KEEP_DIV) -> DataFrame:
    """Data Selection via Importance Resampling (the DSIR recipe of
    Xie et al. 2023), made deterministic and exact-integer: score every
    raw document by how much its hashed-unigram profile looks like a
    TARGET domain (here: the ``lang == 'en'`` subset standing in
    for "high-quality target distribution"), then keep the top
    ``1/keep_div`` of the corpus by score.

    Exactness discipline: real DSIR sums per-token ``log(p_tgt/p_raw)``
    — floats whose sum is order-dependent. This twin carries the
    likelihood ratio per feature bucket as the INTEGER
    ``((n_tgt+1) * SCALE) div (n_raw+1)`` (add-one smoothing on both
    sides) and a document's score as the integer mean over its tokens
    (one ``div`` by the token count). Because the target is a SUBSET of
    the raw corpus, ``n_tgt <= n_raw`` for every bucket, so each ratio
    is <= SCALE and a document score is <= SCALE — no overflow at any
    corpus size. Selection is rank-defined (top ``n div keep_div`` by
    (score, doc_id)), not threshold-defined, so ties cannot make the
    output size data-dependent.

    Spark shape: one tokenize/explode pass feeds both bucket-count
    relations; the per-bucket score table is ``DSIR_BUCKETS`` rows —
    broadcast back onto the token relation; ranking runs on the
    two-phase binned rank (windows on score bins, never a global sort);
    the count scalars (corpus size for the quota, min/max sizing the
    bins) are single-row driver aggregates. Zero-token documents score
    0 and rank below every scored document deterministically.
    """
    from downscaledclimatedata_spark.functions.ranks import (
        binned_row_number, value_bin)

    if keep_div < 2:
        raise ValueError(f"keep_div must be >= 2, got {keep_div}")
    toks = df.select(
        F.col("doc_id"), F.col("lang"),
        F.explode(F.filter(F.split(F.lower(F.col("text")), WS_RE),
                           lambda x: x != "")).alias("tok"))
    feat = toks.select(
        F.col("doc_id"), F.col("lang"),
        (md5_long(F.col("tok")) % DSIR_BUCKETS).alias("b")).localCheckpoint()
    raw_cnt = feat.groupBy("b").agg(F.count("*").alias("ns"))
    tgt_cnt = (feat.filter(F.col("lang") == "en")
               .groupBy("b").agg(F.count("*").alias("nt")))
    score = (raw_cnt.join(tgt_cnt, "b", "left")
             .select("b", ((F.coalesce(F.col("nt"), F.lit(0)) + 1)
                           * F.lit(DSIR_SCALE))
                     .cast("bigint").alias("num"),
                     (F.col("ns") + 1).cast("bigint").alias("den"))
             .select("b", F.expr("num div den").alias("sc")))
    docw = (feat.join(F.broadcast(score), "b")
            .groupBy("doc_id")
            .agg(F.sum("sc").alias("tot"), F.count("*").alias("ntok"))
            .select(F.col("doc_id"),
                    F.expr("tot div ntok").alias("w")))
    allw = (df.select("doc_id").join(docw, "doc_id", "left")
            .select(F.col("doc_id"),
                    F.coalesce(F.col("w"), F.lit(0)).cast("bigint")
                    .alias("w")))
    n_docs = allw.count()
    quota = n_docs // keep_div
    st = allw.agg(F.min("w"), F.max("w")).first()
    lo, hi = float(st[0] or 0), float(st[1] or 0)
    ranked = binned_row_number(
        allw.withColumn("_wbin", value_bin(F.col("w"), lo, hi)),
        "_wbin", ("w", "doc_id"), out="rn")
    return (ranked.filter(F.col("rn") > n_docs - quota)
            .select(F.col("doc_id"), F.col("w").alias("dsir_score")))


def prep_dsir_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dsir_resample(docs)


_DSIR_SQL = rf"""
WITH toks AS (
  SELECT doc_id, lang,
    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'), x -> x <> '')) AS tok
  FROM documents
), feat AS (
  SELECT doc_id, lang, {md5_long_sql('tok')} % {DSIR_BUCKETS} AS b FROM toks
), raw_cnt AS (
  SELECT b, COUNT(*) AS ns FROM feat GROUP BY b
), tgt_cnt AS (
  SELECT b, COUNT(*) AS nt FROM feat WHERE lang = 'en' GROUP BY b
), score AS (
  SELECT r.b, ((coalesce(t.nt, 0) + 1) * {DSIR_SCALE}) // (r.ns + 1) AS sc
  FROM raw_cnt r LEFT JOIN tgt_cnt t USING (b)
), docw AS (
  SELECT f.doc_id, SUM(s.sc) // COUNT(*) AS w
  FROM feat f JOIN score s USING (b) GROUP BY f.doc_id
), allw AS (
  SELECT d.doc_id, CAST(coalesce(dw.w, 0) AS BIGINT) AS w
  FROM documents d LEFT JOIN docw dw USING (doc_id)
), ranked AS (
  SELECT doc_id, w,
    ROW_NUMBER() OVER (ORDER BY w, doc_id) AS rn,
    COUNT(*) OVER () AS n
  FROM allw
)
SELECT doc_id, w AS dsir_score
FROM ranked WHERE rn > n - (n // {DSIR_KEEP_DIV})
"""

register(QuerySpec(
    "prep_dsir_resample", prep_dsir_query, _DSIR_SQL,
    description=f"DSIR importance resampling: exact-integer hashed-"
                f"unigram likelihood ratios ({DSIR_BUCKETS} buckets, "
                "add-one smoothing), rank-defined top-decile keep on "
                "the binned two-phase rank"))
