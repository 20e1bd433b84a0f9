"""Discovery pipeline: registry -> cursor scan -> listing filter -> manifest.

Reference parity (downscaled_climate_data/sensors/loca2_sensor.py):
- model registry consumed flat (loca2_sensor.py:37, :89-93) -> a 3-column
  DataFrame (model, scenario, memberid); tiny, always broadcast.
- cursor scan (loca2_sensor.py:89-102): flatten to sorted distinct
  "model/scenario" keys, take the first strictly greater than the cursor.
- filename regex filter (loca2_sensor.py:56-61): `re.match` is
  prefix-anchored, so the engine uses `rlike` with an explicit ^ anchor.
- discovery record projection (loca2_sensor.py:63-78): 6 string columns
  (model, scenario, memberid, variable, url, s3_key).
- idempotency (loca2_sensor.py:117): left_anti join against a processed-run
  log keyed by s3_key.

One pipeline does the crawl -> filter -> manifest -> anti-join:
``discover_all``. Run over the whole registry it is the full worklist in
one parallel job; ``discovery_tick`` runs it over the cursor's one
(model, scenario) group, which bounds work per tick exactly like the
reference's sensor chunking (README.md:133-136).

Scale: the registry is O(hundreds) rows -> broadcast join against listings
of any size; the anti-join shuffles only the new-work keys.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from downscaledclimatedata_spark.plans import QuerySpec, register
from downscaledclimatedata_spark.sources.tables import load_table

REGISTRY_SCHEMA = T.StructType([
    T.StructField("model", T.StringType(), False),
    T.StructField("scenario", T.StringType(), False),
    T.StructField("memberid", T.StringType(), False),
])

MANIFEST_COLUMNS = ("model", "scenario", "memberid", "variable", "url", "s3_key")


def registry_from_nested(spark: SparkSession, models: dict) -> DataFrame:
    """Flatten a nested {model: {scenario: {memberid,...}}} registry.

    The idiomatic relational form of the reference's hard-coded nested map
    (loca2_models.py:9-333); every consumption site iterates it flat.
    """
    rows = [
        (model, scenario, memberid)
        for model, scenarios in models.items()
        for scenario, members in scenarios.items()
        for memberid in sorted(members)
    ]
    return spark.createDataFrame(rows, REGISTRY_SCHEMA)


# The LOCA2 filename grammar (loca2_sensor.py:56-61) after the
# ``variable.model.scenario.memberid`` head: the stem tail, then the
# monthly (either naming convention) or daily suffix.
_STEM_TAIL = r"\..*LOCA_16thdeg_v\d+"
_MONTHLY_SUFFIX = r"\.(monthly\.cent\.nc|cent\.monthly\.nc)"
_DAILY_SUFFIX = r"\.cent\.nc"


def _grammar_tail(monthly: bool) -> str:
    return _STEM_TAIL + (_MONTHLY_SUFFIX if monthly else _DAILY_SUFFIX)


def file_pattern(variable: str, model: str, scenario: str, memberid: str,
                 monthly: bool) -> str:
    """The reference's filename regex (loca2_sensor.py:56-61), ^-anchored.

    The reference uses `re.match` (prefix-anchored); `rlike` searches
    anywhere, so the engine anchors explicitly (SURVEY §7.5.3).
    """
    head = r"\.".join(re.escape(v) for v in (variable, model, scenario, memberid))
    return "^" + head + _grammar_tail(monthly)


def _quoted(value: Column) -> Column:
    """A Java-regex literal of a string column, as ``Pattern.quote`` does."""
    return F.concat(F.lit(r"\Q"), F.replace(value, F.lit(r"\E"), F.lit(r"\E\\E\Q")),
                    F.lit(r"\E"))


def _row_file_pattern(variable: str, monthly: bool) -> Column:
    """``file_pattern`` per row, over the model/scenario/memberid columns."""
    head = F.concat_ws(r"\.", *(_quoted(c) for c in (
        F.lit(variable), F.col("model"), F.col("scenario"), F.col("memberid"))))
    return F.concat(F.lit("^"), head, F.lit(_grammar_tail(monthly)))


def filter_filenames(files: DataFrame, pattern: str) -> DataFrame:
    return files.filter(F.col("filename").rlike(pattern))


def build_manifest(files: DataFrame, variable: str, base_url: str) -> DataFrame:
    """Project discovery records (loca2_sensor.py:39-78): url + s3_key,
    from ``files(model, scenario, memberid, filename)``."""
    url = F.concat_ws(
        "/", F.lit(base_url.rstrip("/")), F.col("model"), F.lit("cent"),
        F.lit("0p0625deg"), F.col("memberid"), F.col("scenario"),
        F.lit(variable), F.col("filename"))
    s3_key = F.concat(F.lit("/"), F.concat_ws(
        "/", F.col("model"), F.col("scenario"), F.col("filename")))
    return files.select(
        "model", "scenario", "memberid", F.lit(variable).alias("variable"),
        url.alias("url"), s3_key.alias("s3_key"))


def monthly_prefixed_key(s3_key: Column, monthly: bool) -> Column:
    """Key prefixing for monthly files (loca2_sensor.py:123-124, P10)."""
    if monthly:
        return F.concat(F.lit("/monthly"), s3_key)
    return s3_key


def group_keys(registry: DataFrame) -> DataFrame:
    """Sorted distinct "model/scenario" keys (loca2_sensor.py:89-93, A3)."""
    return (registry.select("model", "scenario").distinct()
            .withColumn("ms", F.concat_ws("/", "model", "scenario")))


def next_group(registry: DataFrame, cursor: str | None) -> tuple[str, str] | None:
    """First (model, scenario) strictly after the cursor (A4), or None.

    Lexicographic string comparison is the reference's semantic
    (loca2_sensor.py:96-99); returns None when exhausted (:102).
    """
    keys = group_keys(registry)
    if cursor:
        keys = keys.filter(F.col("ms") > F.lit(cursor))
    row = keys.orderBy("ms").limit(1).collect()
    if not row:
        return None
    return row[0]["model"], row[0]["scenario"]


def new_work(manifest: DataFrame, processed: DataFrame) -> DataFrame:
    """Idempotency anti-join (J3): drop manifest rows whose ``s3_key`` is
    a processed ``run_key``."""
    log = processed.select(F.col("run_key").alias("s3_key")).distinct()
    return manifest.join(log, on="s3_key", how="left_anti")


def crawl_listings(seeds: DataFrame, fetcher) -> DataFrame:
    """Executor-side HTML directory crawl: ``listing_url`` rows -> one row
    per anchor href (reference S1, loca2_sensor.py:45-54).

    The reference crawls one directory per tick on the driver; at scale
    the seed set is a DataFrame and each executor fetches+parses its
    slice (mapInPandas), so crawling 99 model/scenario directories is one
    parallel job. Parsing uses the stdlib HTMLParser (anchor hrefs only,
    exactly what BeautifulSoup's find_all("a") extracts there).

    ``fetcher(url) -> str`` returns the listing page's HTML (the
    reference fetches https://cirrus.ucsd.edu/... with urllib,
    loca2_sensor.py:45-47); it runs on the executors, so it must pickle.
    """
    out_schema = T.StructType([
        T.StructField("listing_url", T.StringType()),
        T.StructField("filename", T.StringType()),
    ])

    def _crawl(batches):
        import pandas as _pd
        from html.parser import HTMLParser

        class _Anchors(HTMLParser):
            def __init__(self):
                super().__init__()
                self.hrefs = []

            def handle_starttag(self, tag, attrs):
                if tag == "a":
                    for k, v in attrs:
                        if k == "href" and v is not None:
                            self.hrefs.append(v)

        for pdf in batches:
            urls, names = [], []
            for url in pdf.iloc[:, 0]:
                p = _Anchors()
                p.feed(fetcher(url))
                for href in p.hrefs:
                    urls.append(url)
                    names.append(href)
            yield _pd.DataFrame({"listing_url": urls, "filename": names})

    return seeds.select("listing_url").mapInPandas(_crawl, out_schema)


def member_listing_urls(registry: DataFrame, variable: str,
                        base_url: str) -> DataFrame:
    """One listing URL per (model, scenario, memberid) — the crawl seed
    set (the reference builds one per tick, loca2_sensor.py:45-47)."""
    return registry.select(
        "model", "scenario", "memberid",
        F.concat(F.lit(base_url.rstrip("/") + "/"), F.col("model"),
                 F.lit("/cent/0p0625deg/"), F.col("memberid"), F.lit("/"),
                 F.col("scenario"), F.lit("/"), F.lit(variable), F.lit("/")
                 ).alias("listing_url"))


def discover_all(registry: DataFrame, variable: str, base_url: str,
                 monthly: bool, processed: DataFrame,
                 fetcher) -> DataFrame:
    """Discovery over every registry row in one parallel job.

    Pipeline: seed every member's listing URL -> executor-side crawl
    (mapInPandas) -> per-row anchored regex filter (the reference's
    re.match semantics, loca2_sensor.py:56-61) -> manifest projection ->
    idempotency anti-join (loca2_sensor.py:117). The seeds relation is
    tiny (329 rows for the full registry) and broadcast back onto the
    crawl output; listings of any size stay distributed.

    The listing flag is a REAL parameter here — the reference hard-codes
    monthly=True for the listing while honoring the flag only for key
    prefixing (loca2_sensor.py:157-161); the engine implements the
    intended semantics and records the divergence (SURVEY §7.5.3).
    """
    seeds = member_listing_urls(registry, variable, base_url)
    listed = crawl_listings(seeds, fetcher=fetcher).join(
        F.broadcast(seeds), "listing_url")
    filtered = listed.filter(
        F.regexp_like(F.col("filename"), _row_file_pattern(variable, monthly)))
    manifest = build_manifest(filtered, variable, base_url).withColumn(
        "s3_key", monthly_prefixed_key(F.col("s3_key"), monthly))
    return new_work(manifest, processed)


def discovery_tick(registry: DataFrame, cursor: str | None, variable: str,
                   base_url: str, monthly: bool, processed: DataFrame,
                   fetcher) -> tuple[DataFrame | None, str | None]:
    """One discovery tick (reference sensor_implementation,
    loca2_sensor.py:137-163): ``discover_all`` over the first group after
    the cursor. Returns (new-work manifest, next cursor), or (None, None)
    when the cursor is exhausted.
    """
    group = next_group(registry, cursor)
    if group is None:
        return None, None
    model, scenario = group
    rows = registry.filter((F.col("model") == model)
                           & (F.col("scenario") == scenario))
    return (discover_all(rows, variable, base_url, monthly, processed, fetcher),
            f"{model}/{scenario}")


# --- oracle-checked query entries -------------------------------------------

def discovery_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 regex-filter semantics over synthesized filenames."""
    docs = load_table(spark, sf_dir, "documents")
    m3 = F.col("doc_id") % 3
    variable = F.when(m3 == 0, "tasmax").when(m3 == 1, "tasmin").otherwise("pr")
    # every 5th filename is a daily file the monthly pattern must reject
    suffix = F.when(F.col("doc_id") % 5 == 0, ".cent.nc").otherwise(".monthly.cent.nc")
    fname = F.concat(variable, F.lit(".MODEL.ssp245.r1i1p1f1.2015-2044.LOCA_16thdeg_v20240915"), suffix)
    files = docs.select(F.col("doc_id"), fname.alias("filename"))
    pattern = file_pattern("tasmax", "MODEL", "ssp245", "r1i1p1f1", True)
    return (filter_filenames(files, pattern)
            .agg(F.count("*").alias("n_matched")))


_DISCOVERY_REGEX_SQL = r"""
WITH files AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 3 = 0 THEN 'tasmax' WHEN doc_id % 3 = 1 THEN 'tasmin' ELSE 'pr' END)
    || '.MODEL.ssp245.r1i1p1f1.2015-2044.LOCA_16thdeg_v20240915'
    || (CASE WHEN doc_id % 5 = 0 THEN '.cent.nc' ELSE '.monthly.cent.nc' END) AS filename
  FROM documents
)
SELECT COUNT(*) AS n_matched FROM files
WHERE regexp_matches(filename,
  '^tasmax\.MODEL\.ssp245\.r1i1p1f1\..*LOCA_16thdeg_v\d+\.(monthly\.cent\.nc|cent\.monthly\.nc)')
"""


def discovery_cursor_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+A4: sorted distinct group keys, min strictly above a cursor."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    pairs = (nation.join(F.broadcast(region),
                         nation.n_regionkey == region.r_regionkey)
             .select(F.col("n_name").alias("model"), F.col("r_name").alias("scenario"))
             .distinct()
             .withColumn("ms", F.concat_ws("/", "model", "scenario")))
    cursor = "C"
    return pairs.filter(F.col("ms") > F.lit(cursor)).agg(F.min("ms").alias("next_ms"))


_DISCOVERY_CURSOR_SQL = """
WITH pairs AS (
  SELECT DISTINCT n_name || '/' || r_name AS ms
  FROM nation JOIN region ON n_regionkey = r_regionkey
)
SELECT MIN(ms) AS next_ms FROM pairs WHERE ms > 'C'
"""


def discovery_idempotency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 anti-join: orders (manifest) minus lineitem orderkeys (processed)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    manifest = orders.select(
        F.concat(F.lit("/orders/"), F.col("o_orderkey").cast("string")).alias("s3_key"),
        "o_orderkey")
    processed = li.select(
        F.concat(F.lit("/orders/"), F.col("l_orderkey").cast("string")).alias("run_key"))
    remaining = new_work(manifest, processed)
    return remaining.agg(F.count("*").alias("n_new"))


_DISCOVERY_IDEMPOTENCY_SQL = """
SELECT COUNT(*) AS n_new
FROM (SELECT '/orders/' || CAST(o_orderkey AS VARCHAR) AS s3_key FROM orders) m
WHERE NOT EXISTS (
  SELECT 1 FROM (SELECT DISTINCT '/orders/' || CAST(l_orderkey AS VARCHAR) AS run_key FROM lineitem) p
  WHERE p.run_key = m.s3_key)
"""


register(QuerySpec("discovery_regex_filter", discovery_regex_filter, _DISCOVERY_REGEX_SQL,
                   description="^-anchored rlike filename filter (reference P1, loca2_sensor.py:56-61)"))
register(QuerySpec("discovery_cursor_scan", discovery_cursor_scan, _DISCOVERY_CURSOR_SQL,
                   description="cursor scan: min group key above cursor (reference A3/A4, loca2_sensor.py:89-102)"))
register(QuerySpec("discovery_idempotency", discovery_idempotency, _DISCOVERY_IDEMPOTENCY_SQL,
                   description="run-key idempotency anti-join (reference J3, loca2_sensor.py:117)"))
