"""Catalog construction pipeline (reference parity: intake-ESM catalog).

Reference behavior re-expressed as a declarative DataFrame pipeline
(reference: downscaled_climate_data/assets/loca2.py):

  bucket listing -> zarr base-path collapse (loca2.py:193-199) -> distinct
  (loca2.py:183,202) -> parse_key column extraction (loca2.py:115-136) ->
  6-column catalog relation (loca2.py:160-167,214) -> CSV + JSON spec sink
  (loca2.py:206-232).

Scale notes: the listing is a 1-column string DataFrame that can come from
millions of S3 keys; the collapse+distinct is the only shuffle. Dedup runs
BEFORE parsing (the reference's one hand-optimization, SURVEY §4.1) so the
per-store chunk fan-in never pays the parse. Malformed keys are routed to
a quarantine relation instead of raising (reference skips via IndexError,
loca2.py:220-224).
"""

from __future__ import annotations

import csv
import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from downscaledclimatedata_spark.functions import publish
from downscaledclimatedata_spark.plans import QuerySpec, register
from downscaledclimatedata_spark.sources.tables import load_table

CATALOG_COLUMNS = ("variable", "model", "scheme", "experiment_id", "time_range", "path")

_ZARR_MARKERS = ("monthly.cent.zarr", "cent.monthly.zarr")

# write_catalog collects the catalog to the driver and writes it from
# there. The reference's LOCA2 snapshot has 2,106 rows (27 models, 3
# variables, 4 scenarios); 100k rows leaves ~50x room for more members,
# time ranges and Zarr stores, and holds ~90 MB of Python rows at most.
CATALOG_MAX_ROWS = 100_000
_CSV_PART = "part-00000.csv"


def zarr_base_path(key: Column) -> Column:
    """Collapse a zarr chunk key to its store base path.

    Reference: loca2.py:193-199 — substring-membership tests for the two
    zarr naming conventions, truncating the key at the store boundary.
    Non-zarr keys pass through unchanged.
    """
    expr = key
    for marker in reversed(_ZARR_MARKERS):
        truncated = F.concat(
            F.substring_index(key, marker, 1), F.lit(marker)
        )
        expr = F.when(key.contains(marker), truncated).otherwise(expr)
    return expr


def strip_prefix(key: Column, prefix: str) -> Column:
    """Drop a leading prefix if present (reference: loca2.py:218-219)."""
    if not prefix:
        return key
    return F.when(
        key.startswith(prefix), key.substr(F.lit(len(prefix) + 1), F.length(key))
    ).otherwise(key)


def parse_key_columns(df: DataFrame, bucket: str) -> DataFrame:
    """Extract the 6 catalog columns from the relative S3 key ``rel_key``.

    Reference: parse_key at loca2.py:115-136 — split('/') dropping empty
    parts, model = parts[0], scheme = parts[1], filename = parts[-1];
    filename split('.'): variable = f[0], experiment_id = f[3],
    time_range = f[4]. All native Catalyst expressions (element_at
    supports the reference's negative indexing).

    ``path`` is built from ``full_key``, the key before the prefix strip
    (the reference parses the prefix-stripped key but builds the URI from
    the full one, loca2.py:128,218-221).
    """
    parts = F.filter(F.split(F.col("rel_key"), "/"), lambda x: x != "")
    fname = F.element_at(parts, -1)
    fparts = F.split(fname, r"\.")
    return df.select(
        F.element_at(fparts, 1).alias("variable"),
        F.element_at(parts, 1).alias("model"),
        F.element_at(parts, 2).alias("scheme"),
        F.element_at(fparts, 4).alias("experiment_id"),
        F.element_at(fparts, 5).alias("time_range"),
        F.concat(F.lit(f"s3://{bucket}/"), F.col("full_key")).alias("path"),
    )


def well_formed() -> Column:
    """``rel_key`` values parse_key can handle: >=2 path parts and >=5
    filename dot-fields.

    Formalizes the reference's IndexError tolerance (loca2.py:220-224, T7):
    instead of raising per-row, malformed keys fail this predicate and are
    quarantined by the caller.
    """
    parts = F.filter(F.split(F.col("rel_key"), "/"), lambda x: x != "")
    fname = F.element_at(parts, -1)
    return (F.size(parts) >= 2) & (F.size(F.split(fname, r"\.")) >= 5)


def build_catalog(listing: DataFrame, bucket: str,
                  prefix: str = "") -> tuple[DataFrame, DataFrame]:
    """listing(key) -> (catalog DataFrame, quarantine DataFrame).

    One shuffle (the distinct on base paths); everything else is narrow.
    """
    base = listing.select(zarr_base_path(F.col("key")).alias("full_key")).distinct()
    keyed = base.select(
        F.col("full_key"), strip_prefix(F.col("full_key"), prefix).alias("rel_key"))
    # null keys make well_formed NULL, which both filters would silently
    # drop — coalesce to False so they land in quarantine (conservation:
    # every distinct key goes exactly one way)
    ok = F.coalesce(well_formed(), F.lit(False))
    good = keyed.filter(ok)
    quarantine = keyed.filter(~ok).select(
        F.col("full_key").alias("rejected_key"))
    catalog = parse_key_columns(good, bucket)
    return catalog, quarantine


def esm_catalog_spec(catalog_id: str, description: str, data_format: str,
                     csv_uri: str) -> dict:
    """The JSON spec document accompanying the CSV (loca2.py:155-173)."""
    return {
        "esmcat_version": "0.1.0",
        "id": catalog_id,
        "description": description,
        "catalog_file": csv_uri,
        "attributes": [{"column_name": c, "vocabulary": ""} for c in CATALOG_COLUMNS[:-1]],
        "assets": {
            "column_name": "path",
            "format": "zarr" if data_format == "zarr" else "netcdf",
        },
    }


def write_catalog(catalog: DataFrame, out_dir: str, catalog_id: str,
                  description: str, data_format: str) -> None:
    """CSV (header, deterministic order) + JSON spec sink.

    The catalog is collected to the driver (at most ``CATALOG_MAX_ROWS``
    rows, else ``ValueError`` before anything is written), sorted by
    ``CATALOG_COLUMNS`` and written as ``{catalog_id}.csv/part-00000.csv``
    with stdlib ``csv``: UTF-8, LF line ends, fields quoted only when
    needed, a ``"`` inside a field doubled (RFC 4180), so pandas and
    DuckDB read every value back exactly. The reference writes an
    unquoted hand-rolled CSV (loca2.py:213-222) that silently corrupts
    comma-bearing fields (SURVEY §7.5.2), in no fixed order (§7.5.4).

    ``out_dir`` is local (``publish.local_dir``). The spec, whose
    ``catalog_file`` names the CSV file by its fixed name, is replaced
    first (``publish.replace_file``), then the CSV directory is swapped
    in (``publish.write_dir``). That swap is the one commit point: a
    write that fails at any step leaves the old spec naming the old
    rows.
    """
    root = publish.local_dir(catalog.sparkSession, out_dir)
    rows = catalog.select(*CATALOG_COLUMNS).limit(CATALOG_MAX_ROWS + 1).collect()
    if len(rows) > CATALOG_MAX_ROWS:
        raise ValueError(f"catalog {catalog_id!r} has more than "
                         f"{CATALOG_MAX_ROWS} rows, the most write_catalog "
                         f"writes from the driver")
    # code-point order is UTF-8 byte order, Spark's string order; no
    # catalog column is null (well_formed)
    rows.sort()
    os.makedirs(root, exist_ok=True)
    spec = esm_catalog_spec(catalog_id, description, data_format,
                            f"{out_dir}/{catalog_id}.csv/{_CSV_PART}")
    publish.replace_file(f"{root}/{catalog_id}.json",
                         json.dumps(spec, indent=4))

    def write(staging):
        os.mkdir(staging)
        with open(f"{staging}/{_CSV_PART}", "w", encoding="utf-8",
                  newline="") as f:
            out = csv.writer(f, lineterminator="\n")
            out.writerow(CATALOG_COLUMNS)
            out.writerows(rows)
            f.flush()
            os.fsync(f.fileno())

    publish.write_dir(f"{root}/{catalog_id}.csv", write)


# --- oracle-checked query entries -------------------------------------------
# The driver's synthetic tables have no S3 keys, so the oracle queries
# synthesize listing keys from the documents table (deterministic pure
# expressions both sides), then run the REAL operator pipeline over them.

def _synthetic_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    model = F.concat(F.lit("M"), (F.col("doc_id") % 27).cast("string"))
    member = F.concat(F.lit("r"), ((F.col("doc_id") % 3) + 1).cast("string"), F.lit("i1p1f1"))
    m3 = F.col("doc_id") % 3
    variable = F.when(m3 == 0, "tasmax").when(m3 == 1, "tasmin").otherwise("pr")
    fname = F.concat_ws(".", variable, model, F.col("lang"), member,
                        F.lit("1950-2014"), F.lit("LOCA_16thdeg_v20240915"),
                        F.lit("monthly"), F.lit("cent"), F.lit("nc"))
    key = F.concat_ws("/", F.lit("netcdf/LOCA2"), model, F.col("lang"), fname)
    # every 7th doc contributes zarr chunk keys instead (3 chunks per store)
    zarr_store = F.concat_ws("/", F.lit("zarr/LOCA2"), model, F.col("lang"),
                             F.concat_ws(".", variable, model, F.col("lang"), member,
                                         F.lit("1950-2014"), F.lit("LOCA_16thdeg_v20240915"),
                                         F.lit("monthly"), F.lit("cent"), F.lit("zarr")))
    chunks = F.array(F.lit("tasmax/0.0.0"), F.lit("tasmax/0.0.1"), F.lit(".zmetadata"))
    zarr_keys = F.transform(chunks, lambda c: F.concat(zarr_store, F.lit("/"), c))
    return docs.select(
        F.when(F.col("doc_id") % 7 == 0, zarr_keys)
        .otherwise(F.array(key)).alias("keys")
    ).select(F.explode("keys").alias("key"))


_SYNTHETIC_LISTING_SQL = """
WITH gen AS (
  SELECT doc_id,
    'M' || CAST(doc_id % 27 AS VARCHAR) AS model,
    lang AS scheme,
    'r' || CAST((doc_id % 3) + 1 AS VARCHAR) || 'i1p1f1' AS member,
    (['tasmax','tasmin','pr'])[(doc_id % 3) + 1] AS variable
  FROM documents
), named AS (
  SELECT doc_id, model, scheme,
    variable || '.' || model || '.' || scheme || '.' || member ||
      '.1950-2014.LOCA_16thdeg_v20240915.monthly.cent' AS stem
  FROM gen
)
SELECT CASE WHEN doc_id % 7 = 0
            THEN 'zarr/LOCA2/' || model || '/' || scheme || '/' || stem || '.zarr/' || chunk
            ELSE 'netcdf/LOCA2/' || model || '/' || scheme || '/' || stem || '.nc' END AS key
FROM named
CROSS JOIN (SELECT UNNEST(['tasmax/0.0.0','tasmax/0.0.1','.zmetadata']) AS chunk) chunks
WHERE doc_id % 7 = 0 OR chunk = 'tasmax/0.0.0'
"""


def catalog_build_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    listing = _synthetic_listing(spark, sf_dir)
    catalog, _ = build_catalog(listing, bucket="test-bucket")
    return catalog


_CATALOG_BUILD_SQL = f"""
WITH listing AS ({_SYNTHETIC_LISTING_SQL}),
collapsed AS (
  SELECT DISTINCT CASE
    WHEN contains(key, 'monthly.cent.zarr')
      THEN split_part(key, 'monthly.cent.zarr', 1) || 'monthly.cent.zarr'
    WHEN contains(key, 'cent.monthly.zarr')
      THEN split_part(key, 'cent.monthly.zarr', 1) || 'cent.monthly.zarr'
    ELSE key END AS full_key
  FROM listing
), parts AS (
  SELECT full_key,
    list_filter(str_split(full_key, '/'), x -> x <> '') AS p
  FROM collapsed
), fields AS (
  SELECT full_key, p,
    str_split(p[-1], '.') AS f
  FROM parts
  WHERE len(p) >= 2 AND len(str_split(p[-1], '.')) >= 5
)
SELECT f[1] AS variable, p[1] AS model, p[2] AS scheme,
       f[4] AS experiment_id, f[5] AS time_range,
       's3://test-bucket/' || full_key AS path
FROM fields
"""


def catalog_parse_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-key tolerance (T7): count well-formed vs quarantined keys."""
    docs = load_table(spark, sf_dir, "documents")
    # doc_id % 11 == 0 rows become junk keys the parser must reject
    key = F.when(F.col("doc_id") % 11 == 0, F.concat(F.lit("junk-"), F.col("doc_id").cast("string")))\
        .otherwise(F.concat_ws("/", F.lit("pfx"), F.lit("modelA"), F.lit("ssp245"),
                               F.concat(F.lit("pr.modelA.ssp245.r1i1p1f1.2015-2044.v"),
                                        F.col("doc_id").cast("string"), F.lit(".nc"))))
    keyed = docs.select(key.alias("rel_key"))
    return keyed.select(
        F.when(well_formed(), F.lit("ok")).otherwise(F.lit("quarantined")).alias("status")
    ).groupBy("status").agg(F.count("*").alias("n_keys"))


_CATALOG_QUARANTINE_SQL = """
WITH keyed AS (
  SELECT CASE WHEN doc_id % 11 = 0 THEN 'junk-' || CAST(doc_id AS VARCHAR)
         ELSE 'pfx/modelA/ssp245/pr.modelA.ssp245.r1i1p1f1.2015-2044.v' ||
              CAST(doc_id AS VARCHAR) || '.nc' END AS rel_key
  FROM documents
), checked AS (
  SELECT CASE WHEN len(list_filter(str_split(rel_key, '/'), x -> x <> '')) >= 2
              AND len(str_split(list_filter(str_split(rel_key, '/'), x -> x <> '')[-1], '.')) >= 5
         THEN 'ok' ELSE 'quarantined' END AS status
  FROM keyed
)
SELECT status, COUNT(*) AS n_keys FROM checked GROUP BY status
"""


register(QuerySpec("catalog_build", catalog_build_query, _CATALOG_BUILD_SQL, headline=True,
                   description="full catalog pipeline: listing -> zarr collapse -> distinct -> parse (reference loca2.py:139-232)"))
register(QuerySpec("catalog_quarantine", catalog_parse_quarantine, _CATALOG_QUARANTINE_SQL,
                   description="malformed-key quarantine (reference T7, loca2.py:220-224)"))
