"""LOCA2 key grammar, case by case, against plain-Python statements of
the reference's rules:

- the discovery filename filter (``file_pattern`` + ``filter_filenames``,
  and the per-row form inside ``discover_all``) against ``re.match`` on
  the same pattern — the reference filters with prefix-anchored
  ``re.match`` (loca2_sensor.py:56-61);
- the catalog's zarr collapse, prefix strip, quarantine routing and key
  parse (``build_catalog``) against ``str.split`` versions of
  ``parse_key`` (loca2.py:115-136, 193-199, 218-224);
- the cursor scan (``next_group``) against ``sorted()``.

Each Spark relation is evaluated once per module; the cases then check
their own row of the result.
"""

from __future__ import annotations

import re

import pytest

from downscaledclimatedata_spark.operators.catalog import build_catalog
from downscaledclimatedata_spark.operators.discovery import (
    discover_all, file_pattern, filter_filenames, next_group,
    registry_from_nested,
)

# --- discovery filename filter ----------------------------------------------

STEM = "tasmax.ACCESS-CM2.ssp245.r1i1p1f1.2015-2044.LOCA_16thdeg_v20240915"

# filename -> (matches the monthly pattern, matches the daily pattern)
FILENAMES = {
    "monthly_cent": (f"{STEM}.monthly.cent.nc", True, False),
    "cent_monthly": (f"{STEM}.cent.monthly.nc", True, False),
    "daily": (f"{STEM}.cent.nc", False, True),
    # prefix-anchored only, as re.match is: a trailing suffix still matches
    "ncks_tmp": (f"{STEM}.monthly.cent.nc.ncks.tmp", True, False),
    "older_version": (STEM.replace("v20240915", "v20220413")
                      + ".monthly.cent.nc", True, False),
    "historical_range": (STEM.replace("2015-2044", "1950-2014")
                         + ".monthly.cent.nc", True, False),
    "extra_field": (STEM.replace("2015-2044", "2015-2044.extra")
                    + ".monthly.cent.nc", True, False),
    "no_range": (STEM.replace(".2015-2044", "") + ".monthly.cent.nc",
                 True, False),
    "monthly_without_cent": (f"{STEM}.monthly.nc", False, False),
    "other_variable": ("pr" + STEM[6:] + ".monthly.cent.nc", False, False),
    "variable_prefix": ("tasmaxx" + STEM[6:] + ".monthly.cent.nc",
                        False, False),
    "other_model": (STEM.replace("ACCESS-CM2", "ACCESS-ESM1-5")
                    + ".monthly.cent.nc", False, False),
    "other_scenario": (STEM.replace("ssp245", "ssp585")
                       + ".monthly.cent.nc", False, False),
    "other_member": (STEM.replace("r1i1p1f1", "r2i1p1f1")
                     + ".monthly.cent.nc", False, False),
    "leading_junk": ("x" + STEM + ".monthly.cent.nc", False, False),
    "uppercase": (STEM.upper() + ".MONTHLY.CENT.NC", False, False),
    "version_not_digits": (STEM.replace("v20240915", "vX")
                           + ".monthly.cent.nc", False, False),
    # the dots of the pattern are escaped: no other character stands in
    "dot_before_suffix": (f"{STEM}Xmonthly.cent.nc", False, False),
    "dot_after_model": (STEM.replace("ACCESS-CM2.", "ACCESS-CM2X")
                        + ".monthly.cent.nc", False, False),
    "index": ("index.html", False, False),
    "parent_dir": ("../", False, False),
}

MONTHLY = file_pattern("tasmax", "ACCESS-CM2", "ssp245", "r1i1p1f1",
                       monthly=True)
DAILY = file_pattern("tasmax", "ACCESS-CM2", "ssp245", "r1i1p1f1",
                     monthly=False)


@pytest.fixture(scope="module")
def filtered(spark):
    files = spark.createDataFrame(
        [(name,) for name, _, _ in FILENAMES.values()], "filename string")
    return ({r.filename for r in filter_filenames(files, MONTHLY).collect()},
            {r.filename for r in filter_filenames(files, DAILY).collect()})


@pytest.mark.parametrize("case", list(FILENAMES))
def test_file_pattern_case(filtered, case):
    name, want_monthly, want_daily = FILENAMES[case]
    monthly, daily = filtered
    assert (re.match(MONTHLY, name) is not None) == want_monthly
    assert (re.match(DAILY, name) is not None) == want_daily
    assert (name in monthly) == want_monthly
    assert (name in daily) == want_daily


# registry values with regex metacharacters: each listed name is the match
# for one member, or a decoy in which another character stands in for a dot
DOTTED_MODEL = "M.1"
DOTTED_MEMBERS = ("r1.i1", r"r2\E.i1")
DOTTED_LISTING = [
    f"tasmax.{model}.ssp245.{member}.2015-2044.LOCA_16thdeg_v20240915.monthly.cent.nc"
    for model, member in (("M.1", "r1.i1"), ("MX1", "r1.i1"),
                          ("M.1", "r1Xi1"), ("M.1", r"r2\E.i1"),
                          ("M.1", r"r2\EXi1"))]


def test_discover_all_quotes_registry_values(spark):
    """The per-row pattern treats model and member ids as literals, as
    ``file_pattern`` does under ``re.match``: a '.' in an id matches only
    a '.', and a ``\\E`` in an id cannot end the quoting early."""
    listing = "".join(f"<a href='{name}'>f</a>" for name in DOTTED_LISTING)

    def fetch(url):
        return listing

    registry = registry_from_nested(
        spark, {DOTTED_MODEL: {"ssp245": set(DOTTED_MEMBERS)}})
    manifest = discover_all(
        registry, "tasmax", "https://x.test/LOCA2", monthly=True,
        processed=spark.createDataFrame([], "run_key string"), fetcher=fetch)
    got = {r.url.rsplit("/", 1)[-1] for r in manifest.collect()}
    want = {name for member in DOTTED_MEMBERS for name in DOTTED_LISTING
            if re.match(file_pattern("tasmax", DOTTED_MODEL, "ssp245", member,
                                     monthly=True), name)}
    assert want == {DOTTED_LISTING[0], DOTTED_LISTING[3]}
    assert got == want


# --- catalog: collapse, strip, route, parse ----------------------------------

BUCKET = "bkt"
PREFIX = "netcdf/LOCA2/monthly/"
_V = "LOCA_16thdeg_v20240915"


def _nc(model, scenario, var, member, rng, tail="monthly.cent.nc"):
    return (f"{PREFIX}{model}/{scenario}/"
            f"{var}.{model}.{scenario}.{member}.{rng}.{_V}.{tail}")


_ZARR_A = f"{PREFIX}CNRM-ESM2-1/ssp370/tasmin.CNRM-ESM2-1.ssp370.r1i1p1f2.2015-2044.{_V}.monthly.cent.zarr"
_ZARR_B = f"{PREFIX}TaiESM1/ssp585/pr.TaiESM1.ssp585.r1i1p1f1.2075-2100.{_V}.cent.monthly.zarr"

KEYS = {
    "access_hist_pr": _nc("ACCESS-CM2", "historical", "pr", "r1i1p1f1",
                          "1950-2014"),
    "access_ssp245_tasmax": _nc("ACCESS-CM2", "ssp245", "tasmax", "r1i1p1f1",
                                "2015-2044"),
    "cnrm_ssp370_tasmin": _nc("CNRM-ESM2-1", "ssp370", "tasmin", "r1i1p1f2",
                              "2045-2074"),
    "ecearth_ssp585_member10": _nc("EC-Earth3-Veg", "ssp585", "pr",
                                   "r10i1p1f1", "2075-2100"),
    "taiesm_hist_tasmax": _nc("TaiESM1", "historical", "tasmax", "r1i1p1f1",
                              "1950-2014"),
    "cent_monthly_nc": _nc("ACCESS-CM2", "ssp245", "pr", "r4i1p1f1",
                           "2015-2044", tail="cent.monthly.nc"),
    "ncks_tmp": _nc("ACCESS-CM2", "ssp245", "tasmax", "r1i1p1f1",
                    "2015-2044", tail="monthly.cent.nc.ncks.tmp"),
    "zarr_store": _ZARR_A,
    "zarr_chunk": f"{_ZARR_A}/tasmin/0.0.0",
    "zarr_zmetadata": f"{_ZARR_A}/.zmetadata",
    "zarr_zattrs": f"{_ZARR_A}/tasmin/.zattrs",
    "cent_monthly_zarr_chunk": f"{_ZARR_B}/pr/1.2.3",
    "cent_monthly_zarr_store": _ZARR_B,
    "double_slash": f"{PREFIX}ACCESS-CM2//ssp245/pr.ACCESS-CM2.ssp245.r1i1p1f1.2015-2044.{_V}.monthly.cent.nc",
    "trailing_slash": f"{PREFIX}M/s/pr.M.s.r1i1p1f1.1950-2014.nc/",
    "empty_dot_field": f"{PREFIX}M/s/pr..s.r1.1950-2014.nc",
    "exactly_five_fields": f"{PREFIX}M/s/a.b.c.d.e",
    "deep_path": f"{PREFIX}M/s/extra/dir/pr.M.s.r1i1p1f1.1950-2014.nc",
    "outside_prefix": "other/ACCESS-CM2/historical/pr.ACCESS-CM2.historical.r1i1p1f1.1950-2014.nc",
    "near_prefix": "netcdf/LOCA2/monthlyX/M/s/pr.M.s.r1i1p1f1.1950-2014.nc",
    "non_ascii_model": f"{PREFIX}Modèle/ssp245/pr.Modèle.ssp245.r1i1p1f1.2015-2044.nc",
    "both_markers": "a/cent.monthly.zarr/b.monthly.cent.zarr/c",
    "four_fields": f"{PREFIX}M/s/a.b.c.d",
    "readme": f"{PREFIX}ACCESS-CM2/historical/README.txt",
    "index_at_prefix": f"{PREFIX}index.html",
    "model_dir_only": f"{PREFIX}ACCESS-CM2/",
    "prefix_only": PREFIX,
    "no_slash": "no-slash-at-all",
    "bare_marker": "monthly.cent.zarr/x",
}

_MARKERS = ("monthly.cent.zarr", "cent.monthly.zarr")


def ref_base_path(key):
    """loca2.py:193-199: a zarr chunk key collapses to its store."""
    for marker in _MARKERS:
        if marker in key:
            return key.split(marker, 1)[0] + marker
    return key


def ref_strip(key):
    """loca2.py:218-219."""
    return key[len(PREFIX):] if key.startswith(PREFIX) else key


def ref_parse(full_key):
    """loca2.py:115-136, with the IndexError of a short key made a
    ``None`` (the engine quarantines those keys instead)."""
    parts = [p for p in ref_strip(full_key).split("/") if p]
    if len(parts) < 2:
        return None
    fields = parts[-1].split(".")
    if len(fields) < 5:
        return None
    return {"variable": fields[0], "model": parts[0], "scheme": parts[1],
            "experiment_id": fields[3], "time_range": fields[4],
            "path": f"s3://{BUCKET}/{full_key}"}


def test_reference_parse_anchor():
    """The plain-Python statement of the rules agrees with a catalog row
    written out by hand."""
    assert ref_parse(ref_base_path(KEYS["zarr_chunk"])) == {
        "variable": "tasmin", "model": "CNRM-ESM2-1", "scheme": "ssp370",
        "experiment_id": "r1i1p1f2", "time_range": "2015-2044",
        "path": f"s3://{BUCKET}/{_ZARR_A}"}
    assert ref_parse(KEYS["readme"]) is None


@pytest.fixture(scope="module")
def catalog_result(spark):
    listing = spark.createDataFrame([(k,) for k in KEYS.values()],
                                    "key string")
    catalog, quarantine = build_catalog(listing, bucket=BUCKET, prefix=PREFIX)
    rows = [r.asDict() for r in catalog.collect()]
    rejected = [r.rejected_key for r in quarantine.collect()]
    return rows, rejected


@pytest.mark.parametrize("case", list(KEYS))
def test_catalog_routes_key(catalog_result, case):
    """Every key lands, as its collapsed base path, in exactly one of the
    catalog and the quarantine — the one the reference rules pick."""
    rows, rejected = catalog_result
    base = ref_base_path(KEYS[case])
    in_catalog = f"s3://{BUCKET}/{base}" in {r["path"] for r in rows}
    assert in_catalog == (ref_parse(base) is not None)
    assert (base in rejected) == (not in_catalog)


WELL_FORMED = [c for c in KEYS if ref_parse(ref_base_path(KEYS[c]))]


@pytest.mark.parametrize("case", WELL_FORMED)
def test_catalog_parses_key(catalog_result, case):
    rows, _ = catalog_result
    want = ref_parse(ref_base_path(KEYS[case]))
    got = [r for r in rows if r["path"] == want["path"]]
    assert got == [want]


def test_catalog_conserves_distinct_base_paths(catalog_result):
    """One output row per distinct base path: the zarr chunk keys of one
    store fold into a single catalog row, and nothing is lost."""
    rows, rejected = catalog_result
    bases = {ref_base_path(k) for k in KEYS.values()}
    assert len(rows) + len(rejected) == len(bases)
    assert len({r["path"] for r in rows}) == len(rows)
    assert len(set(rejected)) == len(rejected)


# --- cursor scan -------------------------------------------------------------

REGISTRY = {
    "ZModel": {"historical": {"r1i1p1f1"}},
    "AModel": {"ssp245": {"r1i1p1f1", "r2i1p1f1"}, "historical": {"r1i1p1f1"}},
    "MModel": {"ssp585": {"r3i1p1f2"}},
    "A-Model": {"ssp370": {"r1i1p1f1"}},
}

CURSORS = [None, "", "A", "A-Model/ssp370", "AModel", "AModel/historical",
           "AModel/historicalz", "AModel/ssp245", "B", "MModel/ssp585",
           "ZModel/historical", "zzz"]


def ref_next_group(cursor):
    """loca2_sensor.py:89-102: the first sorted "model/scenario" key
    strictly after the cursor; a falsy cursor starts from the top."""
    keys = sorted({f"{m}/{s}" for m, scen in REGISTRY.items() for s in scen})
    after = [k for k in keys if not cursor or k > cursor]
    return tuple(after[0].split("/")) if after else None


@pytest.fixture(scope="module")
def registry(spark):
    return registry_from_nested(spark, REGISTRY)


@pytest.mark.parametrize("cursor", CURSORS, ids=repr)
def test_next_group_case(registry, cursor):
    assert next_group(registry, cursor) == ref_next_group(cursor)
