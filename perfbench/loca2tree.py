"""Seeded generator of LOCA2-shaped trees of real CDF-1 files.

A tree mirrors the bucket layout ``{model}/{scenario}/{filename}`` with
the LOCA2 filename grammar ``{var}.{model}.{scenario}.{member}.{range}.``
``LOCA_16thdeg_v20240915.monthly.cent.nc``.
Every file is written with the package's own ``netcdf3.write_netcdf3``
and holds one ``(time, lat, lon)`` float32 variable.

Cell values are float32-exact integers given by ``cell_values``: a smooth
field (latitude gradient plus a seasonal cycle) plus hashed noise, so the
lake stores data that compresses like real model output rather than a
repeated constant. The expected per-(model, scenario, variable) count and
sum of any set of files follow from the same formula (``expected_sums``),
which is what the lake checks compare against.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

from downscaledclimatedata_spark.operators.netcdf3 import write_netcdf3

MODELS = ("ACCESS-CM2", "CESM2-LENS", "CNRM-CM6-1", "CanESM5", "EC-Earth3",
          "FGOALS-g3", "GFDL-ESM4", "HadGEM3-GC31-LL", "INM-CM5-0",
          "IPSL-CM6A-LR", "MIROC6", "MPI-ESM1-2-HR", "MRI-ESM2-0",
          "NorESM2-MM", "TaiESM1", "KACE-1-0-G")
SCENARIOS = ("historical", "ssp245", "ssp370", "ssp585")
VARIABLES = ("tasmax", "tasmin", "pr")
VERSION = "LOCA_16thdeg_v20240915"
NC_INT, NC_FLOAT, NC_DOUBLE = 4, 5, 6
EPOCH_YEAR = 1950


@dataclass(frozen=True)
class NcFile:
    """One generated file: its bucket key and the inputs of its values."""
    key: str
    model: str
    scenario: str
    member: str
    variable: str
    year: int        # first year of the file's time axis
    salt: int        # per-file noise salt (seeded)
    grid: tuple[int, int, int]  # (time, lat, lon)

    @property
    def cells(self) -> int:
        nt, nlat, nlon = self.grid
        return nt * nlat * nlon


def file_name(variable: str, model: str, scenario: str, member: str,
              year: int, nt: int) -> str:
    last = year + max(nt // 12, 1) - 1
    return (f"{variable}.{model}.{scenario}.{member}.{year}-{last}."
            f"{VERSION}.monthly.cent.nc")


def make_files(rng: np.random.Generator, n: int, grid: tuple[int, int, int],
               n_models: int, start: int = 0) -> list[NcFile]:
    """``n`` distinct files numbered ``start..start+n-1``.

    File ``k`` cycles through variables, scenarios and the first
    ``n_models`` models, then years, so that consecutive numbers never
    collide on a key and every (model, scenario) group fills evenly.
    """
    out = []
    nt = grid[0]
    years_per_file = max(nt // 12, 1)
    for k in range(start, start + n):
        variable = VARIABLES[k % len(VARIABLES)]
        rest = k // len(VARIABLES)
        scenario = SCENARIOS[rest % len(SCENARIOS)]
        rest //= len(SCENARIOS)
        model = MODELS[rest % n_models]
        rest //= n_models
        member = f"r{1 + rest % 3}i1p1f1"
        first = 2015 if scenario != "historical" else EPOCH_YEAR
        year = first + (rest // 3) * years_per_file
        name = file_name(variable, model, scenario, member, year, nt)
        out.append(NcFile(f"{model}/{scenario}/{name}", model, scenario,
                          member, variable, year,
                          int(rng.integers(1, 1 << 20)), grid))
    return out


def cell_values(f: NcFile) -> np.ndarray:
    """The file's cells in row-major (time, lat, lon) order, as int64.

    ``2000 + 7*lat + 40*month + noise`` with ``noise`` a 10-bit hash of
    (salt, flat index); every value is below 2**24, hence float32-exact.
    """
    nt, nlat, nlon = f.grid
    i = np.arange(nt * nlat * nlon, dtype=np.uint64)
    h = (i * np.uint64(2654435761) + np.uint64(f.salt) * np.uint64(40503)) \
        % np.uint64(1 << 32)
    noise = ((h >> np.uint64(11)) % np.uint64(1024)).astype(np.int64)
    t = (i // np.uint64(nlat * nlon)).astype(np.int64)
    lat = ((i // np.uint64(nlon)) % np.uint64(nlat)).astype(np.int64)
    return 2000 + 7 * lat + 40 * (t % 12) + noise


def payload(f: NcFile) -> bytes:
    """The file's CDF-1 bytes: monthly time axis in days since 1950-01-01."""
    nt, nlat, nlon = f.grid
    month0 = (f.year - EPOCH_YEAR) * 12
    days = [round((month0 + m) * 30.4375) for m in range(nt)]
    return write_netcdf3(
        dims=[("time", nt), ("lat", nlat), ("lon", nlon)],
        variables=[
            ("time", NC_INT, ["time"], days,
             {"units": (2, "days since 1950-01-01")}),
            ("lat", NC_DOUBLE, ["lat"], [32.0 + a / 16 for a in range(nlat)],
             {}),
            ("lon", NC_DOUBLE, ["lon"],
             [-117.0 + b / 16 for b in range(nlon)], {}),
            (f.variable, NC_FLOAT, ["time", "lat", "lon"],
             cell_values(f).astype(np.float64).tolist(), {}),
        ],
        global_attrs={"source": (2, f.key)})


def write_tree(root: str, files: list[NcFile]) -> int:
    """Write ``files`` under ``root``; returns the bytes written."""
    total = 0
    for f in files:
        path = os.path.join(root, f.key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        blob = payload(f)
        with open(path, "wb") as fh:
            fh.write(blob)
        total += len(blob)
    return total


def expected_sums(files: list[NcFile]) -> dict[tuple[str, str, str],
                                              tuple[int, int]]:
    """(model, scenario, variable) -> (cell count, value sum) by formula."""
    out: dict[tuple[str, str, str], tuple[int, int]] = {}
    for f in files:
        k = (f.model, f.scenario, f.variable)
        n, s = out.get(k, (0, 0))
        out[k] = (n + f.cells, s + int(cell_values(f).sum()))
    return out
