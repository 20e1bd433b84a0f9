"""Query plan registry.

Every engine capability is declared as a named :class:`QuerySpec` —
a Spark DataFrame builder plus (when SQL-expressible) the equivalent
ANSI SQL for the DuckDB oracle. The driver harness and ``bench.py``
consume this registry via ``__spark_entry__``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    # ANSI SQL for DuckDB over the pre-registered views; None => the op is
    # not SQL-expressible and the driver records a weaker rows-only check.
    oracle: str | None
    headline: bool = False  # included in bench.py timing loop
    description: str = ""
    # For oracle-less specs: the minimum row count the rows-only smoke
    # check requires (canon_run.py records `spark_rows >= min_rows`, not
    # the vacuous `>= 0`). Oracle-backed specs ignore it — their row
    # count is compared against the oracle's.
    min_rows: int = 1


REGISTRY: dict[str, QuerySpec] = {}


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in REGISTRY:
        raise ValueError(f"duplicate query name {spec.name!r}")
    REGISTRY[spec.name] = spec
    return spec


def all_specs() -> dict[str, QuerySpec]:
    # Import side-effect modules that populate the registry.
    from downscaledclimatedata_spark.plans import advanced, relational, scale, temporal  # noqa: F401
    from downscaledclimatedata_spark.operators import (  # noqa: F401
        catalog, discovery, dedup, maintenance, netcdf3,
        pandasops, prep, similarity, textops,
    )
    from downscaledclimatedata_spark import pipeline  # noqa: F401
    return dict(REGISTRY)
