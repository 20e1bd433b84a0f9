"""Model-registry dataset.

The reference hard-codes its model registry as a 334-line nested literal
(loca2_models.py:9-333: 27 models x {scenario: {memberid,...}}, 99
model/scenario pairs, 329 member entries). The engine does not vendor
that literal; the SAME relation is derived from the reference's public
intake-ESM catalog fixture (tests/assets/loca2_esm_catalog.csv), whose
rows enumerate exactly the registry's (model, scenario, memberid)
combinations — so discovery runs end-to-end on reference-shaped data
without copying reference source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def registry_from_catalog_csv(spark: SparkSession, csv_path: str) -> DataFrame:
    """(model, scenario, memberid) registry from an intake-ESM catalog CSV.

    Column mapping per the catalog spec the reference emits
    (loca2_assets.py ESM catalog: scheme=scenario, experiment_id=member).
    Distinct-projects down to the registry relation; tiny output
    (hundreds of rows) meant for broadcast.
    """
    return (spark.read.option("header", True).csv(csv_path)
            .select(F.col("model"),
                    F.col("scheme").alias("scenario"),
                    F.col("experiment_id").alias("memberid"))
            .distinct())

