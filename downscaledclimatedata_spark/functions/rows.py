"""JVM-native tiny literal relations.

``spark.createDataFrame(rows, ...)`` builds a Python-backed local
relation: every JVM task that later touches it (a union inside a
parquet staging write, a join against a corpus relation) pays a
Python-worker round trip — measured at ~4.5 s per single-task write on
this box, vs 0.2 s for the identical rows built from JVM literals
(guide §4: the boundary, not the bytes, is the cost). For the handful
of fixed rows a spec needs (heartbeats, probe lists, signal names),
build them as an exploded array of literal structs on ``spark.range(1)``
— the whole relation lives in the JVM and folds into codegen.

Only for SMALL fixed row sets (heartbeats, probes — O(10) rows): the
literal array is embedded in the plan, so thousands of rows would bloat
it. ``spark.createDataFrame`` remains right for driver-computed results
that are returned directly (sketch summaries, bounded reports).

An EMPTY typed relation is always ``empty_relation``: never
``spark.createDataFrame([], schema)``, which is a pickled Python RDD
whose scan runs Python tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def empty_relation(spark: SparkSession,
                   schema: T.StructType | str) -> DataFrame:
    """Zero-row relation typed as ``schema`` (a StructType or a DDL
    string): typed NULLs projected from ``spark.range(0)``.

    It lives in the JVM, so the optimizer sees that it is empty and
    folds what reads it: an anti-join against it becomes its left side,
    with no job of its own. Every column is nullable.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields])


def literal_rows(spark: SparkSession, rows: list[tuple],
                 schema: str) -> DataFrame:
    """Tiny literal relation with DDL ``schema`` (flat types only).

    ``rows`` are tuples of plain literals (int/float/str/bool/None);
    each value is cast to the declared column type, so e.g. ints
    declared ``long`` and None declared anything produce the same
    typed rows as ``spark.createDataFrame`` would.
    """
    if not rows:
        return empty_relation(spark, schema)
    fields = [f.strip() for f in schema.split(",")]
    names = [f.split(None, 1)[0] for f in fields]
    types = [f.split(None, 1)[1] for f in fields]
    structs = [
        F.struct(*[F.lit(v).cast(t).alias(n)
                   for v, n, t in zip(r, names, types)])
        for r in rows
    ]
    return (spark.range(1)
            .select(F.explode(F.array(*structs)).alias("_r"))
            .select(*[F.col(f"_r.{n}").alias(n) for n in names]))
