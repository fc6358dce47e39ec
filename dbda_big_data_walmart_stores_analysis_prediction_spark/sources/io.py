"""Readers and writers (SURVEY.md §2.1 S1-S4).

Scale posture:

* CSV reads take an explicit schema and a ``nullValue`` sentinel — one scan,
  deterministic types (replaces reference ``Scripts/etl.py:86-89``).
* Parquet writes never ``coalesce(1)`` (reference ``Scripts/etl.py:123,126``
  funnels the whole upstream plan through one task); instead callers choose
  ``partition_by`` for pruning or leave natural parallelism alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    null_value: str | None = "NA",
) -> DataFrame:
    """CSV scan (with a header row) and explicit schema (S1). ``null_value``
    maps the sentinel string straight to typed NULLs at scan time."""
    reader = spark.read.schema(schema).option("header", True)
    if null_value is not None:
        reader = reader.option("nullValue", null_value)
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (S2). Column pruning + predicate pushdown are free as
    long as callers keep filters/projections declarative."""
    return spark.read.parquet(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink (S3/S4) at natural parallelism.

    ``partition_by`` gives directory-level partition pruning for downstream
    readers (e.g. ``Year`` for the Walmart pipeline).
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)

