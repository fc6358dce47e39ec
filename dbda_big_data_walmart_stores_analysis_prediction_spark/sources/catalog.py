"""Star-schema catalog over the driver's synthetic test tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet each under
``/root/testdata/sf{0.001,0.01,0.1}/``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# NOTE on small-file scan fan-out: a blanket catalog-level repartition of
# "CPU-heavy" tables was tried and REVERTED — it helped the shingle
# family (whose explode+md5 stage was serialized behind a 1-task scan at
# bench scale) but hurt everything else reading the same tables: the
# embedding operators lose their few-large-Arrow-batch efficiency
# (measured 1.3-2.8x slower across q30/q31/q32/q47/q72) and cheap
# relational/doc queries pay an exchange for nothing (q71 +53%). The
# fan-out now lives INSIDE the operators whose per-row CPU justifies it
# (operators/dedup.py::_fan_out_small_scan), which is the right altitude:
# the operator knows its cost profile, the catalog doesn't.


def load_star_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in STAR_TABLES:
        raise KeyError(f"unknown star table {name!r}; have {STAR_TABLES}")
    if name == "events":
        # events.parquet is TIMESTAMP(NANOS); callers may hand us a vanilla
        # session (the correctness driver does), so set the legacy conf here —
        # it is runtime-settable — rather than relying on our session factory.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from pyspark.sql import functions as F  # noqa: F401

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # events.ts as TIMESTAMP(NANOS) on disk, surfaced as int64 nanos
            # via spark.sql.legacy.parquet.nanosAsLong; truncate to micros
            # exactly as DuckDB does so oracle comparisons agree. Integer
            # `div` — float division would shave precision off ~1e18 ns.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # events.ts as plain TIMESTAMP(MICROS) with isAdjustedToUTC=false
            # infers as TIMESTAMP_NTZ under Spark 4's default
            # inferTimestampNTZ. Every event operator (unix_micros gaps,
            # window alignment) and every oracle comparison was written for
            # TIMESTAMP_LTZ in a UTC session, where the wall-clock values
            # DuckDB sees and the instants Spark sees coincide — so
            # normalize here, at the single load point, not per-operator.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df

