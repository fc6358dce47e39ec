"""Round-trip fidelity for the CSV source (sources/io.py::read_csv):
schema and values must survive write→read, nulls included."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from dbda_big_data_walmart_stores_analysis_prediction_spark.sources import io as sio
from dbda_big_data_walmart_stores_analysis_prediction_spark.sources.catalog import (
    load_star_table,
)
from tests.conftest import SF_SMOKE


def _orders(spark):
    return load_star_table(spark, SF_SMOKE, "orders")


def _assert_same(a, b, sort_key="o_orderkey"):
    assert a.schema == b.schema
    ra = [tuple(r) for r in a.orderBy(sort_key).collect()]
    rb = [tuple(r) for r in b.orderBy(sort_key).collect()]
    assert ra == rb


def test_csv_roundtrip_with_null_sentinel(spark):
    # nulls written as the "NA" sentinel read back as typed NULLs
    orders = _orders(spark).withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 7 == 0, None).otherwise(
            F.col("o_orderpriority")
        ),
    )
    assert orders.where(F.col("o_orderpriority").isNull()).count() > 0
    with tempfile.TemporaryDirectory() as d:
        orders.write.option("header", True).option("nullValue", "NA").csv(f"{d}/o")
        back = sio.read_csv(spark, f"{d}/o", orders.schema)
        _assert_same(orders, back)
