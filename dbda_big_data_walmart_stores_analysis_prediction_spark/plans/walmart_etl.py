"""Walmart ETL pipeline — reference-parity semantics, scale-first plan.

Reproduces the reference ETL (``Scripts/etl.py:34-69,108-126``) exactly at
the semantic level:

* left-join train/test facts to ``stores`` (on Store) and ``features``
  minus its ambiguous IsHoliday (on Store, Date)  — ``Scripts/etl.py:35-36,108-109``
* median-impute numeric feature columns, mode-impute categorical/boolean —
  statistics computed POST-JOIN on the fact grain, and INDEPENDENTLY for
  train and test (a deliberate reference quirk: ``Scripts/etl.py:112-113``
  calls join_all per frame; real ML hygiene would reuse train stats)
* drop rows with NULL label (train only) — ``Scripts/etl.py:45-46``
* add Year/Month/WeekOfYear/DayOfWeek — ``Scripts/etl.py:49-52``
* lag1/lag4/trailing-roll4 of Weekly_Sales over (Store, Dept) ordered by
  Date, NULL→0 backfill — train only — ``Scripts/etl.py:56-67``

Plan differences from the reference (SURVEY.md §4 anti-patterns): every
median and mode is a column of ONE lazy aggregate row joined into the
plan (``cleaning.impute``: no per-column jobs, no global sorts, nothing
collected while the plan is built), no ``coalesce(1)`` on write, single
``select`` for derived columns (no withColumn chains).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from dbda_big_data_walmart_stores_analysis_prediction_spark.functions.dates import (
    add_date_parts,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.cleaning import (
    impute,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.joins import (
    star_join,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.windows import (
    add_lag_features,
    add_rolling_mean,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.sources.io import (
    write_parquet,
)

NUMERIC_IMPUTE_COLS = [
    "Temperature",
    "Fuel_Price",
    "MarkDown1",
    "MarkDown2",
    "MarkDown3",
    "MarkDown4",
    "MarkDown5",
    "CPI",
    "Unemployment",
    # beyond the reference's list: a fact row whose Store is missing from
    # the dim leaves Size NULL after the left join, which the assembler
    # turns into a NaN feature vector the forest rejects. The reference's
    # data never hits this; real data does.
    "Size",
]
CATEGORICAL_IMPUTE_COLS = ["Type", "IsHoliday"]
LABEL = "Weekly_Sales"
LAG_COLS = ["Weekly_Sales_lag1", "Weekly_Sales_lag4", "Weekly_Sales_roll4"]


def join_and_impute(
    fact: DataFrame,
    stores: DataFrame,
    features: DataFrame,
) -> DataFrame:
    """Fact ⟕ stores ⟕ features(-IsHoliday), then impute with statistics
    computed on this frame — the reference's independent train/test
    statistics."""
    joined = star_join(
        fact,
        [(stores, "Store"), (features.drop("IsHoliday"), ["Store", "Date"])],
    )
    return impute(joined, NUMERIC_IMPUTE_COLS, CATEGORICAL_IMPUTE_COLS)


def add_features(df: DataFrame) -> DataFrame:
    """Date parts + (train-only) lag/rolling features, exactly the
    reference's guarded branch (``Scripts/etl.py:56-59``)."""
    out = add_date_parts(df, "Date")
    if LABEL in df.columns:
        out = out.na.drop(subset=[LABEL])
        out = add_lag_features(out, LABEL, ["Store", "Dept"], ["Date"], lags=(1, 4))
        out = add_rolling_mean(
            out, LABEL, ["Store", "Dept"], ["Date"], n_rows=4, out_col=f"{LABEL}_roll4"
        )
        out = out.fillna({c: 0.0 for c in LAG_COLS})
    return out


def walmart_etl(
    train: DataFrame,
    test: DataFrame,
    stores: DataFrame,
    features: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Full reference-parity ETL for both frames; each frame is imputed
    with its own statistics, as the reference does."""
    merged_train = join_and_impute(train, stores, features)
    merged_test = join_and_impute(test, stores, features)
    return add_features(merged_train), add_features(merged_test)


def run_and_write(
    train: DataFrame,
    test: DataFrame,
    stores: DataFrame,
    features: DataFrame,
    out_train: str,
    out_test: str,
) -> None:
    """ETL + partitioned parquet sinks (natural parallelism, partitioned by
    Year for downstream pruning — replaces the reference's coalesce(1))."""
    merged_train, merged_test = walmart_etl(train, test, stores, features)
    write_parquet(merged_train, out_train, partition_by=["Year"])
    write_parquet(merged_test, out_test, partition_by=["Year"])
