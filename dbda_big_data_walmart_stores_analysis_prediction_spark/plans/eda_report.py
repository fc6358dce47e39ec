"""EDA report plan — the reference's ``Scripts/eda.py`` re-expressed as
full-data Spark aggregations (SURVEY.md §3.2).

The reference samples 10% to pandas and computes everything driver-side
(``Scripts/eda.py:61-63``); here every statistic is an exact cluster-side
aggregate and only the (tiny) results are collected. The plotting layer
(``Plots/*.png``, S8) is out of engine scope — each section returns the
aggregate frame a viz layer would consume.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
    correlations,
    describe_plus,
    group_quartiles,
    histogram,
    iqr_fence,
    outlier_bounds,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.cleaning import (
    null_counts,
)


@dataclass
class EDAReport:
    n_rows: int
    schema: list[tuple[str, str]]
    nulls: DataFrame
    describe: DataFrame
    histogram: DataFrame
    correlations: DataFrame
    top_groups: DataFrame
    group_quartiles: DataFrame
    facet_quartiles: dict[str, DataFrame]
    outlier_count: int


def eda_report(
    df: DataFrame,
    value_col: str,
    numeric_cols: list[str],
    group_col: str,
    top_k: int = 10,
    n_bins: int = 50,
    facet_cols: tuple[str, ...] = (),
) -> EDAReport:
    """One call ≡ the whole reference EDA stage, exact and bounded-memory:

    count (A4) → schema (M4) → null counts (P1) → describe+quartiles
    (A5/A6) → histogram (A10) → correlation vector (A7) → top-k groups by
    mean (A8/O4) → per-group five-number summaries (A9) → IQR outlier count
    (A6/P10). Collects nothing bigger than `top_k`/`n_bins` rows per part.

    ``facet_cols`` adds one more five-number-summary frame per listed
    column (the reference boxplots Weekly_Sales against Month, DayOfWeek,
    IsHoliday, and Type the same way, ``Scripts/eda.py:100-151``). The
    five-number-summary frames are lazy: they run when a consumer (the
    plot layer) collects them.
    """
    from pyspark.sql import functions as F

    describe = describe_plus(df, numeric_cols)
    if value_col in numeric_cols:
        # the describe row holds the same engine's q1/q3 for this column,
        # so the fence needs no second quantile pass
        q = describe.where(F.col("column") == value_col).first()
        lo, hi = iqr_fence(value_col, [q["q1"], q["q3"]])
    else:
        lo, hi = outlier_bounds(df, value_col)
    top = (
        df.groupBy(group_col)
        .agg(F.avg(value_col).alias(f"avg_{value_col}"))
        .orderBy(F.desc(f"avg_{value_col}"), F.asc(group_col))
        .limit(top_k)
    )
    return EDAReport(
        n_rows=df.count(),
        schema=df.dtypes,
        nulls=null_counts(df),
        describe=describe,
        histogram=histogram(df, value_col, n_bins=n_bins),
        correlations=correlations(df, numeric_cols, target=value_col),
        top_groups=top,
        group_quartiles=group_quartiles(df, group_col, value_col),
        facet_quartiles={
            c: group_quartiles(df, c, value_col) for c in facet_cols
        },
        outlier_count=df.where(
            (F.col(value_col) < lo) | (F.col(value_col) > hi)
        ).count(),
    )
