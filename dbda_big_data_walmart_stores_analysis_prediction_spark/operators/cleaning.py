"""Null accounting and imputation operators (SURVEY.md §2.2 P1/P7-P9, §2.4 A1-A3).

Scale fixes over the reference:

* ``null_counts`` — already the idiomatic one-pass form in the reference
  (``Scripts/etl.py:13-14``); kept as-is.
* ``impute`` — the reference launches one ``approxQuantile`` job per
  median column and a groupBy + GLOBAL sort + ``first()`` per mode column
  (``Scripts/etl.py:16-32``), each collected to the driver while the plan
  is built, with nondeterministic mode ties. Here every median and mode
  is one column of ONE aggregate row that is broadcast-joined back into
  the plan: no job runs until the frame's consumer runs, and mode ties
  break deterministically toward the larger value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def null_counts(df: DataFrame) -> DataFrame:
    """Per-column null counts in one aggregate pass (P1/A3).

    Output: single row, one column per input column (bigint counts).
    """
    return df.select(
        [F.count(F.when(F.col(c).isNull(), c)).alias(c) for c in df.columns]
    )


def impute(df: DataFrame, median_cols: list[str], mode_cols: list[str]) -> DataFrame:
    """Fill NULLs in ``median_cols`` with the column's approximate median
    and in ``mode_cols`` with its most frequent non-null value (reference
    ``Scripts/etl.py:16-32``), statistics computed on THIS frame
    (post-join grain — see SURVEY.md §3.1). Columns not in ``df`` are
    skipped.

    The statistics are one lazy aggregate row, broadcast-cross-joined:

    * median: ``percentile_approx(c, 0.5, 100)``, the same
      Greenwald-Khanna sketch at the same 1% relative error as the
      reference's ``approxQuantile(c, [0.5], 0.01)`` (which Spark runs as
      this same ``approx_percentile`` aggregate, collected); NaN is
      ignored, as ``approxQuantile`` ignores it;
    * mode: ``mode() WITHIN GROUP (ORDER BY c DESC)``, in the column's own
      type; a tie picks the larger value, so a string or boolean column
      keeps the reference engine's tie-break, and an integer column (no
      engine caller takes one's mode) compares numbers, not strings.

    Each value is applied with ``fillna``'s rule: ``coalesce(nanvl(c,
    null), stat.cast(type))`` for float/double columns (a NaN is filled
    too), ``coalesce(c, stat.cast(type))`` otherwise. An all-null column
    has a null statistic and stays null. Filled columns are nullable in
    the plan's schema, since the statistic is.
    """
    types = dict(df.dtypes)
    med = [c for c in median_cols if c in types]
    mod = [c for c in mode_cols if c in types]
    if not med and not mod:
        return df

    def value(c):
        v = F.col(c)
        return F.nanvl(v, F.lit(None)) if types[c] in ("double", "float") else v

    stats = df.agg(
        *[F.percentile_approx(value(c), 0.5, 100).alias(f"__stat{i}") for i, c in enumerate(med)],
        *[
            F.expr(f"mode() WITHIN GROUP (ORDER BY `{c}` DESC)").alias(f"__stat{len(med) + i}")
            for i, c in enumerate(mod)
        ],
    )
    stat_of = {c: F.col(f"__stat{i}") for i, c in enumerate(med + mod)}
    return df.crossJoin(F.broadcast(stats)).select(
        *[
            F.coalesce(value(c), stat_of[c].cast(types[c])).alias(c) if c in stat_of else F.col(c)
            for c in df.columns
        ]
    )
