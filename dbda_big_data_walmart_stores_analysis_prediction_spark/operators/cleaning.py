"""Null accounting and imputation operators (SURVEY.md §2.2 P1/P7-P9, §2.4 A1-A3).

Scale fixes over the reference:

* ``null_counts`` — already the idiomatic one-pass form in the reference
  (``Scripts/etl.py:13-14``); kept as-is.
* ``impute_median`` — the reference launches one ``approxQuantile`` job per
  column in a Python loop (``Scripts/etl.py:16-22``); one call with the full
  column list computes every Greenwald-Khanna sketch in a single pass.
* ``impute_mode`` — the reference runs a full groupBy + GLOBAL sort + first()
  per column (``Scripts/etl.py:24-32``), with nondeterministic ties. Here:
  one aggregate job for ALL columns using ``max_by`` over (count, value)
  structs — no global sort, deterministic tie-break on the larger value.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def null_counts(df: DataFrame) -> DataFrame:
    """Per-column null counts in one aggregate pass (P1/A3).

    Output: single row, one column per input column (bigint counts).
    """
    return df.select(
        [F.count(F.when(F.col(c).isNull(), c)).alias(c) for c in df.columns]
    )


def compute_medians(
    df: DataFrame, columns: list[str], relative_error: float = 0.01
) -> dict[str, float]:
    """All medians in ONE approxQuantile call (single scan, one sketch per
    column). ``relative_error=0.0`` gives the exact median for oracle tests;
    the reference pins 0.01 (``Scripts/etl.py:19``)."""
    quantiles = df.stat.approxQuantile(columns, [0.5], relative_error)
    return {
        c: q[0] for c, q in zip(columns, quantiles) if q  # empty list => all-null col
    }


def compute_modes(df: DataFrame, columns: list[str]) -> dict[str, Any]:
    """Most frequent non-null value per column, ONE job for all columns.

    Plan shape: explode the N candidate columns into (col_name, value) pairs
    with a ``stack``, count per (col_name, value) — a partial+final hash
    aggregate — then ``max_by(value, (count, value))`` per column. No global
    sort (the reference's ``orderBy('count', ascending=False).first()`` at
    ``Scripts/etl.py:29-30`` total-sorts every distinct value). Ties break
    deterministically toward the larger value string.
    """
    if not columns:
        return {}
    stack_expr = ", ".join(
        f"'{c}', cast(`{c}` as string)" for c in columns
    )
    pairs = df.selectExpr(f"stack({len(columns)}, {stack_expr}) as (col_name, value)")
    counted = (
        pairs.where(F.col("value").isNotNull())
        .groupBy("col_name", "value")
        .agg(F.count("*").alias("cnt"))
    )
    rows = (
        counted.groupBy("col_name")
        .agg(F.expr("max_by(value, struct(cnt, value))").alias("mode"))
        .collect()
    )
    modes = {r["col_name"]: r["mode"] for r in rows}
    # cast back to the source column's type
    out: dict[str, Any] = {}
    dtypes = dict(df.dtypes)
    for c, v in modes.items():
        dt = dtypes[c]
        if dt == "boolean":
            out[c] = v == "true"
        elif dt in ("int", "bigint", "smallint", "tinyint"):
            out[c] = int(v)
        elif dt in ("double", "float"):
            out[c] = float(v)
        else:
            out[c] = v
    return out


def impute_median(
    df: DataFrame, columns: list[str], relative_error: float = 0.01
) -> DataFrame:
    """Fill NULLs in numeric ``columns`` with their (approximate) medians.

    Matches reference semantics (``Scripts/etl.py:16-22``): stats computed on
    THIS frame (post-join grain — see SURVEY.md §3.1), folded back in as
    literals via one ``fillna``.
    """
    present = [c for c in columns if c in df.columns]
    if not present:
        return df
    medians = compute_medians(df, present, relative_error)
    return df.fillna(medians) if medians else df


def impute_mode(df: DataFrame, columns: list[str]) -> DataFrame:
    """Fill NULLs in categorical/boolean ``columns`` with their modes
    (reference ``Scripts/etl.py:24-32``), deterministic ties."""
    present = [c for c in columns if c in df.columns]
    if not present:
        return df
    modes = compute_modes(df, present)
    return df.fillna(modes) if modes else df
