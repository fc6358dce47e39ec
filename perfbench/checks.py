"""Output checks, run after the timed region with DuckDB.

Registry ops are compared against their ``ORACLE_SQL`` on the same tables:
column set, row count and an order-insensitive multiset, normalised the way
the engine's oracle-parity tests normalise (floats to 6 places, negative
zero folded, dates as ISO strings, booleans as ints).

The Walmart pipeline's outputs are checked against DuckDB recomputations
over the generated CSVs and the parquet the pipeline wrote.
"""

from __future__ import annotations

import json
import math
import os

import duckdb

IMPUTED_COLS = (
    "Temperature", "Fuel_Price", "MarkDown1", "MarkDown2", "MarkDown3",
    "MarkDown4", "MarkDown5", "CPI", "Unemployment", "Size", "Type", "IsHoliday",
)
TRAIN_COLUMNS = (
    "{'Store': 'INTEGER', 'Dept': 'INTEGER', 'Date': 'DATE', "
    "'Weekly_Sales': 'DOUBLE', 'IsHoliday': 'BOOLEAN'}"
)


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6) + 0.0
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bool):
        return int(v)
    return v


def multiset(rows, colnames) -> list[tuple]:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    normed = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(normed, key=lambda row: tuple((c is None, str(c)) for c in row))


def compare(name, cols, rows, oracle_cols, oracle_rows) -> str | None:
    """None when the outputs agree, else a one-line reason."""
    if sorted(cols) != sorted(oracle_cols):
        return f"{name}: columns {sorted(cols)} != oracle {sorted(oracle_cols)}"
    if len(rows) != len(oracle_rows):
        return f"{name}: {len(rows)} rows != oracle {len(oracle_rows)}"
    got, want = multiset(rows, cols), multiset(oracle_rows, oracle_cols)
    if got != want:
        diff = next((a, b) for a, b in zip(got, want) if a != b)
        return f"{name}: values differ from oracle, first {diff}"
    return None


def check_registry_op(name: str, sql: str, tables: dict[str, str], cols, rows) -> str | None:
    con = duckdb.connect()
    try:
        for table, path in tables.items():
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        res = con.execute(sql)
        oracle_cols = [d[0] for d in res.description]
        return compare(name, cols, rows, oracle_cols, res.fetchall())
    finally:
        con.close()


def _json_line(text: str, key: str) -> dict:
    for line in text.splitlines():
        if line.startswith("{") and f'"{key}"' in line:
            return json.loads(line)
    raise ValueError(f"no JSON line with {key!r} in the stage output")


def check_walmart(
    in_dir: str, out_dir: str, stage_output: dict[str, str], r2_floor: float
) -> dict[str, list[str]]:
    """Failures per CLI stage (``etl``, ``eda``, ``model``)."""
    fails: dict[str, list[str]] = {"etl": [], "eda": [], "model": []}
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW train AS SELECT * FROM read_csv('{in_dir}/train.csv', "
            f"header=true, nullstr='NA', columns={TRAIN_COLUMNS})"
        )
        for t in ("merged_train", "merged_test"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{out_dir}/{t}/**/*.parquet', hive_partitioning=true)"
            )
        one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731

        labelled = one("SELECT count(*) FROM train WHERE Weekly_Sales IS NOT NULL")
        merged = one("SELECT count(*) FROM merged_train")
        if merged != labelled:
            fails["etl"].append(f"merged_train has {merged} rows, train has {labelled} labelled")
        for t in ("merged_train", "merged_test"):
            nulls = " + ".join(f"count(*) FILTER (WHERE {c} IS NULL)" for c in IMPUTED_COLS)
            n = one(f"SELECT {nulls} FROM {t}")
            if n:
                fails["etl"].append(f"{t}: {n} NULLs left in imputed columns")
        bad_lags = one(
            """
            WITH r AS (
              SELECT Weekly_Sales_lag1 AS a1, Weekly_Sales_lag4 AS a4,
                     Weekly_Sales_roll4 AS a5,
                     coalesce(lag(Weekly_Sales, 1) OVER w, 0) AS e1,
                     coalesce(lag(Weekly_Sales, 4) OVER w, 0) AS e4,
                     coalesce(avg(Weekly_Sales) OVER (
                       PARTITION BY Store, Dept ORDER BY Date
                       ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING), 0) AS e5
              FROM merged_train
              WINDOW w AS (PARTITION BY Store, Dept ORDER BY Date))
            SELECT count(*) FROM r
            WHERE abs(a1 - e1) > 1e-6 * (1 + abs(e1))
               OR abs(a4 - e4) > 1e-6 * (1 + abs(e4))
               OR abs(a5 - e5) > 1e-6 * (1 + abs(e5))
            """
        )
        if bad_lags:
            fails["etl"].append(f"{bad_lags} rows disagree with the DuckDB lag/roll4 recomputation")

        try:
            eda = _json_line(stage_output.get("eda", ""), "n_rows")
            outliers = one(
                """
                WITH q AS (
                  SELECT quantile_cont(Weekly_Sales, 0.25) AS q1,
                         quantile_cont(Weekly_Sales, 0.75) AS q3
                  FROM merged_train)
                SELECT count(*) FROM merged_train, q
                WHERE Weekly_Sales < q1 - 1.5 * (q3 - q1)
                   OR Weekly_Sales > q3 + 1.5 * (q3 - q1)
                """
            )
            if eda["n_rows"] != merged:
                fails["eda"].append(f"EDA n_rows {eda['n_rows']} != {merged}")
            if eda["outliers"] != outliers:
                fails["eda"].append(f"EDA outliers {eda['outliers']} != DuckDB IQR fence {outliers}")
        except (ValueError, KeyError) as e:
            fails["eda"].append(str(e))

        try:
            r2 = _json_line(stage_output.get("model", ""), "validation_r2")["validation_r2"]
            if not (isinstance(r2, float) and math.isfinite(r2) and r2 > r2_floor):
                fails["model"].append(f"validation R2 {r2} not finite or not above {r2_floor}")
        except (ValueError, KeyError) as e:
            fails["model"].append(str(e))
        preds_path = f"{out_dir}/test_predictions"
        if not os.path.isdir(preds_path):
            fails["model"].append("no test_predictions written")
        else:
            preds, null_preds = con.execute(
                f"SELECT count(*), count(*) FILTER (WHERE prediction IS NULL) "
                f"FROM read_parquet('{preds_path}/*.parquet')"
            ).fetchone()
            tests = one(
                f"SELECT count(*) FROM read_csv('{in_dir}/test.csv', header=true)"
            )
            if preds != tests or null_preds:
                fails["model"].append(
                    f"{preds} predictions ({null_preds} NULL) for {tests} test rows"
                )
    finally:
        con.close()
    return fails
