"""Golden-pipeline tests for the Walmart ETL + ML plans (SURVEY.md §5.3-5.5).

Fixtures follow FIXTURES.md §B including every listed edge case: "NA"
sentinels in float CSV columns, NULL labels, a (Store,Dept) series shorter
than 5 rows, a mode tie, a store missing from the dim, negative sales.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.cleaning import impute
from dbda_big_data_walmart_stores_analysis_prediction_spark.plans import walmart_etl as W
from dbda_big_data_walmart_stores_analysis_prediction_spark.plans import ml_pipeline as M
from dbda_big_data_walmart_stores_analysis_prediction_spark.sources import (
    WALMART_FEATURES_SCHEMA,
    read_csv,
)

FRIDAYS = [dt.date(2010, 2, 5) + dt.timedelta(weeks=i) for i in range(10)]


@pytest.fixture(scope="module")
def stores(spark):
    # Store 3 exists in facts but NOT here (left-join NULL propagation);
    # Type has a deliberate A/B tie when counted over the joined train grain.
    return spark.createDataFrame(
        [(1, "A", 150000), (2, "B", 90000)],
        "Store int, Type string, Size int",
    )


@pytest.fixture(scope="module")
def features(spark, tmp_path_factory):
    # Written as CSV with literal "NA" sentinels to exercise the
    # nullValue="NA" scan path (reference Scripts/etl.py:96-106).
    rows = []
    for s in (1, 2, 3):
        for i, d in enumerate(FRIDAYS):
            md = "NA" if i < 5 else str(100.0 + i)
            cpi = "NA" if i > 7 else str(200.0 + i)
            rows.append(
                f"{s},{d.isoformat()},{50 + i},{2.5},{md},{md},{md},{md},{md},{cpi},{6.5},{'TRUE' if i == 0 else 'FALSE'}"
            )
    p = tmp_path_factory.mktemp("csv") / "features.csv"
    header = "Store,Date,Temperature,Fuel_Price,MarkDown1,MarkDown2,MarkDown3,MarkDown4,MarkDown5,CPI,Unemployment,IsHoliday"
    p.write_text(header + "\n" + "\n".join(rows))
    return read_csv(spark.getActiveSession() or spark, str(p), WALMART_FEATURES_SCHEMA)


@pytest.fixture(scope="module")
def train(spark):
    rows = []
    # Store 1, Dept 1: 10-week series (lag4/roll4 fully realized)
    for i, d in enumerate(FRIDAYS):
        rows.append((1, 1, d, 1000.0 + 100 * i, i == 0))
    # Store 2, Dept 1: 3-week series (shorter than 5 → lag4 NULL→0 fill)
    for i, d in enumerate(FRIDAYS[:3]):
        rows.append((2, 1, d, 500.0 + 10 * i, False))
    # negative sales (returns) must survive untouched
    rows.append((2, 2, FRIDAYS[0], -250.0, False))
    # NULL label rows → dropped by na.drop
    rows.append((1, 2, FRIDAYS[0], None, False))
    # store missing from dim
    rows.append((3, 1, FRIDAYS[0], 800.0, False))
    return spark.createDataFrame(
        rows, "Store int, Dept int, Date date, Weekly_Sales double, IsHoliday boolean"
    )


@pytest.fixture(scope="module")
def test_fact(spark):
    rows = [(1, 1, FRIDAYS[8], False), (2, 1, FRIDAYS[9], False), (3, 9, FRIDAYS[9], None)]
    return spark.createDataFrame(
        rows, "Store int, Dept int, Date date, IsHoliday boolean"
    )


def test_na_sentinel_scan(features):
    # "NA" strings land as typed NULLs in ONE scan, no string detour
    assert dict(features.dtypes)["MarkDown1"] == "float"
    assert features.where(F.col("MarkDown1").isNull()).count() == 15  # 3 stores x 5 weeks
    assert features.where(F.col("CPI").isNull()).count() == 6  # 3 stores x 2 weeks


def test_etl_golden(spark, train, test_fact, stores, features):
    merged_train, merged_test = W.walmart_etl(train, test_fact, stores, features)

    # schema: base + dims + date parts + lag features
    for c in [
        "Type", "Size", "Temperature", "MarkDown1", "CPI",
        "Year", "Month", "WeekOfYear", "DayOfWeek",
        "Weekly_Sales_lag1", "Weekly_Sales_lag4", "Weekly_Sales_roll4",
    ]:
        assert c in merged_train.columns, c
    for c in ["Weekly_Sales", "Weekly_Sales_lag1"]:
        assert c not in merged_test.columns or c == "Weekly_Sales"

    # na.drop removed exactly the NULL-label row
    assert merged_train.count() == train.where(F.col("Weekly_Sales").isNotNull()).count()

    # negative sales survive imputation untouched
    assert merged_train.where(F.col("Weekly_Sales") == -250.0).count() == 1

    # all-Friday dates ⇒ DayOfWeek constant 6 (reference quirk, SURVEY §2.8 F2)
    assert merged_train.select("DayOfWeek").distinct().collect()[0][0] == 6

    # imputation: no NULLs remain in imputed columns (including the
    # missing-dim store's Type/Size-joined NULLs for categorical Type)
    for c in W.NUMERIC_IMPUTE_COLS + ["Type"]:
        assert merged_train.where(F.col(c).isNull()).count() == 0, c

    rows = {
        (r["Store"], r["Dept"], r["Date"]): r
        for r in merged_train.collect()
    }
    # lag/rolling golden values for Store 1 Dept 1 (sales 1000,1100,...)
    r5 = rows[(1, 1, FRIDAYS[5])]
    assert r5["Weekly_Sales_lag1"] == 1400.0
    assert r5["Weekly_Sales_lag4"] == 1100.0
    assert r5["Weekly_Sales_roll4"] == pytest.approx((1100 + 1200 + 1300 + 1400) / 4)
    # head of series: NULL→0 backfill
    r0 = rows[(1, 1, FRIDAYS[0])]
    assert r0["Weekly_Sales_lag1"] == 0.0 and r0["Weekly_Sales_roll4"] == 0.0
    # short series: lag4 zero-filled at row 3
    r2s2 = rows[(2, 1, FRIDAYS[2])]
    assert r2s2["Weekly_Sales_lag4"] == 0.0
    assert r2s2["Weekly_Sales_lag1"] == 510.0


def _joined(fact, stores, features):
    return W.star_join(
        fact, [(stores, "Store"), (features.drop("IsHoliday"), ["Store", "Date"])]
    )


def test_mode_tie_deterministic(spark, train, stores, features):
    # Type mode over joined train grain: Store1 rows (A) vs Store2 rows (B)
    # — construct a tie by trimming to equal counts, assert larger value
    # wins; Store 3 is missing from the dim, so its Type is the filled mode
    t = train.where(
        ((F.col("Store") == 1) & (F.col("Dept") == 1) & (F.col("Weekly_Sales") <= 1300.0))
        | F.col("Store").isin(2, 3)
    )
    joined = _joined(t, stores, features)
    counts = dict(joined.groupBy("Type").count().collect())
    assert counts["A"] == counts["B"] == 4 and counts[None] == 1
    filled = impute(joined, [], ["Type"]).where(F.col("Store") == 3).collect()
    assert [r["Type"] for r in filled] == ["B"]  # deterministic: larger value on tie


def test_impute_fills_like_fillna(spark):
    """``impute`` fills exactly what ``fillna`` with the reference's
    statistics (``approxQuantile(c, [0.5], 0.01)`` medians, tie → larger
    mode) fills: a NaN in a double median column too, the int Size column
    with the median cast to int, and an all-null column not at all."""
    df = spark.createDataFrame(
        [
            (1.0, 150000, "A", True, None),
            (float("nan"), None, "B", False, None),
            (None, 90001, None, None, None),
            (5.0, None, "A", None, None),
            (3.0, 120000, "B", False, None),
        ],
        "x double, Size int, Type string, IsHoliday boolean, z double",
    )
    out = impute(df, ["x", "Size", "z"], ["Type", "IsHoliday"])
    (mx,), (ms,), z = df.approxQuantile(["x", "Size", "z"], [0.5], 0.01)
    assert (mx, ms, z) == (3.0, 120000.0, [])
    expected = df.fillna({"x": mx, "Size": ms, "Type": "B", "IsHoliday": False})
    assert out.dtypes == df.dtypes
    got = out.collect()
    assert sorted(map(tuple, got), key=repr) == sorted(map(tuple, expected.collect()), key=repr)
    assert [r["x"] for r in got] == [1.0, 3.0, 3.0, 5.0, 3.0]  # NaN filled
    assert [r["Size"] for r in got] == [150000, 120000, 90001, 120000, 120000]
    assert [r["z"] for r in got] == [None] * 5  # all-null: median undefined
    assert [r["Type"] for r in got] == ["A", "B", "B", "A", "B"]  # A/B tie → B


@pytest.mark.parametrize("seed", [1, 7])
def test_percentile_approx_equals_approx_quantile(spark, walmart_frames, seed):
    """Equal-collect proof for ``impute``'s median: on the joined train and
    test frames of generated Walmart data, ``percentile_approx(c, 0.5,
    100)`` returns exactly the reference's ``approxQuantile([c], [0.5],
    0.01)`` for every imputed numeric column."""
    train, test, stores, features = walmart_frames(seed)
    cols = W.NUMERIC_IMPUTE_COLS
    for fact in (train, test):
        joined = _joined(fact, stores, features)
        sketch = joined.agg(*[F.percentile_approx(c, 0.5, 100).alias(c) for c in cols]).first()
        for c in cols:
            (ref,) = joined.approxQuantile([c], [0.5], 0.01)
            assert ref and float(sketch[c]) == ref[0], (c, sketch[c], ref)


def test_cv_tuning_smoke(spark, train, test_fact, stores, features):
    # ML5: CrossValidator path with a tiny grid (2 fits x 2 folds + refit)
    merged_train, _ = W.walmart_etl(train, test_fact, stores, features)
    cv = M.tune(
        merged_train,
        grid_trees=(3,),
        grid_depth=(2, 3),
        grid_min_instances=(1,),
        n_folds=2,
        parallelism=2,
    )
    model = cv.fit(M.cast_booleans(merged_train))
    assert len(model.avgMetrics) == 2  # one metric per grid point
    preds = model.transform(M.cast_booleans(merged_train))
    assert "prediction" in preds.columns


def test_ml_smoke(spark, train, test_fact, stores, features):
    merged_train, merged_test = W.walmart_etl(train, test_fact, stores, features)
    tr, val = merged_train.randomSplit([0.7, 0.3], seed=42)
    if val.count() == 0:  # tiny fixture guard
        tr, val = merged_train, merged_train
    tuned, preds = M.fit_predict(tr, val, n_trees=5, max_depth=3)
    assert "prediction" in preds.columns
    assert preds.count() == val.count()
    assert isinstance(tuned.r2, float)

    # feature importances: every assembler input named, weights sum to ~1
    imps = M.feature_importances(tuned.model)
    assert len(imps) == len({n for n, _ in imps}), "duplicate feature names"
    assert abs(sum(v for _, v in imps) - 1.0) < 1e-6
    assert imps == sorted(imps, key=lambda p: (-p[1], p[0]))

    # inference on the label-less test frame with lag backfill
    test_ready = M.backfill_lag_columns(merged_test, W.LAG_COLS)
    out = tuned.model.transform(M.cast_booleans(test_ready))
    assert out.where(F.col("prediction").isNull()).count() == 0

    # save/load round-trip (S5)
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        tuned.model.write().overwrite().save(f"{d}/model")
        from pyspark.ml import PipelineModel

        loaded = PipelineModel.load(f"{d}/model")
        again = loaded.transform(M.cast_booleans(test_ready))
        assert again.count() == out.count()


def test_save_plots_layer(spark, tmp_path):
    """S8 PNG sink: renders from aggregate frames only. In containers
    without matplotlib the layer must fail with a clear ImportError (the
    frames themselves stay available for any other backend)."""
    import os

    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.eda_report import (
        eda_report,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.viz import (
        save_plots,
    )

    rows = [(i % 4, i % 2, float(i), float(i) * 2.0) for i in range(48)]
    df = spark.createDataFrame(rows, "g int, h int, x double, y double")
    report = eda_report(
        df, value_col="x", numeric_cols=["x", "y"], group_col="g", facet_cols=("h",)
    )
    facet = {r["h"]: r for r in report.facet_quartiles["h"].collect()}
    assert set(facet) == {0, 1} and facet[0]["min"] == 0.0
    try:
        import matplotlib  # noqa: F401

        have_mpl = True
    except ImportError:
        have_mpl = False
    if have_mpl:
        written = save_plots(report, str(tmp_path / "plots"))
        assert written and all(os.path.exists(p) for p in written)
    else:
        with pytest.raises(ImportError, match="matplotlib"):
            save_plots(report, str(tmp_path / "plots"))


def test_eda_report_fence_matches_outlier_bounds(spark):
    """eda_report takes the IQR fence from the describe quartiles when the
    value column is described and from outlier_bounds otherwise; both
    read the same engine's quartiles, so fence and outlier count agree
    exactly."""
    from pyspark.sql import functions as F

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
        describe_plus,
        iqr_fence,
        outlier_bounds,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.eda_report import (
        eda_report,
    )

    rows = [
        (i % 3, float(i % 17) + (400.0 if i % 29 == 0 else 0.0), float(i))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "g int, x double, y double")
    lo, hi = outlier_bounds(df, "x")
    d = describe_plus(df, ["y", "x"]).where(F.col("column") == "x").first()
    assert iqr_fence("x", [d["q1"], d["q3"]]) == (lo, hi)
    want = df.where((F.col("x") < lo) | (F.col("x") > hi)).count()
    assert want > 0
    for numeric in (["y", "x"], ["y"]):
        assert eda_report(df, "x", numeric, "g").outlier_count == want, numeric


def test_clean_na_sentinels_survives_dirty_non_sentinel_values(spark):
    # ANSI mode: a plain cast of "n/a" would throw CAST_INVALID_INPUT —
    # the cleaner must null it out instead of killing the scan
    from dbda_big_data_walmart_stores_analysis_prediction_spark.functions.cleaning import (
        clean_na_sentinels,
    )

    df = spark.createDataFrame(
        [("1.5",), ("NA",), ("n/a",), ("-",), (None,)], "x string"
    )
    vals = [r["x"] for r in clean_na_sentinels(df, ["x"]).collect()]
    assert vals == [1.5, None, None, None, None]
