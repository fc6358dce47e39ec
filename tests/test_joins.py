"""Unit semantics for operators/joins.py::asof_join (q45's oracle parity
covers the bulk path; these pin the edge semantics DuckDB can't express as
cleanly: exact-timestamp ties and output-name clashes)."""

from __future__ import annotations

import datetime as dt

import pytest

from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.joins import (
    asof_join,
    range_join_binned,
    salted_join,
)


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 12, minute, 0)


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        [(1, _ts(0), "a"), (1, _ts(10), "b"), (1, _ts(20), "c"), (2, _ts(5), "d")],
        "k int, lts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, _ts(0), 10.0), (1, _ts(15), 20.0), (3, _ts(0), 99.0)],
        "k int, rts timestamp, rv double",
    )
    return left, right


def test_asof_backward_inclusive(spark, frames):
    left, right = frames
    out = asof_join(left, right, on="k", left_ts="lts", right_ts="rts", right_cols=["rv"])
    got = {r["tag"]: r["rv"] for r in out.collect()}
    # exact tie at 12:00 matches (inclusive); 12:10 sees 12:00; 12:20 sees
    # 12:15; key 2 has no right rows at all -> NULL.
    assert got == {"a": 10.0, "b": 10.0, "c": 20.0, "d": None}
    assert out.count() == left.count()


def test_salted_join_matches_plain(spark):
    from pyspark.sql import functions as F

    # 90% of left rows share one hot key
    left = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("lval"),
    )
    right = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("rval")
    )
    for how in ("inner", "left"):
        got = sorted(
            tuple(r)
            for r in salted_join(left, right, "k", how=how, salt_buckets=4).collect()
        )
        want = sorted(tuple(r) for r in left.join(right, "k", how).collect())
        assert got == want, f"salted {how} join diverged"


def test_range_join_binned_numeric_matches_naive(spark):
    from pyspark.sql import functions as F

    points = spark.range(0, 500).select((F.col("id") * 1.7).alias("p"))
    intervals = spark.createDataFrame(
        [(i, float(i * 37), float(i * 37 + 25)) for i in range(30)],
        "iv_id int, lo double, hi double",
    )
    got = sorted(
        (r["p"], r["iv_id"])
        for r in range_join_binned(
            points, intervals, "p", "lo", "hi", bin_seconds=10
        ).collect()
    )
    want = sorted(
        (r["p"], r["iv_id"])
        for r in points.join(
            intervals, (F.col("p") >= F.col("lo")) & (F.col("p") <= F.col("hi"))
        ).collect()
    )
    assert got == want


def test_asof_name_clash_rejected(spark, frames):
    left, right = frames
    with pytest.raises(ValueError, match="collide"):
        asof_join(
            left.withColumnRenamed("tag", "rv"), right,
            on="k", left_ts="lts", right_ts="rts", right_cols=["rv"],
        )


def test_asof_equal_ts_right_rows_deterministic(spark):
    """Several right rows with identical (key, timestamp): the carry-forward
    window totally orders them by the payload struct, so the max payload
    wins regardless of shuffle arrival order (docstring contract)."""
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(1, 100)], "k int, lts long"
    ).select("k", F.timestamp_seconds("lts").alias("lts"))
    right_rows = [(1, 50, v) for v in [7.0, 3.0, 9.0, 1.0]]
    for attempt in range(3):
        right = (
            spark.createDataFrame(right_rows, "k int, rts long, rv double")
            .repartition(4 + attempt)  # vary physical arrival order
            .select("k", F.timestamp_seconds("rts").alias("rts"), "rv")
        )
        out = asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts", right_cols=["rv"]
        ).collect()
        assert len(out) == 1
        assert out[0]["rv"] == 9.0, f"attempt {attempt}: {out}"


def test_skew_report_math(spark):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.joins import (
        skew_report,
    )

    rows = [(0,)] * 90 + [(1,)] * 5 + [(2,)] * 5 + [(None,)] * 10
    df = spark.createDataFrame(rows, "k int")
    got = {r["k"]: r for r in skew_report(df, "k", top=10).collect()}
    # 4 keys, 110 rows, mean 27.5
    assert got[0]["n"] == 90 and got[0]["row_share"] == round(90 / 110, 6)
    assert got[0]["skew_factor"] == round(90 / 27.5, 6)
    assert got[0]["suggested_salt"] == 4  # ceil(3.27...)
    assert got[None]["n"] == 10  # null keys reported too
    assert got[1]["suggested_salt"] == 1


def test_skew_report_null_key_tie_sorts_last(spark):
    """A count tie between a NULL key and a real key at the top-N
    boundary must resolve identically to the SQL oracles (nulls LAST on
    the ascending tiebreak — Spark's bare asc would put them first)."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.joins import (
        skew_report,
    )

    rows = [(0,)] * 10 + [(None,)] * 5 + [(7,)] * 5 + [(9,)] * 5
    df = spark.createDataFrame(rows, "k int")
    got = [r["k"] for r in skew_report(df, "k", top=3).collect()]
    assert got == [0, 7, 9]  # null loses every tie, so it misses top-3
    got_all = [r["k"] for r in skew_report(df, "k", top=4).collect()]
    assert got_all == [0, 7, 9, None]


def test_diagnose_and_salt_join_adaptive(spark):
    """diagnose_and_salt_join consumes skew_report's suggested_salt:
    skewed input -> salted plan (join keys include __salt), identical
    results to the plain join; uniform input -> plain join, no salt."""
    from pyspark.sql import functions as F

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.joins import (
        diagnose_and_salt_join,
    )

    left = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id")).alias("k"),
        (F.col("id") * 2).alias("v"),
    )
    right = spark.range(0, 250).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("grp")
    )
    out = diagnose_and_salt_join(left, right, "k")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan, plan
    want = sorted(tuple(r) for r in left.join(right, "k").collect())
    assert sorted(tuple(r) for r in out.collect()) == want

    uniform = spark.range(0, 2000).select(
        (F.col("id") % 200).alias("k"), F.col("id").alias("v")
    )
    out2 = diagnose_and_salt_join(uniform, right, "k")
    assert "__salt" not in out2._jdf.queryExecution().executedPlan().toString()
    assert sorted(tuple(r) for r in out2.collect()) == sorted(
        tuple(r) for r in uniform.join(right, "k").collect()
    )


def test_interval_overlap_join_matches_naive(spark):
    """Binned overlap join == the naive inequality join on intervals
    that span MANY bins (the canonical-bin rule must emit each pair
    exactly once, no distinct), incl. touching endpoints (inclusive),
    null bounds and inverted intervals dropped, and the column-clash
    contract."""
    import pytest
    from pyspark.sql import functions as F

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.joins import (
        interval_overlap_join,
    )

    left = spark.createDataFrame(
        [
            (1, 0.0, 10000.0),    # spans ~3 bins at width 3600
            (2, 500.0, 600.0),
            (3, 7200.0, 7200.0),  # degenerate point interval
            (4, None, 100.0),     # dropped
            (5, 100.0, 50.0),     # inverted: dropped
        ],
        "lid int, lo double, hi double",
    )
    right = spark.createDataFrame(
        [
            (10, 9000.0, 20000.0),   # overlaps 1
            (11, 600.0, 700.0),      # touches 2 at exactly 600 (inclusive)
            (12, 6000.0, 8000.0),    # overlaps 1 and 3
            (13, 50000.0, 60000.0),  # overlaps nothing
        ],
        "rid int, rlo double, rhi double",
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            left, right, "lo", "hi", "rlo", "rhi", bin_seconds=3600
        ).collect()
    )
    naive = sorted(
        (r["lid"], r["rid"])
        for r in left.join(
            right, (F.col("lo") <= F.col("rhi")) & (F.col("rlo") <= F.col("hi"))
        )
        .where(F.col("lo") <= F.col("hi"))
        .collect()
    )
    assert got == naive == [(1, 10), (1, 11), (1, 12), (2, 11), (3, 12)]
    # exactly-once even though (1, 12) shares multiple bins
    assert len(got) == len(set(got))

    with pytest.raises(ValueError, match="both\nsides|both sides"):
        interval_overlap_join(
            left.withColumnRenamed("lo", "x"),
            right.withColumnRenamed("rlo", "x"),
            "x", "hi", "x", "rhi",
        )


def test_interval_overlap_join_rejects_date_bounds(spark):
    """Review-pass regression: date-typed bounds would cast to NULL and
    silently return zero overlaps — must raise instead."""
    import datetime as dt

    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.joins import (
        interval_overlap_join,
    )

    left = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1), dt.date(2024, 1, 5))],
        "lid int, lo date, hi date",
    )
    right = spark.createDataFrame(
        [(2, dt.date(2024, 1, 3), dt.date(2024, 1, 9))],
        "rid int, rlo date, rhi date",
    )
    with pytest.raises(ValueError, match="timestamps.*or all be numeric"):
        interval_overlap_join(left, right, "lo", "hi", "rlo", "rhi")


def test_interval_overlap_join_fanout_guard(spark):
    """A degenerate interval spanning more bins than
    max_bins_per_interval must fail LOUDLY (executor-side assert riding
    the bin column — gap_fill's discipline), not silently explode one
    row into millions; intervals at exactly the cap still pass."""
    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.joins import (
        interval_overlap_join,
    )

    left = spark.createDataFrame(
        [(1, 0.0, 99.0)], "lid int, lo double, hi double"
    )
    right = spark.createDataFrame(
        [(2, 50.0, 60.0)], "rid int, rlo double, rhi double"
    )
    # span == cap: 100 bins at width 1 with max 100 → passes
    ok = interval_overlap_join(
        left, right, "lo", "hi", "rlo", "rhi",
        bin_seconds=1, max_bins_per_interval=100,
    ).collect()
    assert len(ok) == 1
    # span > cap: fails with the named error, not an OOM-shaped blowup
    with pytest.raises(Exception, match="max_bins_per_interval"):
        interval_overlap_join(
            left, right, "lo", "hi", "rlo", "rhi",
            bin_seconds=1, max_bins_per_interval=99,
        ).collect()
