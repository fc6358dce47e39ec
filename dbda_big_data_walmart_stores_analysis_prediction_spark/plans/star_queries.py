"""Oracle-paired relational queries over the driver star schema.

Every operator in SURVEY.md §2 gets a named query here plus equivalent ANSI
SQL the DuckDB oracle runs on the same parquet files. Conventions that keep
the driver's (row-count, schema, order-insensitive value-hash) compare green:

* Every computed column is aliased IDENTICALLY in Spark and SQL.
* Floating aggregates are ``round()``-ed (2dp for money-scale sums, 4-6dp for
  ratios) on BOTH sides so accumulation-order ulps can't flip the hash.
* Date-part semantics are normalized: Spark ``dayofweek`` is Sunday=1,
  DuckDB's is Sunday=0 (oracle adds 1); ``weekofyear`` is ISO in both.
* Integer-typed derivations are cast to the same width on both sides.
* Exact ``percentile`` (Spark) pairs with ``quantile_cont`` (DuckDB) — both
  linear-interpolating. ``approx`` sketches are never oracle-compared.

Known DuckDB/Spark divergences intentionally avoided: ``median()`` on
DECIMAL (DuckDB returns a non-interpolated value), engine-native ``hash()``
(never comparable; md5-derived int64 used instead — functions/hashing.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
    describe_plus,
    group_quartiles,
    histogram,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.joins import (
    asof_join,
    star_join,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.windows import (
    add_lag_features,
    add_rolling_mean,
    top_k_per_group,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.sources.catalog import (
    load_star_table,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_star_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# A: aggregations (SURVEY §2.4 — A1-A10)
# ---------------------------------------------------------------------------


@_register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                   AS avg_qty,
           round(avg(l_extendedprice), 4)                              AS avg_price,
           round(avg(l_discount), 6)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped hash aggregate: partial+final, filter pushed to scan.

    Covers A3/A4-style grouped sums/avgs/counts (reference's aggregate
    surface, Scripts/etl.py:14 / Scripts/eda.py:58) in one declarative plan.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@_register(
    "q02_top_customers_rolling",
    """
    WITH w AS (
        SELECT o.o_custkey, c.c_name,
               o.o_totalprice,
               avg(o.o_totalprice) OVER (
                   PARTITION BY o.o_custkey
                   ORDER BY o.o_orderdate NULLS FIRST, o.o_orderkey
                   ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS roll4
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT o_custkey AS custkey, c_name AS name,
           floor(avg(o_totalprice) * 100 + 0.5) / 100 AS avg_order_total,
           floor(avg(roll4) * 100 + 0.5) / 100        AS avg_roll4,
           count(*)                                   AS n_orders
    FROM w
    GROUP BY o_custkey, c_name
    ORDER BY avg_order_total DESC, custkey ASC NULLS FIRST
    LIMIT 10
    """,
)
def q02_top_customers_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: scan → broadcast left join (J1) → window lag/rolling (W1-W4)
    → group agg (A8) → top-k (O4) in one plan (SURVEY §7 Phase 1)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    joined = star_join(orders, [(customer.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey")])
    rolled = add_rolling_mean(
        joined,
        "o_totalprice",
        partition_by=["o_custkey"],
        order_by=["o_orderdate", "o_orderkey"],
        n_rows=4,
        out_col="roll4",
    )
    return (
        rolled.groupBy(F.col("o_custkey").alias("custkey"), F.col("c_name").alias("name"))
        .agg(
            # round() is round-half-even in Spark but half-up in DuckDB on the
            # exact .5 doubles this avg produces — use the repo's half-up-stable
            # idiom floor(x*100+0.5)/100 on BOTH sides (see oracle SQL above).
            (F.floor(F.avg("o_totalprice") * 100 + F.lit(0.5)) / 100).alias("avg_order_total"),
            (F.floor(F.avg("roll4") * 100 + F.lit(0.5)) / 100).alias("avg_roll4"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.desc("avg_order_total"), F.asc("custkey"))
        .limit(10)
    )


@_register(
    "q03_null_counts",
    """
    SELECT count(CASE WHEN o_orderkey IS NULL THEN 1 END)      AS o_orderkey,
           count(CASE WHEN o_custkey IS NULL THEN 1 END)       AS o_custkey,
           count(CASE WHEN o_orderstatus IS NULL THEN 1 END)   AS o_orderstatus,
           count(CASE WHEN o_totalprice IS NULL THEN 1 END)    AS o_totalprice,
           count(CASE WHEN o_orderdate IS NULL THEN 1 END)     AS o_orderdate,
           count(CASE WHEN o_orderpriority IS NULL THEN 1 END) AS o_orderpriority
    FROM orders
    """,
)
def q03_null_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/A3: one-pass per-column null counts (Scripts/etl.py:13-14)."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.cleaning import (
        null_counts,
    )

    return null_counts(_t(spark, sf_dir, "orders"))


@_register(
    "q04_mode_orderpriority",
    """
    SELECT o_orderpriority AS mode_value
    FROM (
        SELECT o_orderpriority, count(*) AS cnt
        FROM orders
        WHERE o_orderpriority IS NOT NULL
        GROUP BY o_orderpriority
    )
    ORDER BY cnt DESC, o_orderpriority DESC
    LIMIT 1
    """,
)
def q04_mode_orderpriority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: deterministic mode — max_by over (count, value), no global sort
    (replaces Scripts/etl.py:27-30's groupBy→orderBy→first per column)."""
    orders = _t(spark, sf_dir, "orders")
    counted = (
        orders.where(F.col("o_orderpriority").isNotNull())
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("cnt"))
    )
    return counted.agg(
        F.expr("max_by(o_orderpriority, struct(cnt, o_orderpriority))").alias("mode_value")
    )


@_register(
    "q05_median_acctbal_by_nation",
    """
    SELECT c_nationkey AS nationkey,
           round(quantile_cont(c_acctbal, 0.5), 4) AS median_acctbal,
           count(*) AS n_customers
    FROM customer
    GROUP BY c_nationkey
    """,
)
def q05_median_acctbal_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: exact interpolated median per group. (The imputation operator uses
    the ``percentile_approx`` sketch — ``cleaning.impute`` — which is not
    oracle-comparable; this pins the exact-percentile path.)"""
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.round(F.expr("percentile(c_acctbal, 0.5)"), 4).alias("median_acctbal"),
        F.count("*").alias("n_customers"),
    )


@_register(
    "q06_revenue_by_segment",
    """
    SELECT c.c_mktsegment AS segment,
           round(sum(o.o_totalprice), 2) AS revenue,
           count(*) AS n_orders
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q06_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: fact x broadcast dim left equi-join + hash agg
    (Scripts/etl.py:35 re-expressed with explicit broadcast)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    return (
        star_join(orders, [(cust, "o_custkey")])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


@_register(
    "q07_revenue_by_region_nation",
    """
    SELECT r.r_name AS region, n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q07_revenue_by_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2 chain: fact → orders → customer → nation → region, every dim
    broadcast, so the whole join tree is map-side (zero fact shuffles until
    the final aggregate)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
    cust = _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    nation = _t(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
    region = _t(spark, sf_dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
    joined = star_join(
        li,
        [(orders, "l_orderkey"), (cust, "o_custkey"), (nation, "c_nationkey"), (region, "n_regionkey")],
        how="inner",
    )
    return joined.groupBy(
        F.col("r_name").alias("region"), F.col("n_name").alias("nation")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_lineitems"),
    )


# ---------------------------------------------------------------------------
# W/O: windows, top-k (SURVEY §2.5-2.6)
# ---------------------------------------------------------------------------


@_register(
    "q08_lag_rolling_features",
    """
    SELECT l_suppkey, l_partkey, l_orderkey, l_linenumber,
           l_quantity,
           lag(l_quantity, 1) OVER w AS qty_lag1,
           lag(l_quantity, 4) OVER w AS qty_lag4,
           round(avg(l_quantity) OVER (w ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING), 4)
               AS qty_roll4
    FROM lineitem
    WINDOW w AS (PARTITION BY l_suppkey, l_partkey
                 ORDER BY l_shipdate NULLS FIRST, l_orderkey, l_linenumber)
    """,
)
def q08_lag_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1-W4: the reference's lag1/lag4/trailing-roll4 block
    (Scripts/etl.py:61-65) over the star schema's (suppkey, partkey) series,
    with tie-break order keys for determinism. One window spec → one shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    part = ["l_suppkey", "l_partkey"]
    order = ["l_shipdate", "l_orderkey", "l_linenumber"]
    out = add_lag_features(li, "l_quantity", part, order, lags=(1, 4), prefix="qty")
    out = add_rolling_mean(out, "l_quantity", part, order, n_rows=4, out_col="qty_roll4")
    return out.select(
        "l_suppkey",
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "qty_lag1",
        "qty_lag4",
        F.round("qty_roll4", 4).alias("qty_roll4"),
    )


@_register(
    "q09_top3_orders_per_customer",
    """
    SELECT custkey, o_orderkey AS orderkey, o_totalprice AS totalprice, rn
    FROM (
        SELECT o_custkey AS custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
)
def q09_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k-per-group: window row_number + filter; Catalyst's
    WindowGroupLimit keeps only k rows per partition during the sort."""
    orders = _t(spark, sf_dir, "orders")
    out = top_k_per_group(
        orders,
        partition_by=["o_custkey"],
        order_by=[F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
        keep_rank=True,
    )
    return out.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_totalprice").alias("totalprice"),
        "rn",
    )


# ---------------------------------------------------------------------------
# J: join variants beyond the reference (SURVEY §2.3 'absent' list)
# ---------------------------------------------------------------------------


@_register(
    "q10_customers_without_orders",
    """
    SELECT c_custkey AS custkey, c_name AS name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q10_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (broadcast right side would be wrong here — orders is
    the big side, so Spark builds the hash on the distinct keys)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name"))


@_register(
    "q11_customers_with_urgent_orders",
    """
    SELECT c_custkey AS custkey, c_mktsegment AS segment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
)
def q11_customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join with a pushed-down predicate on the probe side."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        F.col("c_custkey").alias("custkey"), F.col("c_mktsegment").alias("segment")
    )


@_register(
    "q12_union_priority_classes",
    """
    SELECT o_orderkey AS orderkey, 'urgent' AS class FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    UNION ALL
    SELECT o_orderkey AS orderkey, 'big' AS class FROM orders
    WHERE o_totalprice > 300000
    """,
)
def q12_union_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op (SURVEY §2.7 — absent in reference, free in Spark): unionAll of
    two filtered scans; Catalyst reads the table once per branch with the
    filter pushed down."""
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.where(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select(F.col("o_orderkey").alias("orderkey"), F.lit("urgent").alias("class"))
    big = orders.where(F.col("o_totalprice") > 300000).select(
        F.col("o_orderkey").alias("orderkey"), F.lit("big").alias("class")
    )
    return urgent.unionAll(big)


# ---------------------------------------------------------------------------
# F: scalar functions (SURVEY §2.8)
# ---------------------------------------------------------------------------


@_register(
    "q13_orders_by_date_parts",
    """
    SELECT CAST(year(o_orderdate) AS INTEGER)       AS year,
           CAST(month(o_orderdate) AS INTEGER)      AS month,
           CAST(weekofyear(o_orderdate) AS INTEGER) AS week_of_year,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS day_of_week,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY 1, 2, 3, 4
    """,
)
def q13_orders_by_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2: year/month/weekofyear(ISO)/dayofweek(Sunday=1) — reference
    Scripts/etl.py:49-52. DuckDB's dayofweek is Sunday=0; oracle adds 1."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy(
        F.year("o_orderdate").alias("year"),
        F.month("o_orderdate").alias("month"),
        F.weekofyear("o_orderdate").alias("week_of_year"),
        F.dayofweek("o_orderdate").alias("day_of_week"),
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@_register(
    "q14_conditional_bucketing",
    """
    SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
                WHEN o_totalprice < 250000 THEN 'medium'
                ELSE 'large' END AS bucket,
           o_orderstatus AS status,
           count(*) AS n,
           round(avg(o_totalprice), 4) AS avg_price
    FROM orders
    GROUP BY 1, 2
    """,
)
def q14_conditional_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/P4: when/otherwise chains (Scripts/etl.py:105 pattern)."""
    orders = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 250000, "medium")
        .otherwise("large")
    )
    return orders.groupBy(
        bucket.alias("bucket"), F.col("o_orderstatus").alias("status")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# EDA analytics (SURVEY §2.4 A5-A10), full-data Spark-side
# ---------------------------------------------------------------------------


@_register(
    "q15_describe_lineitem",
    """
    SELECT 'l_quantity' AS column, count(l_quantity) AS n,
           round(avg(l_quantity), 4) AS mean, round(stddev(l_quantity), 4) AS stddev,
           round(min(l_quantity), 4) AS min,
           round(quantile_cont(l_quantity, 0.25), 4) AS q1,
           round(quantile_cont(l_quantity, 0.5), 4) AS median,
           round(quantile_cont(l_quantity, 0.75), 4) AS q3,
           round(max(l_quantity), 4) AS max
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', count(l_extendedprice),
           round(avg(l_extendedprice), 4), round(stddev(l_extendedprice), 4),
           round(min(l_extendedprice), 4),
           round(quantile_cont(l_extendedprice, 0.25), 4),
           round(quantile_cont(l_extendedprice, 0.5), 4),
           round(quantile_cont(l_extendedprice, 0.75), 4),
           round(max(l_extendedprice), 4)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', count(l_discount),
           round(avg(l_discount), 4), round(stddev(l_discount), 4),
           round(min(l_discount), 4),
           round(quantile_cont(l_discount, 0.25), 4),
           round(quantile_cont(l_discount, 0.5), 4),
           round(quantile_cont(l_discount, 0.75), 4),
           round(max(l_discount), 4)
    FROM lineitem
    """,
)
def q15_describe_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6: describe+quartiles, one aggregate job for all columns
    (replaces Scripts/eda.py:58 + pandas quantiles at :77-81)."""
    li = _t(spark, sf_dir, "lineitem")
    out = describe_plus(li, ["l_quantity", "l_extendedprice", "l_discount"])
    rounded = [
        F.round(c, 4).alias(c) for c in ["mean", "stddev", "min", "q1", "median", "q3", "max"]
    ]
    return out.select("column", "n", *rounded)


@_register(
    "q16_histogram_totalprice",
    """
    WITH b AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders)
    SELECT bin, round(min(lo + bin * width), 4) AS bin_lo, count(*) AS cnt
    FROM (
        SELECT least(CAST(floor((o_totalprice - lo) / width) AS BIGINT), 49) AS bin,
               lo, width
        FROM orders, (SELECT lo, (hi - lo) / 50 AS width FROM b)
        WHERE o_totalprice IS NOT NULL
    )
    GROUP BY bin
    """,
)
def q16_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: 50-bin fixed-width histogram as one hash aggregate
    (replaces the pandas-sample histogram, Scripts/eda.py:67)."""
    orders = _t(spark, sf_dir, "orders")
    out = histogram(orders, "o_totalprice", n_bins=50)
    return out.select("bin", F.round("bin_lo", 4).alias("bin_lo"), "cnt")


@_register(
    "q17_quartiles_by_priority",
    """
    SELECT o_orderpriority AS priority,
           round(min(o_totalprice), 4) AS min,
           round(quantile_cont(o_totalprice, 0.25), 4) AS q1,
           round(quantile_cont(o_totalprice, 0.5), 4) AS median,
           round(quantile_cont(o_totalprice, 0.75), 4) AS q3,
           round(max(o_totalprice), 4) AS max
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q17_quartiles_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: per-group five-number summary (the reference's boxplot stats,
    Scripts/eda.py:103-146, computed exactly on full data by the grouped
    rank-pick: one exchange + one within-partition sort)."""
    orders = _t(spark, sf_dir, "orders")
    out = group_quartiles(orders, "o_orderpriority", "o_totalprice")
    return out.select(
        F.col("o_orderpriority").alias("priority"),
        *[F.round(c, 4).alias(c) for c in ["min", "q1", "median", "q3", "max"]],
    )


@_register(
    "q18_correlation_matrix",
    """
    SELECT 'l_quantity__l_extendedprice' AS pair,
           round(corr(l_quantity, l_extendedprice), 6) AS pearson FROM lineitem
    UNION ALL
    SELECT 'l_discount__l_extendedprice',
           round(corr(l_discount, l_extendedprice), 6) FROM lineitem
    UNION ALL
    SELECT 'l_quantity__l_tax', round(corr(l_quantity, l_tax), 6) FROM lineitem
    """,
)
def q18_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: Pearson correlations as plain aggregate expressions — N pairs in
    ONE pass (replaces the pandas sample corr, Scripts/eda.py:88)."""
    li = _t(spark, sf_dir, "lineitem")
    pairs = [
        ("l_quantity", "l_extendedprice"),
        ("l_discount", "l_extendedprice"),
        ("l_quantity", "l_tax"),
    ]
    aggs = [F.round(F.corr(a, b), 6).alias(f"{a}__{b}") for a, b in pairs]
    wide = li.agg(*aggs)
    exprs = ", ".join(f"'{a}__{b}', `{a}__{b}`" for a, b in pairs)
    return wide.selectExpr(f"stack({len(pairs)}, {exprs}) as (pair, pearson)")


@_register(
    "q19_outlier_count",
    """
    WITH q AS (SELECT quantile_cont(o_totalprice, 0.25) AS q1,
                      quantile_cont(o_totalprice, 0.75) AS q3
               FROM orders)
    SELECT count(*) AS n_outliers
    FROM orders, q
    WHERE o_totalprice < q1 - 1.5 * (q3 - q1)
       OR o_totalprice > q3 + 1.5 * (q3 - q1)
    """,
)
def q19_outlier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/P10: IQR outlier fence computed Spark-side, then a pushed-down
    range filter (replaces the pandas mask, Scripts/eda.py:77-84)."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
        outlier_bounds,
    )

    orders = _t(spark, sf_dir, "orders")
    lo, hi = outlier_bounds(orders, "o_totalprice", k=1.5)
    return orders.where(
        (F.col("o_totalprice") < lo) | (F.col("o_totalprice") > hi)
    ).agg(F.count("*").alias("n_outliers"))


# ---------------------------------------------------------------------------
# Events: JSON + event-time windows (SURVEY §2.10; the event-time
# operators live in streaming/events.py)
# ---------------------------------------------------------------------------


@_register(
    "q20_events_hourly_window",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def q20_events_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window as a batch aggregate; the same expression
    runs under readStream with a watermark (streaming/events.py). Includes a
    distinct-aggregate (absent from the reference's surface)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@_register(
    "q21_events_json_extract",
    """
    WITH j AS (
      SELECT event_type,
             -- engine-tolerant extraction: DuckDB's json_extract/CAST
             -- THROW on hostile input, so json_valid + TRY_CAST; DOUBLE
             -- (not BIGINT) because the engines' string->integer casts
             -- disagree on '2.5' (round vs reject)
             CASE WHEN props IS NOT NULL AND json_valid(props)
                  THEN TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)
             END AS k
      FROM events
    )
    SELECT event_type,
           count(*) AS n,
           round(avg(k), 4) AS avg_k,
           max(k) AS max_k
    FROM j
    GROUP BY event_type
    """,
)
def q21_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over the events.props column (north-star surface —
    SURVEY §2.8 notes the reference has no JSON functions).

    ``try_cast`` (not ``cast``): this session runs ANSI mode, where a
    plain cast of a non-numeric extracted value THROWS mid-scan — a
    hostile-JSON crash, not a query error. Contract: k is extracted as
    DOUBLE, NULL for absent/non-numeric/unparseable props; exact
    hostile-JSON validity is parser-defined (Jackson tolerates
    single-quote keys and trailing garbage that yyjson rejects, yyjson
    tolerates trailing commas Jackson rejects), so the oracle contract
    covers inputs both parsers classify identically — the adversarial
    events battery pins exactly that set."""
    ev = _t(spark, sf_dir, "events")
    k = F.expr("try_cast(get_json_object(props, '$.k') as double)")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@_register(
    "q45_asof_click_purchase",
    """
    SELECT c.event_id AS click_id,
           c.user_id,
           c.ts AS click_ts,
           p.ts AS asof_ts,
           p.purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN
         (SELECT user_id, ts, round(value, 4) AS purchase_value
          FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def q45_asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operator Spark lacks — operators/joins.py::asof_join):
    each click is matched to the user's most recent purchase at-or-before
    the click. Single shuffle on user_id, no pair explosion; oracle is
    DuckDB's native ASOF LEFT JOIN."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.round("value", 4).alias("purchase_value"),
    )
    return asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="click_ts",
        right_ts="ts",
        right_cols=["purchase_value"],
    )


@_register(
    "q46_cube_order_stats",
    """
    SELECT o_orderpriority,
           o_orderstatus,
           CAST(grouping(o_orderpriority) AS INT) AS g_pri,
           CAST(grouping(o_orderstatus) AS INT) AS g_status,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def q46_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (all 4 grouping-set combinations in one Expand +
    hash aggregate — no multi-pass union). grouping() flags disambiguate
    natural NULLs from subtotal rows. Complements q33's ROLLUP."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.grouping("o_orderpriority").cast("int").alias("g_pri"),
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@_register(
    "q48_pivot_status_by_priority",
    """
    SELECT o_orderpriority,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS status_f,
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS status_o,
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS status_p
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q48_pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): one hash aggregate with per-bucket conditional
    sums. Pivot values are passed EXPLICITLY — omitting them makes Spark run
    an extra eager distinct job over the pivot column, and unbounded
    distinct values would explode the schema at scale. Oracle is the
    conditional-aggregation form pivot desugars to."""
    o = _t(spark, sf_dir, "orders")
    out = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )
    return out.select(
        "o_orderpriority",
        F.col("F").alias("status_f"),
        F.col("O").alias("status_o"),
        F.col("P").alias("status_p"),
    )


@_register("q49_stratified_sample")  # rows-only: sampling is seed-dependent
def q49_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling (``sampleBy``): per-stratum Bernoulli fractions,
    seeded — the scale-safe way to build class-balanced subsets without a
    shuffle (each partition filters locally)."""
    o = _t(spark, sf_dir, "orders")
    sampled = o.sampleBy(
        "o_orderstatus", {"F": 0.2, "O": 0.05, "P": 0.5}, seed=42
    )
    return sampled.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_sampled")
    )


@_register(
    "q52_merge_upsert",
    """
    WITH u AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.1 AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    merged AS (
      SELECT * FROM u
      UNION ALL
      SELECT c.* FROM orders c ANTI JOIN u ON c.o_orderkey = u.o_orderkey
    )
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM merged GROUP BY o_orderstatus
    """,
)
def q52_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot upsert (operators/maintenance.py::merge_upsert): a 10%
    update batch (repriced orders) overrides on key, the rest of the
    snapshot survives via a broadcast-able anti join, then an aggregate
    proves the merged content exactly. This is the plain-files MERGE
    pattern: build the combined frame, write a new snapshot."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.maintenance import (
        merge_upsert,
    )

    orders = _t(spark, sf_dir, "orders")
    updates = orders.where(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.1
    )
    merged = merge_upsert(orders, updates, "o_orderkey")
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@_register("q53_approx_distinct")  # sketch values are engine-specific: rows-only
def q53_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count sketch next to the exact count —
    the constant-memory scale path for cardinality (exact countDistinct
    is a full shuffle of the distinct values; the sketch is a few KB per
    group regardless of data volume). Sketch values differ across engines
    by design → rows-only driver check; the relative-error floor vs exact
    is asserted in tests/test_properties.py."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


@_register(
    "q57_grouping_sets_sql",
    """
    SELECT o_orderpriority,
           o_orderstatus,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def q57_grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS through the raw ``spark.sql`` entry path —
    the engine's SQL front door (every other query uses the DataFrame API;
    both compile to the same Catalyst plan: one Expand + hash aggregate).
    The two single-column sets plus the grand total are exactly the
    combination CUBE/ROLLUP can't express."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               o_orderstatus,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


@_register(
    "q58_array_agg",
    """
    SELECT o_custkey AS custkey,
           array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys,
           len(list(o_orderkey)) AS n_orders,
           floor(list_aggregate(list_sort(list(o_totalprice)), 'sum') * 100 + 0.5) / 100
               AS total_price
    FROM orders
    WHERE o_custkey < 30
    GROUP BY o_custkey
    """,
)
def q58_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation surface: collect_list into a SORTED array
    (collect_list order is partition-dependent — any array built by
    aggregation MUST be canonicalized before comparison or storage),
    plus array length/sum functions. Complements the JSON (q21) and
    array-math (q30/q31) nested-type coverage.

    The array is serialized with array_join at the query boundary: the
    driver's value-hash canonicalizer can't hash raw list cells, and a
    string form is also what a sink/fingerprint would want. The array sum
    folds over the SORTED array so floating-point addition order matches
    the oracle's list_sort order exactly."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.where(F.col("o_custkey") < 30)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.array_join(F.array_sort(F.collect_list("o_orderkey")), ",").alias("orderkeys"),
            F.count("*").alias("n_orders"),
            (
                F.floor(
                    F.aggregate(
                        F.array_sort(F.collect_list("o_totalprice")),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    * 100
                    + F.lit(0.5)
                )
                / 100
            ).alias("total_price"),
        )
    )


def flagship_top_customers_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver smoke-check entry point (SURVEY §7 Phase 1)."""
    return q02_top_customers_rolling(spark, sf_dir)
