"""Window/feature operators (SURVEY.md §2.5 W1-W4, §2.6 O4).

Reference semantics (``Scripts/etl.py:61-67``): per (Store, Dept) series
ordered by Date — ``lag(1)``, ``lag(4)``, and a trailing-4-ROWS mean that
EXCLUDES the current row (``rowsBetween(-4, -1)``); window NULLs (heads of
series) are zero-filled afterwards.

Scale notes: all features over the same partition keys share ONE window spec,
so Spark plans a single shuffle + sort for the whole feature block. Order
columns should include a unique tie-break (the reference orders by Date alone,
which is unique per (Store,Dept); generic callers pass e.g. a line number) —
without it lag() is nondeterministic across runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def series_window(partition_by: list[str], order_by: list[str]) -> WindowSpec:
    """W1: Window.partitionBy(keys).orderBy(time [, tie-breaks])."""
    return Window.partitionBy(*partition_by).orderBy(*order_by)


def add_lag_features(
    df: DataFrame,
    value_col: str,
    partition_by: list[str],
    order_by: list[str],
    lags: tuple[int, ...] = (1, 4),
    prefix: str | None = None,
) -> DataFrame:
    """W2/W3: lag features in one projection over one shared window."""
    w = series_window(partition_by, order_by)
    name = prefix or value_col
    cols = [F.lag(value_col, k).over(w).alias(f"{name}_lag{k}") for k in lags]
    return df.select("*", *cols)


def add_rolling_mean(
    df: DataFrame,
    value_col: str,
    partition_by: list[str],
    order_by: list[str],
    n_rows: int = 4,
    out_col: str | None = None,
) -> DataFrame:
    """W4: trailing-N-ROWS mean over the reference's ``rowsBetween(-4, -1)``
    frame (current row excluded); ROWS (not RANGE) semantics — gaps in the
    time column still count N physical rows."""
    w = series_window(partition_by, order_by).rowsBetween(-n_rows, -1)
    name = out_col or f"{value_col}_roll{n_rows}"
    return df.select("*", F.avg(value_col).over(w).alias(name))


def top_k_per_group(
    df: DataFrame,
    partition_by: list[str],
    order_by: list,
    k: int,
    rank_fn: str = "row_number",
    rank_col: str = "rn",
    keep_rank: bool = False,
) -> DataFrame:
    """Top-k rows per group via window rank + filter.

    ``order_by`` takes Column expressions (e.g. ``F.desc("revenue")``) and
    must be total (include tie-break keys) when ``rank_fn='row_number'`` is
    expected to be deterministic. Catalyst pushes the ``rank <= k`` predicate
    into the window sort (WindowGroupLimit) so each partition only keeps k
    rows — no global materialization.
    """
    fn = {"row_number": F.row_number, "rank": F.rank, "dense_rank": F.dense_rank}[
        rank_fn
    ]
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    out = df.withColumn(rank_col, fn().over(w)).where(F.col(rank_col) <= k)
    return out if keep_rank else out.drop(rank_col)


def gap_fill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int,
    fill: str = "ffill",
) -> DataFrame:
    """Time-series regularization: densify each key's (already bucketed)
    series onto a regular ``step_seconds`` spine from its own min to max
    timestamp and fill the holes — the step every per-key model input
    (forecasting features, rate limits, drift monitors) needs before a
    lag/rolling window is meaningful.

    ``fill``:
    * ``"ffill"`` — carry the last observed value forward (gauge
      semantics); leading holes stay null.
    * ``"zero"``  — missing means zero (count/sum semantics).
    * ``"linear"`` — linear interpolation between the surrounding
      observations (sensor semantics); leading/trailing holes stay null.

    Output: ``(key, ts, <value_col>, observed)`` — ``observed`` false on
    spine rows the input didn't cover (a covered row with a NULL value
    is observed: coverage and value-presence are different facts, and
    the fills treat its value as a hole). Scale shape: the spine explodes
    per key (rows = key's span / step — the caller owns step choice),
    the join is key+ts co-partitioned, and every fill is ONE window over
    the (key, ts) sort; nothing driver-side, no per-key state. Rows with
    a null key or null timestamp are dropped (a spine for "no key" is
    undefined).
    """
    if fill not in ("ffill", "zero", "linear"):
        raise ValueError(f"gap_fill: unknown fill '{fill}'")
    from pyspark.sql.types import TimestampType

    if not isinstance(df.schema[ts_col].dataType, TimestampType):
        raise ValueError(
            f"gap_fill: '{ts_col}' must be a timestamp column, got "
            f"{df.schema[ts_col].dataType.simpleString()}"
        )
    step = F.expr(f"INTERVAL {int(step_seconds)} SECONDS")
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(ts_col).alias("__t"),
        F.col(value_col).cast("double").alias("__v"),
        F.lit(True).alias("__obs"),
    ).where(F.col("__k").isNotNull() & F.col("__t").isNotNull())
    # two consumers below (spine + the alignment check)
    bounds = base.groupBy("__k").agg(
        F.min("__t").alias("__lo"), F.max("__t").alias("__hi")
    ).localCheckpoint(eager=False)
    # loud contract: every observation must sit on its key's
    # min-anchored step grid — the spine's left join would otherwise
    # silently DELETE an off-grid row (its value never even feeds the
    # fills). assert_true rides the value column so pruning can't drop
    # the check.
    step_us = int(step_seconds) * 1_000_000
    on_grid = (
        (F.unix_micros(F.col("__t")) - F.unix_micros(F.col("__lo")))
        % F.lit(step_us)
    ) == 0
    checked = base.join(bounds, "__k").select(
        "__k",
        "__t",
        F.when(
            F.assert_true(
                on_grid,
                F.concat(
                    F.lit(
                        "gap_fill: observation off the "
                        f"{int(step_seconds)}s step grid (key "
                    ),
                    F.col("__k").cast("string"),
                    F.lit(", ts "),
                    F.col("__t").cast("string"),
                    F.lit(") — bucket the series to the step first"),
                ),
            ).isNull(),
            F.col("__v"),
        ).alias("__v"),
        "__obs",
    )
    spine = bounds.select(
        "__k",
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"), step)).alias("__t"),
    )
    joined = spine.join(checked, ["__k", "__t"], "left")
    w = Window.partitionBy("__k").orderBy("__t")
    if fill == "zero":
        filled = F.coalesce(F.col("__v"), F.lit(0.0))
    elif fill == "ffill":
        filled = F.last("__v", ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
    else:  # linear
        prev_v = F.last("__v", ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
        prev_t = F.last(
            F.when(F.col("__v").isNotNull(), F.col("__t")), ignorenulls=True
        ).over(w.rowsBetween(Window.unboundedPreceding, 0))
        next_v = F.first("__v", ignorenulls=True).over(
            w.rowsBetween(0, Window.unboundedFollowing)
        )
        next_t = F.first(
            F.when(F.col("__v").isNotNull(), F.col("__t")), ignorenulls=True
        ).over(w.rowsBetween(0, Window.unboundedFollowing))
        span = F.unix_micros(next_t) - F.unix_micros(prev_t)
        frac = (
            (F.unix_micros(F.col("__t")) - F.unix_micros(prev_t))
            / F.when(span != 0, span)
        )
        filled = F.when(F.col("__v").isNotNull(), F.col("__v")).otherwise(
            prev_v + (next_v - prev_v) * frac
        )
    return joined.select(
        F.col("__k").alias(key_col),
        F.col("__t").alias(ts_col),
        filled.alias(value_col),
        F.coalesce(F.col("__obs"), F.lit(False)).alias("observed"),
    )


def funnel_steps(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    step_col: str,
    steps: list[str],
) -> DataFrame:
    """Ordered-sequence funnel per key — "reached step i" means an
    occurrence of ``steps[i]`` at-or-after the key's step-(i−1) reach
    time (inclusive ties count, the standard funnel convention), with
    step 0 anchored at the key's FIRST occurrence of ``steps[0]``.
    The per-key conversion primitive behind every activation / checkout
    / signup report.

    No self-joins and no per-key loops: one exchange on the key, then
    one STACKED unordered window per step (each step's reach time is
    ``min(ts where step matches and ts >= previous reach)`` over the
    key partition — the previous reach is itself a window result, so
    the chain stays inside the same partitioning; no sort is even
    needed, min over an unbounded frame is order-free). The per-key
    collapse reuses the windows' partitioning: at N steps the whole
    funnel is ONE exchange end to end.

    Returns one row per key with a non-null, non-null-ts event:
    ``(key, step_1_ts, ..., step_N_ts)`` (named after the step values,
    lowercased) — a null step_i_ts means the key never completed step
    i in order. Rows with null key or null ts are dropped.
    """
    if len(steps) < 2:
        raise ValueError("funnel_steps: need at least 2 steps")
    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel_steps: steps must be distinct, got {steps}")
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(ts_col).alias("__t"),
        F.col(step_col).alias("__s"),
    ).where(F.col("__k").isNotNull() & F.col("__t").isNotNull())
    wp = Window.partitionBy("__k")
    cur = base
    names: list[str] = []
    prev: str | None = None
    for i, s in enumerate(steps):
        name = f"step_{i + 1}_{s.lower()}_ts"
        cond = F.col("__s") == F.lit(s)
        if prev is not None:
            cond = cond & (F.col("__t") >= F.col(prev))
        cur = cur.withColumn(name, F.min(F.when(cond, F.col("__t"))).over(wp))
        names.append(name)
        prev = name
    return (
        cur.groupBy("__k")
        .agg(*[F.first(n).alias(n) for n in names])
        .withColumnRenamed("__k", key_col)
    )


def cohort_retention(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    period: str = "week",
) -> DataFrame:
    """Cohort retention matrix — keys bucketed by their FIRST-activity
    period, counted in every later period they return: the
    ``(cohort, period_offset) → n_active`` table behind every retention
    curve, at any key cardinality.

    Shape: one exchange on the key (a window min resolves each key's
    cohort period), the per-(key, period) dedup reuses that
    partitioning (key is a prefix of the distinct keys), and the final
    ``(cohort, offset)`` aggregate is period-cardinality-sized — two
    exchanges total, no driver state. Offsets are integer periods
    (``datediff / days-per-period`` on the truncated dates — exact,
    DST-free). Rows with null key or null ts are dropped.

    Returns ``(cohort, period_offset, n_active)``: ``n_active`` = keys
    from that cohort active ``period_offset`` periods after their first
    one (offset 0 = the cohort size itself).
    """
    days = {"week": 7, "day": 1}.get(period)
    if days is None:
        raise ValueError(
            f"cohort_retention: period must be 'week' or 'day', got {period!r}"
        )
    wp = Window.partitionBy("__k")
    per = df.select(
        F.col(key_col).alias("__k"),
        F.date_trunc(period, F.col(ts_col)).alias("__p"),
    ).where(F.col("__k").isNotNull() & F.col("__p").isNotNull())
    with_cohort = per.withColumn("__c", F.min("__p").over(wp))
    active = with_cohort.select("__k", "__p", "__c").distinct()
    return (
        active.groupBy(
            F.col("__c").alias("cohort"),
            (
                F.datediff(F.col("__p").cast("date"), F.col("__c").cast("date"))
                / days
            )
            .cast("int")
            .alias("period_offset"),
        )
        .agg(F.count("*").cast("bigint").alias("n_active"))
    )


def event_transitions(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
    max_gap_seconds: int | None = 1800,
) -> DataFrame:
    """Markov transition counts between consecutive events per key —
    the (from_type, to_type, n) matrix behind next-action prediction
    and path analysis. Consecutive = adjacent in the key's
    ``(ts, tiebreak)`` order with a gap of at most ``max_gap_seconds``
    (None = unbounded; the gap rule is what keeps a user's Monday
    logout from "transitioning into" their Friday login).

    ONE key-partitioned window (lead over the (ts, tiebreak) sort —
    the tiebreak makes same-timestamp adjacency deterministic) + a
    transition-cardinality-sized aggregate. Null types are a state
    like any other; rows with null key/ts are dropped; each key's last
    event emits nothing.

    Returns ``(from_type, to_type, n_transitions)``.
    """
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(ts_col).alias("__t"),
        F.col(type_col).alias("__s"),
        F.col(tiebreak_col).alias("__tb"),
    ).where(F.col("__k").isNotNull() & F.col("__t").isNotNull())
    # NULLS LAST on the tiebreak: Spark's default ASC puts nulls FIRST
    # where the SQL-standard engines an oracle runs default to LAST — a
    # null tiebreak on tied timestamps would silently order adjacency
    # differently across engines
    w = Window.partitionBy("__k").orderBy(
        F.col("__t"), F.col("__tb").asc_nulls_last()
    )
    nxt = base.select(
        "__s",
        "__t",
        F.lead("__s").over(w).alias("__ns"),
        F.lead("__t").over(w).alias("__nt"),
    ).where(F.col("__nt").isNotNull())
    if max_gap_seconds is not None:
        nxt = nxt.where(
            F.unix_micros(F.col("__nt")) - F.unix_micros(F.col("__t"))
            <= int(max_gap_seconds) * 1_000_000
        )
    return nxt.groupBy(
        F.col("__s").alias("from_type"), F.col("__ns").alias("to_type")
    ).agg(F.count("*").cast("bigint").alias("n_transitions"))


def detect_spikes(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int,
    trailing: int = 24,
    factor: int = 3,
    min_window: int = 12,
) -> DataFrame:
    """Spike detection on a regularized series — flag steps whose value
    exceeds ``factor ×`` the trailing-``trailing``-step mean, the
    ops/drift monitor a metrics pipeline runs after `gap_fill` (which
    this composes with ``fill='zero'``: a missing step is zero
    activity, and WITHOUT the dense spine a quiet key's sparse
    observations would compare against a mean of its loud ones only).

    The comparison is EXACT integer arithmetic: values scale to
    fixed-point (×1e6, decimal round-to-nearest), and
    ``v > factor × mean`` evaluates as ``v_fp · n > factor · Σv_fp`` —
    no division and no float reassociation in the RULE, so given a
    deterministic value column the flag is bit-stable across engines
    and partitionings. (Input determinism is the caller's job: a
    pre-aggregated measure should itself accumulate fixed-point — the
    q177 registration does — or an order-dependent double sum upstream
    can flip a value's 6th decimal and with it a flag.) The trailing frame
    EXCLUDES the current row; steps with fewer than ``min_window``
    predecessors never flag (cold start); non-positive values never
    flag.

    One (key, ts) window over the spine (gap_fill's own sort order —
    Catalyst collapses the fill window and this frame into one
    exchange), then a key-sized rollup. Returns
    ``(key, n_steps, n_spikes, first_spike)`` per key (``first_spike``
    null when none).
    """
    filled = gap_fill(df, key_col, ts_col, value_col, step_seconds, fill="zero")
    v_fp = (F.col(value_col) * F.lit(1e6)).cast("decimal(38,0)")
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col)
        .rowsBetween(-int(trailing), -1)
    )
    scored = filled.select(
        key_col,
        ts_col,
        v_fp.alias("__v"),
        F.sum(v_fp).over(w).alias("__s"),
        F.count(v_fp).over(w).alias("__n"),
    )
    spike = (
        (F.col("__n") >= int(min_window))
        & (F.col("__v") > 0)
        & (F.col("__v") * F.col("__n") > F.lit(int(factor)) * F.col("__s"))
    )
    return scored.groupBy(key_col).agg(
        F.count("*").cast("bigint").alias("n_steps"),
        F.sum(spike.cast("int")).cast("bigint").alias("n_spikes"),
        F.min(F.when(spike, F.col(ts_col))).alias("first_spike"),
    )


def event_path_ngrams(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
    n: int = 3,
    max_gap_seconds: int | None = 1800,
) -> DataFrame:
    """``event_transitions`` generalized to length-``n`` paths: counts
    of each consecutive n-step type sequence per key, every adjacent
    hop bound by ``max_gap_seconds`` — the top-paths table behind
    navigation/funnel-discovery analysis (the n=2 case is exactly the
    transition matrix).

    Still ONE key-partitioned window (n−1 ``lead``s over the same
    deterministic (ts, tiebreak NULLS LAST) sort — Catalyst computes
    them in a single Window node) + a path-cardinality-sized aggregate
    (≤ |types|^n rows). Null types are states; sequences crossing a
    gap break are not counted; keys shorter than ``n`` events emit
    nothing; null key/ts rows are dropped.

    Returns ``(step_1, ..., step_n, n_paths)``.
    """
    if n < 2:
        raise ValueError(f"event_path_ngrams: n must be >= 2, got {n}")
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(ts_col).alias("__t"),
        F.col(type_col).alias("__s"),
        F.col(tiebreak_col).alias("__tb"),
    ).where(F.col("__k").isNotNull() & F.col("__t").isNotNull())
    w = Window.partitionBy("__k").orderBy(
        F.col("__t"), F.col("__tb").asc_nulls_last()
    )
    cols = [F.col("__s").alias("step_1"), F.col("__t").alias("__t0")]
    for i in range(1, n):
        cols.append(F.lead("__s", i).over(w).alias(f"step_{i + 1}"))
        cols.append(F.lead("__t", i).over(w).alias(f"__t{i}"))
    steps = base.select(*cols)
    keep = F.col(f"__t{n - 1}").isNotNull()
    if max_gap_seconds is not None:
        gap_us = int(max_gap_seconds) * 1_000_000
        for i in range(1, n):
            keep = keep & (
                F.unix_micros(F.col(f"__t{i}"))
                - F.unix_micros(F.col(f"__t{i - 1}"))
                <= gap_us
            )
    return (
        steps.where(keep)
        .groupBy(*[f"step_{i + 1}" for i in range(n)])
        .agg(F.count("*").cast("bigint").alias("n_paths"))
    )
