"""EDA/analytics operators, full-data Spark-side (SURVEY.md §2.4 A5-A10).

The reference computes these on a 10% driver-local pandas sample
(``Scripts/eda.py:61-63`` and everything after) — approximate answers and an
unbounded ``toPandas``. Every operator here aggregates on the cluster and
returns a tiny DataFrame; only that aggregate ever reaches the driver.
"""

from __future__ import annotations

import math
from itertools import combinations
from operator import itemgetter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


# The global exact-quantile engine's sizes: module constants, not options
# (tests monkeypatch them to force the multi-round paths on tiny frames).
_SUB_BUCKETS = 16  # mantissa slices per binary exponent (``_log_bucket``)
_BINS = 1024  # uniform bins a split cell is cut into
_COLLECT_LIMIT = 65536  # a rank cell this small is collected as (value, count)
_MAX_ROUNDS = 6  # split rounds before a cell is collected whatever its size


def _merge_spans(cells) -> list[tuple]:
    """Order ``(n, mn, mx)`` cells by their EXACT value spans and merge
    overlapping ones: after the merge no two spans
    overlap, so cumulative counts give ranks and ``v between mn and mx``
    selects exactly one merged cell's rows. Cell-code order is never
    trusted (``_log_bucket`` codes slip near powers of two)."""
    merged: list[tuple] = []
    for cell in sorted(cells, key=itemgetter(1, 2)):
        if merged and cell[1] <= merged[-1][2]:
            n, mn, mx = merged[-1]
            merged[-1] = (n + cell[0], mn, max(mx, cell[2]))
        else:
            merged.append(cell)
    return merged


def _walk_ranks(spans, ranks, below: int, what: str) -> list[tuple]:
    """Place 0-based global ``ranks`` in consecutive ``(n, mn, mx)``
    spans whose first row has rank ``below``. Returns ``(span, cum,
    taken)`` for every span that takes a rank, ``cum`` the global rank
    of the span's first row. A rank no span holds means the counts
    disagree with the ranks' source: raised, never guessed."""
    kranks = sorted(ranks)
    ki, cum = 0, below
    placed = []
    for span in spans:
        if ki == len(kranks):
            break
        taken = []
        while ki < len(kranks) and cum <= kranks[ki] < cum + span[0]:
            taken.append(kranks[ki])
            ki += 1
        if taken:
            placed.append((span, cum, taken))
        cum += span[0]
    if ki != len(kranks):
        raise RuntimeError(
            f"{what}: lost ranks {kranks[ki:]} (n={cum - below})"
        )
    return placed


def _log_bucket(v, sub_buckets: int):
    """Data-independent, deterministic magnitude bucketing of a double:
    (sign, binary exponent, ``sub_buckets`` mantissa slices) → one integer
    code. Pure codegen arithmetic (abs/log2/pow/floor), no data-dependent
    bounds, so a histogram over it needs NO prior min/max pass.

    Near powers of two a faithfully-rounded ``log2`` can land the exponent
    one off; the clamps below keep the code well-defined there, and no
    reader assumes code order matches value order — cells are re-ordered
    and merged by their EXACT per-cell (min, max) spans
    (``_merge_spans``), so a boundary slip costs at most a merged cell,
    never a wrong answer. ±inf saturates the mantissa clamp; 0 is its own
    bucket; NaN/null in → null out (callers exclude them from counts).
    """
    av = F.abs(v)
    e = F.floor(F.least(F.greatest(F.log2(av), F.lit(-1100.0)), F.lit(1099.0)))
    m = av / F.pow(F.lit(2.0), e)
    sub = F.floor(
        F.least(
            F.greatest((m - F.lit(1.0)) * sub_buckets, F.lit(0.0)),
            F.lit(float(sub_buckets - 1)),
        )
    )
    code = e * sub_buckets + sub + F.lit(1101 * sub_buckets)
    return F.when(v == 0, F.lit(0)).otherwise(
        (F.signum(v) * code).cast("long")
    )


def exact_quantiles(df: DataFrame, col: str, probs: list[float]) -> list[float]:
    """Exact linear-interpolated quantiles (``quantile_cont`` semantics) via
    distributed histogram refinement — NOT the builtin ``percentile``
    aggregate.

    Spark's ``percentile`` is a TypedImperativeAggregate that buffers an
    OpenHashMap of every distinct value per partial buffer; on a
    600k-distinct double column this is a multi-second GC bomb whose heap
    pressure degrades the whole session afterwards (measured: 10-60s for the
    agg, then 10-30x slowdowns on unrelated follow-up queries). It is also
    the wrong shape at 100 TB — all values funnel into one final buffer.

    See ``exact_quantiles_multi`` for the algorithm.
    """
    return exact_quantiles_multi(df, [col], probs)[col]


def exact_quantiles_multi(
    df: DataFrame,
    columns: list[str],
    probs: list[float],
    return_stats: bool = False,
):
    """Exact quantiles for SEVERAL columns, never shuffling or caching the
    data rows — typically TWO aggregate rounds regardless of column count.

    The columns are melted with ``stack`` (a projection, not a shuffle)
    and every round is one hash aggregate whose cells carry an exact
    span ``(n, mn, mx)``:

    1. Round 0 is the log-bucket cell table (``quantile_cells_by`` over
       ``(column, _log_bucket(v))``); its count / sum / sum² / min / max
       fold into exact per-column moments on the driver (a
       ``percentile_approx`` rider was measured and REJECTED: the
       ObjectHashAggregate it forces evicts the moments from codegen and
       costs more than the job it saves).
    2. Every round the driver merges each column's (or bracket's) cells
       by exact span (``_merge_spans``) and places the target ranks
       ``floor/ceil((n-1)·p)`` (``_walk_ranks``). A rank cell with
       mn == mx (a duplicate spike) resolves at once; one with ≤
       ``_COLLECT_LIMIT`` rows (the common case — log-bucketing keeps
       cells ~n/(active buckets)) is collected as ``(value, count)``
       cells in the next round, which resolve the same way; a larger one
       is cut into ``_BINS`` uniform bins in the next round, each again
       with its exact span. Rows of a rank cell are selected by the flat
       predicate ``name == column AND v between mn and mx``.

    A spike therefore resolves in the round whose cell first isolates it,
    and each split divides the population by up to ``_BINS``.
    Termination guards: after ``_MAX_ROUNDS`` splits, or for a
    span that is infinite or underflows when divided into bins (values
    straddling ±~1e308, subnormal gaps), the cell is collected whatever
    its size. Membership is re-derived from deterministic value
    predicates in every pass, so no persist() is needed for cross-job
    consistency. NaNs are excluded (count, mean, quantiles) — matching
    SQL ``quantile_cont`` semantics.

    With ``return_stats=True`` also returns per-column
    ``(n, mean, stddev, min, max)`` assembled from round 0's moments —
    ``describe``-style stats then cost zero extra scans. Returns
    ``quantiles`` or ``(quantiles, stats)``.

    Grouped quantiles run on the window rank-pick instead
    (``_group_rank_pick``); on single global columns neither engine wins
    everywhere (README design rule 4), so this one stays.
    """
    stack_expr = ", ".join(f"'{c}', cast(`{c}` as double)" for c in columns)
    melted = df.selectExpr(
        f"stack({len(columns)}, {stack_expr}) as (name, raw)"
    ).select("name", F.when(~F.isnan("raw"), F.col("raw")).alias("v"))

    # toArrow, not collect(): these results can run to tens of thousands
    # of rows and Row materialization runs ~30k rows/s; columns convert
    # with to_numpy().tolist(), ~25x faster than to_pylist() at 40k rows
    t = quantile_cells_by(melted, "name", "v").toArrow()
    cells: dict = {}
    moments: dict = {}
    for k, n, s, s2, mn, mx in zip(
        *(t.column(c).to_numpy().tolist() for c in ("name", "n", "s", "s2", "mn", "mx"))
    ):
        zn, zs, zs2, zmn, zmx = moments.get(k, (0, 0.0, 0.0, mn, mx))
        moments[k] = (zn + n, zs + s, zs2 + s2, min(zmn, mn), max(zmx, mx))
        cells.setdefault(k, []).append((n, mn, mx))
    totals = {c: moments.get(c, (0,))[0] for c in columns}

    # pending: (column, rank of the first row, ranks to place, cells)
    pending = []
    for c in columns:
        n = totals[c]
        if n:
            targets = [(n - 1) * p for p in probs]
            ranks = {math.floor(r) for r in targets} | {math.ceil(r) for r in targets}
            pending.append((c, 0, ranks, cells[c]))
    resolved: dict[str, dict[int, float]] = {c: {} for c in columns}
    rounds = 0
    while pending:
        split, collect = [], []
        for key, below, ranks, kcells in pending:
            for (n, mn, mx), cum, taken in _walk_ranks(
                _merge_spans(kcells), ranks, below, f"exact_quantiles {key}"
            ):
                span = mx - mn
                if mn == mx:
                    resolved[key].update(dict.fromkeys(taken, mn))
                elif (
                    n <= _COLLECT_LIMIT
                    or rounds >= _MAX_ROUNDS
                    or not (math.isfinite(span) and span / _BINS > 0)
                ):
                    collect.append((key, cum, taken, mn, mx))
                else:
                    split.append((key, cum, taken, mn, mx))
        brackets = split + collect
        if not brackets:
            break
        # membership predicates are plain comparisons — a broadcast-join
        # lookup-table form (plan-stable, codegen-cached) was built and
        # measured too: the broadcast build job cost more than the ~0.4 s
        # of literal-when-chain recompilation it saved
        bid = None
        for i, (key, _, _, mn, mx) in enumerate(brackets):
            cond = (F.col("name") == F.lit(key)) & F.col("v").between(
                F.lit(float(mn)), F.lit(float(mx))
            )
            bid = F.when(cond, i) if bid is None else bid.when(cond, i)
        # a split bracket's rows group by uniform bin, a collected one's by
        # value; the bins read the bracket id, so the membership chain is
        # evaluated once per row
        cell = None
        for i, (_, _, _, mn, mx) in enumerate(split):
            cut = F.floor(
                (F.col("v") - F.lit(float(mn))) / F.lit(float(mx - mn)) * _BINS
            )
            hit = F.col("bid") == i
            cell = F.when(hit, cut) if cell is None else cell.when(hit, cut)
        cell = F.col("v") if cell is None else cell.otherwise(F.col("v"))
        t = (
            melted.select(bid.alias("bid"), "v")
            .where(F.col("bid").isNotNull())
            .groupBy("bid", cell.alias("cell"))
            .agg(
                F.count("v").alias("n"),
                F.min("v").alias("mn"),
                F.max("v").alias("mx"),
            )
            .toArrow()
        )
        by_bid: dict[int, list] = {}
        for i, n, mn, mx in zip(
            *(t.column(c).to_numpy().tolist() for c in ("bid", "n", "mn", "mx"))
        ):
            by_bid.setdefault(i, []).append((n, mn, mx))
        pending = [
            (key, cum, taken, by_bid.get(i, []))
            for i, (key, cum, taken, _, _) in enumerate(brackets)
        ]
        rounds += 1

    def assemble_stats() -> dict[str, tuple]:
        stats: dict[str, tuple] = {}
        for c in columns:
            n = totals[c]
            if n == 0:
                stats[c] = (0, None, None, None, None)
                continue
            _, s, s2, mn, mx = moments[c]
            mean = s / n
            # sample stddev from raw moments; the tiny catastrophic-
            # cancellation risk is irrelevant at the 4dp describe rounds
            var = max((s2 - s * s / n) / (n - 1), 0.0) if n > 1 else None
            stats[c] = (n, mean, math.sqrt(var) if var is not None else None, mn, mx)
        return stats

    out: dict[str, list[float]] = {c: [None] * len(probs) for c in columns}
    for c in columns:
        n = totals[c]
        if n == 0:
            continue
        res = []
        for p in probs:
            r = (n - 1) * p
            lo, hi = math.floor(r), math.ceil(r)
            g = r - lo
            vlo, vhi = resolved[c][lo], resolved[c][hi]
            res.append(vlo + (vhi - vlo) * g)
        out[c] = res
    return (out, assemble_stats()) if return_stats else out


def _local_frame(spark, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-held result rows as a local relation: an inline ``VALUES``
    table whose cells are bound parameters, cast to ``schema``. Reading
    it starts no Spark job, where ``createDataFrame(rows)`` is an RDD
    scan that runs jobs on every read (and a pandas frame would turn NaN
    into null). Parameters keep every double bit-identical, NaN as NaN
    and None as null."""
    target = StructType.fromDDL(schema)
    args: dict = {}
    values = []
    for i, row in enumerate(rows):
        names = [f"v{i}_{j}" for j in range(len(row))]
        args.update(zip(names, row))
        values.append("(" + ", ".join(f":{n}" for n in names) + ")")
    cols = ", ".join(f"`{f.name}`" for f in target.fields)
    return spark.sql(
        f"SELECT * FROM VALUES {', '.join(values)} AS t({cols})", args=args
    ).to(target)


def describe_plus(df: DataFrame, columns: list[str]) -> DataFrame:
    """A5/A6: count / mean / stddev / min / max / exact quartiles per column,
    from ONE ``exact_quantiles_multi`` call over all columns (vs
    ``df.describe()`` + a separate pandas quantile pass in the reference,
    ``Scripts/eda.py:58,77-81``).

    Output: one row per column — (column, n, mean, stddev, min, q1, median,
    q3, max). The quartiles are exact ``quantile_cont`` values (never the
    builtin ``percentile`` aggregate, see ``exact_quantiles``); the
    moments ride along in the engine's first aggregate, so there is no
    separate wide-stats job and no second table scan.
    """
    quartiles, stats = exact_quantiles_multi(
        df, columns, [0.25, 0.5, 0.75], return_stats=True
    )
    rows = []
    for c in columns:
        q1, median, q3 = quartiles[c]
        n, mean, stddev, mn, mx = stats[c]
        rows.append((c, n, mean, stddev, mn, q1, median, q3, mx))
    schema = (
        "column string, n bigint, mean double, stddev double, min double, "
        "q1 double, median double, q3 double, max double"
    )
    return _local_frame(df.sparkSession, rows, schema)


def correlations(df: DataFrame, columns: list[str], target: str | None = None) -> DataFrame:
    """A7: Pearson correlations, one aggregate job for all pairs.

    If ``target`` is given, correlates every column against it (the
    reference's ``corr()["Weekly_Sales"]`` at ``Scripts/eda.py:88``);
    otherwise the full upper-triangle matrix. Uses ``corr`` as a plain
    aggregate expression so N pairs still cost ONE pass.
    """
    if target is not None:
        pairs = [(c, target) for c in columns if c != target]
    else:
        pairs = list(combinations(columns, 2))
    # covar/(sd*sd) with try_divide instead of corr(): under ANSI mode
    # (Spark 4 default) corr() THROWS on a zero-variance column; a constant
    # feature should yield NULL (pandas/DuckDB behavior), not kill the job.
    aggs = [
        F.expr(
            f"try_divide(covar_samp(`{a}`, `{b}`), "
            f"stddev_samp(`{a}`) * stddev_samp(`{b}`))"
        )
        .cast("double")
        .alias(f"{a}__{b}")
        for a, b in pairs
    ]
    wide = df.agg(*aggs).collect()[0]
    rows = [(a, b, wide[f"{a}__{b}"]) for a, b in pairs]
    return _local_frame(df.sparkSession, rows, "col_a string, col_b string, pearson double")


def histogram(df: DataFrame, col: str, n_bins: int = 50) -> DataFrame:
    """A10: fixed-width histogram as a groupBy on the bin index — a single
    partial+final hash aggregate (the reference histograms a pandas sample,
    ``Scripts/eda.py:67``). Bounds are the column min/max, a one-row
    aggregate broadcast-joined into the plan, so building the frame runs no
    job. Values == max land in the last bin; a constant column gets width
    1.0, and an all-null column gives no rows."""
    lo = F.min(col).cast("double")
    width = (F.max(col).cast("double") - lo) / n_bins
    bounds = df.agg(
        lo.alias("__lo"),
        F.when(width == 0, 1.0).otherwise(width).alias("__width"),
    )
    bin_idx = F.least(
        F.floor((F.col(col).cast("double") - F.col("__lo")) / F.col("__width")),
        F.lit(n_bins - 1),
    ).cast("bigint")
    return (
        df.where(F.col(col).isNotNull())
        .crossJoin(F.broadcast(bounds))
        .groupBy(bin_idx.alias("bin"), "__lo", "__width")
        .agg(F.count("*").alias("cnt"))
        .select(
            "bin",
            (F.col("__lo") + F.col("bin") * F.col("__width")).alias("bin_lo"),
            "cnt",
        )
        .orderBy("bin")
    )


def _rank_targets(p: float, n):
    """``quantile_cont``'s two 1-based rank targets for prob ``p`` over a
    group's ``n`` sorted values, and the interpolation weight between
    them: ``(floor(r) + 1, ceil(r) + 1, r - floor(r))`` at
    ``r = p·(n − 1)``."""
    r = F.lit(float(p)) * (n - 1)
    return (F.floor(r) + 1).cast("long"), (F.ceil(r) + 1).cast("long"), r - F.floor(r)


def _interpolate(lo, hi, frac):
    # interpolation form, NOT avg: (lo+hi)/2 overflows to inf on two
    # near-max doubles and can differ from quantile_cont's
    # lo + (hi-lo)*frac in the last ulp
    return lo + (hi - lo) * frac


def _group_rank_pick(
    df: DataFrame, group_col: str, value_col: str, probs: list[float]
) -> DataFrame:
    """THE grouped exact-quantile engine (``quantile_cont`` semantics), as
    one lazy plan: ONE exchange on the group key and ONE within-partition
    sort by value give every row its rank; per group only the rows at the
    target ranks — rank 1 (min), rank n (max) and each prob's floor/ceil
    ranks — survive a filter, and ONE conditional aggregate over them
    picks the values (``min(when(rn == target, v))``), reusing the window's
    partitioning; interpolation is a projection. Nothing is buffered per
    group and nothing reaches the driver, at any group cardinality.

    NaN folds into null; nulls sort last and ``n`` counts only the
    non-null values, so a group whose values are all null/NaN keeps its
    rank-1 row and comes out as ``n = 0`` with every statistic null.
    Null group keys are a group like any other.

    Returns ``(__g, n, min, max, __q0, __q1, ...)``, ``__q<i>`` the
    quantile at ``probs[i]``.
    """
    v = F.col(value_col).cast("double")
    base = df.select(
        F.col(group_col).alias("__g"), F.when(~F.isnan(v), v).alias("__v")
    )
    w = Window.partitionBy("__g").orderBy(F.col("__v").asc_nulls_last())
    ranked = base.select(
        "__g",
        "__v",
        F.row_number().over(w).alias("__rn"),
        F.count("__v").over(Window.partitionBy("__g")).alias("__n"),
    )
    n = F.col("__n")
    targets = [_rank_targets(p, n)[:2] for p in probs]

    def at(rank):
        return F.min(F.when(F.col("__rn") == rank, F.col("__v")))

    aggs = [F.max(n).alias("n"), at(F.lit(1)).alias("min"), at(n).alias("max")]
    for i, (lo, hi) in enumerate(targets):
        aggs += [at(lo).alias(f"__lo{i}"), at(hi).alias(f"__hi{i}")]
    keep = F.col("__rn").isin(F.lit(1), n, *[r for t in targets for r in t])
    picked = ranked.where(keep).groupBy("__g").agg(*aggs)
    quantiles = [
        _interpolate(
            F.col(f"__lo{i}"), F.col(f"__hi{i}"), _rank_targets(p, F.col("n"))[2]
        ).alias(f"__q{i}")
        for i, p in enumerate(probs)
    ]
    return picked.select("__g", "n", "min", "max", *quantiles)


def group_quartiles(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """A9: per-group five-number summary (the stats behind the reference's
    seaborn boxplots, ``Scripts/eda.py:103-146``), exact interpolated
    quartiles off the grouped rank-pick (``_group_rank_pick``): one lazy
    plan, one exchange + one sort, no driver state.

    The earliest form used the builtin ``percentile`` aggregate — per-GROUP
    buffers of every distinct value, i.e. a GC bomb whenever one group is
    large (and at 100 TB some group always is). A group whose values are
    all null/NaN still emits its all-null row.

    Output: ``(group, min, q1, median, q3, max)``.
    """
    q = _group_rank_pick(df, group_col, value_col, [0.25, 0.5, 0.75])
    return q.select(
        F.col("__g").alias(group_col),
        "min",
        F.col("__q0").alias("q1"),
        F.col("__q1").alias("median"),
        F.col("__q2").alias("q3"),
        "max",
    )


def quantile_cells_by(
    df: DataFrame,
    group_cols: list[str] | str,
    value_col: str,
) -> DataFrame:
    """The log-bucket cell table, keyed: one codegen hash aggregate over
    ``(groups..., _log_bucket(v))`` → ``(groups..., b, n, s, s2, mn, mx)``
    rows, groups × ≤~2k cells for doubles spanning a typical range.
    ``exact_quantiles_multi``'s first round, keyed by column name: the
    exact ``(n, mn, mx)`` spans place the ranks and ``s``/``s2`` fold into
    the moments. NaN/null values are excluded; null group keys are a
    group like any other."""
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    _check_cell_group_names(groups, "quantile_cells_by")
    v = F.col(value_col).cast("double")
    v = F.when(~F.isnan(v), v)
    return (
        df.select(*groups, v.alias("__v"))
        .where(F.col("__v").isNotNull())
        .groupBy(*groups, _log_bucket(F.col("__v"), _SUB_BUCKETS).alias("b"))
        .agg(
            F.count("__v").alias("n"),
            F.sum("__v").alias("s"),
            F.sum(F.col("__v") * F.col("__v")).alias("s2"),
            F.min("__v").alias("mn"),
            F.max("__v").alias("mx"),
        )
    )


def _check_cell_group_names(groups: list[str], op: str) -> None:
    """The keyed cell tables' OUTPUT schema owns the cell column names —
    a group column sharing one is inherently ambiguous (the global
    operators had no group columns, so the names were safe there)."""
    reserved = {"b", "n", "s", "s2", "mn", "mx"} & set(groups)
    if reserved:
        raise ValueError(
            f"{op}: group column(s) {sorted(reserved)} collide with the "
            "cell-table schema (b, n, s, s2, mn, mx) — rename them before "
            "keying the sketch"
        )


def group_quantiles_highcard(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probs: list[float],
) -> DataFrame:
    """Exact linear-interpolated per-group quantiles (``quantile_cont``
    semantics) named by percent — a projection of ``_group_rank_pick``:
    one exchange + one shared sort, any group cardinality (per-user /
    per-URL at 100 TB). ``probs=[0.5]`` is the grouped median.

    Output: ``(group, n, p<percent>...)`` — e.g. ``probs=[0.25, 0.5]``
    → columns ``p25, p50``; ``n`` counts the non-null (non-NaN) values.
    Dyadic probs (quarters, eighths) are recommended for cross-engine
    oracle exactness of the rank arithmetic; groups with no non-null
    (non-NaN) values are absent.
    """
    if not probs:
        raise ValueError("group_quantiles_highcard: probs must be non-empty")
    names = [f"p{round(p * 100)}" for p in probs]
    if len(set(names)) != len(names):
        raise ValueError(
            f"group_quantiles_highcard: probs {probs} collide after "
            f"percent naming ({names}); use more-separated probs"
        )
    q = _group_rank_pick(df, group_col, value_col, probs)
    return q.where(F.col("n") > 0).select(
        F.col("__g").alias(group_col),
        "n",
        *[F.col(f"__q{i}").alias(name) for i, name in enumerate(names)],
    )


def group_mad_outlier_bounds_highcard(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """PER-GROUP robust (median ± k·1.4826·MAD) outlier fences —
    ``mad_outlier_bounds`` keyed, the per-domain cleaning rule a mixed
    corpus actually needs (one global fence lets a long-document domain
    define "outlier" for a short-document one), at any group
    cardinality.

    No joins and no driver state: STACKED windows over one group-keyed
    exchange. Window 1 (ordered by value) ranks rows; window 2 (same
    partitioning, unordered frame) resolves the two middle-rank values
    into a per-row group median — so the deviation ``|x − med_g|`` is a
    projection, not a broadcast join; window 3 (ordered by deviation)
    ranks deviations; the final group-keyed aggregate picks the MAD's
    middle ranks and reuses the windows' partitioning. Physical shape:
    ONE Exchange + TWO within-partition sorts (value, deviation),
    plan-audited. Median and MAD use ``_group_rank_pick``'s rank targets
    and interpolation at p = 0.5.

    Returns ``(group, n, lo, hi, median, mad)`` — exact doubles;
    groups with no non-null (non-NaN) values are absent; null groups
    are a group like any other.
    """
    v = F.col(value_col).cast("double")
    v = F.when(~F.isnan(v), v)
    base = df.select(F.col(group_col).alias("__g"), v.alias("__v")).where(
        F.col("__v").isNotNull()
    )
    w1 = Window.partitionBy("__g").orderBy("__v")
    wp = Window.partitionBy("__g")
    lo_rn, hi_rn, frac = _rank_targets(0.5, F.col("__n"))
    ranked = base.select(
        "__g",
        "__v",
        F.row_number().over(w1).alias("__rn"),
        F.count("*").over(wp).alias("__n"),
    )
    with_med = ranked.select(
        "__g",
        "__v",
        "__n",
        F.min(F.when(F.col("__rn") == lo_rn, F.col("__v"))).over(wp).alias("__vlo"),
        F.min(F.when(F.col("__rn") == hi_rn, F.col("__v"))).over(wp).alias("__vhi"),
    ).select(
        "__g",
        "__n",
        _interpolate(F.col("__vlo"), F.col("__vhi"), frac).alias("__med"),
        "__v",
    )
    w2 = Window.partitionBy("__g").orderBy("__dev")
    devs = with_med.withColumn(
        "__dev", F.abs(F.col("__v") - F.col("__med"))
    ).select(
        "__g",
        "__n",
        "__med",
        "__dev",
        F.row_number().over(w2).alias("__rn2"),
    )
    scale = float(k) * 1.4826
    mad = _interpolate(
        F.col("__dlo"), F.col("__dhi"), _rank_targets(0.5, F.col("n"))[2]
    )
    return (
        devs.groupBy("__g")
        .agg(
            F.first("__n").alias("n"),
            F.first("__med").alias("median"),
            F.min(F.when(F.col("__rn2") == lo_rn, F.col("__dev"))).alias("__dlo"),
            F.min(F.when(F.col("__rn2") == hi_rn, F.col("__dev"))).alias("__dhi"),
        )
        .select(
            F.col("__g").alias(group_col),
            "n",
            (F.col("median") - F.lit(scale) * mad).alias("lo"),
            (F.col("median") + F.lit(scale) * mad).alias("hi"),
            "median",
            mad.alias("mad"),
        )
    )


def _require_values(col: str, op: str, qs: list) -> None:
    """Contract guard shared by the quantile-engine consumers: the engine
    returns ``None`` quantiles for an empty/all-null column, and every
    downstream formula would otherwise die on ``float(None)`` — raise the
    eager, named error instead."""
    if any(q is None for q in qs):
        raise ValueError(
            f"{op}: column '{col}' has no non-null (non-NaN) values — "
            "a quantile-based fence/binning is undefined on empty input"
        )


def outlier_bounds(df: DataFrame, col: str, k: float = 1.5) -> tuple[float, float]:
    """A6/P10: IQR outlier fence (reference computes it on the pandas sample,
    ``Scripts/eda.py:77-84``). Returns (lo, hi); filter Spark-side with
    ``df.where((c < lo) | (c > hi))``."""
    return iqr_fence(col, exact_quantiles(df, col, [0.25, 0.75]), k)


def iqr_fence(col: str, quartiles: list, k: float = 1.5) -> tuple[float, float]:
    """``outlier_bounds``' fence from already-computed ``(q1, q3)`` — e.g.
    a ``describe_plus`` row — so a caller holding the quartiles pays no
    second quantile pass."""
    _require_values(col, "outlier_bounds", quartiles)
    q1, q3 = quartiles
    iqr = q3 - q1
    return q1 - k * iqr, q3 + k * iqr


def mad_outlier_bounds(
    df: DataFrame, col: str, k: float = 3.0
) -> tuple[float, float, float, float]:
    """Robust (median ± k·1.4826·MAD) outlier fence — the IQR fence's
    (``outlier_bounds``) heavier-tailed sibling: MAD = median(|x −
    median|) resists up to 50% contamination where quartiles break at
    25%. 1.4826 rescales MAD to σ under normality, so ``k`` reads in
    sigma units.

    Two calls into the shared exact-quantile engine (4 driver rounds
    total, no value ever buffered): the median, then the median of the
    derived absolute deviations — the deviation column is a projection,
    so the second call scans once more but still never shuffles data
    rows. Returns ``(lo, hi, median, mad)``.
    """
    med = exact_quantiles(df, col, [0.5])[0]
    _require_values(col, "mad_outlier_bounds", [med])
    dev = df.select(
        F.abs(F.col(col).cast("double") - F.lit(float(med))).alias("__dev")
    )
    mad = exact_quantiles(dev, "__dev", [0.5])[0]
    half = k * 1.4826 * mad
    return med - half, med + half, med, mad


def quantile_bins(
    df: DataFrame, col: str, n_bins: int = 4, out_col: str = "bin"
) -> tuple[DataFrame, list[float]]:
    """Quantile discretization WITHOUT a global sort: exact interior
    quantile boundaries from the shared engine, then bin assignment is a
    pure comparison projection (``bin = 1 + Σ_i [v > bound_i]``,
    codegen, pushdown-friendly) — the scale-correct replacement for
    ``ntile``, whose single global sort is the one shape that cannot
    parallelize. Semantics are VALUE-based: ties share a bin (ntile
    splits equal values by row position — nondeterministic under
    parallel scan, so ntile on data columns is banned here anyway).

    Returns ``(df_with_bin, boundaries)`` where ``out_col`` (default
    ``bin``, 1-based) is APPENDED — a pre-existing column of that name is
    a caller error (silently overwriting a feature column corrupts it),
    so it raises."""
    if out_col in df.columns:
        raise ValueError(
            f"quantile_bins: output column '{out_col}' already exists in "
            f"the frame ({df.columns}); pass a different out_col"
        )
    probs = [i / n_bins for i in range(1, n_bins)]
    bounds = exact_quantiles(df, col, probs)
    _require_values(col, "quantile_bins", bounds)
    v = F.col(col).cast("double")
    v = F.when(~F.isnan(v), v)
    bin_expr = F.lit(1)
    for bnd in bounds:
        bin_expr = bin_expr + F.when(v > F.lit(float(bnd)), 1).otherwise(0)
    return (
        df.withColumn(out_col, F.when(v.isNotNull(), bin_expr)),
        bounds,
    )


def group_quantile_bins(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_bins: int = 4,
    out_col: str = "bin",
) -> DataFrame:
    """PER-GROUP quantile discretization (``quantile_bins`` within each
    group): exact per-group interior boundaries from ``_group_rank_pick``
    as one array column, broadcast-joined on the group (null-safe) and
    compared (``bin = 1 + size(filter(bounds, b -> v > b))``) — no
    ntile, no driver state, one lazy plan. The per-domain
    length-stratification recipe a curriculum mix runs at 100 TB.

    Rows with null/NaN values — and so every row of a group with no
    non-null values — get a null ``out_col`` (default ``bin``; a
    pre-existing column of that name raises, matching
    ``quantile_bins``). Value ties share a bin (deterministic under
    parallel scan; see ``quantile_bins`` on why ntile is banned here).
    """
    if out_col in df.columns:
        raise ValueError(
            f"group_quantile_bins: output column '{out_col}' already "
            f"exists in the frame ({df.columns}); pass a different out_col"
        )
    probs = [i / n_bins for i in range(1, n_bins)]
    btab = _group_rank_pick(df, group_col, value_col, probs).select(
        "__g", F.array(*[f"__q{i}" for i in range(len(probs))]).alias("__bounds")
    )
    joined = df.join(
        F.broadcast(btab), df[group_col].eqNullSafe(btab["__g"]), "left"
    )
    vv = F.col(value_col).cast("double")
    vv = F.when(~F.isnan(vv), vv)
    bin_expr = F.lit(1) + F.size(
        F.filter(F.col("__bounds"), lambda b: vv > b)
    )
    return joined.select(
        *[df[c] for c in df.columns],
        F.when(vv.isNotNull(), bin_expr).alias(out_col),
    )
