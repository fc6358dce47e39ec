"""Join operators (SURVEY.md §2.3 J1-J3).

The reference's two joins (fact x 45-row dim on ``Store``; fact x 8,190-row
dim on ``Store, Date`` — ``Scripts/etl.py:35-36``) both fit under the
broadcast threshold, and the same is true of every dim in the driver star
schema. We broadcast explicitly: at 100 TB the fact side is thousands of
partitions and an accidental sort-merge join on it is the single most
expensive mistake available, so determinism beats relying on
``autoBroadcastJoinThreshold`` statistics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def star_join(
    fact: DataFrame,
    dims: list[tuple[DataFrame, list[str] | str]],
    how: str = "left",
) -> DataFrame:
    """Join a fact table against small, broadcast dimensions.

    ``dims`` is ``[(dim_df, join_keys), ...]``. USING-style keys (list/str)
    dedupe the key columns automatically; non-key dim columns that collide
    with fact columns are dropped BEFORE joining (the reference handles one
    such collision by hand-dropping ``features.IsHoliday`` at
    ``Scripts/etl.py:108-109``).
    """
    out = fact
    for dim, keys in dims:
        key_list = [keys] if isinstance(keys, str) else list(keys)
        collide = [c for c in dim.columns if c in out.columns and c not in key_list]
        if collide:
            dim = dim.drop(*collide)
        out = out.join(F.broadcast(dim), on=key_list, how=how)
    return out


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    how: str = "inner",
    salt_buckets: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Skew-mitigated equi-join: salt the (big, skewed) left side into
    ``salt_buckets`` sub-keys and replicate the right side once per bucket,
    so one hot key's rows spread across ``salt_buckets`` tasks instead of
    pinning a single straggler.

    Cost model: right side is duplicated x salt_buckets through the
    shuffle — use when right is too big to broadcast but far smaller than
    the skewed left (the classic fact x medium-dim hot-key case). Prefer
    AQE's runtime skew-join splitting (on by default in our session) when
    it triggers; explicit salting is for plans AQE can't rewrite (e.g.
    skew under a window or a streaming join) or when the skew is known
    ahead of time. Salt values never appear in the output, so results are
    identical to the unsalted join for inner/left joins.
    """
    key_list = [on] if isinstance(on, str) else list(on)
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins only")
    salted_l = left.withColumn(
        "__salt", F.floor(F.rand(seed) * salt_buckets).cast("int")
    )
    salted_r = right.withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)])),
    )
    # shuffle_hash on the replicated side: salting exists precisely when
    # the right side is NOT broadcastable (else broadcast the unsalted
    # dim and skip the salt entirely), and a sort-merge join would sort
    # the skewed big side — the one cost salting is meant to avoid. The
    # hint builds the hash table from the exploded (still-smaller) side.
    return salted_l.join(
        salted_r.hint("shuffle_hash"), key_list + ["__salt"], how
    ).drop("__salt")


def range_join_binned(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_seconds: int = 3600,
    keys: list[str] | None = None,
) -> DataFrame:
    """Point-in-interval join (inclusive ends) that scales when BOTH sides
    are big.

    The naive form (``points JOIN intervals ON p BETWEEN lo AND hi``) has no
    equi-key, so Spark executes it as BroadcastNestedLoopJoin — O(|P|·|I|)
    and only viable when one side broadcasts. This bins the domain: each
    point maps to bin floor(p/w); each interval explodes to every bin it
    overlaps (span/w + 1 rows, cheap for intervals shorter than ~a few
    bins); an ordinary shuffle equi-join on (keys..., bin) meets each
    point only with locally-overlapping intervals, and the exact BETWEEN
    predicate filters within the bin. Pick ``bin_seconds`` near the typical
    interval length: too small explodes intervals, too large degrades to
    cross-join-within-bin.

    Timestamp columns are binned on epoch micros; numeric columns bin on
    their raw value (``bin_seconds`` then means plain units).
    """
    key_list = list(keys or [])

    def _num(df: DataFrame, c: str) -> Column:
        from pyspark.sql.types import TimestampType

        if isinstance(df.schema[c].dataType, TimestampType):
            return F.unix_micros(F.col(c)).cast("double")
        return F.col(c).cast("double")

    from pyspark.sql.types import TimestampType

    is_ts = isinstance(points.schema[point_col].dataType, TimestampType)
    width = float(bin_seconds) * (1_000_000.0 if is_ts else 1.0)

    p = points.withColumn("__bin", F.floor(_num(points, point_col) / width))
    i = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(_num(intervals, lo_col) / width),
                F.floor(_num(intervals, hi_col) / width),
            )
        ),
    )
    joined = p.join(i, key_list + ["__bin"]).drop("__bin")
    return joined.where(
        (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) <= F.col(hi_col))
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_lo: str,
    l_hi: str,
    r_lo: str,
    r_hi: str,
    bin_seconds: int = 3600,
    max_bins_per_interval: int = 10_000,
) -> DataFrame:
    """Interval × interval overlap join (inclusive ends) that scales
    when BOTH sides are big — `range_join_binned`'s two-sided sibling.
    The naive ``ON l_lo <= r_hi AND r_lo <= l_hi`` has no equi-key
    (BroadcastNestedLoopJoin); here both sides explode to the bins they
    span and meet in an ordinary equi-join on the bin.

    A pair overlapping several shared bins would duplicate once per
    bin; the dedup costs NO distinct: every overlapping pair is emitted
    only in its CANONICAL bin — ``floor(max(l_lo, r_lo) / width)``, the
    bin where the later interval starts. Overlap guarantees
    ``max(l_lo, r_lo) <= min(l_hi, r_hi)``, so both sides generated
    that bin, and it is unique per pair.

    Rows with null bounds or inverted intervals (hi < lo — Spark's
    ``sequence`` would silently DESCEND) are dropped. Non-key column
    Column names must be disjoint (alias before joining). Pick ``bin_seconds``
    near the typical interval length, exactly as in
    ``range_join_binned``.

    Fan-out guard: one interval spanning k bins explodes to k rows, so a
    degenerate row (a year-long interval at 1-second bins = 31M rows
    from ONE row) with a mis-sized ``bin_seconds`` would blow up an
    executor silently. Any interval spanning more than
    ``max_bins_per_interval`` bins raises a named executor-side error
    (the ``assert_true`` rides the bin column so pruning can't drop the
    check — gap_fill's fail-fast discipline); widen ``bin_seconds`` or
    split long intervals upstream.
    """
    from pyspark.sql.types import NumericType, TimestampType

    clash = set(left.columns) & set(right.columns)
    if clash:
        raise ValueError(
            f"interval_overlap_join: columns {sorted(clash)} exist on both "
            "sides; alias one side before joining"
        )
    # all four bounds must share a supported type family: a DateType (or
    # mixed) bound would cast to NULL / bin in a different unit space and
    # silently return zero overlaps instead of failing loudly
    bound_types = {
        name: frame.schema[c].dataType
        for name, (frame, c) in {
            "l_lo": (left, l_lo),
            "l_hi": (left, l_hi),
            "r_lo": (right, r_lo),
            "r_hi": (right, r_hi),
        }.items()
    }
    all_ts = all(isinstance(t, TimestampType) for t in bound_types.values())
    all_num = all(isinstance(t, NumericType) for t in bound_types.values())
    if not (all_ts or all_num):
        raise ValueError(
            "interval_overlap_join: bound columns must all be timestamps "
            "or all be numeric, got "
            + ", ".join(f"{k}={v.simpleString()}" for k, v in bound_types.items())
        )

    def _num(df: DataFrame, c: str) -> Column:
        if isinstance(df.schema[c].dataType, TimestampType):
            return F.unix_micros(F.col(c)).cast("double")
        return F.col(c).cast("double")

    is_ts = all_ts
    width = float(bin_seconds) * (1_000_000.0 if is_ts else 1.0)

    def binned(df: DataFrame, lo: str, hi: str) -> DataFrame:
        b_lo = F.floor(_num(df, lo) / width)
        b_hi = F.floor(_num(df, hi) / width)
        return df.where(
            F.col(lo).isNotNull() & F.col(hi).isNotNull() & (F.col(lo) <= F.col(hi))
        ).withColumn(
            "__bin",
            F.explode(
                F.when(
                    F.assert_true(
                        b_hi - b_lo < F.lit(int(max_bins_per_interval)),
                        F.concat(
                            F.lit(
                                "interval_overlap_join: interval "
                                f"[{lo}, {hi}]=["
                            ),
                            F.col(lo).cast("string"),
                            F.lit(", "),
                            F.col(hi).cast("string"),
                            F.lit(
                                f"] spans more than max_bins_per_interval="
                                f"{int(max_bins_per_interval)} bins at "
                                f"bin_seconds={bin_seconds} — widen "
                                "bin_seconds or split long intervals"
                            ),
                        ),
                    ).isNull(),
                    F.sequence(b_lo, b_hi),
                )
            ),
        )

    j = binned(left, l_lo, l_hi).join(binned(right, r_lo, r_hi), ["__bin"])
    overlap = (F.col(l_lo) <= F.col(r_hi)) & (F.col(r_lo) <= F.col(l_hi))
    lo_num = F.unix_micros(F.greatest(F.col(l_lo), F.col(r_lo))).cast(
        "double"
    ) if is_ts else F.greatest(F.col(l_lo), F.col(r_lo)).cast("double")
    canonical = F.col("__bin") == F.floor(lo_num / width)
    return j.where(overlap & canonical).drop("__bin")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
) -> DataFrame:
    """Backward as-of join: for each left row, attach the right row with the
    greatest ``right_ts`` <= ``left_ts`` within the same ``on`` keys (left
    outer — unmatched left rows keep NULLs).

    Spark has no ASOF JOIN primitive, and the naive formulation
    (inequality join → per-left-row rank → filter rank=1) materializes the
    full O(|L|·|R|/keys) pair explosion before pruning. This instead unions
    both sides into one stream, shuffles ONCE on the keys, sorts by event
    time within each key partition, and carries the most recent right
    payload forward with ``last(ignorenulls=True)`` over an unbounded
    preceding row frame — O(|L|+|R|) rows end to end, no pair blowup, which
    is the shape that survives 100 TB (one Exchange + one Sort, both on the
    join keys).

    Ties: a right row at exactly ``left_ts`` matches (inclusive). Multiple
    right rows at the same timestamp resolve to the last under the sort
    ``(ts, is_left, right_cols)`` — deterministic given distinct payloads.
    """
    key_list = [on] if isinstance(on, str) else list(on)
    out_right = set(right_cols) | {f"asof_{right_ts}"}
    clash = out_right & set(left.columns)
    if clash:
        raise ValueError(
            f"asof_join output columns {sorted(clash)} collide with left "
            "columns; alias the left side before joining"
        )
    payload = F.struct(
        F.col(right_ts).alias("__asof_ts"),
        *[F.col(c) for c in right_cols],
    )
    r = right.select(
        *[F.col(k) for k in key_list],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        payload.alias("__payload"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns if c not in key_list],
    )
    l = left.select(
        *[F.col(k) for k in key_list],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
        *[c for c in left.columns if c not in key_list],
    )
    # Right rows sort BEFORE left rows at an equal timestamp (is_left asc),
    # so an exact-tie right row is visible to the left row's carry-forward.
    # The payload struct completes the total order: several right rows with
    # equal (key, ts) would otherwise carry whichever the shuffle delivered
    # last.
    w = (
        Window.partitionBy(*key_list)
        .orderBy("__ts", "__is_left", "__payload")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = F.last("__payload", ignorenulls=True).over(w)
    return (
        r.unionByName(l)
        .withColumn("__carried", carried)
        .where(F.col("__is_left") == 1)
        .select(
            *key_list,
            *[c for c in left.columns if c not in key_list],
            F.col("__carried.__asof_ts").alias(f"asof_{right_ts}"),
            *[F.col(f"__carried.{c}").alias(c) for c in right_cols],
        )
    )


def diagnose_and_salt_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    how: str = "inner",
    salt_threshold: float = 2.0,
    max_salt: int = 256,
    seed: int = 42,
) -> DataFrame:
    """The diagnose→execute loop closed: read ``skew_report``'s top hot
    key for the join keys and run the join the report recommends —
    ``salted_join`` with the suggested bucket count when the hot key is
    ``salt_threshold``× the mean key load, the plain join otherwise.
    This is the operator an unattended 100 TB pipeline calls instead of
    a human reading the report: same one map-side-combined key aggregate
    as the report, a 1-row driver read, then the join.

    Results are identical to the plain join either way (salt values
    never escape; pinned by ``test_salted_join_matches_plain`` and the
    q162 oracle) — only the physical distribution of the hot key's rows
    changes. ``how`` is restricted to inner/left like ``salted_join``.
    """
    key_list = [on] if isinstance(on, str) else list(on)
    top = skew_report(left, key_list, top=1).collect()
    buckets = int(top[0]["suggested_salt"]) if top else 1
    if not top or top[0]["skew_factor"] < salt_threshold or buckets <= 1:
        return left.join(right, key_list, how)
    # never more buckets than shuffle partitions: salting levels the hot
    # key across TASKS, so buckets beyond the parallelism cannot reduce
    # the straggler further — they only multiply the right side's
    # replication (measured 2.0 s -> 1.5 s at sf0.1 for 256 -> 32)
    parallelism = int(
        left.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    return salted_join(
        left,
        right,
        key_list,
        how,
        salt_buckets=max(2, min(buckets, max_salt, parallelism)),
        seed=seed,
    )


def skew_report(
    df: DataFrame, keys: list[str] | str, top: int = 10
) -> DataFrame:
    """Shuffle-key skew diagnostics — the number an engineer reads BEFORE
    choosing broadcast / AQE / ``salted_join`` for a 100 TB join or
    aggregation: the ``top`` heaviest key values with their share of all
    rows, the skew factor (key count / mean key count — how many
    straggler-tasks' worth of work the hot key is), and the salt bucket
    count that would level it (``ceil(skew_factor)``, capped at 256).

    ONE hash aggregate over the keys (map-side combined) + a 1-row
    broadcast of the totals + a heap take — no sort of the key table.
    NULL keys are reported like any other value (they hash to one
    partition too).
    """
    key_list = [keys] if isinstance(keys, str) else list(keys)
    # checkpoint: the totals aggregate AND the report projection both
    # consume the key counts — without the boundary the corpus-scale
    # groupBy runs twice
    counts = (
        df.groupBy(*key_list)
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    totals = counts.agg(
        F.sum("n").cast("double").alias("total_rows"),
        F.count("*").cast("double").alias("n_keys"),
    )
    skew = F.col("n") / (F.col("total_rows") / F.col("n_keys"))
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            *key_list,
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("total_rows"), 6).alias("row_share"),
            F.round(skew, 6).alias("skew_factor"),
            F.least(F.ceil(skew), F.lit(256)).cast("int").alias(
                "suggested_salt"
            ),
        )
        # asc_nulls_last on the key tiebreak: Spark defaults to nulls
        # FIRST on ascending while SQL engines (the DuckDB oracle
        # included) default to nulls LAST — a count tie involving a null
        # key at the top-N boundary must pick the same rows everywhere
        .orderBy(
            F.col("n").desc(), *[F.col(k).asc_nulls_last() for k in key_list]
        )
        .limit(top)
    )
