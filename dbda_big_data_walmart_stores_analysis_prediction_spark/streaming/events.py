"""Event-time windowing, sessionization, attribution and dedup over the
driver's ``events`` table (event_id, ts, user_id, event_type, value,
props). The reference has no event-time surface at all (SURVEY.md §2.10).

Sessionization uses the gaps-and-islands formulation (lag + cumulative
boundary sum), identical in any SQL engine, so its answers are
oracle-checkable; Spark's native ``session_window`` (whose
[start, last+gap) end semantics differ from island bounds) is kept as
the reference the tests compare it with. The click → purchase
attribution join carries watermarks and two-sided event-time bounds, so
the same expression also runs on a ``readStream`` frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sliding_window_counts(
    events: DataFrame, size: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding event-time windows (batch): each event lands in
    size/slide windows via Catalyst's window generation (an Expand — no
    self-join)."""
    return (
        events.groupBy(F.window("ts", size, slide).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize(
    events: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """Per-user sessions, gaps-and-islands form (batch, oracle-portable):

    session boundary when the gap to the previous event exceeds
    ``gap_minutes``; session id = running boundary count. One shuffle on
    user_id shared by the lag window, the cumulative sum, and the final
    aggregate (same partition key throughout — Catalyst reuses the sort).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_minutes * 60 * 1_000_000
    prev = F.lag("ts").over(w)
    boundary = F.when(
        prev.isNull()
        | ((F.unix_micros(F.col("ts")) - F.unix_micros(prev)) > gap_us),
        1,
    ).otherwise(0)
    with_sess = events.select(
        "*", F.sum(boundary).over(w).alias("session_id")
    )
    return with_sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def native_session_windows(
    events: DataFrame, gap: str = "30 minutes"
) -> DataFrame:
    """Spark's native ``session_window`` sessions, the built-in that
    ``sessionize`` is tested against. End bound = last event + gap
    (differs from island max(ts)); the per-user session count agrees."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def streaming_click_purchase_join(
    clicks: DataFrame,
    purchases: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with event-time bounds: each purchase is
    attributed to clicks by the same user within ``attribution_window``
    BEFORE the purchase.

    Both sides carry watermarks and the join condition bounds event time in
    BOTH directions, so Spark can size the join state buffer and evict rows
    once the watermark passes — the required shape for an unbounded
    stream-stream join (without the time bound, state grows forever).
    State is keyed by user_id; the same expression runs identically in
    batch for verification.
    """
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {attribution_window}")
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        F.round("purchase_value", 4).alias("purchase_value"),
    )


def dedup_events(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
) -> DataFrame:
    """Batch exactly-once dedup on an idempotency key: keep the EARLIEST
    record per key — deterministic, unlike a bare ``dropDuplicates`` whose
    survivor is partition-order-dependent. One map-side-combinable shuffle
    on the key.

    The survivor is ONE real input record: the whole non-key record is
    aggregated as ``min(struct(ts_col, <remaining cols>))`` (struct
    ordering = earliest event time, remaining columns as the deterministic
    tiebreak), then the struct is re-expanded. Aggregating each column
    independently (``min_by(c, ts)`` per column) would, under a ts tie,
    stitch fields from DIFFERENT tied records into a row that never
    existed.

    ``ts_col`` must exist (and not be one of ``key_cols``): without it the
    struct-min would silently become a lexicographic min over whatever
    columns remain, losing the earliest-record semantics — so misuse fails
    fast instead."""
    if ts_col not in events.columns or ts_col in key_cols:
        raise ValueError(
            f"dedup_events needs a non-key event-time column {ts_col!r}; "
            f"input has {events.columns} with key_cols={list(key_cols)}. "
            "Pass ts_col= to name the event-time column."
        )
    others = [c for c in events.columns if c not in key_cols]
    order = [c for c in others if c == ts_col] + [c for c in others if c != ts_col]
    rec = F.min(F.struct(*[F.col(c) for c in order])).alias("__rec")
    return (
        events.groupBy(*key_cols)
        .agg(rec)
        .select(*key_cols, *[F.col(f"__rec.{c}").alias(c) for c in others])
        .select(*events.columns)
    )

