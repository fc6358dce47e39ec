"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``dbda_big_data_walmart_stores_analysis_prediction_spark``
package; this module is the thin registry the driver imports.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from dbda_big_data_walmart_stores_analysis_prediction_spark.plans import (  # noqa: E402
    ORACLE_SQL,
    QUERIES,
    flagship_top_customers_rolling,
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"

# The driver bounds each round at ~this many queries (measured: round 1 ran
# exactly the first 50 registered). Ordering must keep every hash-checked
# entry that has NEVER received a driver row inside the bound.
DRIVER_QUERY_CAP = 50


def _scan_history() -> dict[str, tuple[int, object]]:
    """ONE pass over the CORRECTNESS_r*.json files: per query, the
    latest round with a driver row and that row's raw ``err``. Both
    rotation views below derive from this — duplicated parse loops
    desynchronize silently when the row shape changes."""
    latest: dict[str, tuple[int, object]] = {}
    for path in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except Exception:
            continue
        for k, row in rows.items():
            err = row.get("err") if isinstance(row, dict) else None
            prev = latest.get(k)
            if prev is None or rnd > prev[0]:
                latest[k] = (rnd, err)
    return latest


def _driver_history() -> dict[str, tuple[int, bool]]:
    """Per query: ``(latest round with a driver CORRECTNESS row, crashed
    at that latest row)``. A row crashed if its ``err`` is a real
    traceback (``no_oracle`` is the deliberate rows-only marker, not a
    failure). Queries absent from every file have no entry (round 0).

    The crash flag exists because round 7 proved a hole in the rotation:
    q85 crashed in r6, its fix landed in r7, but the r6 crash row counted
    as "driver contact" and the oracled-before-rows-only tie-break pushed
    it past the 50-slot cap — so the fix went a full round unverified. A
    crash row is the WEAKEST signal in the registry and must re-run the
    very next round, ahead of same-round green entries."""
    return {
        k: (rnd, err is not None and err != "no_oracle")
        for k, (rnd, err) in _scan_history().items()
    }


def _latest_row_rows_only() -> set[str]:
    """Queries whose LATEST driver row was taken WITHOUT an oracle
    (``err == "no_oracle"``). If such a query is in ``ORACLE_SQL`` now,
    its hash check has NEVER run on the driver — the oracle landed after
    the row — so the rotation must treat it as never-verified at its
    current check strength. Round 13 is why this exists: q140/q142
    gained oracles in r12 with r11 rows-only rows, and 61 strictly
    staler entries would otherwise hold every r13 slot, parking the
    brand-new oracles unverified until r14."""
    return {
        k for k, (_, err) in _scan_history().items() if err == "no_oracle"
    }


def _last_verified_round() -> dict[str, int]:
    """Latest round in which each query received a driver CORRECTNESS row
    (any outcome — a crash row is still driver contact worth rotating on).
    Queries absent from every file have no entry (treated as round 0)."""
    return {k: rnd for k, (rnd, _) in _driver_history().items()}


def _check_rotation(
    ordered: list[str],
    last: dict[str, int],
    crashed: set[str] | None = None,
) -> None:
    """Pin the rotation invariant with a REAL exception (asserts vanish
    under ``python -O`` and the old one was nearly vacuous — it only
    inspected the fronted list, never the final ordering).

    Invariant: no query — oracled OR rows-only — past the driver cap may
    be STALER (smaller last-verified round; never-verified = 0) than any
    query inside the cap. That is exactly "least-recently-verified runs
    first" observed at the only boundary that matters, it fires the
    moment an ordering regression lands (not two rounds later once
    starvation shows), and it degrades correctly in a fresh clone where
    every entry ties at round 0 and overflow past the cap is
    unavoidable. Guarantees every query cycles through the driver within
    ``ceil(len(QUERIES) / cap)`` rounds — the tightest bound a fixed cap
    admits (counts in prose go stale; the registry has outgrown
    "within two rounds"). Round 10's verdict
    showed why rows-only entries need the guard too: the old
    oracled-only form let six clean rows-only entries sit at the
    registry's 2-round staleness maximum with nothing pinning their
    return — same-round oracled-first tie-breaks remain legal (strict
    round comparison only), but a strictly staler entry past the cap is
    now an error regardless of its check class.
    """
    freshest_in_cap = max(
        (last.get(k, 0) for k in ordered[:DRIVER_QUERY_CAP]), default=0
    )
    starved = [
        k
        for k in ordered[DRIVER_QUERY_CAP:]
        if last.get(k, 0) < freshest_in_cap
    ]
    if starved:
        raise RuntimeError(
            f"queries {starved!r} ordered past the driver cap "
            f"{DRIVER_QUERY_CAP} while fresher entries (verified round "
            f"{freshest_in_cap}) hold in-cap slots; the "
            "least-recently-verified rotation is broken"
        )
    # Crash priority (the r7 hole): a query whose LATEST driver row is a
    # crash is the registry's weakest link — it must not sit past the cap
    # while any non-crashed query of the same or a later round holds an
    # in-cap slot. Compared on (round, crashed-first) so never-verified
    # entries (round 0) still front ahead of crashed ones.
    if crashed:
        def strength(k: str) -> tuple[int, int]:
            return (last.get(k, 0), 0 if k in crashed else 1)

        weakest_in_cap = max(
            (strength(k) for k in ordered[:DRIVER_QUERY_CAP]),
            default=(0, 0),
        )
        starved_crashes = [
            k
            for k in ordered[DRIVER_QUERY_CAP:]
            if strength(k) < weakest_in_cap
        ]
        if starved_crashes:
            raise RuntimeError(
                f"crashed-latest queries {starved_crashes!r} ordered past "
                f"the driver cap {DRIVER_QUERY_CAP} while weaker-priority "
                "entries hold in-cap slots; the crash-first rotation is "
                "broken"
            )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Scan → broadcast join → rolling window → agg → top-k (SURVEY.md §7
    Phase 1).
    """
    return flagship_top_customers_rolling(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordering = least-recently-driver-verified first, so all entries cycle
    through the driver's ~50-query bound within ``ceil(N / 50)`` rounds
    (two at ≤100 registered queries, three as the registry passed 100 in
    round 11). Round 3 proved
    the old static ordering starves once-verified entries forever: with 59
    registered queries competing for 50 slots, q42/q43/q44 and the six
    rows-only entries sat permanently past the cap after their one green
    row. Sort key:

    1. the latest round the query received ANY driver row (ascending;
       never-verified sorts first — a check that has never run is the
       weakest link, and a crash like round 1's q53 must surface the next
       round, not three rounds later). A query whose oracle landed AFTER
       its latest driver row (that row says ``no_oracle``) counts as
       never-verified: its hash check has never run, and round 13 showed
       61 staler entries would otherwise park a fresh oracle two full
       rounds (q140/q142);
    2. crashed-at-latest-row before clean on ties — round 7 proved the
       hole: q85's r6 crash row counted as driver contact, the
       oracled-first tie-break pushed it past the cap, and its fix went a
       full round unverified. A crash is the weakest signal in the
       registry and must re-run the very next round;
    3. oracled (hash-checked) before rows-only on ties — the stronger
       check wins marginal slots;
    4. registration order as the final tiebreak, keeping timings and
       CORRECTNESS rows comparable across rounds.

    ``_check_rotation`` raises (a real exception, not an ``-O``-stripped
    assert) if a future edit leaves a stale oracled query — or a
    crashed-latest query of any kind — past the bound.
    """
    hist = _driver_history()
    last = {k: rnd for k, (rnd, _) in hist.items()}
    crashed = {k for k, (_, c) in hist.items() if c}
    oracled = set(ORACLE_SQL)
    # a query oracled AFTER its latest driver row has never had its hash
    # checked — never-verified at its current check strength, so its
    # effective round is 0 (see _latest_row_rows_only)
    unchecked_oracle = _latest_row_rows_only() & oracled
    eff_last = {
        k: (0 if k in unchecked_oracle else v) for k, v in last.items()
    }
    reg_index = {k: i for i, k in enumerate(QUERIES)}
    ordered_keys = sorted(
        QUERIES,
        key=lambda k: (
            eff_last.get(k, 0),
            0 if k in crashed else 1,
            0 if k in oracled else 1,
            reg_index[k],
        ),
    )
    _check_rotation(ordered_keys, eff_last, crashed)
    return {k: QUERIES[k] for k in ordered_keys}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; keys missing here get the weaker
    rows-only check (non-SQL-expressible ops)."""
    return dict(ORACLE_SQL)
