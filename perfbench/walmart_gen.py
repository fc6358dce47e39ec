"""Deterministic Walmart-shaped CSV generator.

Writes ``stores.csv``, ``features.csv``, ``train.csv`` and ``test.csv`` with
the shapes, types and null patterns of the public Walmart store-sales data
(FIXTURES.md section B). ``scale=1.0`` is the real dataset's size: 45 stores,
8,190 feature rows, 421,570 train rows and about 115,064 test rows. The same
seed and scale always give byte-identical files.

Edge cases every output carries:

* literal ``NA`` in MarkDown1-5 (all NA before 2011-11-11, sporadic after)
  and in CPI/Unemployment (the 2013-05+ tail);
* a small share of NULL (``NA``) ``Weekly_Sales``;
* negative sales (returns);
* one (Store, Dept) series shorter than 5 weeks;
* a fact store (``MISSING_STORE``) that is absent from ``stores`` and
  ``features``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

REAL_TRAIN_ROWS = 421_570
REAL_TEST_ROWS = 115_064
REAL_PAIRS = 3_331
N_STORES = 45
N_DEPTS = 81
TRAIN_WEEKS = 143  # 2010-02-05 .. 2012-10-26
TEST_WEEKS = 39  # 2012-11-02 .. 2013-07-26
FEATURE_WEEKS = TRAIN_WEEKS + TEST_WEEKS
FIRST_FRIDAY = dt.date(2010, 2, 5)
MARKDOWN_START = dt.date(2011, 11, 11)
CPI_NA_FROM = dt.date(2013, 5, 1)
MISSING_STORE = N_STORES + 1
SHORT_SERIES_WEEKS = 3
NULL_LABEL_SHARE = 0.002
NEGATIVE_SHARE = 0.003
HOLIDAYS = frozenset(
    dt.date.fromisoformat(d)
    for d in (
        "2010-02-12", "2010-09-10", "2010-11-26", "2010-12-31",
        "2011-02-11", "2011-09-09", "2011-11-25", "2011-12-30",
        "2012-02-10", "2012-09-07", "2012-11-23", "2012-12-28",
        "2013-02-08",
    )
)

FRIDAYS = [FIRST_FRIDAY + dt.timedelta(weeks=i) for i in range(FEATURE_WEEKS)]
DATE_STR = [d.isoformat() for d in FRIDAYS]
IS_HOLIDAY = np.array([d in HOLIDAYS for d in FRIDAYS])


def _fmt(v: float, digits: int) -> str:
    return "NA" if np.isnan(v) else f"{v:.{digits}f}"


def _bool(b: bool) -> str:
    return "TRUE" if b else "FALSE"


def _series_lengths(
    rng: np.random.Generator, n: int, full: int, target: int, min_len: int
) -> np.ndarray:
    """Lengths of ``n`` series of at most ``full`` weeks summing to
    ``target``: about 40% of series are cut short by a random share of the
    total deficit, the rest run the whole range."""
    lengths = np.full(n, full, dtype=np.int64)
    deficit = int(lengths.sum()) - target
    if deficit <= 0:
        return lengths
    partial = rng.random(n) < 0.4
    weights = rng.exponential(size=n) * partial
    room = full - min_len
    cuts = np.minimum(
        np.floor(deficit * weights / max(weights.sum(), 1e-12)).astype(np.int64), room
    )
    lengths -= cuts
    remaining = int(lengths.sum()) - target
    order = rng.permutation(n)
    while remaining > 0:
        for i in order:
            if remaining == 0:
                break
            if lengths[i] > min_len:
                lengths[i] -= 1
                remaining -= 1
    return lengths


def _write(path: str, header: str, lines: list[str]) -> None:
    with open(path, "w", newline="\n") as f:
        f.write(header + "\n")
        f.write("\n".join(lines))
        f.write("\n")


def generate(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write the four CSVs into ``out_dir``; return the row count of each."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    # --- stores: 22 A / 17 B / 6 C, sized by type -------------------------
    types = rng.permutation(np.array(["A"] * 22 + ["B"] * 17 + ["C"] * 6))
    size_lo = {"A": 140_000, "B": 60_000, "C": 34_875}
    size_hi = {"A": 219_622, "B": 140_000, "C": 43_000}
    sizes = np.array(
        [int(rng.integers(size_lo[t], size_hi[t] + 1)) for t in types]
    )
    _write(
        os.path.join(out_dir, "stores.csv"),
        "Store,Type,Size",
        [f"{s + 1},{types[s]},{sizes[s]}" for s in range(N_STORES)],
    )

    # --- features: 45 stores x 182 Fridays --------------------------------
    week = np.arange(FEATURE_WEEKS)
    season = np.sin(2 * np.pi * (week - 13) / 52.0)
    md_live = np.array([d >= MARKDOWN_START for d in FRIDAYS])
    cpi_live = np.array([d < CPI_NA_FROM for d in FRIDAYS])
    feat_lines = []
    for s in range(N_STORES):
        temp = np.clip(
            58 + 25 * season + rng.normal(0, 8) + rng.normal(0, 4, FEATURE_WEEKS),
            -7,
            102,
        )
        fuel = np.clip(
            2.6 + 1.3 * week / FEATURE_WEEKS + rng.normal(0, 0.12, FEATURE_WEEKS),
            2.4,
            4.5,
        )
        markdowns = rng.lognormal(8.0, 1.2, (5, FEATURE_WEEKS))
        sporadic = rng.random((5, FEATURE_WEEKS)) < 0.25
        markdowns[:, ~md_live] = np.nan
        markdowns[sporadic] = np.nan
        cpi = 126 + rng.random() * 100 + 0.04 * week + rng.normal(0, 0.05, FEATURE_WEEKS)
        unemp = np.clip(
            rng.uniform(4, 14) - 0.01 * week + rng.normal(0, 0.05, FEATURE_WEEKS),
            3.8,
            14.3,
        )
        cpi[~cpi_live] = np.nan
        unemp[~cpi_live] = np.nan
        for w in range(FEATURE_WEEKS):
            md = ",".join(_fmt(markdowns[k, w], 2) for k in range(5))
            feat_lines.append(
                f"{s + 1},{DATE_STR[w]},{temp[w]:.2f},{fuel[w]:.3f},{md},"
                f"{_fmt(cpi[w], 7)},{_fmt(unemp[w], 3)},{_bool(IS_HOLIDAY[w])}"
            )
    _write(
        os.path.join(out_dir, "features.csv"),
        "Store,Date,Temperature,Fuel_Price,MarkDown1,MarkDown2,MarkDown3,"
        "MarkDown4,MarkDown5,CPI,Unemployment,IsHoliday",
        feat_lines,
    )

    # --- (Store, Dept) pairs, spread over the stores ----------------------
    dept_ids = np.sort(rng.choice(np.arange(1, 100), N_DEPTS, replace=False))
    n_pairs = max(N_STORES + 2, round(REAL_PAIRS * scale))
    per_store = np.full(N_STORES, (n_pairs - 2) // N_STORES)
    per_store[: (n_pairs - 2) % N_STORES] += 1
    per_store = np.minimum(per_store, N_DEPTS)
    pairs = [
        (s + 1, int(d))
        for s in range(N_STORES)
        for d in np.sort(rng.choice(dept_ids, per_store[s], replace=False))
    ]
    pairs += [(MISSING_STORE, int(d)) for d in np.sort(rng.choice(dept_ids, 2, replace=False))]
    n_pairs = len(pairs)
    dept_base = {int(d): rng.lognormal(8.8, 1.1) for d in dept_ids}
    size_of = {s + 1: sizes[s] for s in range(N_STORES)}

    # --- train: one row per (Store, Dept, Friday) -------------------------
    target = max(n_pairs * 6, round(REAL_TRAIN_ROWS * scale))
    short = int(rng.integers(n_pairs))
    lengths = np.insert(
        _series_lengths(
            rng, n_pairs - 1, TRAIN_WEEKS, target - SHORT_SERIES_WEEKS, min_len=6
        ),
        short,
        SHORT_SERIES_WEEKS,
    )
    holiday_lift = np.where(IS_HOLIDAY, 1.4, 1.0)
    train_lines = []
    for i, (store, dept) in enumerate(pairs):
        n = int(lengths[i])
        start = int(rng.integers(0, TRAIN_WEEKS - n + 1))
        w = np.arange(start, start + n)
        level = dept_base[dept] * (size_of.get(store, 100_000) / 150_000) ** 0.7
        sales = level * (1 + 0.15 * season[w]) * holiday_lift[w] * rng.normal(1, 0.1, n)
        neg = rng.random(n) < NEGATIVE_SHARE
        sales[neg] = -rng.uniform(1, 5000, int(neg.sum()))
        sales[rng.random(n) < NULL_LABEL_SHARE] = np.nan
        for k in range(n):
            train_lines.append(
                f"{store},{dept},{DATE_STR[w[k]]},{_fmt(sales[k], 2)},"
                f"{_bool(IS_HOLIDAY[w[k]])}"
            )
    _write(
        os.path.join(out_dir, "train.csv"),
        "Store,Dept,Date,Weekly_Sales,IsHoliday",
        train_lines,
    )

    # --- test: the later 39 Fridays, same pairs minus a few ---------------
    keep = np.sort(rng.choice(n_pairs, max(1, round(n_pairs * 0.95)), replace=False))
    test_target = min(len(keep) * TEST_WEEKS, max(len(keep), round(REAL_TEST_ROWS * scale)))
    test_lengths = _series_lengths(rng, len(keep), TEST_WEEKS, test_target, min_len=1)
    test_lines = []
    for j, i in enumerate(keep):
        store, dept = pairs[i]
        n = int(test_lengths[j])
        start = TRAIN_WEEKS + int(rng.integers(0, TEST_WEEKS - n + 1))
        for w in range(start, start + n):
            test_lines.append(f"{store},{dept},{DATE_STR[w]},{_bool(IS_HOLIDAY[w])}")
    _write(
        os.path.join(out_dir, "test.csv"),
        "Store,Dept,Date,IsHoliday",
        test_lines,
    )
    return {
        "stores": N_STORES,
        "features": len(feat_lines),
        "train": len(train_lines),
        "test": len(test_lines),
    }
