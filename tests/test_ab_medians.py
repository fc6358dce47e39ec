"""The two-checkout run order of ``scripts/ab_medians.py``. No Spark
session is needed."""

from __future__ import annotations

import importlib.util
import os

from tests.conftest import REPO_ROOT


def _ab_medians():
    path = os.path.join(REPO_ROOT, "scripts", "ab_medians.py")
    spec = importlib.util.spec_from_file_location("ab_medians", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_schedule_alternates_sides_and_interleaves_queries():
    order = _ab_medians().schedule(["qa", "qb"], 3, ["parent", "change"])
    assert order == [
        (0, "qa", "parent"), (0, "qa", "change"),
        (0, "qb", "parent"), (0, "qb", "change"),
        (1, "qa", "change"), (1, "qa", "parent"),
        (1, "qb", "change"), (1, "qb", "parent"),
        (2, "qa", "parent"), (2, "qa", "change"),
        (2, "qb", "parent"), (2, "qb", "change"),
    ]


def test_schedule_single_side_is_the_time_major_round_robin():
    order = _ab_medians().schedule(["qa", "qb"], 2, ["change"])
    assert order == [
        (0, "qa", "change"), (0, "qb", "change"),
        (1, "qa", "change"), (1, "qb", "change"),
    ]
