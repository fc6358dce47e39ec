"""A raising op is recorded as failed and the pass goes on."""

from types import SimpleNamespace

import run


class _FakeSpark:
    def __init__(self):
        self.cleared = 0
        self.sparkContext = None
        self.catalog = SimpleNamespace(clearCache=self._clear)

    def _clear(self):
        self.cleared += 1


def test_raising_op_counts_as_failed_and_pass_continues():
    calls = []

    def ok(name):
        def fn(spark, tracer):
            calls.append(name)
            return name

        return fn

    def boom(spark, tracer):
        calls.append("boom")
        raise RuntimeError("op failed")

    spark = _FakeSpark()
    ops = [run.Op("a", ok("a")), run.Op("b", boom), run.Op("c", ok("c"))]
    results = run.run_pass(spark, ops, None, 0, {})
    assert calls == ["a", "boom", "c"]
    assert [r.error is None for r in results] == [True, False, True]
    assert "op failed" in results[1].error
    assert [r.output for r in results] == ["a", None, "c"]
    assert spark.cleared == 3
