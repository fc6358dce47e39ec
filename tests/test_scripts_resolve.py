"""Static guard for ``scripts/``: every name a script imports from the
package must exist, and every keyword it passes to that name must be a
parameter of the callee. Scripts are not run by the suite, so an option
deleted from an operator would otherwise leave a script that only fails
when someone next runs it. No Spark session is needed."""

from __future__ import annotations

import ast
import glob
import importlib
import inspect
import os

import pytest

from tests.conftest import REPO_ROOT

PKG = "dbda_big_data_walmart_stores_analysis_prediction_spark"
SCRIPTS = sorted(glob.glob(os.path.join(REPO_ROOT, "scripts", "*.py")))


def _package_imports(tree: ast.AST) -> dict[str, object]:
    """Local name -> imported object, for every ``from PKG... import name``
    anywhere in the module (top level or inside functions)."""
    bound = {}
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom) or node.level:
            continue
        if node.module != PKG and not node.module.startswith(PKG + "."):
            continue
        mod = importlib.import_module(node.module)
        for alias in node.names:
            if hasattr(mod, alias.name):
                obj = getattr(mod, alias.name)
            else:  # a submodule: `from PKG.operators import dedup`
                obj = importlib.import_module(f"{node.module}.{alias.name}")
            bound[alias.asname or alias.name] = obj
    return bound


def _callee(func: ast.expr, bound: dict[str, object]):
    """The package object a call resolves to: ``name(...)`` or
    ``module_alias.name(...)``; None for anything else."""
    if isinstance(func, ast.Name):
        return bound.get(func.id)
    if (
        isinstance(func, ast.Attribute)
        and isinstance(func.value, ast.Name)
        and inspect.ismodule(bound.get(func.value.id))
    ):
        mod = bound[func.value.id]
        assert hasattr(mod, func.attr), f"{mod.__name__}.{func.attr} is gone"
        return getattr(mod, func.attr)
    return None


def _accepts(fn, kw: str) -> bool:
    params = inspect.signature(fn).parameters.values()
    return any(
        p.kind is p.VAR_KEYWORD
        or (p.name == kw and p.kind is not p.POSITIONAL_ONLY)
        for p in params
    )


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_imports_and_keywords_resolve(path):
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    bound = _package_imports(tree)  # raises ImportError/AttributeError
    bad = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = _callee(node.func, bound)
        if fn is None or not callable(fn) or inspect.ismodule(fn):
            continue
        bad += [
            (node.lineno, getattr(fn, "__name__", fn), k.arg)
            for k in node.keywords
            if k.arg is not None and not _accepts(fn, k.arg)
        ]
    assert not bad, f"unknown keyword(s) (line, callee, keyword): {bad}"


def test_guard_catches_a_removed_option(tmp_path):
    """The guard flags a keyword the callee does not take, through both
    a direct import and a module alias."""
    script = tmp_path / "stale.py"
    script.write_text(
        f"from {PKG}.operators.dedup import connected_components\n"
        f"from {PKG}.operators import dedup as dd\n"
        "connected_components(e, driver_edge_bound=0)\n"
        "dd.connected_components(e, src='a', edge_count=3)\n"
    )
    with pytest.raises(AssertionError) as err:
        test_script_imports_and_keywords_resolve(str(script))
    msg = str(err.value)
    assert "driver_edge_bound" in msg and "edge_count" in msg
    assert "'src'" not in msg
