"""Static guard against dead package code: every public top-level
definition of the package must be reachable, by name, from something the
engine actually runs, or be listed in ``KEEP`` with the reason it stays.

The roots are every ``@_register``ed query function, the module-level code
of the package (it runs on import), ``cli.py``, ``session.py``,
``__spark_entry__.py``, ``bench.py``, ``perfbench/`` and ``scripts/``.
From those, the closure follows every name and attribute a reached
definition's body mentions to every top-level definition of that name.
``__init__`` re-exports and ``__all__`` strings are not references. The
closure is by bare name, so a name shared by two definitions keeps both
alive; a definition reached only through a string (``getattr``) would
read as dead, and the package has none. No Spark session is needed."""

from __future__ import annotations

import ast
import glob
import os

from tests.conftest import REPO_ROOT

PKG = "dbda_big_data_walmart_stores_analysis_prediction_spark"
PKG_DIR = os.path.join(REPO_ROOT, PKG)
ROOT_FILES = [
    os.path.join(PKG_DIR, "cli.py"),
    os.path.join(PKG_DIR, "session.py"),
    os.path.join(REPO_ROOT, "__spark_entry__.py"),
    os.path.join(REPO_ROOT, "bench.py"),
    *sorted(glob.glob(os.path.join(REPO_ROOT, "perfbench", "**", "*.py"), recursive=True)),
    *sorted(glob.glob(os.path.join(REPO_ROOT, "scripts", "*.py"))),
]

# Unreached definitions that stay, each with the reason.
KEEP = {
    "tune": "SURVEY ML5, the reference's CrossValidator stage; "
    "ROADMAP item 3 wires it into `cli model`",
    "feature_importances": "SURVEY ML5, read off the model `tune` selects",
    "impute_median": "SURVEY A1, the reference's median imputation",
    "impute_mode": "SURVEY A2, the reference's mode imputation",
    "clean_na_sentinels": "SURVEY P4, the reference's 'NA' sentinel cleaning",
    "native_session_windows": "the built-in `session_window` reference "
    "that `sessionize` is tested against",
}


def _mentions(nodes) -> set[str]:
    """Every identifier and attribute name used inside ``nodes``."""
    out = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
    return out


def _is_registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "_register"
        for d in getattr(node, "decorator_list", ())
    )


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def package_definitions() -> tuple[dict[str, list], set[str]]:
    """(name -> [(module path, line, mentions)] for every top-level
    definition of the package, names mentioned by code that runs on import
    or is registered)."""
    defs: dict[str, list] = {}
    roots: set[str] = set()
    for path in sorted(glob.glob(os.path.join(PKG_DIR, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, REPO_ROOT)
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            else:  # module-level statements run on import
                roots |= _mentions([node])
                continue
            if "__all__" in names:
                continue
            if _is_registered(node):
                roots |= set(names)
            for name in names:
                defs.setdefault(name, []).append((rel, node.lineno, _mentions([node])))
    return defs, roots


def unreached() -> dict[str, list[str]]:
    """Top-level package definition name -> where it is defined, for every
    definition the roots do not reach."""
    defs, roots = package_definitions()
    for path in ROOT_FILES:
        roots |= _mentions([_parse(path)])
    seen: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, _, mentions in defs[name]:
            todo += [m for m in mentions if m in defs and m not in seen]
    return {
        name: [f"{rel}:{line}" for rel, line, _ in where]
        for name, where in sorted(defs.items())
        if name not in seen
    }


def test_every_public_definition_is_reached_or_kept():
    dead = {
        name: where
        for name, where in unreached().items()
        if not name.startswith("_") and name not in KEEP
    }
    assert not dead, (
        "public definitions no registered query, CLI stage, benchmark or "
        f"script reaches (delete them, or add them to KEEP with a reason): {dead}"
    )


def test_keep_lists_only_unreached_definitions():
    """A KEEP entry that became reachable no longer needs its reason."""
    defs, _ = package_definitions()
    missing = sorted(set(KEEP) - set(defs))
    assert not missing, f"KEEP names no package definition: {missing}"
    reached = sorted(set(KEEP) - set(unreached()))
    assert not reached, f"KEEP entries that are now reached: {reached}"
