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
read as dead, and the package has none.

The same roots back a second guard against options nothing sets: every
``True``/``False``/``None``-default parameter of a public package
function must be set by some non-test call, or be listed in
``KEEP_OPTIONS`` with the reason it stays. No Spark session is needed."""

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


# Options (parameters defaulting to True, False or None) that no engine
# caller sets and that stay, each with the reason.
KEEP_OPTIONS = {
    ("get_spark", "master"): "a deployment setting",
    ("read_snapshot", "version"): "time travel to a committed version is "
    "how a reader recovers the state before a drop",
    ("drop_partitions", "missing_ok"): "the check on partition names the "
    "caller supplies",
    ("packing_budget_sweep", "tokens_col"): "shares `pack_sequences`' "
    "precomputed-count path, which the engine sets; the accounting "
    "property test drives arbitrary counts through it",
    **{
        (fn, "max_doc_freq"): "the stop-shingle cap the shingle-join family "
        "shares (the engine sets it on minhash_lsh_pairs, ngram_overlap_pairs, "
        "winnow_pairs and tfidf_cosine_pairs); a default-on cap changes "
        "answers above 10k documents (ROADMAP item 6)"
        for fn in (
            "shingle_sets",
            "jaccard_pairs",
            "cross_jaccard_pairs",
            "exact_substring_spans",
            "dedup_incremental",
            "corpus_funnel",
            "pretrain_corpus",
        )
    },
}

_SWITCH_DEFAULTS = (True, False, None)


def _is_switch(node) -> bool:
    return isinstance(node, ast.Constant) and any(
        node.value is v for v in _SWITCH_DEFAULTS
    )


def _defaults(fn) -> tuple[list[str], dict[str, ast.AST]]:
    """(positional parameter names, name -> default node)."""
    a = fn.args
    pos = a.posonlyargs + a.args
    out = {p.arg: d for p, d in zip(pos[len(pos) - len(a.defaults) :], a.defaults)}
    out |= {p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None}
    return [p.arg for p in pos], out


def package_options() -> set[tuple[str, str]]:
    """(function, parameter) for every public top-level package function
    parameter whose default is True, False or None and which the body
    reads. A ``dict``-annotated parameter carries data (extra settings, a
    result sink), not a switch, and is not an option."""
    options = set()
    for path in sorted(glob.glob(os.path.join(PKG_DIR, "**", "*.py"), recursive=True)):
        for fn in _parse(path).body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            reads = {
                n.id
                for n in ast.walk(fn)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
            }
            annotations = {
                p.arg: ast.unparse(p.annotation)
                for p in fn.args.posonlyargs + fn.args.args + fn.args.kwonlyargs
                if p.annotation is not None
            }
            for name, default in _defaults(fn)[1].items():
                if (
                    _is_switch(default)
                    and name in reads
                    and "dict" not in annotations.get(name, "")
                ):
                    options.add((fn.name, name))
    return options


def options_set_by_engine() -> set[tuple[str, str]]:
    """(function, parameter) pairs some non-test call passes a value other
    than the default literal. Calls match definitions by bare name. A
    pass-through ``f(x=x)`` of an enclosing function's parameter with the
    same default sets ``f``'s ``x`` only once the outer ``x`` is set;
    that rule is iterated to a fixpoint."""
    files = sorted(
        set(glob.glob(os.path.join(PKG_DIR, "**", "*.py"), recursive=True))
        | set(ROOT_FILES)
    )
    trees = [_parse(path) for path in files]
    signatures: dict[str, list] = {}
    for tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                signatures.setdefault(node.name, []).append(_defaults(node))
    direct: set[tuple[str, str]] = set()
    through: list[tuple[tuple[str, str], tuple[str, str]]] = []

    def visit(node, enclosing):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            enclosing = [*enclosing, node]
        if isinstance(node, ast.Call):
            f = node.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            for pos, defaults in signatures.get(name, ()):
                passed = [(k.arg, k.value) for k in node.keywords if k.arg]
                passed += [
                    (pos[i], v)
                    for i, v in enumerate(node.args[: len(pos)])
                    if not isinstance(v, ast.Starred)
                ]
                for param, value in passed:
                    default = defaults.get(param)
                    if not _is_switch(default):
                        continue
                    if _is_switch(value) and value.value is default.value:
                        continue
                    if isinstance(value, ast.Name):
                        outer = next(
                            (
                                fn
                                for fn in reversed(enclosing)
                                if value.id in _defaults(fn)[1]
                            ),
                            None,
                        )
                        outer_default = outer and _defaults(outer)[1][value.id]
                        if _is_switch(outer_default) and (
                            outer_default.value is default.value
                        ):
                            through.append(((outer.name, value.id), (name, param)))
                            continue
                    direct.add((name, param))
        for child in ast.iter_child_nodes(node):
            visit(child, enclosing)

    for tree in trees:
        visit(tree, [])
    changed = True
    while changed:
        changed = False
        for outer, inner in through:
            if outer in direct and inner not in direct:
                direct.add(inner)
                changed = True
    return direct


def test_every_option_is_set_by_the_engine():
    """An option nothing sets doubles the configurations tests must cover
    while only its default path ever runs: delete it with the branch it
    selects, or add it to KEEP_OPTIONS with a reason."""
    options = package_options()
    engine_set = options_set_by_engine()
    unset = sorted(options - engine_set - set(KEEP_OPTIONS))
    assert not unset, (
        "options no engine caller sets (delete each with its branch, or "
        f"add it to KEEP_OPTIONS with a reason): {unset}"
    )
    missing = sorted(set(KEEP_OPTIONS) - options)
    assert not missing, f"KEEP_OPTIONS names no package option: {missing}"
    now_set = sorted(set(KEEP_OPTIONS) & engine_set)
    assert not now_set, f"KEEP_OPTIONS entries the engine now sets: {now_set}"
