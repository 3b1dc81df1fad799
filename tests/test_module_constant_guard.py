"""No module-level constant in ``queries/`` may be assigned twice.

The round-8 incident: ``multimodal_queries.py`` defined ``_N_VID = 100``
for mm2, then a later commit added a second ``_N_VID = 10`` fixture for
mm9. Oracle SQL f-strings bind module constants at *decoration* time
(mm2's oracle kept 100), but query bodies read the global at *call*
time (mm2's fixture silently shrank to 10 rows) — a deterministic
spark-vs-oracle divergence that only the graded compare catches.

This guard makes the class structurally impossible: walk every module
under ``queries/`` with ``ast`` and assert no top-level name is bound
by more than one plain assignment. Scoped to simple ``NAME = ...`` /
``NAME: T = ...`` statements at module body level; only ``Name``
targets count, so ``fn.__doc__ = fn.__doc__.format(...)`` binds
nothing. Imports and ``__dunder__`` names are exempt (re-exports and
``__all__`` manipulation are legitimate).

Helpers get the same guard: a top-level ``def``/``class`` name bound
twice, or bound by both a ``def`` and a plain assignment, fails. A
rebound helper silently changes every earlier query that calls it —
e.g. ``similarity._dot`` (double fold) and ``semantic_dedup._dot``
(long fold) would clash if their modules were merged.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

QUERIES_DIR = (
    Path(__file__).resolve().parent.parent
    / "big_data_analytics_spark" / "queries"
)
MODULES = sorted(QUERIES_DIR.glob("*.py"))

# Round-split modules that were merged verbatim into their family
# module. Each keeps its own guard id, which now checks the family
# module that holds its code.
MERGED_INTO = {
    "funcs2": "scalar_funcs",
    "relational2": "relational",
    "sampling2": "sampling",
    "scalar_funcs2": "scalar_funcs",
    "text2": "text",
    "text3": "text",
    "text4": "text",
    "text5": "text",
    "text6": "text",
    "timeseries2": "timeseries_queries",
    "tpch_extra2": "tpch_extra",
    "tpch_extra3": "tpch_extra",
    "windows2": "windows",
}
CONSTANT_GUARD_CASES = sorted(
    [(p.stem, p) for p in MODULES]
    + [(old, QUERIES_DIR / f"{new}.py") for old, new in MERGED_INTO.items()]
)


def _bound_names(target: ast.expr) -> list[str]:
    if isinstance(target, ast.Name):
        return [target.id]
    if isinstance(target, (ast.Tuple, ast.List)):
        return [n for elt in target.elts for n in _bound_names(elt)]
    if isinstance(target, ast.Starred):
        return _bound_names(target.value)
    return []


def _toplevel_assigned_names(tree: ast.Module) -> list[str]:
    names: list[str] = []
    for node in tree.body:
        targets: list[ast.expr] = []
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets = [node.target]
        for t in targets:
            names += [n for n in _bound_names(t) if not n.startswith("__")]
    return names


def _toplevel_defined_names(tree: ast.Module) -> list[str]:
    defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    return [node.name for node in tree.body if isinstance(node, defs)]


def test_query_modules_exist():
    assert MODULES, f"no modules found under {QUERIES_DIR}"


@pytest.mark.parametrize(
    "stem, path", CONSTANT_GUARD_CASES,
    ids=[stem for stem, _ in CONSTANT_GUARD_CASES],
)
def test_no_duplicate_module_level_constant(stem, path):
    if stem in MERGED_INTO:
        assert not (QUERIES_DIR / f"{stem}.py").exists(), (
            f"{stem}.py is merged into {path.name}; a second copy "
            "beside it would register its queries twice"
        )
    tree = ast.parse(path.read_text(), filename=str(path))
    names = _toplevel_assigned_names(tree)
    dupes = sorted({n for n in names if names.count(n) > 1})
    assert not dupes, (
        f"{path.name} assigns module-level name(s) {dupes} more than "
        "once; oracle f-strings bind constants at decoration time while "
        "query bodies read them at call time, so a rebind silently "
        "diverges spark from oracle (the mm2/_N_VID incident) — rename "
        "the later constant"
    )


@pytest.mark.parametrize("path", MODULES, ids=lambda p: p.stem)
def test_no_rebound_module_level_definition(path):
    tree = ast.parse(path.read_text(), filename=str(path))
    defs = _toplevel_defined_names(tree)
    assigned = set(_toplevel_assigned_names(tree))
    dupes = sorted({n for n in defs if defs.count(n) > 1 or n in assigned})
    assert not dupes, (
        f"{path.name} binds def/class name(s) {dupes} more than once "
        "(def twice, or def plus assignment); the last binding silently "
        "replaces the helper for every earlier query that calls it — "
        "rename one of them"
    )
