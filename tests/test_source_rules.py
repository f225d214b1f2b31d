"""Source rules checked by reading the engine's code, not by running it.

Engine invariants are raised as exceptions, never checked with ``assert``:
``python -O`` strips asserts, so an assert-guarded invariant silently stops
guarding. ``etl_spark/oracle.py`` is exempt — it is the state-comparison
helper the tests call, where an assert IS the failure report.
"""

from __future__ import annotations

import ast
import pathlib

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "etl_spark"
EXEMPT = {ENGINE / "oracle.py"}


def test_engine_code_has_no_bare_assert():
    found = [
        f"{path.relative_to(ENGINE.parent)}:{node.lineno}"
        for path in sorted(ENGINE.rglob("*.py"))
        if path not in EXEMPT
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path)))
        if isinstance(node, ast.Assert)
    ]
    assert not found, f"assert statements in engine code (raise an exception instead): {found}"


MAX_FUNCTION_LINES = 120


def _long_functions(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        f"{node.name}:{node.lineno} ({node.end_lineno - node.lineno + 1} lines)"
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.end_lineno - node.lineno + 1 > MAX_FUNCTION_LINES
    ]


def test_merge_functions_stay_short():
    """No function in the merge module spans more than 120 lines: an epoch
    is split into plan, apply and commit stages, and this keeps any one of
    them from growing back into the whole epoch."""
    long_fns = _long_functions(ENGINE / "operators" / "merge.py")
    assert not long_fns, f"functions over {MAX_FUNCTION_LINES} lines in merge.py: {long_fns}"


def test_maintenance_functions_stay_short():
    """No function in the maintenance module spans more than 120 lines:
    every rewrite commits through one ``_rewrite``, and a staged layout
    migration runs its begin and stage commits in one retry loop."""
    long_fns = _long_functions(ENGINE / "table" / "maintenance.py")
    assert not long_fns, f"functions over {MAX_FUNCTION_LINES} lines in maintenance.py: {long_fns}"
