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


MERGE = ENGINE / "operators" / "merge.py"
MAX_MERGE_FUNCTION_LINES = 120


def test_merge_functions_stay_short():
    """No function in the merge module spans more than 120 lines: an epoch
    is split into plan, apply and commit stages, and this keeps any one of
    them from growing back into the whole epoch."""
    tree = ast.parse(MERGE.read_text(), filename=str(MERGE))
    long_fns = [
        f"{node.name}:{node.lineno} ({node.end_lineno - node.lineno + 1} lines)"
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.end_lineno - node.lineno + 1 > MAX_MERGE_FUNCTION_LINES
    ]
    assert not long_fns, f"functions over {MAX_MERGE_FUNCTION_LINES} lines in {MERGE.name}: {long_fns}"
