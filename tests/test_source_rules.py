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
