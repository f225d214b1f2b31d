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


# Every broadcast hint in the engine, by (module, enclosing function), with
# the bound that keeps its side small. A side that grows with the corpus
# carries no hint: AQE picks the join from measured sizes.
ALLOWED_BROADCAST_SITES = {
    # the resolve's batch-sized narrow sides, under MAX_BROADCAST_ROWS
    ("operators/merge.py", "_resolve_spark"),
    # the centroid set: n_cells rows
    ("operators/similarity.py", "_assign_cells"),
    # per-range-partition offsets: one row per partition
    ("functions/tokens.py", "distributed_sorted_rank"),
    ("functions/tokens.py", "pack_sequences"),
    # the manifest's per-file stats and commit orders: one row per file
    ("table/table.py", "touched_files"),
    ("table/table.py", "_with_file_seq"),
    # the MoR mask, under MASK_BROADCAST_MAX_ROWS
    ("table/table.py", "_apply_mor_masks"),
}


def _broadcast_sites(path: pathlib.Path) -> set[tuple[str, str]]:
    """(module, enclosing function) of every ``F.broadcast`` reference and
    every ``.hint(...)`` call in one module."""
    rel = str(path.relative_to(ENGINE))
    sites = set()

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        broadcast = (
            isinstance(node, ast.Attribute) and node.attr == "broadcast" and getattr(node.value, "id", None) == "F"
        )
        hint = isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.func.attr == "hint"
        if broadcast or hint:
            sites.add((rel, fn))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(ast.parse(path.read_text(), filename=str(path)), "<module>")
    return sites


def test_broadcast_hints_only_at_listed_sites():
    """No broadcast hint outside ``ALLOWED_BROADCAST_SITES``, and every
    listed site still hints (a removed hint leaves the list)."""
    found = set().union(*(_broadcast_sites(p) for p in sorted(ENGINE.rglob("*.py"))))
    assert found == ALLOWED_BROADCAST_SITES, (
        f"unlisted hints: {sorted(found - ALLOWED_BROADCAST_SITES)}; "
        f"listed sites without one: {sorted(ALLOWED_BROADCAST_SITES - found)}"
    )
