"""Expected table state by a DuckDB last-writer-wins fold of the generated
feed, and a row-exact comparison against the engine's state in both
directions. Independent of the engine's own code."""

from __future__ import annotations

import duckdb
import pyarrow as pa

STATE_COLS = ("doc_id", "tokens", "n_tok", "source", "_commit_lsn", "_op_seq")


def lww_fold(events: list[pa.Table]) -> pa.Table:
    """Live rows after folding every event by ``(commit_lsn, op_seq)``:
    the last event per key wins, a winning tombstone deletes the key."""
    feed = pa.concat_tables(events)  # noqa: F841 (read by DuckDB by name)
    with duckdb.connect() as con:
        return con.execute(
            """
            SELECT doc_id, tokens, n_tok, source,
                   commit_lsn AS _commit_lsn, op_seq AS _op_seq
            FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                               ORDER BY commit_lsn DESC, op_seq DESC) AS rn
                  FROM feed)
            WHERE rn = 1 AND op <> 'D'
            ORDER BY doc_id
            """
        ).arrow()


def mismatches(actual: pa.Table, expected: pa.Table) -> tuple[int, int]:
    """(rows of the engine missing from the expected state, rows of the
    expected state missing from the engine), as multisets over every
    column of STATE_COLS."""
    cols = ", ".join(STATE_COLS)
    act = actual.select(list(STATE_COLS))  # noqa: F841
    exp = expected.select(list(STATE_COLS))  # noqa: F841
    with duckdb.connect() as con:
        extra = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM act EXCEPT ALL SELECT {cols} FROM exp)"
        ).fetchone()[0]
        missing = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM exp EXCEPT ALL SELECT {cols} FROM act)"
        ).fetchone()[0]
    return extra, missing


def rows_by_key(state: pa.Table, keys: list[str]) -> dict[str, tuple | None]:
    """The expected public row ``(doc_id, tokens, n_tok, source)`` of each
    key, or None where the key is not live."""
    wanted = pa.table({"k": keys})  # noqa: F841
    with duckdb.connect() as con:
        found = {
            r[0]: r
            for r in con.execute(
                "SELECT doc_id, tokens, n_tok, source FROM state JOIN wanted ON doc_id = k"
            ).fetchall()
        }
    return {k: found.get(k) for k in keys}


def token_total(state: pa.Table) -> int:
    with duckdb.connect() as con:
        return con.execute("SELECT coalesce(sum(len(tokens)), 0) FROM state").fetchone()[0]
