"""Seeded change-feed generator for the benchmark.

The feed is made in this process with numpy, never by the engine: the engine
only receives the files written here. The mix follows the repository's
datagen defaults (FIXTURES.md section 1): power-law key skew, 10% of events
delivered out of commit order, 5% exact re-deliveries, 5% tombstones, and
4-128 tokens per event. The same spec gives the same feed, byte for byte.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = np.array(["web", "books", "code", "wiki"])

FEED_ARROW_SCHEMA = pa.schema(
    [
        pa.field("commit_lsn", pa.int64(), nullable=False),
        pa.field("op_seq", pa.int32(), nullable=False),
        pa.field("op", pa.string(), nullable=False),
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("tokens", pa.list_(pa.field("element", pa.int32(), nullable=False))),
        pa.field("n_tok", pa.int32()),
        pa.field("source", pa.string()),
    ]
)

# Debezium op code per engine op (the inverse of streaming/formats.py).
_DEBEZIUM_OP = {"I": "c", "U": "u", "D": "d"}

# Malformed Debezium lines injected into the streaming feed, one kind each:
# unparseable JSON, an op the normalizer does not know, and a null WAL
# position. The normalizer must drop every one of them.
BAD_LINES = (
    '{"op": "u", "after": {"doc_id": "doc_broken"',
    '{"op": "x", "before": null, "after": {"doc_id": "doc_badop", "tokens": [1], "n_tok": 1,'
    ' "source": "web"}, "source": {"lsn": 1, "seq": 0}}',
    '{"op": "u", "before": null, "after": {"doc_id": "doc_nolsn", "tokens": [1], "n_tok": 1,'
    ' "source": "web"}, "source": {"lsn": null, "seq": 0}}',
)


@dataclass(frozen=True)
class FeedSpec:
    n_events: int
    n_keys: int
    seed: int
    lsn_offset: int = 0
    skew: float = 2.0
    ooo_frac: float = 0.10
    ooo_window: int = 500
    dup_frac: float = 0.05
    tombstone_frac: float = 0.05
    min_tokens: int = 4
    max_tokens: int = 128
    vocab: int = 32_000


def generate(spec: FeedSpec) -> pa.Table:
    """The change feed in delivery order (duplicates included)."""
    s = spec
    rng = np.random.default_rng([s.seed, s.lsn_offset, s.n_events])
    eid = np.arange(s.n_events, dtype=np.int64)
    commit_lsn = eid // 2 + 1 + s.lsn_offset
    op_seq = (eid % 2).astype(np.int32)
    key_id = np.floor(rng.random(s.n_events) ** s.skew * s.n_keys).astype(np.int64)
    u_op = rng.random(s.n_events)
    op = np.where(u_op < s.tombstone_frac, "D", np.where(u_op < s.tombstone_frac + 0.3, "I", "U"))
    n_tok = rng.integers(s.min_tokens, s.max_tokens + 1, s.n_events).astype(np.int32)
    is_del = op == "D"
    n_tok[is_del] = 0
    source = SOURCES[rng.integers(0, len(SOURCES), s.n_events)]

    jitter = rng.integers(-s.ooo_window, s.ooo_window + 1, s.n_events)
    late = rng.random(s.n_events) < s.ooo_frac
    pos = np.where(late, np.maximum(0, eid + jitter), eid)
    dup = np.flatnonzero(rng.random(s.n_events) < s.dup_frac)
    rows = np.concatenate([eid, dup])
    pos = np.concatenate([pos, pos[dup] + s.ooo_window])
    order = rows[np.argsort(pos, kind="stable")]

    offsets = np.zeros(s.n_events + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offsets[1:])
    values = rng.integers(0, s.vocab, int(offsets[-1])).astype(np.int32)
    # gather each delivered row's token slice
    n_out = n_tok[order]
    out_offsets = np.zeros(len(order) + 1, dtype=np.int32)
    np.cumsum(n_out, out=out_offsets[1:])
    starts = offsets[order]
    gather = np.repeat(starts - out_offsets[:-1], n_out) + np.arange(out_offsets[-1])
    del_mask = is_del[order]
    tokens = pa.ListArray.from_arrays(
        pa.array(out_offsets),
        pa.array(values[gather]),
        type=FEED_ARROW_SCHEMA.field("tokens").type,
        mask=pa.array(del_mask),
    )
    doc_ids = np.char.add("doc_", np.char.zfill(key_id[order].astype(str), 8))
    return pa.table(
        [
            pa.array(commit_lsn[order]),
            pa.array(op_seq[order]),
            pa.array(op[order]),
            pa.array(doc_ids),
            tokens,
            pa.array(n_out, mask=del_mask),
            pa.array(source[order], mask=del_mask),
        ],
        schema=FEED_ARROW_SCHEMA,
    )


def split(feed: pa.Table, n_parts: int) -> list[pa.Table]:
    """Contiguous delivery-order slices of near-equal size."""
    bounds = np.linspace(0, feed.num_rows, n_parts + 1).astype(int)
    return [feed.slice(lo, hi - lo) for lo, hi in zip(bounds[:-1], bounds[1:])]


def write_parquet(part: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(part, path)
    return path


def debezium_lines(part: pa.Table) -> list[str]:
    """One Debezium envelope per event, the shape streaming/formats.py reads."""
    lines = []
    for r in part.to_pylist():
        row = {"doc_id": r["doc_id"], "tokens": r["tokens"], "n_tok": r["n_tok"], "source": r["source"]}
        deleted = r["op"] == "D"
        lines.append(
            json.dumps(
                {
                    "op": _DEBEZIUM_OP[r["op"]],
                    "before": row if deleted else None,
                    "after": None if deleted else row,
                    "source": {"lsn": r["commit_lsn"], "seq": r["op_seq"]},
                },
                separators=(",", ":"),
            )
        )
    return lines


def is_bad_file(k: int, bad_every: int) -> bool:
    """Whether the k-th Debezium file carries the BAD_LINES."""
    return bool(bad_every) and k % bad_every == bad_every - 1


def write_debezium_files(parts: list[pa.Table], root: str, bad_every: int) -> None:
    """Write each part as ``root/lsn_bucket=k/part-0.txt`` with strictly
    increasing modification times, so the file source takes them in order.
    Every ``bad_every``-th file gets the BAD_LINES appended."""
    for k, part in enumerate(parts):
        lines = debezium_lines(part)
        if is_bad_file(k, bad_every):
            lines.extend(BAD_LINES)
        d = os.path.join(root, f"lsn_bucket={k}")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "part-0.txt")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(path, (1_600_000_000 + k, 1_600_000_000 + k))
