"""Seeded changelog generator for the workloads.

The benchmark owns its inputs: everything here is numpy + pyarrow, so a
change to the engine (including ``dvx/changelog.py``) cannot change the
workload. The same ``seed`` gives byte-identical files. Event counts are
fixed per workload (only which keys, texts and orderings get picked
depends on the seed), so run time does not drift with the seed.

Event envelope = the engine's changelog contract
(seq, op, conv_id, turn_idx, role, text, tool, ts).

Traffic dimensions a workload sets:

- batch size (events per file; one file = one micro-batch),
- update / new-key / redelivery / delete / stale shares,
- hot-key skew (Zipf over conversations),
- vault size relative to the vault's ``num_buckets``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000
ROLES = ("user", "assistant", "system", "tool")

SCHEMA = pa.schema(
    [
        pa.field("seq", pa.int64(), nullable=False),
        pa.field("op", pa.string(), nullable=False),
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
    ]
)


@dataclass
class _Key:
    """Generator-side state of one (conv, turn) key."""

    base_us: int  # insert time, microseconds since T0
    role: str
    text: str
    tool: str | None
    version: int = 0  # day offset of the newest version
    deleted: bool = False
    stale_done: bool = False
    last: tuple | None = None  # newest event emitted for the key


@dataclass
class Changelog:
    """Events in emission order, grouped into micro-batch files."""

    rng: np.random.Generator
    keys: dict[tuple[int, int], _Key] = field(default_factory=dict)
    turns: dict[int, int] = field(default_factory=dict)  # conv -> n turns
    files: list[list[tuple]] = field(default_factory=list)
    next_seq: int = 1
    next_conv: int = 0

    # -- event constructors -------------------------------------------
    def _emit(self, op, conv, turn, k: _Key, text, tool, ts_us) -> tuple:
        row = (
            self.next_seq, op, f"conv-{conv:07d}", turn, k.role, text, tool,
            int(ts_us),
        )
        self.next_seq += 1
        if k.last is None or row[7] > k.last[7]:
            k.last = row
        return row

    def _text(self, conv: int, turn: int) -> str:
        n = int(self.rng.integers(6, 31))
        words = self.rng.integers(0, 400, n)
        return f"turn {turn} of conversation {conv} :: " + " ".join(
            f"w{w}" for w in words
        )

    def new_conversation(self, n_turns: int) -> list[tuple]:
        conv = self.next_conv
        self.next_conv += 1
        self.turns[conv] = n_turns
        out = []
        for t in range(n_turns):
            tool = (
                f"tool-{int(self.rng.integers(0, 5))}"
                if self.rng.random() < 0.3
                else None
            )
            k = _Key(
                base_us=conv * 3_600_000_000 + t * 60_000_000,
                role=ROLES[t % 4],
                text=self._text(conv, t),
                tool=tool,
            )
            self.keys[(conv, t)] = k
            out.append(self._emit("I", conv, t, k, k.text, k.tool, k.base_us))
        return out

    def update(self, key: tuple[int, int]) -> tuple:
        k = self.keys[key]
        k.version += 1
        return self._emit(
            "U", *key, k, f"{k.text} [edit {k.version}]", "editor",
            k.base_us + k.version * DAY_US,
        )

    def delete(self, key: tuple[int, int]) -> tuple:
        k = self.keys[key]
        k.version += 1
        k.deleted = True
        return self._emit("D", *key, k, None, None, k.base_us + k.version * DAY_US)

    def stale(self, key: tuple[int, int]) -> tuple:
        """An edit whose event time falls between the key's last two
        versions, delivered after both (out of order)."""
        k = self.keys[key]
        k.stale_done = True
        ts = k.base_us + k.version * DAY_US - DAY_US // 2
        return self._emit("U", *key, k, f"{k.text} [late edit]", "editor", ts)

    # -- key pickers ------------------------------------------------------
    def zipf_convs(self, convs: np.ndarray, n: int, a: float) -> np.ndarray:
        """``n`` conversation draws, Zipf(a)-skewed over a seeded ranking."""
        ranked = self.rng.permutation(convs)
        w = 1.0 / np.arange(1, len(ranked) + 1) ** a
        return ranked[self.rng.choice(len(ranked), size=n, p=w / w.sum())]

    def live_turn(self, conv: int) -> tuple[int, int] | None:
        """A random not-deleted turn of ``conv``, or None."""
        live = [t for t in range(self.turns[conv]) if not self.keys[(conv, t)].deleted]
        return (conv, int(self.rng.choice(live))) if live else None


def _turn_counts(rng: np.random.Generator, n_convs: int, hot: int) -> list[int]:
    """Fixed multiset of conversation lengths (4..30 turns, plus ``hot``
    conversations of 120 turns), in seeded order: totals never vary with
    the seed."""
    base = np.linspace(4, 30, n_convs - hot).round().astype(int).tolist()
    return [int(x) for x in rng.permutation(base + [120] * hot)]


def _bulk_file(cl: Changelog, n_convs: int, carry_frac: float) -> list[tuple]:
    """One backfill-shaped file: ``n_convs`` new conversations (two of
    them 120-turn hot ones), 18% in-batch updates (Zipf-hot),
    ``carry_frac`` edits of earlier files' conversations (Zipf-hot), 1%
    deletes and 2% in-batch exact redeliveries. No stale events."""
    rows: list[tuple] = []
    first = cl.next_conv
    for n in _turn_counts(cl.rng, n_convs, hot=2):
        rows += cl.new_conversation(n)
    convs = np.arange(first, cl.next_conv)
    n_carry = int(len(rows) * carry_frac) if first else 0
    picks = [
        *cl.zipf_convs(convs, int(len(rows) * 0.18), 1.1),
        *(cl.zipf_convs(np.arange(first), n_carry, 1.1) if n_carry else []),
    ]
    for conv in picks:
        key = cl.live_turn(int(conv))
        if key is not None:
            rows.append(cl.update(key))
    for conv in cl.rng.choice(convs, size=int(len(rows) * 0.01), replace=False):
        key = cl.live_turn(int(conv))
        if key is not None:
            rows.append(cl.delete(key))
    n_dup = int(len(rows) * 0.02)
    rows += [rows[i] for i in cl.rng.choice(len(rows), size=n_dup, replace=False)]
    return rows


def backfill(seed: int, n_files: int, convs_per_file: int) -> Changelog:
    """Empty vault, a few large micro-batches (:func:`_bulk_file`); every
    file after the first also edits 3% of earlier files' hot
    conversations."""
    cl = Changelog(np.random.default_rng(seed))
    for _ in range(n_files):
        cl.files.append(_bulk_file(cl, convs_per_file, carry_frac=0.03))
    return cl


def trickle(seed: int, preload_convs: int, n_files: int,
            events_per_file: int) -> Changelog:
    """One backfill-shaped preload file, then ``n_files`` small files of
    ``events_per_file`` events each: ~15% new conversations, ~3%
    deletes, ~7% exact redeliveries (at-least-once retries: copies of a
    hot conversation's newest event), the rest updates of existing turns
    (Zipf(1.6)-hot conversations); small batches 1, 4, 7, ... also carry
    ~5% stale (out-of-order) edits."""
    cl = Changelog(np.random.default_rng(seed))
    cl.files.append(_bulk_file(cl, preload_convs, carry_frac=0.0))
    old = np.arange(cl.next_conv)
    for i in range(n_files):
        rows: list[tuple] = []
        while sum(1 for r in rows if r[1] == "I") < int(events_per_file * 0.15):
            rows += cl.new_conversation(int(cl.rng.integers(2, 8)))
        for conv in cl.rng.choice(old, size=int(events_per_file * 0.03),
                                  replace=False):
            key = cl.live_turn(int(conv))
            if key is not None:
                rows.append(cl.delete(key))
        if i % 3 == 0:
            cands = sorted(
                key for key, k in cl.keys.items()
                if k.version >= 1 and not k.deleted and not k.stale_done
            )
            n_stale = min(int(events_per_file * 0.05), len(cands))
            for j in cl.rng.choice(len(cands), size=n_stale, replace=False):
                rows.append(cl.stale(cands[int(j)]))
        hot = cl.zipf_convs(old, events_per_file * 4, 1.6)
        # retries hit the keys that are being written: hot conversations
        for conv in hot[-int(events_per_file * 0.07):]:
            key = (int(conv), 0)
            rows.append(cl.keys[key].last)
        for conv in hot:
            if len(rows) >= events_per_file:
                break
            key = cl.live_turn(int(conv))
            if key is not None:
                rows.append(cl.update(key))
        cl.files.append(rows)
    return cl


def write(cl: Changelog, out_dir: str) -> list[str]:
    """Write every file of ``cl`` as parquet under ``out_dir``, stamping
    strictly increasing mtimes (the file source orders a directory by
    mtime, so batch order is the file order)."""
    import time

    os.makedirs(out_dir, exist_ok=True)
    mtime0 = time.time() - 3600
    paths = []
    for i, rows in enumerate(cl.files):
        cols = list(zip(*sorted(rows, key=lambda r: r[0])))
        ts = T0 + np.array(cols[7], dtype="timedelta64[us]")
        table = pa.table(
            [
                pa.array(cols[0], pa.int64()),
                pa.array(cols[1], pa.string()),
                pa.array(cols[2], pa.string()),
                pa.array(cols[3], pa.int32()),
                pa.array(cols[4], pa.string()),
                pa.array(cols[5], pa.string()),
                pa.array(cols[6], pa.string()),
                pa.array(ts, pa.timestamp("us", tz="UTC")),
            ],
            schema=SCHEMA,
        )
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table, path, compression="snappy")
        os.utime(path, (mtime0 + 2 * i, mtime0 + 2 * i))
        paths.append(path)
    return paths
