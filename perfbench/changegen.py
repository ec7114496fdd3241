"""Seeded change stream for the replication benchmark, and the model of
what replicating it must produce.

The generator plays the source database: it keeps each table's live
rows, and every transaction it emits is a list of pgoutput v1 frames
(Begin, Insert / Update with a REPLICA IDENTITY FULL old tuple /
Delete, Commit) built with the encoders of ``cdc.typed_query``. Keys
are skewed toward the oldest live keys, so updates and deletes hit a
hot set repeatedly and a table accumulates several versions of one key
inside a pass.

The model never looks at the frames or at anything the program
produces: it folds the generator's own list of logical changes in
plain Python into each engine's expected final state and each table's
expected multiset of delta rows.
"""

from __future__ import annotations

import os
import random
from collections import Counter
from dataclasses import dataclass

from pg2ch_spark.cdc.typed_query import (
    begin_frame,
    commit_frame,
    delete_frame,
    insert_frame,
    relation_frame,
    update_frame,
)


@dataclass(frozen=True)
class Table:
    name: str
    engine: str
    n_buckets: int
    oid: int


# One table per sink family of the pipeline.
TABLES = (
    Table("t_replacing", "ReplacingMergeTree", 0, 16401),
    Table("t_bucketed", "ReplacingMergeTree", 16, 16402),
    Table("t_collapsing", "CollapsingMergeTree", 0, 16403),
    Table("t_append", "MergeTree", 0, 16404),
)

# int8 key (part of the replica identity), float8 value
WIRE_COLS = [(1, "key", 20), (0, "value", 701)]

PRELOAD_LSN = 1 << 32


def ver(lsn: int, seq: int) -> int:
    """The version the decoder stamps on a change (CdcRow.scalar_ver),
    restated here so the model does not import the program's copy."""
    return (lsn << 20) | seq


@dataclass
class Change:
    """One logical change: a delta row of the normalized CDC shape."""

    table: str
    key: int
    ver: int
    op: str  # 'I' | 'U' | 'D'
    value: float | None


class ChangeStream:
    """The source database and its WAL, driven by one seed."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.lsn = PRELOAD_LSN + (1 << 16)
        self.xid = 1000
        # per table: live key -> value, and the live keys as a list so
        # a skewed draw by index is O(1)
        self.live: dict[str, dict[int, float]] = {t.name: {} for t in TABLES}
        self.order: dict[str, list[int]] = {t.name: [] for t in TABLES}
        self.pos: dict[str, dict[int, int]] = {t.name: {} for t in TABLES}
        self.next_key = {t.name: 0 for t in TABLES}

    def _value(self) -> float:
        return round(self.rng.uniform(0, 100_000), 2)

    def _add(self, table: str, key: int, value: float) -> None:
        self.live[table][key] = value
        self.pos[table][key] = len(self.order[table])
        self.order[table].append(key)

    def _remove(self, table: str, key: int) -> None:
        order, pos = self.order[table], self.pos[table]
        i = pos.pop(key)
        last = order.pop()
        if last != key:
            order[i] = last
            pos[last] = i
        del self.live[table][key]

    def preload(self, n_keys: int) -> dict[str, list[Change]]:
        """The initial table contents: ``n_keys`` inserts per table, all
        stamped inside one snapshot LSN (the bootstrap copy)."""
        out = {}
        for t in TABLES:
            rows = []
            for i in range(n_keys):
                key = self.next_key[t.name]
                self.next_key[t.name] += 1
                value = self._value()
                self._add(t.name, key, value)
                rows.append(Change(t.name, key, ver(PRELOAD_LSN, i), "I", value))
            out[t.name] = rows
        return out

    def transaction(self, rows_per_table: int) -> tuple[list[bytes], list[Change]]:
        """One committed transaction touching every table: its frames
        and its logical changes (in commit order)."""
        self.lsn += 1 << 12
        self.xid += 1
        lsn, seq = self.lsn, 0
        frames = [begin_frame(lsn, self.xid)]
        changes = []
        for t in TABLES:
            live, order = self.live[t.name], self.order[t.name]
            for _ in range(rows_per_table):
                r = self.rng.random()
                if not order or r < 0.4:
                    key = self.next_key[t.name]
                    self.next_key[t.name] += 1
                    value = self._value()
                    self._add(t.name, key, value)
                    frames.append(insert_frame(t.oid, (key, repr(value))))
                    op = "I"
                else:
                    # skewed toward the front of the live list
                    key = order[int(len(order) * self.rng.random() ** 3)]
                    old = live[key]
                    if r < 0.85:
                        value = self._value()
                        live[key] = value
                        frames.append(
                            update_frame(t.oid, (key, repr(value)), (key, repr(old)))
                        )
                        op = "U"
                    else:
                        value = None
                        self._remove(t.name, key)
                        frames.append(delete_frame(t.oid, (key, None)))
                        op = "D"
                changes.append(Change(t.name, key, ver(lsn, seq), op, value))
                seq += 1
        frames.append(commit_frame(lsn))
        return frames, changes

    @staticmethod
    def relation_frames() -> list[bytes]:
        """The Relation preamble a walsender session opens with."""
        return [relation_frame(t.oid, t.name, WIRE_COLS) for t in TABLES]


def write_preload(spool_dir: str, preload: dict[str, list[Change]]) -> None:
    """Land the bootstrap copy as one file per table in the routed spool
    layout (``<spool>/<table>/<table>-<lsn>.parquet``) — what a snapshot
    handoff leaves before streaming starts. Written here with pyarrow so
    that set-up does not run the decoder the workloads measure."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("table", pa.string()),
            ("key", pa.int64()),
            ("ver", pa.int64()),
            ("op", pa.string()),
            ("value", pa.float64()),
        ]
    )
    for table, rows in preload.items():
        d = os.path.join(spool_dir, table)
        os.makedirs(d, exist_ok=True)
        cols = {
            "table": [table] * len(rows),
            "key": [c.key for c in rows],
            "ver": [c.ver for c in rows],
            "op": [c.op for c in rows],
            "value": [c.value for c in rows],
        }
        pq.write_table(
            pa.table(cols, schema=schema),
            os.path.join(d, f"{table}-{PRELOAD_LSN:016x}.parquet"),
        )


class Model:
    """Plain-Python fold of the generated changes."""

    def __init__(self):
        self.rows: dict[str, list[Change]] = {t.name: [] for t in TABLES}

    def add(self, changes) -> None:
        for c in changes:
            self.rows[c.table].append(c)

    def delta_rows(self, table: str) -> Counter:
        """Every delta row the table must post, as a multiset of
        (key, ver, op, value)."""
        return Counter((c.key, c.ver, c.op, c.value) for c in self.rows[table])

    def replacing(self, table: str) -> set:
        """ReplacingMergeTree: the argmax-by-version row per key,
        tombstones included."""
        best: dict[int, Change] = {}
        for c in self.rows[table]:
            b = best.get(c.key)
            if b is None or c.ver > b.ver:
                best[c.key] = c
        return {(c.key, c.ver, c.op, c.value) for c in best.values()}

    def collapsing(self, table: str) -> set:
        """CollapsingMergeTree FINAL: the keys whose net sign is > 0,
        with that net (insert +1, update −1/+1, delete −1)."""
        net: Counter = Counter()
        for c in self.rows[table]:
            net[c.key] += {"I": 1, "U": 0, "D": -1}[c.op]
        return {(k, n) for k, n in net.items() if n > 0}

    def append(self, table: str) -> Counter:
        """MergeTree: every row."""
        return self.delta_rows(table)
