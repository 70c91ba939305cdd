"""Seeded input generators and the in-Python CDC reference model.

The program under test sees only the files these functions write: the
reference's 3-table ``hr`` schema as headerless ``LOADnnn.csv`` objects,
CDC change files ``cdc<10 digits>.csv``, and the ``tools/gen_testdata``
parquet tables for the query suite.  The same seed always gives the same
bytes.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

LAST_NAMES = (
    "Smith Johnson Williams Brown Jones Garcia Miller Davis Rodriguez "
    "Martinez Hernandez Lopez Gonzalez Wilson Anderson Thomas Taylor Moore "
    "Jackson Martin Lee Perez Thompson White Harris Sanchez Clark Ramirez"
).split()
FIRST_NAMES = (
    "Bob Alice Carol Dave Erin Frank Grace Heidi Ivan Judy Mallory Niaj "
    "Olivia Peggy Rupert Sybil Trent Victor Walter Yolanda Zoe Amir Bea"
).split()
OFFICES = (
    "New York|Los Angeles|Dallas|Chicago|Seattle|Boston|Denver|Austin|"
    "Miami|Atlanta|Portland|Phoenix"
).split("|")
WORDS = (
    "data stream table merge load replicate apply change capture "
    "migrate schema target source event shard order batch"
).split()

TABLE_COLUMNS = {"employee": 5, "department": 2, "project": 3}
LOAD_FILES_PER_TABLE = 4
# change-stream shape: hot keys per table, the share of updates and
# deletes drawn from them, and the share that targets a key never seen
HOT_KEYS = 40
HOT_FRAC = 0.25
ABSENT_FRAC = 0.04
# day offsets from 2000-01-01 rendered once; HireDate is yyyy-MM-dd
_DATES = np.datetime_as_string(
    np.datetime64("2000-01-01") + np.arange(0, 9000), unit="D"
)


def _rows(table, ids, rng):
    """Payload rows (lists of strings, declaration order) for ``ids``."""
    n = len(ids)
    if table == "employee":
        last = rng.integers(0, len(LAST_NAMES), n)
        first = rng.integers(0, len(FIRST_NAMES), n)
        day = rng.integers(0, len(_DATES), n)
        office = rng.integers(0, len(OFFICES), n)
        return [
            [str(i), LAST_NAMES[a], FIRST_NAMES[b], str(_DATES[d]), OFFICES[o]]
            for i, a, b, d, o in zip(ids, last, first, day, office)
        ]
    if table == "department":
        return [[str(i), f"Department{i}"] for i in ids]
    if table == "project":
        w = rng.integers(0, len(WORDS), (n, 3))
        return [
            [str(i), f"Project{i}", " ".join(WORDS[j] for j in ws)]
            for i, ws in zip(ids, w)
        ]
    raise ValueError(f"unknown table {table!r}")


def hr_tables(sizes, seed):
    """``{table: [row, ...]}`` for the hr schema; ``sizes`` maps table
    name to row count.  Ids are 1..n per table."""
    rng = np.random.default_rng([seed, 1])
    return {
        table: _rows(table, range(1, sizes[table] + 1), rng)
        for table in TABLE_COLUMNS
        if sizes.get(table)
    }


def write_load_files(root, tables):
    """Write each table as ``{root}/hr/{table}/LOAD001..004.csv`` in row
    order; returns the row count per table."""
    for table, rows in tables.items():
        d = os.path.join(root, "hr", table)
        os.makedirs(d, exist_ok=True)
        chunk = -(-len(rows) // LOAD_FILES_PER_TABLE)
        for k in range(LOAD_FILES_PER_TABLE):
            part = rows[k * chunk:(k + 1) * chunk]
            with open(os.path.join(d, f"LOAD{k + 1:03d}.csv"), "w") as f:
                f.writelines(",".join(r) + "\n" for r in part)
    return {t: len(r) for t, r in tables.items()}


def cdc_file_name(n):
    return f"cdc{n:010d}.csv"


class ChangeStream:
    """Deterministic CDC change files against a known starting state.

    Each file holds ``rows_per_file`` changes: 80% employee / 20% project,
    30% insert / 50% update / 20% delete.  A small hot-key set draws a
    quarter of the updates and deletes (so keys see several operations in
    one file) and dead hot keys are re-inserted, giving insert → update →
    delete chains.  ``ABSENT_FRAC`` of the updates and deletes target
    keys that never existed; those land in the exceptions table.
    Inserts never reuse a live key.
    """

    TABLE_SHARE = (("employee", 0.8), ("project", 0.2))

    def __init__(self, state, seed, *, rows_per_file=2000):
        self.rng = np.random.default_rng([seed, 2])
        self.rows_per_file = rows_per_file
        self.live = {}
        self.pos = {}
        self.rows = {}
        self.hot = {}
        self.next_id = {}
        self.next_absent = 10**12
        for table, _ in self.TABLE_SHARE:
            rows = state.get(table, {})
            self.rows[table] = dict(rows)
            self.live[table] = list(rows)
            self.pos[table] = {k: i for i, k in enumerate(self.live[table])}
            self.hot[table] = self.live[table][:HOT_KEYS]
            self.next_id[table] = max(rows, default=0) + 1
        self.files_made = 0

    def _add(self, table, key, row):
        self.pos[table][key] = len(self.live[table])
        self.live[table].append(key)
        self.rows[table][key] = row

    def _remove(self, table, key):
        live, pos = self.live[table], self.pos[table]
        i = pos.pop(key)
        last = live.pop()
        if last != key:
            live[i] = last
            pos[last] = i
        del self.rows[table][key]

    def _pick_live(self, table):
        if self.rng.random() < HOT_FRAC:
            alive = [k for k in self.hot[table] if k in self.pos[table]]
            if alive:
                return alive[int(self.rng.integers(0, len(alive)))]
        live = self.live[table]
        return live[int(self.rng.integers(0, len(live)))]

    def _change(self):
        rng = self.rng
        table = "employee" if rng.random() < self.TABLE_SHARE[0][1] else "project"
        u = rng.random()
        op = "INSERT" if u < 0.3 else ("UPDATE" if u < 0.8 else "DELETE")
        if op == "INSERT":
            dead = [k for k in self.hot[table] if k not in self.pos[table]]
            if dead and rng.random() < 0.5:
                key = dead[int(rng.integers(0, len(dead)))]
            else:
                key = self.next_id[table]
                self.next_id[table] += 1
            row = _rows(table, [key], rng)[0]
            self._add(table, key, row)
            return op, table, row
        if rng.random() < ABSENT_FRAC or not self.live[table]:
            key = self.next_absent
            self.next_absent += 1
            return op, table, _rows(table, [key], rng)[0]
        key = self._pick_live(table)
        if op == "UPDATE":
            row = _rows(table, [key], rng)[0]
            self.rows[table][key] = row
            return op, table, row
        row = self.rows[table][key]
        self._remove(table, key)
        return op, table, row

    def next_lines(self):
        """The next change file's lines (without newlines)."""
        self.files_made += 1
        return [
            f"{op},{table},hr,{','.join(row)}"
            for op, table, row in (
                self._change() for _ in range(self.rows_per_file)
            )
        ]


def write_atomically(path, lines):
    """Land a file in one rename so a directory listing never sees it
    half written (the stream source picks files up by listing)."""
    d = os.path.dirname(path)
    tmp = os.path.join(d, "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        f.writelines(line + "\n" for line in lines)
    os.rename(tmp, path)


# -- the CDC reference model -------------------------------------------

STATS_FIELDS = (
    "Inserts",
    "Updates",
    "Deletes",
    "Ddls",
    "AppliedInserts",
    "AppliedUpdates",
    "AppliedDeletes",
    "ApplyExceptions",
)
EXCEPTIONS_TABLE = "awsdms_apply_exceptions"


@dataclass
class CdcModel:
    """DMS apply semantics in plain Python, applied line by line in seq
    order: INSERT upserts (an insert over a live key also counts as an
    exception), UPDATE and DELETE of a missing key are exceptions that
    leave state unchanged.  ``start`` records the task's create-table
    controls: one per catalog table plus the exceptions table."""

    state: dict = field(default_factory=dict)
    stats: dict = field(default_factory=dict)
    events: Counter = field(default_factory=Counter)

    def _counter(self, table):
        return self.stats.setdefault(table, Counter())

    def start(self, tables):
        for table in list(tables) + [EXCEPTIONS_TABLE]:
            self._counter(table)["Ddls"] += 1
            self.events["create-table"] += 1

    def apply_line(self, line):
        op, table, _schema, *payload = line.split(",")
        rows = self.state.setdefault(table, {})
        key = int(payload[0])
        exists = key in rows
        c = self._counter(table)
        self.events[op.lower()] += 1
        if op == "INSERT":
            c["Inserts"] += 1
            if exists:
                c["ApplyExceptions"] += 1
            else:
                c["AppliedInserts"] += 1
            rows[key] = tuple(payload)
        elif op == "UPDATE":
            c["Updates"] += 1
            if exists:
                c["AppliedUpdates"] += 1
                rows[key] = tuple(payload)
            else:
                c["ApplyExceptions"] += 1
        elif op == "DELETE":
            c["Deletes"] += 1
            if exists:
                c["AppliedDeletes"] += 1
                del rows[key]
            else:
                c["ApplyExceptions"] += 1
        else:
            raise ValueError(f"unsupported CDC operation {op!r}")

    def apply_file(self, lines):
        for line in lines:
            self.apply_line(line)

    def exceptions(self):
        return sum(c["ApplyExceptions"] for c in self.stats.values())

    def stats_rows(self, schema="hr"):
        """``{(schema, table): {field: count}}`` for every table with a
        counter, the shape ``describe_table_statistics`` reports."""
        return {
            (schema, table): {f: int(c[f]) for f in STATS_FIELDS}
            for table, c in self.stats.items()
        }


def query_suite_data(out, sf, seed):
    """The relational/LLM-data parquet tables, by the repository's own
    generator (numpy + pyarrow, no Spark)."""
    import sys

    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import gen_testdata

    gen_testdata.generate(out, sf, seed)
