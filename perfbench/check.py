"""Independent answer check: every result is compared with DuckDB run over
the same input files.

Rows are compared as multisets (as ordered lists for fully ordered TOP
queries) after mapping each cell to one canonical form: floats by their
shortest round-trip text, timestamps and dates as ``YYYY-MM-DD HH:MM:SS``
(the form the server's JSON uses), durations as Python prints them.
"""

from __future__ import annotations

import datetime

import duckdb


def norm(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat() + " 00:00:00"
    if isinstance(v, datetime.timedelta):
        return str(v)
    return v


def _rows(rows) -> list[tuple]:
    return [tuple(norm(v) for v in r) for r in rows]


def diff(got: list, want: list, ordered: bool) -> str | None:
    """None when the row lists match, else a short description."""
    g, w = _rows(got), _rows(want)
    if len(g) != len(w):
        return f"rowcount {len(g)} != oracle {len(w)}"
    if not ordered:
        g, w = sorted(g, key=repr), sorted(w, key=repr)
    bad = [(a, b) for a, b in zip(g, w) if a != b]
    return f"value mismatch, first {bad[0]}" if bad else None


class Oracle:
    """A DuckDB connection holding the generated CSVs as tables; twin
    results are cached by SQL text (rounds repeat query shapes)."""

    def __init__(self, statements: list[str]):
        self.con = duckdb.connect()
        for v in statements:
            self.con.execute(v)
        self._cache: dict[str, tuple[list[str], list]] = {}

    def close(self) -> None:
        self.con.close()

    def run(self, sql: str) -> tuple[list[str], list]:
        """(column names, rows) of a twin query."""
        if sql not in self._cache:
            cur = self.con.execute(sql)
            self._cache[sql] = ([d[0] for d in cur.description], cur.fetchall())
        return self._cache[sql]

    def check_display(self, op, entry: dict) -> str | None:
        """A GUI response entry (colnames + vals) against the twin."""
        names, rows = self.run(op.oracle)
        if [c.lower() for c in entry["colnames"]] != [c.lower() for c in names]:
            return f"columns {entry['colnames']} != oracle {names}"
        if entry["clipped"]:
            return "display clipped; the check needs the full result"
        return diff(entry["vals"], rows, op.ordered)

    def check_file(self, op, path: str) -> str | None:
        """A written parquet directory against the twin."""
        names, rows = self.run(op.oracle)
        try:
            rel = self.con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
            got_names = [d[0] for d in rel.description]
            got = rel.fetchall()
        except duckdb.Error as exc:
            return f"unreadable output: {exc}"
        if [c.lower() for c in got_names] != [c.lower() for c in names]:
            return f"columns {got_names} != oracle {names}"
        return diff(got, rows, ordered=False)
