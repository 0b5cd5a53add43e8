"""Output checks, run outside every timed span.

A result is hashed order-insensitively with the cell rules of the test
suite's differential comparator (``tests/conftest.py::normalize``):
columns sorted by name, each cell normalized, rows sorted.  Queries are
compared with their DuckDB oracle (``__spark_entry__.oracle_sql()``)
over the same fixture files; results without an oracle are compared
with their own first-pass hash.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os

import numpy as np


def _norm_cell(v) -> tuple:
    if v is None:
        return ("null",)
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (float, np.floating)):
        v = float(v)
        return ("nan",) if math.isnan(v) else ("f", repr(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, decimal.Decimal):
        return ("f", repr(float(v)))
    return ("s", str(v))


def frame_hash(df) -> str:
    """Order-insensitive hash of a pandas frame's columns and rows."""
    cols = sorted(df.columns)
    columns = [[_norm_cell(v) for v in df[c].tolist()] for c in cols]
    rows = sorted(zip(*columns)) if columns else []
    h = hashlib.sha256(repr(cols).encode())
    h.update(repr(len(df)).encode())
    for row in rows:
        h.update(repr(row).encode())
    return h.hexdigest()


def text_hash(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


class Oracle:
    """Expected result hashes: DuckDB's answer where the query has an
    oracle, else the first result seen."""

    def __init__(self, fixture_dir: str, tables: list[str], oracle_sql: dict[str, str]):
        import duckdb

        self._sql = oracle_sql
        self._con = duckdb.connect()
        self._con.execute("SET threads = 1")
        for t in tables:
            path = os.path.join(fixture_dir, f"{t}.parquet")
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self._expected: dict[str, str] = {}

    def matches(self, name: str, got: str) -> bool:
        if name not in self._expected:
            sql = self._sql.get(name)
            self._expected[name] = (
                frame_hash(self._con.sql(sql).fetchdf()) if sql else got
            )
        return self._expected[name] == got

    def close(self) -> None:
        self._con.close()
