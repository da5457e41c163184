"""Correctness gate: compare an engine output with the DuckDB oracle.

The oracle SQL is the repo's own (the plan modules' ``oracle_sql`` and
``entry.build_oracle_sql``); it runs in DuckDB over the very files the
engine read. Both sides are compared as row multisets after a value
normalisation that only removes representation differences (date vs
timestamp at midnight, float noise below 1e-6, NaN vs NULL).
"""

from __future__ import annotations

import collections
import datetime as dt
import decimal
import math
import os

import duckdb


def _norm(v):
    if v is None:
        return None
    if hasattr(v, "to_pydatetime"):  # pandas Timestamp
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        return v.date().isoformat() if v.time() == dt.time(0) else v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return None
        if f.is_integer() and abs(f) < 2**53:
            return int(f)
        return round(f, 6)
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return v


def rows_of(columns: list[str], records) -> collections.Counter:
    """Multiset of normalised row tuples, columns in ``columns`` order.
    ``records`` is an iterable of mappings (Spark Rows or dicts)."""
    return collections.Counter(
        tuple(_norm(r[c]) for c in columns) for r in records
    )


def compare(actual: collections.Counter, expected: collections.Counter) -> str | None:
    """None when equal, else a short description of the difference."""
    if actual == expected:
        return None
    missing = expected - actual
    extra = actual - expected
    return (
        f"{sum(actual.values())} rows vs {sum(expected.values())} expected; "
        f"missing {sum(missing.values())} e.g. {list(missing)[:2]}, "
        f"unexpected {sum(extra.values())} e.g. {list(extra)[:2]}"
    )


def corrupt_one(rows: collections.Counter) -> collections.Counter:
    """The same multiset with one value of one row changed — the gate's
    self-test input. Changes the first numeric cell it finds, or else
    appends a marker to the first string cell."""
    bad = collections.Counter(rows)
    row = next(iter(bad))
    cells = list(row)
    for i, v in enumerate(cells):
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            cells[i] = v + 1
            break
    else:
        i = next(i for i, v in enumerate(cells) if isinstance(v, str))
        cells[i] = cells[i] + "~"
    bad[row] -= 1
    bad += collections.Counter()  # drop the zero count
    bad[tuple(cells)] += 1
    return bad


class Oracle:
    """A DuckDB connection whose views point at a directory of source
    parquet files, mirroring what the engine's source registry sees."""

    def __init__(self):
        self.con = duckdb.connect()
        # Spark is idle while the oracle runs, so it may use every CPU
        self.con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        self.con.execute("SET TimeZone = 'UTC'")

    def point_at(self, sf_dir: str, tables: list[str]) -> None:
        for t in tables:
            self.con.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def rows(self, sql: str, columns: list[str]) -> collections.Counter:
        cur = self.con.execute(sql)
        names = [d[0] for d in cur.description]
        return rows_of(columns, (dict(zip(names, r)) for r in cur.fetchall()))
