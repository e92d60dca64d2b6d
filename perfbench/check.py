"""Output checks: canonical row forms and comparison against DuckDB.

Spark rows arrive as the JSON strings ``KwackSpark.query_json`` (or
``DataFrame.toJSON``) emits; DuckDB and the generator's truth tables give
Python values.  Both are brought to one canonical form: every number becomes
a float (all values here are below 2**53, and a decimal's text converts to
the same double on both sides), timestamps become the ISO-8601 UTC text
Spark's JSON writer uses, maps become dicts, and null fields are dropped
(Spark's JSON writer omits them).
"""

from __future__ import annotations

import datetime as dt
import json
import math
from collections import Counter
from decimal import Decimal

import duckdb

# relative tolerance for non-integer numbers: sums of doubles depend on
# summation order, which differs between engines and between runs
REL_TOL = 1e-9


def canon(v):
    """One value -> canonical JSON-able form (see module docstring)."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, Decimal)):
        f = float(v)
        return f if math.isfinite(f) else repr(f)
    if isinstance(v, dt.datetime):
        u = v.astimezone(dt.timezone.utc) if v.tzinfo else v
        return u.strftime("%Y-%m-%dT%H:%M:%S.") + f"{u.microsecond // 1000:03d}Z"
    if isinstance(v, dict):
        if not v:
            return []  # an empty map reads back as an empty list from arrow
        return {str(k): canon(x) for k, x in v.items() if x is not None}
    if isinstance(v, (list, tuple)):
        if v and all(isinstance(x, tuple) and len(x) == 2 for x in v):
            return {str(k): canon(x) for k, x in v if x is not None}  # arrow MAP
        return [canon(x) for x in v]
    return str(v)


def spark_json_row(line: str) -> dict:
    return canon(json.loads(line))


def _key(row: dict) -> str:
    return json.dumps(row, sort_keys=True, default=str)


def same_multiset(a: list[dict], b: list[dict]) -> bool:
    """Exact multiset equality of canonical rows (decoded topic vs truth)."""
    return Counter(map(_key, a)) == Counter(map(_key, b))


def _sort_key(row: dict) -> str:
    """Rows sort by their exact fields first, then by rounded inexact ones,
    so a tolerance comparison can walk two sorted lists in step."""

    def rough(x):
        if isinstance(x, float) and not x.is_integer():
            return f"~{x:.6g}"
        return x

    return json.dumps({k: rough(x) for k, x in row.items()}, sort_keys=True, default=str)


def _close(x, y) -> bool:
    if isinstance(x, float) and isinstance(y, float):
        return x == y or abs(x - y) <= REL_TOL * max(abs(x), abs(y))
    if isinstance(x, dict) and isinstance(y, dict):
        return x.keys() == y.keys() and all(_close(x[k], y[k]) for k in x)
    if isinstance(x, list) and isinstance(y, list):
        return len(x) == len(y) and all(_close(p, q) for p, q in zip(x, y))
    return x == y


def rows_match(got: list[dict], want: list[dict]) -> bool:
    """Order-insensitive row comparison with REL_TOL on inexact numbers."""
    if len(got) != len(want):
        return False
    return all(
        _close(g, w)
        for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key))
    )


def duck_rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[dict]:
    rel = con.sql(sql)
    cols = rel.columns
    return [
        {c: canon(v) for c, v in zip(cols, r) if v is not None} for r in rel.fetchall()
    ]


def duck_views(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with one view per parquet file."""
    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con
