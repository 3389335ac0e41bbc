"""Answer checks shared by the workloads: DuckDB over the same Parquet
inputs and value comparison with a relative tolerance for floating point."""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import numpy as np

REL_TOL = 1e-9


def connect(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with one view per ``name -> parquet path``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    return v


def values_equal(a, b) -> bool:
    a, b = _norm(a), _norm(b)
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-9)
        except (TypeError, ValueError):
            return False
    return a == b


def rows_equal(got: list[tuple], want: list[tuple], ordered: bool = True) -> bool:
    """Same rows, same values (floats within REL_TOL). Unordered results are
    sorted on their text form first."""
    if len(got) != len(want):
        return False
    if not ordered:
        got = sorted(got, key=lambda r: [str(_norm(v)) for v in r])
        want = sorted(want, key=lambda r: [str(_norm(v)) for v in r])
    return all(
        len(g) == len(w) and all(values_equal(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )
