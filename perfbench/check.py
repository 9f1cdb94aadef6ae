"""Answer checks: a query's rows against its DuckDB oracle.

The comparison is the one the engine's oracle tests make (FIXTURES.md,
tests/conftest.py): column names, row count, and an order-insensitive
hash of the values. Cells are
normalised first so that representation differences that are not value
differences (int32 vs int64, numpy vs Python scalars, arrays vs lists,
DATE vs midnight TIMESTAMP) hash alike; floats compare at 9 decimals.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os

import numpy as np
import pandas as pd


def _norm(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return None
        f = round(f, 9) + 0.0
        return int(f) if f.is_integer() and abs(f) < 2**53 else f
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, np.datetime64):
        return _norm(pd.Timestamp(v))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def digest(pdf: pd.DataFrame) -> tuple[list[str], int, str]:
    """(sorted column names, row count, order-insensitive value hash)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        repr(tuple(_norm(v) for v in row))
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return cols, len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def oracle_digests(
    data_dir: str, tables: tuple[str, ...], threads: int, sqls: dict[str, str]
) -> dict[str, tuple | str]:
    """Run each oracle SQL in DuckDB over the parquet files in
    ``data_dir``; returns key -> digest, or key -> error text."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {threads}")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out: dict[str, tuple | str] = {}
        for key, sql in sqls.items():
            try:
                out[key] = digest(con.execute(sql).df())
            except duckdb.Error as ex:
                out[key] = f"oracle raised {type(ex).__name__}: {ex}"
        return out
    finally:
        con.close()


def mismatch(got: pd.DataFrame, want: tuple | str) -> str | None:
    """None when ``got`` matches the oracle's digest, else what differs."""
    if isinstance(want, str):
        return want
    g = digest(got)
    if g[0] != want[0]:
        return f"columns {g[0]} != {want[0]}"
    if g[1] != want[1]:
        return f"rows {g[1]} != {want[1]}"
    if g[2] != want[2]:
        return "value hash differs"
    return None
