"""Output checks. They run after the timed region; each wrong result
marks its operation failed, so it counts in ``failed``."""

from __future__ import annotations

import datetime
import math
import os


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d") + " 00:00:00.000000"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _close(a, b, rel: float) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y, rel) for x, y in zip(a, b))
    return a == b


def same_rows(got: list[tuple], want: list[tuple], rel: float = 1e-9) -> str | None:
    """None when the two row multisets agree (order-insensitive, floats
    within ``rel``), else a short description of the first difference."""
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    key = lambda r: tuple(str(x) for x in r)  # noqa: E731
    g = sorted((_norm(r) for r in got), key=key)
    w = sorted((_norm(r) for r in want), key=key)
    for a, b in zip(g, w):
        if not _close(a, b, rel):
            return f"row {a} != {b}"
    return None


def by_name(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Reorder columns by name, the registry's comparison discipline."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(r[i] for i in order) for r in rows]


def duckdb_oracle(tpch_dir: str, sql: str) -> tuple[list[str], list[tuple]]:
    """``sql`` run by DuckDB with a view over each parquet file in ``tpch_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(tpch_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{tpch_dir}/{f}')")
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()
