"""Output checks against DuckDB, run outside every timed region."""

from __future__ import annotations

import math
import os
from collections import Counter


def _norm(v):
    if isinstance(v, float) and v == int(v) and abs(v) < 2 ** 53:
        return int(v)  # 3.0 and 3 are the same value across engines
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "as_tuple"):  # Decimal
        return float(v)
    return v


def _key(row):
    return tuple((v is None, str(type(v) is str), v if v is not None else 0)
                 for v in row)


def _same(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool):
        if math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6):
            return True
        # round(x, 2) of a large double sum may land one cent apart when
        # two engines add in different orders
        return abs(a) >= 100 and abs(a - b) <= 0.0100001
    return a == b


def rows_equal(got, expected) -> bool:
    """Multiset equality of two row lists, floats within rounding."""
    g = sorted((tuple(_norm(v) for v in r) for r in got), key=_key)
    e = sorted((tuple(_norm(v) for v in r) for r in expected), key=_key)
    if len(g) != len(e):
        return False
    return all(len(x) == len(y) and all(_same(a, b) for a, b in zip(x, y))
               for x, y in zip(g, e))


def parquet_duckdb(data_dir: str, tables):
    import duckdb
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def session_duckdb(session, tables):
    """DuckDB holding the engine's current contents of ``tables`` — the
    recompute side of a maintained-view check."""
    import duckdb
    con = duckdb.connect()
    for t in tables:
        pdf = session.sql(f"SELECT * FROM {t}").toPandas()
        con.register(f"_{t}_pd", pdf)
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM _{t}_pd")
    return con


def subscribe_total(batches) -> Counter:
    """Fold SUBSCRIBE batches (rows whose last column is the diff) into
    the multiset they describe."""
    acc: Counter = Counter()
    for rows in batches:
        for r in rows:
            acc[tuple(_norm(v) for v in r[:-1])] += int(r[-1])
    return Counter({k: n for k, n in acc.items() if n != 0})


def snapshot_multiset(rows) -> Counter:
    return Counter(tuple(_norm(v) for v in r) for r in rows)
