"""Summary statistics and result digests for the benchmark."""

from __future__ import annotations

import datetime
import hashlib
import math
from decimal import Decimal

#: A tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[int, float]:
    """``(p, value)``: the highest whole percentile that has at least
    :data:`TAIL_BEYOND` samples beyond it, by the nearest-rank rule.

    With ``n`` samples the value at rank ``k`` has ``n - k`` samples above
    it, so ``p = floor(100 * (n - 10) / n)``.  With ten samples or fewer no
    percentile qualifies; the maximum is returned as ``p = 100``."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of an empty sample")
    if n <= TAIL_BEYOND:
        return 100, xs[-1]
    p = (100 * (n - TAIL_BEYOND)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, xs[rank - 1]


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def digest(columns: list[str], rows) -> str:
    """Order-insensitive value digest of a result: columns sorted by
    lower-cased name, each row rendered with ``repr`` after
    Decimal->float and datetime->ISO normalisation, rows sorted, md5.
    The same normalisation ``tools/driver_sim.py`` applies, so
    a Spark result and its DuckDB oracle digest equal iff they agree."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join(repr(_norm(r[i])) for i in order) for r in rows
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def duckdb_rows(rel) -> tuple[list[str], list[tuple]]:
    """Columns and row tuples of a DuckDB relation, fetched through Arrow
    (wide DuckDB types surface as ``tools/driver_sim.py`` sees them)."""
    tbl = rel.fetch_arrow_table()
    rows = list(zip(*(c.to_pylist() for c in tbl.columns)))
    if tbl.num_rows and not rows:
        rows = [()] * tbl.num_rows
    return list(rel.columns), rows
