"""Order-insensitive result comparison.

The rule is the one ``tools/check_oracle.py`` applies to every registry
query: same column names (case-insensitive), same row count, and the same
multiset of rows once each value is rendered as text — floats by
``repr``, everything else by ``str``, columns taken in name order.
Timestamps that carry a zone are first moved to naive UTC, because the
engine hands back zoned Arrow timestamps where DuckDB hands back naive
ones for the same instant.
"""

from __future__ import annotations

import datetime as _dt
from collections import Counter


def _text(v) -> str:
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return str(v)


def multiset(columns: list[str], rows_by_column: list[list]) -> tuple[tuple[str, ...], Counter]:
    """(sorted lower-case column names, Counter of rendered rows)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    rendered = [[_text(v) for v in rows_by_column[i]] for i in order]
    return (
        tuple(columns[i].lower() for i in order),
        Counter("\x1f".join(r) for r in zip(*rendered)),
    )


def arrow_multiset(table) -> tuple[tuple[str, ...], Counter]:
    cols = table.column_names
    return multiset(cols, [table.column(c).to_pylist() for c in cols])


def duckdb_multiset(rel) -> tuple[tuple[str, ...], Counter]:
    cols = list(rel.columns)
    rows = rel.fetchall()
    return multiset(cols, [list(c) for c in zip(*rows)] if rows else [[] for _ in cols])


def diff(got, want) -> str | None:
    """None when equal, else a one-line reason."""
    (gcols, grows), (wcols, wrows) = got, want
    if gcols != wcols:
        return f"columns {list(gcols)} != {list(wcols)}"
    if sum(grows.values()) != sum(wrows.values()):
        return f"rowcount {sum(grows.values())} != {sum(wrows.values())}"
    if grows != wrows:
        extra = next(iter(grows - wrows), "")
        return f"values differ ({len(grows - wrows)} unexpected keys, e.g. {extra[:120]!r})"
    return None
