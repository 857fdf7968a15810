"""Pure helpers of the benchmark: result digests, summaries and span
arithmetic.  Nothing here imports Spark, so the unit tests in
``tests/`` run in a plain interpreter."""

from __future__ import annotations

import hashlib
import statistics
from typing import Iterable, Sequence

_MASK64 = (1 << 64) - 1
_NULL = "\x00"


def digest_rows(columns: Sequence[str], rows: Iterable[Sequence]) -> str:
    """Order-independent digest of a result set: the row count and the sum
    modulo 2**64 of a 64-bit hash per row.  Columns are taken in sorted
    name order and every value as its ``str``, so an INTEGER from DuckDB
    and a LONG from Spark digest alike; None is kept apart from ''.
    Duplicate rows count twice, as a multiset should."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for row in rows:
        key = "\x1f".join(_NULL if row[i] is None else str(row[i]) for i in order)
        total = (total + int.from_bytes(hashlib.blake2b(key.encode(), digest_size=8).digest(), "little")) & _MASK64
        n += 1
    return f"{n}:{total:016x}"


def digest_arrow(table) -> str:
    """``digest_rows`` over a pyarrow Table (Spark ``toArrow`` or DuckDB
    ``fetch_arrow_table``)."""
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return digest_rows(cols, zip(*data))


def summarize(samples: Sequence[float]) -> dict:
    """Median and sample count of one metric's samples in a run."""
    if not samples:
        raise ValueError("no samples")
    return {"median": statistics.median(samples), "n": len(samples)}


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, as the acceptance check computes it."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    end = lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of it that its
    children cover.  A span is ``{"id", "parent", "t0", "t1"}``; children
    are the spans whose ``parent`` is its id (same thread, so nested)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {
        s["id"]: (s["t1"] - s["t0"]) - covered(children.get(s["id"], ()), s["t0"], s["t1"])
        for s in spans
    }
