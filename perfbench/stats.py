"""Pure helpers of the benchmark: order statistics and result digests.

No Spark import here, so the helpers are testable in any interpreter.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterable, Sequence


def percentile(values: Iterable[float], q: float) -> float:
    """Linear-interpolation percentile (numpy's default method), q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile rank {q} outside [0, 100]")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Iterable[float]) -> float:
    return percentile(values, 50.0)


def geomean(values: Iterable[float]) -> float:
    """Geometric mean of positive values (the TPC-H power-metric form)."""
    xs = list(values)
    if not xs:
        raise ValueError("geomean of an empty sample")
    if any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else str(round(v, 6))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def normalize_rows(rows: Iterable[Sequence], columns: Sequence[str]) -> list[str]:
    """Order-insensitive row encoding used by the repository's oracle check:
    columns ordered by name, floats rounded to 6 digits, NaN spelled out,
    booleans as 0/1, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(_cell(r[i]) for i in order) for r in rows)


def digest(rows: Iterable[Sequence], columns: Sequence[str]) -> tuple[int, str]:
    """(row count, sha256 of the normalized rows and sorted column names)."""
    norm = normalize_rows(rows, columns)
    h = hashlib.sha256()
    h.update(",".join(sorted(columns)).encode())
    for line in norm:
        h.update(b"\n")
        h.update(line.encode())
    return len(norm), h.hexdigest()
