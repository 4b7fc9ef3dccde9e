"""Pure-Python helpers shared by the benchmark: percentiles, result-row
normalisation and oracle comparison. No Spark import, so the self-check
(selfcheck.py) exercises this file without a JVM."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence

# Floats from Spark and DuckDB agree to the digits the queries round to,
# but an independent engine may land on the other side of a rounding
# boundary; compare them within this absolute tolerance instead.
FLOAT_TOL = 2e-3


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) — the
    'inclusive' method of ``statistics.quantiles``, defined for one
    sample too."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def _norm(v):
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (list, tuple)):  # arrays, and structs (pyspark Rows are tuples)
        return tuple(_norm(x) for x in v)
    # Decimal and numpy scalars
    try:
        return float(v)
    except (TypeError, ValueError):
        return str(v)


def normalize_rows(rows: Iterable) -> list[tuple]:
    """Rows (pyspark Rows, tuples or lists) → plain tuples of plain
    values, sorted so two engines' outputs compare as multisets."""
    out = [tuple(_norm(v) for v in r) for r in rows]
    out.sort(key=_sort_key)
    return out


def _sort_key(row: tuple):
    # type name first so None / numbers / strings never compare directly;
    # floats coarsened so a last-digit difference cannot reorder rows
    def k(v):
        if isinstance(v, float):
            return ("float", round(v, 2))
        if isinstance(v, tuple):
            return ("tuple", tuple(k(x) for x in v))
        return (type(v).__name__, v)

    return tuple(k(v) for v in row)


def _close(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(a, b, rel_tol=0.0, abs_tol=FLOAT_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def rows_match(got: Sequence[tuple], want: Sequence[tuple]) -> bool:
    """Both sides already ``normalize_rows``-ed: equal as multisets, with
    floats equal within ``FLOAT_TOL``."""
    return len(got) == len(want) and all(_close(a, b) for a, b in zip(got, want))


def near_dup_pairs_match(got: Sequence[tuple], want: Sequence[tuple], sure: float) -> bool:
    """A MinHash-LSH near-dup result against the exact pairs, both
    ``normalize_rows``-ed (id_a, id_b, jaccard) rows: right when every
    pair it reports is an exact pair with its exact Jaccard (within
    ``FLOAT_TOL``), once, and no exact pair with Jaccard >= ``sure`` is
    missing. Banded MinHash misses a pair below ``sure`` by design."""
    exact = {(a, b): j for a, b, j in want}
    seen = set()
    for a, b, j in got:
        if (a, b) in seen or (a, b) not in exact or not _close(j, exact[(a, b)]):
            return False
        seen.add((a, b))
    return all(key in seen for key, j in exact.items() if j >= sure)


def precision_recall(got: set, want: set) -> tuple[float, float]:
    tp = len(got & want)
    p = tp / len(got) if got else (1.0 if not want else 0.0)
    r = tp / len(want) if want else 1.0
    return p, r


def layer_values(names, required, samples, largest=frozenset()) -> tuple[dict[str, float], list[str]]:
    """Per-layer metric values of a traced run: the median of each
    required metric's samples (the largest for names in ``largest``),
    0.0 for metrics of other workloads' layers. Also returns the
    required names with no samples: a missing measurement, which must
    not pass for a real 0."""
    vals, missing = {}, []
    for name in names:
        xs = samples(name)
        if name not in required:
            vals[name] = 0.0
        elif not xs:
            vals[name] = 0.0
            missing.append(name)
        else:
            vals[name] = max(xs) if name in largest else median(xs)
    return vals, missing


class OpLog:
    """Attempted / failed bookkeeping for one run. An op fails when it
    raises or when its output disagrees with the oracle; a failed op's
    latency is still recorded (a failure counts as missing any limit)."""

    def __init__(self) -> None:
        self.latencies: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, latency_s: float, ok: bool, note: str = "") -> None:
        self.attempted += 1
        self.latencies.append(latency_s)
        if not ok:
            self.failed += 1
            if note:
                self.errors.append(note)

    def fail_unchecked(self, n: int, note: str) -> None:
        """Mark ``n`` already-recorded ops failed after a late oracle check."""
        n = min(n, self.attempted - self.failed)
        self.failed += n
        self.errors.append(note)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
