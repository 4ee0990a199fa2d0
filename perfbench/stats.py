"""Order statistics and output checks shared by the runner and its tests.

Pure Python: nothing here imports Spark.
"""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples that must lie above a reported tail value


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = (len(s) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """Highest whole percentile with at least ``beyond`` of ``n`` samples
    strictly above it, or None when ``n`` is too small for any.

    With linear interpolation the value at percentile p sits at rank
    ``(n - 1) * p / 100``; the samples above it are those of higher rank.
    """
    best = None
    for p in range(100):
        if n - 1 - int((n - 1) * p / 100.0) >= beyond:
            best = p
    return best


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> dict:
    """The tail statistic: value, percentile and sample count.

    When too few samples exist for a qualifying percentile at or above the
    median (fewer than ``2 * beyond + 1``), the maximum is reported instead
    and ``pct`` is None."""
    p = tail_percentile(len(values), beyond)
    if p is None or p < 50:
        return {"value": max(values), "pct": None, "n": len(values)}
    return {"value": percentile(values, p), "pct": p, "n": len(values)}


def median(values: list[float]) -> float:
    return statistics.median(values)


def check_fingerprint(name: str, observed: dict, fixture: dict) -> str | None:
    """Compare an op's row count and fingerprint with the fixture.

    Returns None when they match, else a one-line reason."""
    want = fixture.get(name)
    if want is None:
        return f"{name}: no fixture entry"
    if int(observed["rows"]) != int(want["rows"]):
        return f"{name}: rows {observed['rows']} != fixture {want['rows']}"
    if str(observed["fp"]) != str(want["fp"]):
        return f"{name}: fingerprint {observed['fp']} != fixture {want['fp']}"
    return None


def failed_frac(failed: int, attempted: int) -> float:
    return failed / attempted if attempted else 1.0
