"""Percentiles, failure accounting and order-insensitive row digests."""

from __future__ import annotations

import hashlib
import math
from decimal import Decimal

#: candidate tail percentiles, highest first
TAIL_PERCENTILES = (99, 95, 90, 75, 50)
#: a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> int | None:
    """Highest percentile in TAIL_PERCENTILES with at least MIN_BEYOND of
    n samples above it, or None when even the median has fewer."""
    for p in TAIL_PERCENTILES:
        if n * (100 - p) / 100.0 >= MIN_BEYOND:
            return p
    return None


class Outcomes:
    """Attempted/failed accounting. A call that raised and a call whose
    output failed its check both count as failed; a failed operation's
    latency is not a sample (it missed every latency limit)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(why)

    def merge(self, other: "Outcomes") -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        self.errors.extend(other.errors[: 20 - len(self.errors)])

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def _canon(v) -> str:
    """One spelling per value, whichever engine produced it: numbers that
    compare equal (1, 1.0, Decimal('1.0')) spell the same."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if f == int(f) and abs(f) < 2**53:
            return str(int(f))
        return repr(round(f, 9) + 0.0)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(v)


def row_digest(rows, colnames) -> str:
    """Order-insensitive digest of a result: the oracle gate's
    rows_to_multiset normalization (tools/compare_oracle.py), columns
    sorted by name, then a sorted list of canonical row spellings."""
    from tools.compare_oracle import rows_to_multiset

    canon = sorted(
        "(" + ",".join(_canon(x) for x in t) + ")"
        for t in rows_to_multiset([tuple(r) for r in rows], list(colnames))
    )
    h = hashlib.sha256(",".join(sorted(colnames)).encode())
    for line in canon:
        h.update(b"\n" + line.encode())
    return h.hexdigest()[:32]
