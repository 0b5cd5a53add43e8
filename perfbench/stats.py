"""Summary statistics with the benchmark's sample-size rule.

A percentile is reported only when at least ten samples lie beyond it,
so p50 needs 20 samples and p90 needs 100.
"""

from __future__ import annotations

import math

TAIL_SAMPLES = 10


def min_samples(q: float) -> int:
    """Fewest samples for which the ``q`` percentile (0 < q < 1) has
    ``TAIL_SAMPLES`` samples beyond it."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"percentile must lie in (0, 1), got {q}")
    return math.ceil(round(TAIL_SAMPLES / (1.0 - q), 9))


def percentile(samples: list[float], q: float) -> float:
    """The ``q`` percentile (linear interpolation between closest
    ranks); raises ``ValueError`` when the samples cannot support it."""
    need = min_samples(q)
    if len(samples) < need:
        raise ValueError(
            f"p{round(q * 100)} needs at least {need} samples, got {len(samples)}"
        )
    s = sorted(samples)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def highest_supported(n: int, candidates=(0.99, 0.95, 0.9, 0.75, 0.5)) -> float | None:
    """The highest candidate percentile ``n`` samples support, if any."""
    for q in candidates:
        if n >= min_samples(q):
            return q
    return None

