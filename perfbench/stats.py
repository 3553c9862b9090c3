"""Percentiles for the benchmark record."""
import math

# a percentile is reported only when this many samples lie beyond it
MIN_BEYOND = 10


def percentile(values, q):
    """The q-th percentile (0 < q < 100) of values, nearest-rank.

    Raises ValueError when fewer than MIN_BEYOND samples lie above the
    percentile's rank, since such a tail figure rests on too few samples.
    """
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    if len(xs) - rank < MIN_BEYOND and q > 50:
        raise ValueError(
            f"p{q:g} of {len(xs)} samples has {len(xs) - rank} beyond it; "
            f"need {MIN_BEYOND}")
    return xs[rank - 1]
