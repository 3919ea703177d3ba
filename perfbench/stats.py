"""Pure summary statistics the benchmark reports (no Spark needed)."""

from __future__ import annotations


def tail_pick(samples: list[float],
              beyond: int = 10) -> tuple[float, float, int]:
    """The sample at the highest percentile that still has at least
    ``beyond`` samples above it in sorted order.

    Returns ``(value, percentile, n)``: the percentile is the share of
    samples at or below the picked one, in percent. Raises
    ``ValueError`` when there are not more than ``beyond`` samples,
    since no percentile then has enough support.
    """
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"{n} samples cannot support a tail with "
                         f"{beyond} beyond it")
    k = n - 1 - beyond
    return sorted(samples)[k], 100.0 * (k + 1) / n, n


def failed_frac(outcomes: dict[str, list[bool]]) -> tuple[int, int, float]:
    """``(failed, attempted, failed / attempted)`` over per-query lists
    of outcomes, where ``False`` is a query that raised or failed its
    correctness check."""
    attempted = sum(len(v) for v in outcomes.values())
    failed = sum(v.count(False) for v in outcomes.values())
    return failed, attempted, (failed / attempted if attempted else 0.0)

