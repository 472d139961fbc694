"""Pure helpers for the benchmark's statistics and failure counting."""

from __future__ import annotations

import traceback
from statistics import median


def tail(passes: list[list[float]]) -> float:
    """Latency tail of a run: the slowest query of each pass, median over
    the passes.  A run has too few latencies (queries x warm passes, 12 to 18)
    for a percentile above the median with ten samples beyond it, and a
    percentile chosen from the count would change with the number of
    passes that fit in the run."""
    return median(max(p) for p in passes if p)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def calibrate(times: dict[str, float], probes: list[float], ref_s: float) -> dict[str, float]:
    """``times`` in seconds of the reference host: each scaled by ``ref_s``
    (the probe's time on that host) over the median of ``probes``, the
    probe times measured in the same run."""
    scale = ref_s / median(probes)
    return {k: v * scale for k, v in times.items()}


def med(values: list[float]) -> float:
    return median(values) if values else 0.0


class Outcomes:
    """Counts query executions and oracle checks that were attempted and
    that failed; ``error_rate`` is failures over attempts."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, label: str, fn, *args, attempt: bool = True, **kwargs):
        """Call ``fn``; count a raised exception as a failure and record it.
        ``attempt=False`` marks a check of an execution already counted.
        Returns ``fn``'s result, or None when it raised."""
        self.attempted += attempt
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # the run must go on to report every failure
            self.failed += 1
            self.errors.append(f"{label}: {type(exc).__name__}: {str(exc)[:300]}")
            traceback.print_exc()
            return None

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
