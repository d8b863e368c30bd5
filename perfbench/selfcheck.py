"""Self-check of the summary helpers in ``spans.py``.

    python3 perfbench/selfcheck.py

``run.py`` calls :func:`check` before it starts Spark, so a broken helper
stops a run before it reports figures. The checks raise ``AssertionError``
with explicit ``if`` tests, so they also hold under ``python -O``.
"""

from __future__ import annotations

import math

from spans import covered, percentile, self_time, tail_quantile


def _eq(got, want, what: str) -> None:
    if not math.isclose(got, want, rel_tol=1e-12, abs_tol=1e-12):
        raise AssertionError(f"{what}: got {got!r}, want {want!r}")


def check() -> None:
    # percentile: linear interpolation between order statistics
    _eq(percentile([3.0], 0.5), 3.0, "percentile of one value")
    _eq(percentile([4.0, 1.0, 3.0, 2.0], 0.5), 2.5, "median of four")
    _eq(percentile(list(range(101)), 0.95), 95.0, "p95 of 0..100")
    _eq(percentile([1.0, 2.0], 0.0), 1.0, "p0 is the minimum")
    _eq(percentile([1.0, 2.0], 1.0), 2.0, "p100 is the maximum")
    try:
        percentile([], 0.5)
    except ValueError:
        pass
    else:
        raise AssertionError("percentile of no values must raise")
    # tail_quantile: highest quantile with at least ten samples beyond it
    for n, q in ((19, 0.5), (20, 0.5), (40, 0.75), (99, 0.75), (100, 0.9),
                 (200, 0.95), (1000, 0.99)):
        if tail_quantile(n) != q:
            raise AssertionError(f"tail_quantile({n}) = {tail_quantile(n)}, want {q}")
    # covered: union of intervals clipped to the window
    _eq(covered([], 0, 10), 0.0, "nothing covered")
    _eq(covered([(1, 3), (2, 5), (7, 8)], 0, 10), 5.0, "overlapping intervals")
    _eq(covered([(-5, 2), (9, 20)], 0, 10), 3.0, "intervals clipped at both ends")
    _eq(covered([(11, 12)], 0, 10), 0.0, "interval outside the window")
    _eq(covered([(0, 10), (2, 3)], 0, 10), 10.0, "nested interval")
    # self_time: span minus the part its children cover (overlaps once)
    span = {"t0": 0.0, "t1": 10.0}
    kids = [{"t0": 1.0, "t1": 4.0}, {"t0": 3.0, "t1": 6.0}, {"t0": 9.0, "t1": 12.0}]
    _eq(self_time(span, kids), 4.0, "self time with overlapping children")
    _eq(self_time(span, []), 10.0, "self time without children")


if __name__ == "__main__":
    check()
    print("perfbench self-check: ok")
