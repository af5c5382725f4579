"""Host-speed canary: fixed pure-Python work that no engine change touches.

The benchmark host is a shared VM whose speed drifts by up to ~2x
between runs. The canary is timed right before and right after every
measured op, outside the op's span, and the end-to-end times scale each
op's latency by ``REF_S`` over the mean of the two: seconds as the op
would have taken at the canary speed of the baseline host.
"""

from __future__ import annotations

import statistics
import time

#: a fixed scale, close to the canary's time on the baseline host (4-vCPU VM,
#: Python 3.11), where run medians were 19-24 ms
REF_S = 0.020


def _loop() -> float:
    t0 = time.perf_counter()
    acc = 0
    d: dict[int, int] = {}
    for i in range(120_000):
        acc += (i * i) % 7
        d[i & 1023] = acc
    return time.perf_counter() - t0


def canary_s() -> float:
    """Median of three timings of a fixed interpreter loop (~20 ms each)."""
    return statistics.median(_loop() for _ in range(3))
