"""The host's speed right now, read from a fixed tiny Spark job.

The benchmark runs on shared hosts whose speed drifts by up to 2.5x over
minutes, and that moves every timing of a run together. The yardstick
is a fixed job that moves with it but runs no engine code:
``spark.range(0, 1000, 1, 4)`` summed and collected, timed ``REPS``
times at the end of set-up, before each timed pass and after the last.
A run's times are divided by the median of all its timings of the
yardstick and multiplied by ``REFERENCE_S``, so they read as seconds on
a host where the yardstick takes ``REFERENCE_S``; the wall-clock times
are printed beside them.

The yardstick runs on the engine's session, so a change to the session's
confs that speeds up every job also speeds up the yardstick: compare the
wall-clock times too for such changes.
"""

from __future__ import annotations

import time

REFERENCE_S = 0.05
REPS = 7


def measure(spark) -> list[float]:
    """``REPS`` timings of the yardstick job, in seconds."""
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()
        times.append(time.perf_counter() - t0)
    return times
