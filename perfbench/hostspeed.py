"""Host speed during the timed loop, for scaling timings to a nominal host.

The benchmark runs on a few cores of a shared host. The speed of those
cores drifts by 20-30% over minutes as other tenants load the host's
memory system and sibling hyperthreads; a Python loop and a NumPy
reduction slow down together with Spark, and the drift between runs is
larger than any regression bound. So each workload samples a fixed
reference before every timed operation. The reference does not touch
the engine, so a change to the engine moves the scaled figures exactly
as much as the raw ones, while a change in host speed moves the
reference as well and cancels out.

One sample is the geometric mean of two timings: a pure-Python integer
loop (interpreter speed) and three sums over a 32 MB float64 array
(memory bandwidth). ``factor()`` is NOMINAL_S divided by the median
sample of the run, so a figure multiplied by it reads as it would on a
host where the reference takes NOMINAL_S.
"""

from __future__ import annotations

import time

import numpy as np
from tracing import median

NOMINAL_S = 0.0116  # the reference's median on a lightly loaded 4-vCPU Xeon VM at 2.0 GHz
_LOOP = 200_000
_SUMS = 3


class HostSpeed:
    def __init__(self):
        self._arr = np.arange(4_000_000, dtype=np.float64)
        self.samples: list[float] = []
        self.spent_s = 0.0  # wall time spent sampling, to leave out of rates

    def sample(self) -> None:
        t0 = time.perf_counter()
        acc = 0
        for i in range(_LOOP):
            acc += i
        t1 = time.perf_counter()
        for _ in range(_SUMS):
            self._arr.sum()
        t2 = time.perf_counter()
        self.samples.append(((t1 - t0) * (t2 - t1)) ** 0.5)
        self.spent_s += t2 - t0

    def ref_s(self) -> float:
        return median(self.samples) if self.samples else NOMINAL_S

    def factor(self) -> float:
        return NOMINAL_S / self.ref_s()
