"""Host-speed calibration for the benchmark's timings.

A shared host can change speed by up to half within seconds (on the
4-vCPU VM the benchmark was tuned on, a fixed pure-Python loop took
1.1 to 2.3 ms across consecutive one-second windows), so a run's raw
median depends on how much of it fell in a slow phase. The benchmark
therefore times a fixed kernel beside the timed operations and reports
each operation's time scaled by REF_S / (the median kernel time within
WINDOW_S of the operation): milliseconds on a host where the kernel
takes exactly 1 ms. The kernel is the benchmark's own code and does the
kinds of work the serve driver spends its time in (dict building, a
keyed sort, numpy set operations); it is timed in thread CPU time, so
waiting for a processor does not count, only how fast the processor
runs it.

Operations that run Python on the driver (warm serving) are calibrated
between operations, on the same thread, so the kernel never competes
with them; operations that wait on Spark jobs are calibrated by a
background thread while they run (the driver thread then sleeps in a
socket read and holds neither a processor nor the interpreter lock).
The background kernel shares the machine with the program's JVM, whose
load slows some of its runs, so each background sample is the fastest
of a short burst: the host's speed with the program's disturbance
mostly left out."""

from __future__ import annotations

import bisect
import statistics
import threading
import time
from contextlib import contextmanager

import numpy as np

REF_S = 1e-3
WINDOW_S = 0.5
PERIOD_S = 0.25  # background sampling interval
BURST = 4  # kernel runs per background sample

_KEYS = [f"k{i}" for i in range(6000)]
_ARANGE = np.arange(8000, dtype=np.int64)


def kernel() -> int:
    """Fixed work: 0.8 to 1.3 ms on the 4-vCPU VM it was sized on."""
    d = {}
    for i, k in enumerate(_KEYS):
        d[k] = i
    order = sorted(_KEYS, key=d.__getitem__, reverse=True)
    union = np.unique(np.concatenate([_ARANGE[::3], _ARANGE[::7]]))
    common = np.intersect1d(union, _ARANGE[::2], assume_unique=True)
    return len(order) + int(common.sum())


class Speed:
    """Kernel times by when they were taken, and the scaling of any
    timed interval by the kernel times around it. Samples are taken on
    one thread at a time (the caller's, or the background sampler's),
    so they arrive in time order."""

    def __init__(self) -> None:
        self.at: list[float] = []
        self.cost: list[float] = []

    def sample(self, n: int = 1) -> None:
        for _ in range(n):
            at = time.perf_counter()
            c0 = time.thread_time()
            kernel()
            self.cost.append(time.thread_time() - c0)
            self.at.append(at)

    def sample_fastest(self, n: int) -> None:
        """One sample: the fastest of n kernel runs."""
        at = time.perf_counter()
        costs = []
        for _ in range(n):
            c0 = time.thread_time()
            kernel()
            costs.append(time.thread_time() - c0)
        self.cost.append(min(costs))
        self.at.append(at)

    @contextmanager
    def sampling(self):
        """Sample (fastest of BURST) every PERIOD_S on a background
        thread for the duration of the block; the caller takes no
        samples of its own meanwhile."""
        stop = threading.Event()

        def loop() -> None:
            while not stop.wait(PERIOD_S):
                self.sample_fastest(BURST)

        self.sample_fastest(BURST)
        thread = threading.Thread(target=loop, name="calibrate", daemon=True)
        thread.start()
        try:
            yield self
        finally:
            stop.set()
            thread.join()
            self.sample_fastest(BURST)

    def scale(self, t0: float, t1: float) -> float:
        """REF_S / median kernel time within WINDOW_S of [t0, t1]; with
        no sample that close, the nearest sample on each side."""
        if not self.at:
            raise ValueError("no calibration samples")
        lo = bisect.bisect_left(self.at, t0 - WINDOW_S)
        hi = bisect.bisect_right(self.at, t1 + WINDOW_S)
        if lo == hi:
            lo, hi = max(lo - 1, 0), min(hi + 1, len(self.at))
        return REF_S / statistics.median(self.cost[lo:hi])

    def normalised(self, spans: list[tuple[float, float]]) -> list[float]:
        """Durations (s) of spans, each scaled to the reference speed."""
        return [(t1 - t0) * self.scale(t0, t1) for t0, t1 in spans]

    def kernel_ms(self) -> float:
        return statistics.median(self.cost) * 1e3
