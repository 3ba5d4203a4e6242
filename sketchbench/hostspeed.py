"""The host's current CPU speed, measured outside the program under test.

The benchmark's host shares its physical machine: its speed drifts by up
to 2x over tens of minutes with no change in the code. A probe runs a
fixed CPU task on every core at once, in worker processes forked before
the JVM starts, and times it; a round time divided by the probe time of
the same run is a time in units of the probe, which a change of host
speed moves much less than it moves the raw time. A single-threaded
probe tracked the drift less well than one on every core: the rounds run
on every core too.
"""

from __future__ import annotations

import multiprocessing
import statistics
import time

import numpy as np

REPEATS = 3  # probe timings per sample


def _task(_) -> None:
    """One worker's share of a probe: a pure-Python loop and a numpy sort,
    three times."""
    data = np.random.default_rng(0).random(400_000)
    for _ in range(3):
        sum(x * x for x in range(150_000))
        np.sort(data)


class HostSpeed:
    """A pool of ``workers`` forked processes that runs the probe task once
    on each, REPEATS times per ``sample``. Create it before the JVM starts
    (forking a process that talks to the JVM is not safe), and ``close``
    it: that ends the workers and waits for them."""

    def __init__(self, workers: int):
        self.workers = workers
        self._pool = multiprocessing.get_context("fork").Pool(workers)

    def sample(self) -> list[float]:
        """Wall seconds of REPEATS probes."""
        out = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            self._pool.map(_task, range(self.workers), chunksize=1)
            out.append(time.perf_counter() - t0)
        return out

    def close(self) -> None:
        self._pool.close()
        self._pool.join()


def median(samples: list[list[float]]) -> float:
    return statistics.median(t for s in samples for t in s)
