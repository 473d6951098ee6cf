"""Host-speed probe: scales a run's times to a reference host speed.

The benchmark runs on a host shared with other tenants, whose speed
drifts by a third within minutes. Request latency follows that drift,
so raw wall times of the same code spread past any useful bound from
one run to the next. The probe is a fixed piece of work that touches
nothing of the package, in four parts: a pure-Python loop, round trips
over py4j to the session's JVM, a pyarrow read of a parquet file the
benchmark writes itself, and a 10-row pandas frame turned into a Spark
DataFrame and collected, as the local tier returns its answers. These
are the kinds of work a request spends its time in.

The probe runs in two blocks, one before the loop and one after it,
each after a pause, so that no request's background work (Python
workers winding down, JVM cleanup) overlaps it; probes taken right
after each request read that work as a slower host. Every time the run
reports is multiplied by the geometric mean, over the parts, of

    REF_MS[part] / median(that part's times in the run)

as SPEC scores a machine by the geometric mean of its speed ratios. On
a host where each part takes its REF_MS the scaled time is the wall
time. The parts slow by different amounts when the host is busy: CPU
contention slows the loop, scheduling delays slow the round trips and
the DataFrame most. The geometric mean keeps one part's spike from
deciding the factor.

A change to the package moves the request times but not the probe, so
the scaled times show it; a change in host speed moves both. The
factor is one per run and follows drift between runs, not within one.
The DataFrame part runs under the session's settings, so a
change to those (Arrow transfer, say) moves the probe too, and the
scaled times show less of it.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# per-part times (loop, py4j, parquet, frame) at which scaled times equal wall times
REF_MS = (2.2, 1.9, 3.0, 17.0)
LOOP = 30_000  # iterations of the Python loop
ROUND_TRIPS = 20  # py4j calls
ROWS = 4_000  # rows of the probe's parquet file


class Probe:
    """Times the probe and keeps every timing."""

    def __init__(self, spark, work_dir: str):
        self._spark = spark
        self._clock = spark._jvm.java.lang.System
        self._frame = pd.DataFrame({"doc_id": np.arange(10), "score": np.linspace(1.0, 0.1, 10)})
        rng = np.random.default_rng(0)
        words = np.array([f"w{i:04d}" for i in range(2000)])
        text = [" ".join(words[rng.integers(0, len(words), 12)]) for _ in range(ROWS)]
        self.path = os.path.join(work_dir, "probe.parquet")
        pq.write_table(pa.table({"id": np.arange(ROWS), "text": text}), self.path)
        self.parts: list[tuple] = []  # seconds of (loop, py4j, parquet, frame)
        for _ in range(3):
            self._work()  # warm the page cache and the py4j connection, untimed

    def _work(self) -> tuple:
        t0 = time.perf_counter()
        s = 0
        for i in range(LOOP):
            s += i * i
        t1 = time.perf_counter()
        for _ in range(ROUND_TRIPS):
            self._clock.nanoTime()
        t2 = time.perf_counter()
        pq.read_table(self.path)
        t3 = time.perf_counter()
        self._spark.createDataFrame(self._frame, schema="doc_id long, score double").collect()
        t4 = time.perf_counter()
        return (t1 - t0, t2 - t1, t3 - t2, t4 - t3)

    def __call__(self, times: int = 1) -> None:
        for _ in range(times):
            self.parts.append(self._work())

    def median_ms(self) -> list[float]:
        """Each part's median time."""
        return [statistics.median(part) * 1e3 for part in zip(*self.parts)]

    def scale(self) -> float:
        """The factor that brings the run's times to the reference host
        speed."""
        ratios = [ref / ms for ref, ms in zip(REF_MS, self.median_ms())]
        return statistics.geometric_mean(ratios)
