"""Spans and Spark job counts for the benchmark's traced run.

One helper serves every workload: ``Tracer`` wraps public functions at
the module attribute where their caller looks them up, records a span
(name, layer, start, end, parent, request id) for each call, and tags
each request's Spark jobs with a job group so ``statusTracker`` can
count jobs and tasks per request. Spans stay in memory; the run
summarises them when it ends.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    id: int = 0  # index in Tracer.spans
    parent: int | None = None  # id of the enclosing span
    request: int | None = None  # index of the traced request
    rows: int = 0
    children_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        # children run on the caller's thread, one after another
        return self.dur - self.children_s


@dataclass
class Request:
    cls: str
    kind: str
    group: str
    wall_s: float = 0.0
    cpu_s: float = 0.0
    spans: list[Span] = field(default_factory=list)

    def ms(self, layer: str, name: str | None = None, self_time: bool = True) -> float:
        return sum((sp.self_s if self_time else sp.dur) * 1e3 for sp in self.spans
                   if sp.layer == layer and (name is None or sp.name == name))

    def count(self, layer: str, name: str | None = None) -> int:
        return sum(1 for sp in self.spans
                   if sp.layer == layer and (name is None or sp.name == name))


class _TimedDataset:
    """Proxy for a ``pyarrow.dataset.Dataset`` whose ``to_table`` is a
    storage-read span; every other attribute passes through."""

    def __init__(self, tracer: "Tracer", inner):
        self._tracer = tracer
        self._inner = inner

    def to_table(self, *args, **kwargs):
        with self._tracer.span("storage.read", "storage") as sp:
            tbl = self._inner.to_table(*args, **kwargs)
            sp.rows = tbl.num_rows
        return tbl

    def __getattr__(self, name):
        return getattr(self._inner, name)


class Tracer:
    """In-memory span recorder with per-request Spark job groups.

    ``add`` registers wrappers; ``install`` swaps them in and
    ``uninstall`` restores the original functions, so untraced
    requests run the program untouched.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.requests: list[Request] = []
        self._stack: list[Span] = []
        self._request: Request | None = None
        self._wrappers: list[tuple[object, str, object, object]] = []
        self._n_groups = 0

    # -- spans ----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, layer, time.perf_counter(), id=len(self.spans),
                  parent=parent.id if parent is not None else None,
                  request=len(self.requests) - 1 if self._request is not None else None)
        self.spans.append(sp)
        if self._request is not None:
            self._request.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children_s += sp.dur

    def add(self, module, attr: str, layer: str, rows: bool = False) -> None:
        """Register a spanning wrapper for ``module.attr``. With ``rows``
        the span records the ``num_rows`` of the result, unless a nested
        span already read them."""
        fn = getattr(module, attr)
        name = f"{layer}.{attr}"

        def wrapper(*args, **kwargs):
            with self.span(name, layer) as sp:
                out = fn(*args, **kwargs)
                if rows and not sp.children_s:
                    sp.rows = out.num_rows
                return out

        self._wrappers.append((module, attr, fn, wrapper))

    def add_dataset(self, ds_module) -> None:
        """Span ``pyarrow.dataset.dataset`` (discovery) and the
        ``to_table`` of the dataset it returns (read)."""
        fn = ds_module.dataset

        def dataset(*args, **kwargs):
            with self.span("storage.discovery", "storage"):
                inner = fn(*args, **kwargs)
            return _TimedDataset(self, inner)

        self._wrappers.append((ds_module, "dataset", fn, dataset))

    def install(self) -> None:
        for module, attr, _fn, wrapper in self._wrappers:
            setattr(module, attr, wrapper)

    def uninstall(self) -> None:
        for module, attr, fn, _wrapper in self._wrappers:
            setattr(module, attr, fn)

    # -- jobs -----------------------------------------------------------
    def job_group(self, prefix: str) -> str:
        """Tag the Spark jobs this thread runs next with a fresh group."""
        self._n_groups += 1
        gid = f"{prefix}-{self._n_groups}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def clear_job_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def jobs(self, prefix: str):
        """Tag the Spark jobs run inside the block; yields the group id."""
        gid = self.job_group(prefix)
        try:
            yield gid
        finally:
            self.clear_job_group()

    def settle(self, timeout_s: float = 5.0) -> None:
        """Let the asynchronously fed status store catch up."""
        st = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        while st.getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.05)
        time.sleep(0.2)

    def job_counts(self, gid: str) -> tuple[int, int]:
        """(jobs, tasks) of one job group; call ``settle`` first."""
        st = self.sc.statusTracker()
        job_ids = list(st.getJobIdsForGroup(gid))
        tasks = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info is not None else ()):
                stage = st.getStageInfo(s)
                tasks += stage.numTasks if stage is not None else 0
        return len(job_ids), tasks

    # -- requests -------------------------------------------------------
    @contextlib.contextmanager
    def request(self, cls: str, kind: str):
        """One traced request: wrappers installed, its own job group,
        wall and driver CPU time."""
        req = Request(cls, kind, self.job_group(f"req-{cls}"))
        self.requests.append(req)
        self._request = req
        self.install()
        c0, t0 = time.process_time(), time.perf_counter()
        try:
            yield req
        finally:
            req.wall_s = time.perf_counter() - t0
            req.cpu_s = time.process_time() - c0
            self.uninstall()
            self.clear_job_group()
            self._request = None


def jvm_gc_ms(spark) -> float:
    """Total JVM collection time so far, from the GC MXBeans."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))
