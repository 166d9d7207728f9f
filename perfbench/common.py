"""Shared benchmark plumbing: staging generated tables as parquet,
in-memory spans with Spark job-group accounting, samplers of the
process-tree RSS and of the host's CPU steal, and small statistics
helpers."""

from __future__ import annotations

import bisect
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def write_parquet(df: pd.DataFrame, spark_schema, path: str) -> None:
    """Write a generated pandas table as one parquet file with the
    Arrow twin of ``spark_schema``. Map columns arrive as dicts whose
    values are tuples in struct-field order."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import MapType, StructType

    df = df.copy()
    for f in spark_schema.fields:
        if isinstance(f.dataType, MapType) and isinstance(f.dataType.valueType, StructType):
            names = f.dataType.valueType.fieldNames()
            df[f.name] = [
                None if d is None else [(k, dict(zip(names, v))) for k, v in d.items()]
                for d in df[f.name]
            ]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(df, schema=to_arrow_schema(spark_schema), preserve_index=False)
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str
    span_id: int
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans around layer calls. Each span runs its Spark
    work under its own job group, so the jobs and tasks it launched are
    read back from the status tracker when it closes. A disabled tracer
    records nothing and sets no job group."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self._ids = itertools.count()

    def span(self, name: str, trace_id: str | None = None):
        return _SpanCtx(self, name, trace_id)

    def add(self, name: str, start: float, end: float, trace_id: str, **attrs) -> None:
        """Record a span measured elsewhere (e.g. from a stream's own
        progress reports)."""
        self.spans.append(Span(name, start, end, None, trace_id, next(self._ids), attrs))

    def self_times(self) -> dict[int, float]:
        """span_id -> duration minus the part of it its children cover
        (children of one span do not overlap: they run on one thread)."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_cover[s.parent] = child_cover.get(s.parent, 0.0) + (s.end - s.start)
        return {s.span_id: (s.end - s.start) - child_cover.get(s.span_id, 0.0) for s in self.spans}

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                    "trace_id": s.trace_id, "span_id": s.span_id,
                    "self_s": selfs[s.span_id], **s.attrs,
                }) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, trace_id: str | None):
        self.t, self.name, self.trace_id = tracer, name, trace_id
        self.span: Span | None = None

    def __enter__(self):
        t = self.t
        if not t.enabled:
            return self
        stack = t.stack
        parent = stack[-1] if stack else None
        sid = next(t._ids)
        trace_id = self.trace_id or (parent.trace_id if parent else f"t{sid}")
        self.group = f"span-{sid}"
        t.sc.setJobGroup(self.group, self.name)
        self.span = Span(self.name, time.perf_counter(), 0.0,
                         parent.span_id if parent else None, trace_id, sid)
        stack.append(self.span)
        return self

    def __exit__(self, *exc):
        t = self.t
        if not t.enabled:
            return False
        self.span.end = time.perf_counter()
        stack = t.stack
        stack.pop()
        jobs, tasks = spark_counts(t.sc, self.group)
        self.span.attrs.update(spark_jobs=jobs, spark_tasks=tasks)
        if stack:
            # child jobs ran under the child's group; restore the parent's
            t.sc.setJobGroup(f"span-{stack[-1].span_id}", stack[-1].name)
        else:
            t.sc.setLocalProperty("spark.jobGroup.id", None)
        t.spans.append(self.span)
        return False


def spark_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numTasks
    return len(jobs), tasks


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(x) for x in fh.read().split()]
    except OSError:
        return []


def _rss_kb(pid: int) -> int:
    """Proportional resident set (PSS) of ``pid`` in KiB: pages a forked
    Python worker still shares with the daemon it forked from count
    once across the tree, not once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def tree_rss_mb(root: int) -> dict[str, float]:
    """Resident set of ``root`` and all its descendants, in MiB, split
    into the root itself, java processes and the rest (Python workers)."""
    parts = {"driver": _rss_kb(root), "jvm": 0, "workers": 0}
    for pid in descendants(root):
        parts["jvm" if _comm(pid) == "java" else "workers"] += _rss_kb(pid)
    return {k: v / 1024.0 for k, v in parts.items()}


class _Sampler:
    """Calls ``_sample`` every ``period`` seconds on a daemon thread
    between ``__enter__`` and ``__exit__``."""

    def __init__(self, period: float):
        self.period = period
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name=type(self).__name__, daemon=True)

    def _sample(self):
        raise NotImplementedError

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


class RssSampler(_Sampler):
    """Samples the RSS of this process's tree (driver, the JVM it
    launched and the Python workers the JVM forks); ``peak_mb`` is the
    largest sum seen and ``parts_mb`` the largest of each part."""

    def __init__(self, period: float = 0.2):
        super().__init__(period)
        self.peak_mb = 0.0
        self.parts_mb = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}

    def _sample(self):
        parts = tree_rss_mb(os.getpid())
        self.peak_mb = max(self.peak_mb, sum(parts.values()))
        self.parts_mb = {k: max(v, parts[k]) for k, v in self.parts_mb.items()}


class StealSampler(_Sampler):
    """Samples the machine's CPU time counters (``/proc/stat``), so that
    :meth:`share` can tell how much CPU time the hypervisor gave to
    other guests (steal) during any stretch of the run."""

    def __init__(self, period: float = 0.05):
        super().__init__(period)
        self.samples: list[tuple[float, int, int]] = []  # (time, steal, all)

    def _sample(self):
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
        self.samples.append((time.time(), ticks[7], sum(ticks)))

    def share(self, t0: float, t1: float) -> float:
        """Steal share of the CPU time from the last sample at or before
        ``t0`` to the first at or after ``t1`` (``time.time()`` values)."""
        times = [s[0] for s in self.samples]
        a = self.samples[max(bisect.bisect_right(times, t0) - 1, 0)]
        b = self.samples[min(bisect.bisect_left(times, t1), len(times) - 1)]
        return (b[1] - a[1]) / max(b[2] - a[2], 1)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def pct(values: list[float], q: float) -> float:
    """Linearly interpolated percentile (q in 0..100) of a non-empty
    list."""
    return float(np.percentile(values, q))


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
