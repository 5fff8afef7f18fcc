"""Traced-run tooling: spans around the engine's public entry points,
self-time arithmetic, Spark job/stage/task counts and inode-diff write
accounting.

Spans are recorded from outside the engine by wrapping its public
methods (:func:`instrument`); nothing in the engine changes. Spans stay
in memory until the run ends. A span's parent is the innermost open span
of the same thread; a thread with no open span (an orchestrator worker)
adopts :attr:`Recorder.root`, so per-table spans nest under the
``orchestrator.process`` span that spawned them.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from dataclasses import dataclass, field

#: span recording the tracer's own work inside a traced call (inode walks,
#: state-file sizes); parents exclude it from their self time, and its
#: total is the in-run tracing overhead
BOOKKEEPING = "trace.bookkeeping"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Recorder:
    """In-memory span store; safe to use from many threads."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.root: int | None = None
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[tuple[int, str]]:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    def current(self) -> str | None:
        """Name of this thread's innermost open span."""
        stack = self._stack()
        return stack[-1][1] if stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block; yields ``(span id, attrs)``
        so the block can attach results to the span."""
        stack = self._stack()
        parent = stack[-1][0] if stack else self.root
        sid = next(self._ids)
        stack.append((sid, name))
        start = time.perf_counter()
        try:
            yield sid, attrs
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, attrs))

    def take(self) -> list[Span]:
        """Remove and return every span recorded so far."""
        with self._lock:
            spans, self.spans = self.spans, []
        return spans


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: Iterable[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it that its children
    cover. Children may overlap (parallel workers); the union counts once."""
    spans = list(spans)
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {s.id: s.seconds - _covered(children[s.id], s.start, s.end) for s in spans}


# -- write accounting ----------------------------------------------------------


def file_inodes(root: str | None) -> set[tuple[int, int]]:
    """(device, inode) of every parquet file under ``root``."""
    out: set[tuple[int, int]] = set()
    if root is None:
        return out
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, fn))
                out.add((st.st_dev, st.st_ino))
    return out


def written_since(root: str | None, before: set[tuple[int, int]]) -> tuple[int, int]:
    """(rows, bytes) of the parquet files under ``root`` whose inode was
    not in ``before``. A hardlinked file keeps its inode, so buckets a
    merge carried forward count as not written."""
    import pyarrow.parquet as pq

    rows = size = 0
    if root is None:
        return rows, size
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            path = os.path.join(dirpath, fn)
            st = os.stat(path)
            if (st.st_dev, st.st_ino) in before:
                continue
            size += st.st_size
            rows += pq.ParquetFile(path).metadata.num_rows
    return rows, size


# -- Spark job counts ------------------------------------------------------------


def job_counts(sc, groups: Iterable[str]) -> tuple[int, int, int]:
    """(jobs, stages, tasks) that ran under the given Spark job groups,
    read from the status tracker (works with the UI disabled). Skipped
    stages have no stage info and are not counted."""
    tracker = sc.statusTracker()
    jobs, stages, tasks = 0, set(), 0
    for group in set(groups):
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                if sid in stages:
                    continue
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    stages.add(sid)
                    tasks += stage.numTasks
    return jobs, len(stages), tasks


# -- instrumentation ------------------------------------------------------------------


def instrument(rec: Recorder, sc) -> Callable[[], None]:
    """Wrap the engine's public entry points with spans; returns a
    function that restores the originals.

    Re-entrant calls of one layer (``BucketedParquetTarget.read`` calling
    ``ParquetTarget.read``) record one span, the outermost."""
    from d365fo_db_sync_spark import delta
    from d365fo_db_sync_spark.orchestrator import Orchestrator
    from d365fo_db_sync_spark.sinks import BucketedParquetTarget, ParquetTarget
    from d365fo_db_sync_spark.state import StateStore
    from d365fo_db_sync_spark.strategy import Fetcher
    from d365fo_db_sync_spark.sync import SyncEngine

    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr: str, make: Callable) -> None:
        original = owner.__dict__[attr]
        saved.append((owner, attr, original))
        setattr(owner, attr, make(original))

    def plain(name: str) -> Callable:
        def make(fn):
            def wrapper(*args, **kwargs):
                if rec.current() == name:
                    return fn(*args, **kwargs)
                with rec.span(name):
                    return fn(*args, **kwargs)

            return wrapper

        return make

    def sync_entry(name: str) -> Callable:
        def make(fn):
            def wrapper(self, *args, **kwargs):
                # the orchestrator sets a per-table job group on its worker
                # thread before calling in; read it here so the table's jobs
                # can be counted after the round
                with rec.span(BOOKKEEPING):
                    group = sc.getLocalProperty("spark.jobGroup.id")
                with rec.span(name, group=group) as (_sid, attrs):
                    report = fn(self, *args, **kwargs)
                    attrs["mode"] = report.mode
                return report

            return wrapper

        return make

    def sink_write(name: str) -> Callable:
        def make(fn):
            def wrapper(self, *args, **kwargs):
                # a merge into an empty target overwrites: count its
                # files once, in the outer span
                if rec.current() in ("sinks.overwrite", "sinks.merge"):
                    return fn(self, *args, **kwargs)
                with rec.span(BOOKKEEPING):
                    before = file_inodes(self.current_path())
                with rec.span(name) as (_sid, attrs):
                    out = fn(self, *args, **kwargs)
                    if name == "sinks.merge":
                        attrs["buckets"] = (out, self.n_buckets)
                with rec.span(BOOKKEEPING):
                    attrs["rows"], attrs["bytes"] = written_since(self.current_path(), before)
                return out

            return wrapper

        return make

    def state_commit(fn):
        def wrapper(self, *args, **kwargs):
            with rec.span("state.commit"):
                out = fn(self, *args, **kwargs)
            with rec.span(BOOKKEEPING) as (_sid, attrs):
                attrs["state_bytes"] = os.path.getsize(self._path)
            return out

        return wrapper

    def process(fn):
        def wrapper(self, *args, **kwargs):
            with rec.span("orchestrator.process") as (sid, attrs):
                attrs["workers"] = self.workers
                rec.root = sid
                try:
                    return fn(self, *args, **kwargs)
                finally:
                    rec.root = None

        return wrapper

    patch(SyncEngine, "sync_table", sync_entry("sync.sync_table"))
    patch(SyncEngine, "merge_upsert", sync_entry("sync.merge_upsert"))
    patch(ParquetTarget, "read", plain("sinks.read"))
    patch(BucketedParquetTarget, "read", plain("sinks.read"))
    patch(ParquetTarget, "num_rows", plain("sinks.num_rows"))
    patch(ParquetTarget, "overwrite", sink_write("sinks.overwrite"))
    patch(BucketedParquetTarget, "overwrite", sink_write("sinks.overwrite"))
    patch(BucketedParquetTarget, "merge", sink_write("sinks.merge"))
    for variant in ("full", "control", "incremental"):
        patch(Fetcher, variant, plain("strategy.fetch"))
    patch(delta, "classify_changes", plain("delta.classify"))
    patch(Orchestrator, "prepare", plain("orchestrator.prepare"))
    patch(Orchestrator, "process", process)
    patch(StateStore, "commit", state_commit)
    patch(StateStore, "merge_commit", state_commit)

    def restore() -> None:
        for owner, attr, original in reversed(saved):
            setattr(owner, attr, original)

    return restore
