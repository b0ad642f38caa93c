"""Span tracing for the traced benchmark run (``--trace 1``).

The benchmark does not change the package. It wraps the public methods of
each layer's classes in this process only, and records one span per call:
name, start, end, parent span, step id and run phase. Each span also gets
the Spark jobs, stages and tasks that ran inside it. Spans stay in memory
and are written out when the run ends.

Job accounting uses a Spark job group per span, set on the thread that
makes the call. ``foreachBatch`` runs the engine's ``apply_changes`` on a
callback thread, not the main thread, so a group set on the main thread
would see none of those jobs. A span opened on a thread with no open span
of its own takes the main thread's innermost span as its parent. That is
how an apply nests under the drain that triggered it.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op.

    ``step`` and ``phase`` are set by the run loop and stamped on every
    span opened while they hold."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[dict] = []
        self.step: int | None = None
        self.phase: str | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[dict] = []
        self._undo: list = []

    def attach(self, sc) -> None:
        """Start job accounting once the SparkContext exists."""
        self.sc = sc

    def _stack(self) -> list[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """Add a span measured without the context manager (session boot,
        which happens before a SparkContext exists to group jobs)."""
        if self.enabled:
            self.spans.append({"id": next(self._ids), "name": name,
                               "parent": None, "step": self.step,
                               "phase": self.phase, "start": start,
                               "end": end, "jobs": 0, "stages": 0,
                               "tasks": 0, **attrs})

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "step": self.step, "phase": self.phase, **attrs}
        group = f"perfbench-span-{rec['id']}"
        saved = None
        if self.sc is not None:
            saved = [self.sc.getLocalProperty(p) for p in _GROUP_PROPS]
            self.sc.setJobGroup(group, name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if saved is not None:
                for prop, value in zip(_GROUP_PROPS, saved):
                    self.sc.setLocalProperty(prop, value)
                self._count_jobs(rec, group)
            self.spans.append(rec)

    def _count_jobs(self, rec: dict, group: str) -> None:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            stages += len(info.stageIds)
            for stage in info.stageIds:
                sinfo = tracker.getStageInfo(stage)
                if sinfo is not None:
                    tasks += sinfo.numCompletedTasks
        rec.update(jobs=len(jobs), stages=stages, tasks=tasks)

    def wrap(self, owner, method: str, name: str, after=None) -> None:
        """Replace ``owner.method`` with a spanning wrapper. ``after(rec,
        args, result)`` may add attributes to the finished call's span."""
        orig = getattr(owner, method)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if rec is not None and after is not None:
                    after(rec, args, out)
                return out

        setattr(owner, method, wrapper)
        self._undo.append((owner, method, orig))

    def unwrap_all(self) -> None:
        while self._undo:
            owner, method, orig = self._undo.pop()
            setattr(owner, method, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                f.write(json.dumps(rec, sort_keys=True) + "\n")


def instrument(tracer: Tracer) -> None:
    """Wrap the public calls of every layer the benchmark drives."""
    from qvarn_mr_spark.operators.incremental import (
        IncrementalEngine,
        ParquetStateStore,
    )
    from qvarn_mr_spark.operators.mapreduce import ViewEngine
    from qvarn_mr_spark.sources.resource_store import ResourceStore
    from qvarn_mr_spark.streaming.maintainer import StreamingMaintainer

    def snapshot_size(rec, args, _out):
        store, table = args[0], args[1]
        path = os.path.join(store._dir(table), f"v{store.version(table)}")
        files = [os.path.join(d, f) for d, _, fs in os.walk(path)
                 for f in fs if f.endswith(".parquet")]
        rec.update(table=table, store=os.path.basename(store.root),
                   files=len(files),
                   bytes=sum(os.path.getsize(f) for f in files))

    def input_files(rec, args, out):
        rec.update(table=args[1], store=os.path.basename(args[0].root),
                   files=len(out.inputFiles()))

    def target(rec, args, _out):
        rec["table"] = args[1]

    rs = "sources.resource_store"
    tracer.wrap(ResourceStore, "backfill", f"{rs}.backfill")
    for verb in ("create_many", "update", "delete_many"):
        tracer.wrap(ResourceStore, verb, f"{rs}.write")
    tracer.wrap(StreamingMaintainer, "run_available",
                "streaming.maintainer.drain")
    inc = "operators.incremental"
    tracer.wrap(IncrementalEngine, "apply_changes", f"{inc}.apply")
    tracer.wrap(IncrementalEngine, "resync_all", f"{inc}.resync_all")
    tracer.wrap(IncrementalEngine, "resync_changed", f"{inc}.resync_changed")
    tracer.wrap(IncrementalEngine, "resync", f"{inc}.resync", after=target)
    tracer.wrap(ParquetStateStore, "overwrite", f"{inc}.store.overwrite",
                after=snapshot_size)
    tracer.wrap(ParquetStateStore, "read", f"{inc}.store.read",
                after=input_files)
    tracer.wrap(ViewEngine, "map_table", "operators.mapreduce.map_table")
    tracer.wrap(ViewEngine, "reduce_table", "operators.mapreduce.reduce_table")


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------

class SpanIndex:
    """Queries over a finished span list: by name, by subtree, and each
    span's self time."""

    def __init__(self, spans: list[dict]):
        self.spans = spans
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)
        self.self_time = {s["id"]: self._self_time(s) for s in spans}

    def _self_time(self, span: dict) -> float:
        """Duration minus the union of the intervals its children cover
        (children on other threads may overlap each other)."""
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(self.children.get(span["id"], ()),
                        key=lambda c: c["start"]):
            a, b = max(c["start"], span["start"]), min(c["end"], span["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return dur(span) - covered

    def named(self, name: str, phases=None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and (phases is None or s["phase"] in phases)]

    def subtree(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s["id"], ()))
        return out

    def total(self, span: dict, key: str) -> float:
        return sum(s.get(key, 0) for s in self.subtree(span))

    def within(self, span: dict, name: str) -> list[dict]:
        return [s for s in self.subtree(span)[1:] if s["name"] == name]


def dur(s: dict) -> float:
    return s["end"] - s["start"]


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0
