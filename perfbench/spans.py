"""Spans around calls into the program's layers, recorded from outside.

A span is a named interval with a parent. Each span sets its own Spark
job group, so the jobs, stages and tasks it ran are read back from
``statusTracker()`` once the pass is over. A traced call also
materializes any DataFrame it returns with ``localCheckpoint()``:
without that, a lazy layer records only its plan-building time and its
work lands in whichever later span happens to run the action.

Spans stay in memory; ``Tracer.records()`` turns them into plain dicts
for the run's detail file.
"""

from __future__ import annotations

import contextlib
import importlib
import time

from pyspark.sql import DataFrame

PKG = "build_datawarehouse_demo_spark"


def _force(out):
    if isinstance(out, DataFrame):
        return out.localCheckpoint()
    if isinstance(out, tuple):
        return tuple(_force(x) for x in out)
    if isinstance(out, dict):
        return {k: _force(v) for k, v in out.items()}
    return out


class NullTracer:
    """Tracing off: spans cost one generator frame, calls go straight
    through."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None

    def call(self, name: str, fn, *args, **kwargs):
        return fn(*args, **kwargs)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.root_group: str | None = None
        #: "setup" or "pass", stamped on each span
        self.phase = "pass"
        self.pass_wall = 0.0

    def _group(self, sid: int | None) -> str | None:
        return self.root_group if sid is None else f"perfbench-span-{sid}"

    def _set_group(self, group: str | None, name: str = "") -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, name)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "phase": self.phase,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(self._group(sid), name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            self._set_group(self._group(parent))

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name) as rec:
            out = _force(fn(*args, **kwargs))
            rec["output"] = out
        return out

    @contextlib.contextmanager
    def patched(self, targets):
        """Replace ``module.attr`` by a traced wrapper for the duration.
        ``targets`` are ``(module, attr, span_name)`` with module
        relative to the package; patch each name where its caller looks
        it up."""
        saved = []
        try:
            for mod_name, attr, span_name in targets:
                mod = importlib.import_module(f"{PKG}.{mod_name}")
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self._wrapper(span_name, orig))
            yield
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    def _wrapper(self, span_name, fn):
        def traced(*args, **kwargs):
            return self.call(span_name, fn, *args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    # -- read-back, after the pass ------------------------------------

    def count_rows(self, names: set[str]) -> None:
        """Row count of the forced output of every span named in
        ``names`` (cheap: the output is a local checkpoint)."""
        self.sc.setJobGroup("perfbench-aux", "row counts")
        try:
            for rec in self.spans:
                out = rec.get("output")
                if rec["name"] in names and isinstance(out, DataFrame):
                    rec["rows_out"] = out.count()
        finally:
            self._set_group(None)

    def collect_job_counts(self) -> None:
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            rec.update(group_counts(tracker, self._group(rec["id"])))

    def records(self) -> list[dict]:
        """The spans as plain dicts, without their forced outputs."""
        return [{k: v for k, v in rec.items() if k != "output"} for rec in self.spans]


def group_counts(tracker, group: str) -> dict:
    """Jobs, stages and tasks Spark ran under one job group. Skipped
    stages (shuffle output reused) count as neither stages nor tasks."""
    jobs = stages = tasks = failed = 0
    for jid in tracker.getJobIdsForGroup(group):
        jobs += 1
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue
            stages += 1
            tasks += st.numCompletedTasks
            failed += st.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its direct children cover (children
    run one after another on the driver thread, so they never
    overlap)."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


class JvmCounters:
    """GC time and peak heap of the driver JVM, from its MXBeans."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap = [
            p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"
        ]

    def gc_ms(self) -> int:
        return sum(max(0, g.getCollectionTime()) for g in self._gcs)

    def reset_peak(self) -> None:
        for p in self._heap:
            p.resetPeakUsage()

    def peak_heap_mb(self) -> float:
        """Sum of the heap pools' peaks since the last reset: an upper
        bound on the true simultaneous peak."""
        return sum(p.getPeakUsage().getUsed() for p in self._heap) / 2**20
