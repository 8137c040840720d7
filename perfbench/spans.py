"""Tracing for the per-layer run: in-memory spans, wrappers around the
engine's public calls, and Spark job/stage counters per operation.

Nothing here is imported by an untraced run. Spans are plain dicts
``{"name", "start", "end", "parent", "op", ...}`` with times in seconds
on ``time.perf_counter``; they are written out once, at the end.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.op: str | None = None
        self.enabled = True  # patched-in wrappers pass straight through when False
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "op": self.op,
            **attrs,
        }
        self.spans.append(rec)
        stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": self.spans}, fh)


def wrap_load_table(tracer: Tracer) -> int:
    """Replace ``catalog.load_table`` and every module-level binding of it
    (modules bind it by name at import) with a traced wrapper. Every
    module of the package is imported first, so no binding is missed.
    Returns the number of bindings replaced."""
    import importlib
    import pkgutil

    import ua2sql_spark
    from ua2sql_spark import catalog

    for m in pkgutil.walk_packages(ua2sql_spark.__path__, "ua2sql_spark."):
        if not m.name.endswith("__main__"):
            importlib.import_module(m.name)
    orig = catalog.load_table
    traced = tracer.wrap("catalog.load_table", orig)
    n = 0
    for name, mod in list(sys.modules.items()):
        if not (name == "ua2sql_spark" or name.startswith("ua2sql_spark.")) or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, traced)
                n += 1
    return n


# ---------------------------------------------------------------------------
# Spark counters, scoped by job group


class SparkCounters:
    """Reads Spark's own job and stage counters for a set of job groups
    through ``StatusTracker`` and the app status store. Both work with
    the UI disabled."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.cores = self.sc.defaultParallelism

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def job_ids(self, groups) -> list[int]:
        ids: set[int] = set()
        for g in groups:
            ids.update(self.tracker.getJobIdsForGroup(g))
        return sorted(ids)

    def totals(self, job_ids) -> dict:
        """Job/stage/task counters over ``job_ids``. Skipped stages (reused
        shuffle output) count for nothing. ``exec_s`` is the length of the
        union of the jobs' run intervals."""
        out = dict(
            jobs=len(job_ids), stages=0, tasks=0, failed_tasks=0, task_run_s=0.0,
            task_cpu_s=0.0, gc_s=0.0, shuffle_write_bytes=0, spill_bytes=0, exec_s=0.0,
        )
        intervals = []
        seen: set[int] = set()
        for j in job_ids:
            try:
                jd = self.store.job(j)
            except Py4JError:  # evicted from the status store
                continue
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            info = self.tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                if s in seen:
                    continue
                seen.add(s)
                try:
                    sd = self.store.lastStageAttempt(s)
                except Py4JError:  # evicted from the status store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["task_run_s"] += sd.executorRunTime() / 1e3
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        union_ms, hi = 0, None
        for a, b in sorted(intervals):
            if hi is None or a > hi:
                union_ms += b - a
                hi = b
            elif b > hi:
                union_ms += b - hi
                hi = b
        out["exec_s"] = union_ms / 1e3
        return out


# ---------------------------------------------------------------------------
# Wrappers for the objects process_raw_dump takes by injection


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class TracedClient:
    """An ``ExportClient`` that spans the download leg."""

    def __init__(self, inner, tracer: Tracer):
        self.inner, self.tracer = inner, tracer

    def request_export(self, feed, start_date, continue_from):
        return self.inner.request_export(feed, start_date, continue_from)

    def is_complete(self, job_id):
        return self.inner.is_complete(job_id)

    def download_results(self, job_id, staging_dir):
        with self.tracer.span("sources.export.download") as rec:
            files = self.inner.download_results(job_id, staging_dir)
            rec["bytes"] = sum(os.path.getsize(f) for f in files)
        return files


class TracedCheckpoint:
    """A ``JobIdCheckpoint`` whose lookup and append are spans."""

    def __init__(self, inner, tracer: Tracer):
        self.inner, self.tracer = inner, tracer

    def find_previous_job_id(self, job_type):
        with self.tracer.span("sources.checkpoint.lookup"):
            return self.inner.find_previous_job_id(job_type)

    def append(self, job_id, job_type, ts=None):
        with self.tracer.span("sources.checkpoint.append"):
            return self.inner.append(job_id, job_type, ts)


def traced_sink(sink, root: str, tracer: Tracer):
    """A ``sink(df, feed) -> rows`` that spans the write and records the
    rows and bytes it landed."""

    def _sink(df, feed):
        out = os.path.join(root, feed)
        before = dir_bytes(out)
        with tracer.span("sources.sink") as rec:
            rows = sink(df, feed)
            rec["rows"] = rows
        rec["bytes_out"] = dir_bytes(out) - before
        return rows

    return _sink
