"""In-memory span tracer for the benchmark's traced runs.

A span covers one call into a layer of the engine: its name, start, end,
parent span, request id and the run's phase ("setup", "warmup" or
"loop"), plus the Spark jobs, tasks and failed tasks launched while it
was open. Jobs are attributed through a job group that
the tracer sets on the calling thread for the span's duration (the
engine sets none itself) and reads back from ``SparkContext.statusTracker``.
A parent's counts include its children's, since a child sets its own group.

Spans are recorded from outside the engine: the benchmark opens spans
around its own calls, and ``wrap_layers`` wraps the public methods that
those calls reach internally (``Index.batch`` -> ``IndexWriter.batch_index``
-> ``IndexBuilder.build``), so nested layers show up without touching the
engine's code. Untraced runs use ``NullTracer``: no wrapping, no job
groups, the same calls.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import time


def dir_bytes(path):
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class NullTracer:
    enabled = False
    phase = None

    @contextlib.contextmanager
    def span(self, name, request=None, **attrs):
        yield {}

    def wrap_layers(self):
        pass

    def restore(self):
        pass


class Tracer:
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.bus = sc._jsc.sc().listenerBus()
        self.spans = []
        self.phase = None
        self._stack = []
        self._ids = itertools.count(1)
        self._patched = []
        # wall time spent in the tracer's own bookkeeping (setting job
        # groups, draining the listener bus, reading the status tracker)
        self.self_s = 0.0

    @contextlib.contextmanager
    def span(self, name, request=None, **attrs):
        b0 = time.perf_counter()
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent["request"]
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request,
            "phase": self.phase,
            "jobs": 0,
            "tasks": 0,
            "failed_tasks": 0,
            **attrs,
        }
        group = f"perfbench-{sid}"
        self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self.self_s += rec["start"] - b0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            # job events reach the status store asynchronously; drain the
            # listener bus so the group's last job is visible
            self.bus.waitUntilEmpty()
            for jid in self.tracker.getJobIdsForGroup(group):
                info = self.tracker.getJobInfo(jid)
                if info is None:
                    continue
                rec["jobs"] += 1
                for stid in info.stageIds:
                    st = self.tracker.getStageInfo(stid)
                    if st is None:
                        continue
                    rec["tasks"] += (
                        st.numCompletedTasks + st.numFailedTasks + st.numActiveTasks
                    )
                    rec["failed_tasks"] += st.numFailedTasks
            if parent is not None:
                for k in ("jobs", "tasks", "failed_tasks"):
                    parent[k] += rec[k]
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)
            self.self_s += time.perf_counter() - rec["end"]

    def _wrap(self, cls, attr, name, on_result=None):
        orig = getattr(cls, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out)
                return out

        setattr(cls, attr, wrapped)
        self._patched.append((cls, attr, orig))

    def wrap_layers(self):
        """Wrap the engine's public layer entry points reached from inside
        other layers' calls."""
        from bleve_spark.api import Index
        from bleve_spark.build import IndexBuilder
        from bleve_spark.writer import IndexWriter

        def keep_stages(rec, report):
            rec["stages"] = {
                s["stage"]: s["wall_ms"] / 1e3 for s in report.stages
            }
            rec["index_path"] = report.index_path
            # table sizes now: set-up copies and merged segments are
            # deleted before the run ends
            rec["bytes"] = {
                d.name: dir_bytes(d.path)
                for d in os.scandir(report.index_path)
                if d.is_dir()
            }

        self._wrap(IndexBuilder, "build", "build.build", keep_stages)
        self._wrap(IndexWriter, "batch_index", "writer.batch")
        self._wrap(IndexWriter, "delete", "writer.delete")
        self._wrap(IndexWriter, "maybe_merge", "writer.merge")
        self._wrap(Index, "document", "api.get")

    def restore(self):
        for cls, attr, orig in reversed(self._patched):
            setattr(cls, attr, orig)
        self._patched.clear()

    def dump(self, path):
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")
