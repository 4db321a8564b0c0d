"""Span tracer for the traced benchmark run.

Spans come from two places, both in benchmark code: wrappers installed
on the engine's public module attributes (``Tracer.wrap``), and explicit
``Tracer.span`` blocks around calls whose work happens after they
return (a lazy DataFrame forced by the benchmark). Each span records
name, start, end, parent and run id; spans stay in memory until
``Tracer.summary`` folds them into per-layer metrics at the end.

Spark jobs are attributed by giving each job-launching span its own job
group and reading ``statusTracker().getJobIdsForGroup`` when it ends;
the previous group is restored afterwards, so a span nested in a
streaming ``foreachBatch`` hands its thread back to the query's group.
Executor run time and shuffle bytes come from the local Spark event log
after the session stops (``attach_event_logs``).

``NullTracer`` has the same surface and does nothing: the untraced run
executes the same benchmark code.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import threading
import time

# span kinds: "jobs" spans get a job group; "light" spans (pure driver
# side filesystem/log work) skip the py4j round trips; "count" wrappers
# only count calls of lazy builders whose work shows up elsewhere;
# "stream" spans also wait for the returned StreamingQuery to finish
# (a later ``awaitTermination`` by the caller then returns at once).
KINDS = ("jobs", "light", "count", "stream")
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "jobs"):
        yield None

    def bind(self, spark) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.calls: dict[str, int] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[dict] = []
        self._undo: list[tuple] = []
        self._sc = None
        self._group_owner: dict[str, dict] = {}

    def bind(self, spark) -> None:
        """Use ``spark``'s context for job groups (again after a restart)."""
        self._sc = spark.sparkContext

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[dict]:
        if threading.current_thread() is self._main:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "jobs"):
        stack = self._stack()
        # a span opened on a worker thread (a foreachBatch callback)
        # hangs under whatever the main thread is inside
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        rec = {"id": next(self._ids), "name": name, "run": self.run_id,
               "parent": parent["id"] if parent else None, "jobs": 0,
               "groups": []}
        saved = None
        if kind in ("jobs", "stream") and self._sc is not None:
            group = f"bench-{self.run_id}-{rec['id']}"
            saved = [self._sc.getLocalProperty(p) for p in _GROUP_PROPS]
            self._sc.setJobGroup(group, name)
            rec["groups"].append(group)
            self._group_owner[group] = rec
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if saved is not None:
                tracker = self._sc.statusTracker()
                rec["jobs"] = sum(len(tracker.getJobIdsForGroup(g))
                                  for g in rec["groups"])
                for prop, value in zip(_GROUP_PROPS, saved):
                    self._sc.setLocalProperty(prop, value)
            with self._lock:
                self.spans.append(rec)

    # -- wrappers ----------------------------------------------------------
    def wrap(self, module, attr: str, name: str, kind: str = "jobs") -> None:
        """Replace ``module.attr`` with a recording wrapper."""
        if kind not in KINDS:
            raise ValueError(f"unknown span kind {kind!r}")
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self._lock:
                self.calls[name] = self.calls.get(name, 0) + 1
            if kind == "count":
                return fn(*args, **kwargs)
            with self.span(name, kind) as rec:
                out = fn(*args, **kwargs)
                if kind == "stream":
                    # the drain's own jobs run under the query's run id
                    out.awaitTermination()
                    group = str(out.runId)
                    rec["groups"].append(group)
                    self._group_owner[group] = rec
                return out

        self.calls.setdefault(name, 0)
        setattr(module, attr, wrapper)
        self._undo.append((module, attr, fn))

    def unwrap_all(self) -> None:
        while self._undo:
            module, attr, fn = self._undo.pop()
            setattr(module, attr, fn)

    # -- event log ---------------------------------------------------------
    def attach_event_logs(self, log_dir: str) -> None:
        """Add executor run time and shuffle bytes to each span from the
        event logs of every (stopped) session in ``log_dir``."""
        for path in sorted(glob.glob(f"{log_dir}/*")):
            stage_group: dict[int, str] = {}
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                    elif kind == "SparkListenerTaskEnd":
                        rec = self._group_owner.get(stage_group.get(ev.get("Stage ID")))
                        m = ev.get("Task Metrics")
                        if rec is None or not m:
                            continue
                        rd = m.get("Shuffle Read Metrics", {})
                        rec["executor_run_s"] = rec.get("executor_run_s", 0.0) + (
                            m.get("Executor Run Time", 0) / 1000)
                        rec["shuffle_read_bytes"] = rec.get("shuffle_read_bytes", 0) + (
                            rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0))
                        rec["shuffle_write_bytes"] = rec.get("shuffle_write_bytes", 0) + (
                            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))

    # -- summary -----------------------------------------------------------
    def summary(self) -> dict[str, dict]:
        """Per span name: calls, total and self seconds, jobs, and the
        event-log counters. Self time is a span's duration minus the
        union of the intervals its child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        out: dict[str, dict] = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], last), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            agg = out.setdefault(s["name"], {
                "spans": 0, "s": 0.0, "self_s": 0.0, "jobs": 0,
                "executor_run_s": 0.0, "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0})
            agg["spans"] += 1
            dur = s["end"] - s["start"]
            agg["s"] += dur
            agg["self_s"] += dur - covered
            agg["jobs"] += s["jobs"]
            for k in ("executor_run_s", "shuffle_read_bytes", "shuffle_write_bytes"):
                agg[k] += s.get(k, 0)
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "calls": self.calls, **extra}, f)
