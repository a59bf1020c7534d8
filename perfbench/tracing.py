"""Spans around calls into the CDC layers, recorded from outside the program.

A span records its name, parent, start and end. A *job* span also gives the
calls it covers their own Spark job group, so the jobs (``statusTracker``)
and task counters (the event log) of each call can be attributed to it. A
*light* span only times and counts: it is used for calls that never launch
a job (manifest loads), where two extra py4j round trips per call would
cost more than the call itself.

Spans are kept in memory and reduced after the run. Wrappers are installed
once per process and cost one attribute check while tracing is off, so a
run can measure an untraced window and a traced window with one session.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._undo: list = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        """Time a block; with ``jobs`` its Spark jobs get their own group."""
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        sp = {"name": name, "id": sid, "parent": parent["id"] if parent else None,
              "group": f"perfbench-{sid}" if jobs else None}
        stack.append(sp)
        if jobs:
            self.sc.setJobGroup(sp["group"], name)
        sp["t0"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["t1"] = time.perf_counter()
            stack.pop()
            if jobs:
                owner = next((s for s in reversed(stack) if s["group"]), None)
                if owner is not None:
                    self.sc.setJobGroup(owner["group"], owner["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, jobs: bool = True, on_result=None):
        """Replace ``owner.attr`` by a wrapper that opens a span per call
        while tracing is on; ``on_result(span, args, result)`` may annotate
        the span once it has closed."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name, jobs=jobs) as sp:
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(sp, args, out)
            return out

        self.patch(owner, attr, traced)

    def patch(self, owner, attr: str, new) -> None:
        """Replace ``owner.attr`` until :meth:`unwrap_all`."""
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def record_job_counts(self) -> None:
        """Self job count of every job span, from the status tracker."""
        st = self.sc.statusTracker()
        for sp in self.spans:
            if sp["group"]:
                sp["self_jobs"] = len(st.getJobIdsForGroup(sp["group"]))


class SpanTree:
    """Finished spans indexed for self time and subtree sums."""

    def __init__(self, spans: list[dict]):
        self.spans = sorted(spans, key=lambda s: s["id"])
        self.by_id = {s["id"]: s for s in self.spans}
        self.children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)

    @staticmethod
    def ms(s: dict) -> float:
        return (s["t1"] - s["t0"]) * 1000.0

    def self_ms(self, s: dict) -> float:
        return self.ms(s) - sum(self.ms(c) for c in self.children.get(s["id"], []))

    def subtree(self, s: dict) -> list[dict]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children.get(cur["id"], []))
        return out

    def ancestors(self, s: dict) -> list[str]:
        names, p = [], s["parent"]
        while p is not None:
            names.append(self.by_id[p]["name"])
            p = self.by_id[p]["parent"]
        return names

    def named(self, name: str, under: str | None = None, not_under: str | None = None) -> list[dict]:
        out = []
        for s in self.spans:
            if s["name"] != name:
                continue
            anc = self.ancestors(s)
            if under is not None and under not in anc:
                continue
            if not_under is not None and not_under in anc:
                continue
            out.append(s)
        return out

    def jobs(self, s: dict) -> int:
        return sum(x.get("self_jobs", 0) for x in self.subtree(s))

    def count(self, s: dict, name: str) -> int:
        return sum(1 for x in self.subtree(s) if x["name"] == name)

    def task_sum(self, s: dict, per_group: dict, key: str) -> float:
        return sum(per_group.get(x["group"], {}).get(key, 0) for x in self.subtree(s) if x["group"])


# -------------------------------------------------------------- event log

TASK_COUNTERS = ("tasks", "executor_run_ms", "gc_ms", "shuffle_write_bytes",
                 "spill_bytes", "bytes_written", "rows_written")


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Task counters summed per job group, from a plain-JSON event log.

    Stages map to the group of the first job that lists them; a task end
    without metrics (a failed task) counts as a task only."""
    stage_group: dict[int, str | None] = {}
    per_group: dict[str, dict[str, float]] = {}
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs)
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, gid)
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev.get("Stage ID"))
                    if gid is None:
                        continue
                    acc = per_group.setdefault(gid, dict.fromkeys(TASK_COUNTERS, 0))
                    acc["tasks"] += 1
                    tm = ev.get("Task Metrics")
                    if not tm:
                        continue
                    acc["executor_run_ms"] += tm.get("Executor Run Time", 0)
                    acc["gc_ms"] += tm.get("JVM GC Time", 0)
                    acc["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    acc["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    out = tm.get("Output Metrics") or {}
                    acc["bytes_written"] += out.get("Bytes Written", 0)
                    acc["rows_written"] += out.get("Records Written", 0)
    return per_group


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
