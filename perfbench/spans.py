"""Spans around the calls the benchmark makes into the engine's layers.

A span records its name, start, end, parent span and operation id. While
a span is the innermost one open, Spark jobs run under a job group of its
own, so its job, stage and task counts come from ``statusTracker()`` when
it closes. Layer calls made *inside* the engine are reached by wrapping
the public methods of the objects the benchmark owns (``wrap``); the
engine's own files are not touched.

With tracing off every call is a plain pass-through: no job groups, no
records.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: "int | None" = None
        self._stack: list[tuple[int, str, str]] = []  # (span id, group, name)
        self._next = 0
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        group = f"perfbench-{os.getpid()}-{sid}"
        parent = self._stack[-1][0] if self._stack else None
        self.sc.setJobGroup(group, name)
        self._stack.append((sid, group, name))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                _, pgroup, pname = self._stack[-1]
                self.sc.setJobGroup(pgroup, pname)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            jobs, stages, tasks = self._counts(group)
            self.spans.append({
                "id": sid, "name": name, "parent": parent, "op": self.op_id,
                "start": start - self._t0, "end": end - self._t0,
                "jobs": jobs, "stages": stages, "tasks": tasks,
            })

    def _counts(self, group: str) -> "tuple[int, int, int]":
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in list(info.stageIds):
                stages += 1
                sinfo = st.getStageInfo(s)
                tasks += sinfo.numTasks if sinfo is not None else 0
        return len(jobs), stages, tasks

    def wrap(self, obj, attr: str, name: str) -> None:
        """Shadow ``obj.attr`` with a traced instance attribute, so calls
        the object makes on itself are traced too."""
        fn = getattr(obj, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(obj, attr, traced)

    # -- reading the spans back ---------------------------------------

    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the part of it covered by its direct children."""
    kids = sorted(
        (s["start"], s["end"]) for s in spans if s["parent"] == span["id"]
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span["end"] - span["start"] - covered


def total(spans: list[dict], name: str, key: str = "dur") -> float:
    """Sum over the spans called ``name`` of their duration or a count."""
    if key == "dur":
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)
    return sum(s[key] for s in spans if s["name"] == name)
