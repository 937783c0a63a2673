"""Span recorder for the traced run, wrapped around the package's public
functions from outside the package.

A span records its name, start, end, parent and the run id. While a span
is open on a thread, the thread's Spark job group is the span's id, so
the jobs a span launches itself are known afterwards from
``statusTracker()``; their stages give tasks, input bytes, shuffle bytes
and executor run time (``statusStore().lastStageAttempt``). Spans stay in
memory and are written once, when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.root: int | None = None  # parent of spans opened on threads with no open span
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- recording -------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _group(self, sid: int | None) -> str | None:
        return None if sid is None else f"{self.run_id}-{sid}"

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id, **attrs}
        stack.append(sid)
        self.sc.setLocalProperty("spark.jobGroup.id", self._group(sid))
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", self._group(stack[-1] if stack else None))
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name, on_result=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span.
        ``name`` is a string or a function of the call's arguments;
        ``on_result(rec, result, args, kwargs)`` may add fields."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label) as rec:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out, args, kwargs)
                return out

        self.patch(owner, attr, traced)

    def patch(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` (or ``owner[attr]`` for a dict) until
        ``unwrap_all``."""
        if isinstance(owner, dict):
            self._patches.append((owner, attr, owner[attr]))
            owner[attr] = new
        else:
            self._patches.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, new)

    def insert_span(self, name: str, parent: int, start: float, end: float) -> None:
        """Add a span after the fact, under ``parent``, and move the
        parent's children that started inside [start, end) under it."""
        with self._lock:
            sid = next(self._ids)
            for s in self.spans:
                if s["parent"] == parent and start <= s["start"] < end:
                    s["parent"] = sid
            self.spans.append(
                {"id": sid, "name": name, "parent": parent, "run": self.run_id,
                 "start": start, "end": end}
            )

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            if isinstance(owner, dict):
                owner[attr] = fn
            else:
                setattr(owner, attr, fn)
        self._patches.clear()

    def span_cost_s(self, n: int = 2000) -> float:
        """Measured cost of opening and closing one span (the part of the
        traced run's wall that tracing adds)."""
        saved, self.spans = self.spans, []
        t0 = time.perf_counter()
        for _ in range(n):
            with self.span("trace.calibrate"):
                pass
        cost = (time.perf_counter() - t0) / n
        self.spans = saved
        return cost

    # -- Spark counters --------------------------------------------------

    def attach_spark_counters(self) -> None:
        """Fill each span's own (non-inherited) Spark counters from the
        jobs its job group ran."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for rec in self.spans:
            c = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
                 "input_bytes": 0, "shuffle_bytes": 0, "output_bytes": 0}
            for jid in tracker.getJobIdsForGroup(self._group(rec["id"])):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                c["jobs"] += 1
                for stage_id in info.stageIds:
                    try:
                        sd = store.lastStageAttempt(stage_id)
                    except Py4JJavaError:  # stage never submitted
                        continue
                    if str(sd.status()) == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += sd.numTasks()
                    c["executor_run_s"] += sd.executorRunTime() / 1000.0
                    c["input_bytes"] += sd.inputBytes()
                    c["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                    c["output_bytes"] += sd.outputBytes()
            rec["spark"] = c

    # -- derived views ---------------------------------------------------

    def annotate(self) -> None:
        """Add inclusive counters and self time to every span. Self time
        is the span's duration minus the union of its children's
        intervals."""
        children = defaultdict(list)
        for rec in self.spans:
            children[rec["parent"]].append(rec)

        def visit(rec):
            incl = dict(rec.get("spark", {}))
            intervals = []
            for ch in children.get(rec["id"], []):
                visit(ch)
                for k, v in ch["spark_incl"].items():
                    incl[k] = incl.get(k, 0) + v
                intervals.append((max(ch["start"], rec["start"]), min(ch["end"], rec["end"])))
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in sorted(intervals):
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            rec["dur_s"] = rec["end"] - rec["start"]
            rec["self_s"] = max(0.0, rec["dur_s"] - covered)
            rec["spark_incl"] = incl

        for rec in children.get(None, []):
            visit(rec)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((r["start"] for r in self.spans), default=0.0)
        spans = [
            {**r, "start": round(r["start"] - t0, 6), "end": round(r["end"] - t0, 6)}
            for r in sorted(self.spans, key=lambda r: r["start"])
        ]
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, **extra, "spans": spans}, fh, indent=1, default=str)
