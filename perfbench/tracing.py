"""In-memory spans and Spark job/task counts for the traced run.

A span is recorded around each call the benchmark makes into a layer of
the program: name, start, end, parent span and request id. Spans stay in
memory and are written out once, when the run ends. With tracing off,
:class:`NullTracer` makes every span a no-op, so the untraced run pays
nothing but a method call.

Job and task counts come from ``SparkStatusTracker``: each traced
operation runs under its own Spark job group (set per thread), and its
count is read back once the operation has finished.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class NullTracer:
    @contextmanager
    def span(self, name: str, request: str | None = None, group: bool = False):
        yield


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, request: str | None = None, group: bool = False):
        """Record one span. With ``group`` the span's Spark jobs run in
        their own job group, and the span gets ``jobs`` and ``tasks``."""
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else None),
        }
        if group:
            self._sc.setJobGroup(f"perfbench-{sid}", name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if group:
                self._sc._jsc.clearJobGroup()
                rec["jobs"], rec["tasks"] = self._job_counts(f"perfbench-{sid}")
            with self._lock:
                self.spans.append(rec)

    def _job_counts(self, group: str) -> tuple[int, int]:
        tracker = self._sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stages = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for sid in stages:
            info = tracker.getStageInfo(sid)
            if info is not None:
                tasks += info.numCompletedTasks
        return len(job_ids), tasks

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the part of it
        that its child spans cover, in seconds."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, list[float]] = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - covered)
        return out

    def write(self, path: Path) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with path.open("w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                rec = dict(s, start=s["start"] - t0, end=s["end"] - t0)
                f.write(json.dumps(rec) + "\n")

    def summary_lines(self) -> list[str]:
        lines = [f"{'layer span':<34}{'count':>6}{'self ms total':>15}{'self ms p50':>13}"]
        for name, vals in sorted(self.self_times().items()):
            lines.append(
                f"{name:<34}{len(vals):>6}{sum(vals) * 1e3:>15.1f}"
                f"{statistics.median(vals) * 1e3:>13.1f}"
            )
        return lines
