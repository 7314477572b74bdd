"""Tracing from outside the program: spans around layer calls, Spark job
groups, and stage metrics read back from the local Spark UI REST API.

Spans live in memory as (name, start, end, parent, run id) and are
written out once, when the run ends. Every span that names a job group
tags the Spark jobs submitted inside it with ``setJobGroup``; the status
tracker then maps the group to its job and stage ids, and the stage ids
to shuffle bytes, GC time and task times from the UI's REST endpoint.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from collections import defaultdict
from contextlib import contextmanager


class Layers:
    """Per-pass counters and busy times of the layers a pass calls into."""

    def __init__(self):
        self.values: dict[str, float] = defaultdict(float)

    def add(self, name: str, value: float) -> None:
        self.values[name] += value

    @contextmanager
    def timed(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add(name, time.perf_counter() - t0)


class NoTrace:
    """Stand-in tracer for untraced passes: a span costs one empty dict."""

    @contextmanager
    def span(self, name, group=None):
        yield {}


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.groups: list[str] = []
        base = self.sc.uiWebUrl
        self._rest = (
            f"{base}/api/v1/applications/{self.sc.applicationId}" if base else None
        )

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Record one span; with ``group``, tag the Spark jobs it submits."""
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        if group is not None:
            self.sc.setJobGroup(group, group)
            self.groups.append(group)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs_and_stages(self, group: str) -> tuple[int, list[int]]:
        """Spark job count and stage ids submitted under ``group``."""
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group) or [])
        stages: list[int] = []
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.extend(list(info.stageIds))
        return len(jobs), stages

    def _get(self, path: str):
        with urllib.request.urlopen(self._rest + path, timeout=10) as r:
            return json.load(r)

    def stage_metrics(self, stage_ids) -> dict[str, float]:
        """Shuffle bytes, GC seconds, stage count and the worst task skew
        (max over median task duration) across the completed stages."""
        out = {"stages": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "gc_s": 0.0, "task_skew": 1.0}
        wanted = set(stage_ids)
        if self._rest is None or not wanted:
            return out
        try:
            listing = self._get("/stages?status=complete")
        except (urllib.error.URLError, OSError):
            return out
        skews = [1.0]
        for st in listing:
            if st["stageId"] not in wanted:
                continue
            out["stages"] += 1
            out["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
            out["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            out["gc_s"] += st.get("jvmGcTime", 0) / 1000.0
            if st.get("numTasks", 0) < 2:
                continue
            try:
                summary = self._get(
                    f"/stages/{st['stageId']}/{st['attemptId']}"
                    "/taskSummary?quantiles=0.5,1.0"
                )
            except (urllib.error.URLError, OSError):
                continue
            med, mx = summary["duration"]
            skews.append(mx / med if med > 0 else 1.0)
        out["task_skew"] = max(skews)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it
    (nearest rank), and that percentile's value."""
    xs = sorted(values)
    k = max(0, len(xs) - beyond - 1)
    return 100.0 * (k + 1) / len(xs), xs[k]
