"""Span tracing for the benchmark's traced runs (``--trace 1``).

The engine carries no tracing of its own, so the benchmark patches the
public functions of each layer where their callers look them up (a
class attribute for methods, the importing module's global for
functions). Each wrapper records a span (id, name, parent, start, end) and tags the Spark jobs the call starts with the span id as
their job group. Spans stay in memory until the run ends. After the
session stops, the Spark event log the benchmark enabled is parsed and
every task is attributed to the span whose id its job carried, which
gives per-span task, GC, shuffle and spill totals.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict

JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self.active = False

    def start(self) -> None:
        """Drop what setup recorded and record from now on."""
        with self._lock:
            self.spans.clear()
            self.counts.clear()
            self.active = True

    def stop(self) -> None:
        self.active = False

    # --- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        with self._lock:
            sid = next(self._ids)
        stack = self._stack()
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "start": time.perf_counter(),
        }
        prev = sc.getLocalProperty(JOB_GROUP) if sc else None
        if sc:
            sc.setLocalProperty(JOB_GROUP, f"span-{sid}")
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            if sc:
                sc.setLocalProperty(JOB_GROUP, prev)
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def count(self, name: str, n: float = 1) -> None:
        if not self.active:
            return
        with self._lock:
            self.counts[name] += n

    def wrap(self, owner: object, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper. ``after(result,
        args, kwargs)`` runs inside the span to record counts."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
                if after is not None:
                    after(out, args, kwargs)
                return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def wrap_count(self, owner: object, attr: str, counter: str) -> None:
        """Count calls of ``owner.attr`` without a span."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            tracer.count(counter)
            return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # --- summaries ---------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the time its children cover
        (children run on the parent's thread, so they never overlap)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def descendants(self, names: set[str]) -> set[int]:
        """Ids of spans named in ``names`` and of every span below them."""
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s["id"])
        todo = [s["id"] for s in self.spans if s["name"] in names]
        out = set()
        while todo:
            sid = todo.pop()
            out.add(sid)
            todo.extend(kids[sid])
        return out


def parse_event_log(log_dir: str) -> dict[str, list[dict]]:
    """Tasks of every job group in the Spark event log(s) under
    ``log_dir``: group id -> list of task records."""
    stage_group: dict[int, str | None] = {}
    tasks: dict[str, list[dict]] = defaultdict(list)
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(JOB_GROUP)
                    for st in ev.get("Stage IDs", []):
                        stage_group[st] = group
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    group = stage_group.get(ev["Stage ID"])
                    tasks[group or ""].append(
                        {
                            "stage": ev["Stage ID"],
                            "run_s": m.get("Executor Run Time", 0) / 1000.0,
                            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                            "shuffle_read": rd.get("Remote Bytes Read", 0)
                            + rd.get("Local Bytes Read", 0),
                            "shuffle_write": wr.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                        }
                    )
    return tasks


def spark_totals(tasks: list[dict], wall_s: float, cores: int) -> dict[str, float]:
    task_s = sum(t["run_s"] for t in tasks)
    return {
        "task_s": task_s,
        "gc_s": sum(t["gc_s"] for t in tasks),
        "shuffle_read_bytes": float(sum(t["shuffle_read"] for t in tasks)),
        "shuffle_write_bytes": float(sum(t["shuffle_write"] for t in tasks)),
        "spill_bytes": float(sum(t["spill"] for t in tasks)),
        "busy_frac": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
    }


def stage_skew(tasks: list[dict]) -> float:
    """Max over stages that read a shuffle of (max / median task time)."""
    by_stage = defaultdict(list)
    for t in tasks:
        if t["shuffle_read"] > 0:
            by_stage[t["stage"]].append(t["run_s"])
    skews = [
        max(v) / statistics.median(v)
        for v in by_stage.values()
        if len(v) >= 2 and statistics.median(v) > 0
    ]
    return max(skews, default=0.0)
