"""Spans around the engine's public calls, recorded from the benchmark's
own files: the engine code is untouched, its functions are wrapped in
place for the traced run only.

A span is (name, start, end, parent, request id). Spans stay in memory
and are written out as JSON lines when the run ends. Each wrapped call
also runs under its own Spark job group, so the stage metrics Spark's
status store keeps (CPU, shuffle bytes, GC) can be charged to the layer.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # request ids tie together the spans one client operation causes
    def set_request(self, rid: str | None) -> None:
        self._local.request = rid

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, fn, *args, jobs: bool = True, **kwargs):
        """Run ``fn`` inside a span named ``name``; with ``jobs``, also
        under a job group of its own."""
        if not self.enabled:
            return fn(*args, **kwargs)
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else None
        sc = self.spark.sparkContext
        if jobs:
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            prev_desc = sc.getLocalProperty("spark.job.description")
            sc.setJobGroup(f"{name}#{sid}", name)
        stack.append(sid)
        start = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.time()
            stack.pop()
            if jobs and prev_group is not None:
                sc.setJobGroup(prev_group, prev_desc or "")
            elif jobs:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append({
                    "id": sid,
                    "name": name,
                    "start": start,
                    "end": end,
                    "parent": parent,
                    "request": getattr(self._local, "request", None),
                })

    def wrap(self, owner, attr: str, name: str | None = None, jobs: bool = True) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. ``jobs``
        is off for calls that launch no Spark job, to spare them the
        job-group round trips to the JVM."""
        if not self.enabled:
            return
        original = getattr(owner, attr)
        label = name or attr

        @functools.wraps(original)
        def traced(*args, **kwargs):
            return self.call(label, original, *args, jobs=jobs, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    # --- reading spans back ----------------------------------------------------

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000.0 for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
