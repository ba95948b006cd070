"""Spans, counters and Spark stage metrics for the traced run.

A span is (name, start, end, parent, op, pass). On entry a span sets the
Spark job group of the calling thread to its own id, so every job launched
while it is open — including jobs a lazy DataFrame build runs eagerly —
is charged to it. Stage metrics come from Spark's uncompressed event log,
read after the session stops. Spans stay in memory and are written once,
at exit.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

PROBE_GROUP = "perfbench-probe"


class Tracer:
    """Records spans when ``active``; a no-op context otherwise."""

    def __init__(self, spark=None):
        self.spark = spark
        self.active = False
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.counts: list[dict] = []  # per traced pass: counter -> value
        self.op = None
        self.pass_idx = None
        self.deferred: list[tuple[str, object]] = []

    def _set_group(self, gid):
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", gid)
        sc.setLocalProperty("spark.job.description", gid)

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "parent": self.stack[-1] if self.stack else None,
            "op": self.op, "pass": self.pass_idx, "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self.stack.append(sid)
        self._set_group(f"pb{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            self._set_group(f"pb{self.stack[-1]}" if self.stack else None)

    def count(self, key: str, value: float) -> None:
        if self.active and self.counts:
            self.counts[-1][key] = self.counts[-1].get(key, 0) + value

    def count_rows_later(self, key: str, df) -> None:
        """Count ``df``'s rows into ``key`` after the operation returns, so
        the counting job is timed by no span."""
        if self.active:
            self.deferred.append((key, df))

    def flush(self) -> None:
        """Run the deferred row counts in a job group no layer metric sums."""
        if not self.deferred:
            return
        self._set_group(PROBE_GROUP)
        try:
            for key, df in self.deferred:
                self.count(key, df.count())
        finally:
            self.deferred.clear()
            self._set_group(None)

    def wrap(self, fn, name: str, after=None):
        """``fn`` under a span; ``after(args, kwargs, result, span)`` may
        record counters while the span is still open."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if after is not None and rec is not None:
                    after(args, kwargs, out, rec)
                return out

        return wrapper


def patch(tracer: Tracer, module, attr: str, name: str, after=None) -> None:
    """Replace ``module.attr`` — the name a caller looks up — with a traced
    wrapper."""
    setattr(module, attr, tracer.wrap(getattr(module, attr), name, after))


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its direct children cover (children of
    one span never overlap: the harness is single-threaded)."""
    covered: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            covered[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - covered[s["id"]] for s in spans if s["end"] is not None}


STAGE_KEYS = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


def event_log_by_group(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks and summed stage metrics, from the
    uncompressed event log(s) under ``log_dir``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stages: list[dict] = []
    files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(f)]
    for path in sorted(files):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid is None:
                        continue
                    out[gid]["jobs"] += 1
                    for s in ev.get("Stage IDs", []):
                        stage_group.setdefault(s, gid)
                elif '"SparkListenerStageCompleted"' in line:
                    stages.append(json.loads(line)["Stage Info"])
    for info in stages:
        gid = stage_group.get(info["Stage ID"])
        if gid is None:
            continue
        out[gid]["tasks"] += info.get("Number of Tasks", 0)
        for acc in info.get("Accumulables", []):
            key = STAGE_KEYS.get(acc.get("Name"))
            if key is not None:
                out[gid][key] += float(acc.get("Value") or 0)
    return out
