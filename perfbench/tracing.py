"""Spans and counters recorded from the benchmark's side of each layer.

Every span is a call into one of the engine's public entry points (or
a wrapper the benchmark passes in, such as :class:`TimedSink`), timed
from outside. Spans are kept in memory and written out once, at the
end of the run. A layer's self time is its spans' durations minus the
parts covered by their child spans.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

from opensearch_dynamodb_etl_cdk_spark.sources.connectors import IndexMergeSink


class Tracer:
    """Records ``{name, start, end, parent, group}`` spans when enabled;
    a disabled tracer records nothing. ``group`` is the epoch, request
    or iteration id the span belongs to, inherited from the parent."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, group=None):
        if not self.enabled:
            yield None
            return
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            rec = {
                "id": len(self.spans), "name": name,
                "start": time.perf_counter(), "end": None,
                "parent": parent["id"] if parent else None,
                "group": group if group is not None
                else (parent["group"] if parent else None),
            }
            self.spans.append(rec)
            self._stack.append(rec)
        try:
            yield rec
        finally:
            with self._lock:
                rec["end"] = time.perf_counter()
                self._stack.remove(rec)

    def add(self, name: str, start: float, end: float, group=None,
            parent: int | None = None) -> None:
        """A span measured elsewhere (e.g. a streaming progress event)."""
        if self.enabled:
            with self._lock:
                self.spans.append({"id": len(self.spans), "name": name,
                                   "start": start, "end": end,
                                   "parent": parent, "group": group})

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_time_s": self.self_times()},
                      f, indent=1)


class TimedSink(IndexMergeSink):
    """The built-in index sink, with a span around each route write."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def write_route(self, pipeline, route, df, epoch_id) -> None:
        with self.tracer.span(f"sink.{route}.write_route"):
            super().write_route(pipeline, route, df, epoch_id)


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in list(info.stageIds):
            stage = st.getStageInfo(sid)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return len(jobs), stages, tasks


def progress_listener(spark):
    """Register a StreamingQueryListener; return the list it fills
    with ``(query run id, batch id, durationMs dict, input rows, end)``
    per progress event, ``end`` being when the event arrived."""
    seen: list[tuple] = []

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            end = time.perf_counter()
            seen.append((str(p.runId), p.batchId, dict(p.durationMs),
                         p.numInputRows, end))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Listener())
    return seen
