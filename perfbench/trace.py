"""Spans around the program's public entry points, recorded from the
benchmark's own files (nothing inside the package is edited).

Each wrapper replaces a name where its caller looks it up (for example
``streaming.pipeline`` binds ``merge_upsert_parquet`` at import, so the
wrapper goes on ``streaming.pipeline``, not only on ``sinks``). A span
records name, start, end, parent and run id. While a span is open, its
thread's Spark job description names it, so event-log jobs roll up to
the span that launched them, including jobs from foreachBatch callback
threads. Spans stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import re
import threading
import time
from dataclasses import asdict, dataclass

SPAN_TAG = re.compile(r"\[span (\d+)\]")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    thread: str


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's duration minus the part of it its children cover
    (children clipped to the parent; overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(s.id, [])
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.id] = (s.end - s.start) - union_length(clipped)
    return out


def _active_sc():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    """Records spans; ``install`` wraps the public entry points and
    ``restore`` puts the originals back."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.root: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self.root
        sc = _active_sc()
        prev = sc.getLocalProperty("spark.job.description") if sc else None
        if sc:
            sc.setJobDescription(f"{name} [span {sid}]")
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            if sc and _active_sc() is sc:
                sc.setJobDescription(prev)
            with self._lock:
                self.spans.append(
                    Span(sid, name, start, end, parent, self.run_id,
                         threading.current_thread().name)
                )

    @contextlib.contextmanager
    def root_span(self, name: str):
        with self.span(name) as sid:
            self.root = sid
            try:
                yield sid
            finally:
                self.root = None

    def wrap(self, module, attr: str, name: str, probe=None) -> None:
        """Replace ``module.attr`` with a spanned call. ``probe``, when
        given, is called as ``probe(args, kwargs)`` before the span and
        its return value (a callable) after it, both outside the span."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            done = probe(args, kwargs) if probe else None
            with self.span(name):
                result = original(*args, **kwargs)
            if done is not None:
                done()
            return result

        setattr(module, attr, traced)
        self._patched.append((module, attr, original))

    def wrap_steps(self, jobs_module) -> None:
        """Wrap ``jobs.run_pipeline`` so each Step's function runs in a
        ``jobs.step.<name>`` span."""
        original = jobs_module.run_pipeline

        def traced_run_pipeline(steps, *args, **kwargs):
            for step in steps:
                fn, span_name = step.fn, f"jobs.step.{step.name}"

                def run(fn=fn, span_name=span_name):
                    with self.span(span_name):
                        return fn()

                step.fn = run
            return original(steps, *args, **kwargs)

        jobs_module.run_pipeline = traced_run_pipeline
        self._patched.append((jobs_module, "run_pipeline", original))

    def install(self, probes: dict | None = None) -> None:
        from real_time_stock_market_data_pipeline__spark import jobs, session, sinks
        from real_time_stock_market_data_pipeline__spark.operators import dedup, ohlcv
        from real_time_stock_market_data_pipeline__spark.streaming import pipeline

        self.wrap(session, "get_spark", "session.get_spark")
        self.wrap(jobs, "read_partitioned", "sources.read_partitioned")
        self.wrap(sinks, "input_ready", "sources.input_ready")
        self.wrap(pipeline, "read_file_stream", "sources.read_file_stream")
        self.wrap(pipeline, "realtime_metrics", "operators.realtime_metrics")
        self.wrap(dedup, "dedup_keep_last", "operators.dedup_keep_last")
        self.wrap(ohlcv, "daily_metrics", "operators.daily_metrics")
        probes = probes or {}
        for module in (pipeline, sinks):
            self.wrap(module, "merge_upsert_parquet", "sinks.merge_upsert_parquet",
                      probes.get("sinks.merge_upsert_parquet"))
        self.wrap(sinks, "write_parquet_partitioned", "sinks.write_parquet_partitioned",
                  probes.get("sinks.write_parquet_partitioned"))
        self.wrap_steps(jobs)

    def restore(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def span_table(spans: list[Span], windows: list[tuple[float, float]]) -> dict[str, dict]:
    """Per span name, over spans that started inside ``windows``: count,
    total and self seconds."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        if not any(a <= s.start <= b for a, b in windows):
            continue
        row = out.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += s.end - s.start
        row["self_s"] += selfs[s.id]
    return out
