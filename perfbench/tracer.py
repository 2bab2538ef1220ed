"""Per-layer spans recorded from outside the package.

A span wraps one call the benchmark makes into a package function. While
it is open the Spark job description is the span name, so the event log
attributes the call's jobs and tasks to it; the span itself records wall
time, driver CPU, Python-worker CPU from /proc and the workers' peak RSS.
Spans keep their records in memory; ``layer_metrics`` joins them with the
event log after the session has stopped.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from . import eventlog
from .measure import RssSampler, py_worker_cpu_s, read_procs

SPANS = (
    "session.start",
    "registry.compile",
    "registry.warmup",
    "registry.mutate",
    "percolate.plan",
    "percolate.execute",
    "percolate.release",
    "index.build",
    "index.append",
    "index.compact",
    "wand.topk",
    "dsl.topk",
)

# fields every span reports; input_mb only where the span reads the index
SPAN_FIELDS = (
    "wall_s",
    "jobs",
    "tasks",
    "task_run_s",
    "jvm_cpu_s",
    "py_worker_cpu_s",
    "driver_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "py_worker_rss_peak_mb",
)
INPUT_SPANS = ("index.append", "index.compact", "wand.topk", "dsl.topk")


def layer_metric_names() -> list[str]:
    names = [f"{s}.{f}" for s in SPANS for f in SPAN_FIELDS]
    names += [f"{s}.input_mb" for s in INPUT_SPANS]
    return names + ["trace.span_coverage", "trace.overhead_pct"]


def layer_unit(name: str) -> str:
    field = name.rsplit(".", 1)[1]
    if field in ("jobs", "tasks"):
        return "count"
    if field.endswith("_mb"):
        return "MB"
    return {"span_coverage": "share", "overhead_pct": "%"}.get(field, "s")


class Tracer:
    """Span recorder; a disabled tracer's spans cost one attribute test."""

    def __init__(self, sampler: RssSampler, enabled: bool):
        self.sampler = sampler
        self.enabled = enabled
        self.spark = None
        self.records: dict[str, list[dict[str, float]]] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobDescription(name)
        root = os.getpid()
        self.sampler.take_worker_peak()
        w0 = py_worker_cpu_s(read_procs(), root)
        c0 = time.process_time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            rec = {
                "wall_s": wall,
                "driver_cpu_s": time.process_time() - c0,
                "py_worker_cpu_s": py_worker_cpu_s(read_procs(), root) - w0,
                "py_worker_rss_peak_mb": self.sampler.take_worker_peak(),
            }
            if sc is not None:
                sc.setJobDescription(None)
            self.records.setdefault(name, []).append(rec)

    def span_wall_s(self) -> float:
        return sum(r["wall_s"] for recs in self.records.values() for r in recs)


def layer_metrics(tracer: Tracer, log_dir: str | None) -> dict[str, float]:
    """Per-call means of every span field (0 for spans the workload never
    opened), with task metrics from the event log under ``log_dir``."""
    tasks = eventlog.aggregate(eventlog.read_events(log_dir)) if log_dir else {}
    out: dict[str, float] = {}
    for span in SPANS:
        recs = tracer.records.get(span, [])
        calls = len(recs) or 1
        agg = tasks.get(span, {})
        for f in SPAN_FIELDS:
            if f == "py_worker_rss_peak_mb":
                v = max((r[f] for r in recs), default=0.0)
            elif recs and f in recs[0]:
                v = sum(r[f] for r in recs) / calls
            else:
                v = agg.get(f, 0.0) / calls
            out[f"{span}.{f}"] = v
        if span in INPUT_SPANS:
            out[f"{span}.input_mb"] = agg.get("input_mb", 0.0) / calls
    return out
