"""Span tracing around the package's public entry points.

The tracer wraps each layer's entry point from outside the package and
records a span per call: name, layer, start, end, parent, and the run,
workload and iteration it belongs to.  Every span sets its own Spark job
group for its thread (restored on exit), so each Spark job belongs to the
innermost span that launched it; that holds on the streaming thread too,
where ``foreachBatch`` calls the DQ and sink entry points.  Spans stay in
memory; ``attribute`` joins them with the status store after the run.

Tracing adds no Spark action: it only sets thread-local job properties
and reads the status store after the run.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from dataclasses import dataclass, field

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"
_INTERRUPT = "spark.job.interruptOnCancel"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    run: str
    start: float
    end: float | None = None
    self_counters: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """Records spans for one process.  ``run`` labels the spans opened
    until it is changed (``<workload>/seed<n>/iter<k>``); ``root`` is the
    parent given to spans opened on a thread with no open span, such as the
    streaming thread that runs ``foreachBatch``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.run = ""
        self.root: int | None = None  # parent of spans opened on a fresh thread
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s, saved = self._open(name, layer)
        try:
            yield s
        finally:
            self._close(s, saved)

    def _open(self, name: str, layer: str) -> tuple[Span, tuple]:
        stack = self._stack()
        with self._lock:
            s = Span(len(self.spans), name, layer,
                     stack[-1].id if stack else self.root,
                     self.run, time.perf_counter())
            self.spans.append(s)
        saved = tuple(self.sc.getLocalProperty(k) for k in (_GROUP, _DESC, _INTERRUPT))
        self.sc.setJobGroup(s.group, name)
        stack.append(s)
        return s, saved

    def _close(self, s: Span, saved: tuple) -> None:
        s.end = time.perf_counter()
        self._stack().pop()
        for k, v in zip((_GROUP, _DESC, _INTERRUPT), saved):
            self.sc.setLocalProperty(k, v)

    # -- wrappers ------------------------------------------------------------
    def wrap(self, owner, attr: str, layer: str, name=None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper.  ``name`` maps
        the call's arguments to a span name (default ``layer.attr``)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name(*args, **kwargs) if name else f"{layer}.{attr}", layer):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the layers' entry points (all of them are public names of
        the package; none of the package's code changes)."""
        from lakehouse_ingestion_spark import pipeline
        from lakehouse_ingestion_spark.dq.ruleset import DQRuleSet
        from lakehouse_ingestion_spark.schema_registry import SchemaRegistry
        from lakehouse_ingestion_spark.sinks.fanout import FanoutWriter
        from lakehouse_ingestion_spark.sinks.parquet import ParquetWriter
        from lakehouse_ingestion_spark.sources.files import FileReader
        from lakehouse_ingestion_spark.streaming import multi_sink

        self.wrap(SchemaRegistry, "get_schema", "schema_registry")
        self.wrap(FileReader, "read", "sources")
        # run_job and the streaming sink closure look these up as module
        # globals at call time, so patching the module attribute covers both
        self.wrap(pipeline, "validate_or_throw", "schema_validator")
        self.wrap(pipeline, "build_ruleset", "dq")
        self.wrap(DQRuleSet, "enforce", "dq")
        self.wrap(DQRuleSet, "apply", "dq")
        self.wrap(pipeline, "apply_transform", "operators",
                  name=lambda df, op, *a, **k: f"operators.{op}")
        self.wrap(ParquetWriter, "write_batch", "sinks")
        self.wrap(FanoutWriter, "write_batch", "sinks")
        self.wrap(FanoutWriter, "write_epoch_batch", "sinks")
        # fanout.py imports write_epoch at call time from the module
        self.wrap(multi_sink, "write_epoch", "streaming")
        self.wrap(pipeline.Pipeline, "run_job", "pipeline",
                  name=lambda self_, job, *a, **k: f"pipeline.{job.name}")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- attribution ---------------------------------------------------------
    def attribute(self, spans: list[Span], jobs: list[dict], stages: dict) -> list[dict]:
        """Fill each span's ``self_counters`` (jobs in its own group) and
        ``counters`` (self plus descendants).  Returns the jobs no span
        claimed."""
        from status import stage_totals

        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup") or "", []).append(j)
        children: dict[int, list[Span]] = {}
        for s in spans:
            s.self_counters = stage_totals(by_group.pop(s.group, []), stages)
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)

        def inclusive(s: Span) -> dict:
            tot = dict(s.self_counters)
            for c in children.get(s.id, []):
                for k, v in inclusive(c).items():
                    tot[k] += v
            s.counters = tot
            return tot

        ids = {s.id for s in spans}
        for s in spans:
            if s.parent not in ids:
                inclusive(s)
        return [j for js in by_group.values() for j in js]


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of it its child spans cover."""
    kids = sorted((c.start, c.end or c.start) for c in spans if c.parent == span.id)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        s, e = max(s, span.start), min(e, span.end or span.start)
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered
