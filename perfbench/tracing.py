"""Spans around calls into the engine's layers, recorded from outside.

A layer is one module of ``knowledgegraphs_spark``; its time is the time
of calls into that module's public functions. :func:`instrument` swaps the
names a caller module looked up (``plans.pipeline.extract_mentions`` …)
for wrappers, so the engine's own composition runs unchanged while every
layer call is a span. A wrapper *cuts* the plan at the layer boundary: a
DataFrame result is forced with an eager ``localCheckpoint`` inside the
span, so the layer's work is paid there and not by whichever later action
would have pulled it. Functions that act themselves (writes, updates) are
spanned as they are.

Each span runs under its own Spark job group, so its counters (jobs,
tasks, executor run time, GC, input, shuffle, spill) come from the JVM
status store for exactly the jobs it launched. Nested spans restore the
parent's group on exit, so counters are self counts. Spans stay in memory
until the run ends; ``run.py`` writes them out.

Untraced runs never call :func:`instrument`; with the tracer inactive the
wrappers pass straight through.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from . import stats

COUNTERS = (
    "jobs", "stages", "tasks", "run_ms", "gc_ms", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Span:
    name: str
    trace_id: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    rows: int | None = None
    counts: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.active = False
        self.trace_id = ""
        self.untraced: dict[str, list[float]] = {}
        self._stack: list[Span] = []

    # -- spans --------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.trace_id, len(self.spans), parent.span_id if parent else None,
                  time.perf_counter(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"perfbench-span-{sp.span_id}"
        self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-span-{parent.span_id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            sp.counts = self._group_counts(group)

    def add(self, key: str, value: float) -> None:
        """Add to a counter attribute of the innermost open span."""
        if self.active and self._stack:
            attrs = self._stack[-1].attrs
            attrs[key] = attrs.get(key, 0) + value

    def _group_counts(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Exception:  # stage skipped (reused shuffle) or evicted
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["run_ms"] += sd.executorRunTime()
                out["gc_ms"] += sd.jvmGcTime()
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    # -- wrappers -----------------------------------------------------------
    def force(self, name: str, fn, count_attr=None):
        """Wrap a DataFrame-returning layer function: span + eager cut."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name) as sp:
                out = fn(*args, **kwargs).localCheckpoint(eager=True)
                sp.rows = out.count()
                if count_attr is not None:
                    count_attr(sp, out, args, kwargs)
            return out

        return wrapper

    def call(self, name: str, fn):
        """Wrap a layer function that acts itself (or returns no frame).
        Calls made while the tracer is inactive are timed whole into
        ``untraced[name]``: the driver-blocking time of an uncut call."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                t0 = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    self.untraced.setdefault(name, []).append(time.perf_counter() - t0)
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def counter(self, key: str, fn):
        """Wrap an inner helper whose output size is a counter of the
        enclosing span (blocked candidate pairs inside a matching call)."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            out = fn(*args, **kwargs).localCheckpoint(eager=True)
            self.add(key, out.count())
            return out

        return wrapper

    # -- results ------------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        children: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append((sp.start, sp.end))
        return {
            sp.span_id: stats.self_time(sp.start, sp.end, children.get(sp.span_id, []))
            for sp in self.spans
        }

    def dump(self) -> list[dict]:
        selfs = self.self_times()
        return [dict(asdict(sp), self_s=selfs[sp.span_id]) for sp in self.spans]


def _skew_path(sp, out, args, kwargs):
    n = kwargs.get("dim_count")
    limit = kwargs.get("broadcast_row_limit", 2_000_000)
    sp.attrs["broadcast"] = 1 if n is None or n <= limit else 0


def _components(sp, out, args, kwargs):
    sp.attrs["components"] = out.select("canonical").distinct().count()


def _attach(sp, out, args, kwargs):
    prior = args[1] if len(args) > 1 else kwargs["prior_canonical"]
    sp.attrs["attached"] = out.join(
        prior.select("canonical").distinct(), "canonical", "left_semi"
    ).count()


def instrument(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Swap layer wrappers into the engine's caller modules. Returns the
    originals so :func:`restore` can undo it."""
    from knowledgegraphs_spark.operators import matching
    from knowledgegraphs_spark.plans import incremental, pipeline
    from knowledgegraphs_spark.streaming import maintenance

    t = tracer
    plan = {
        "ingest": t.force("sources.transcripts.ingest", pipeline.ingest),
        "extract_mentions": t.force("operators.mentions.extract", pipeline.extract_mentions),
        "distinct_surfaces": t.force("operators.mentions.distinct", pipeline.distinct_surfaces),
        "compute_match_edges": t.force("operators.matching.edges", pipeline.compute_match_edges),
        "canonical_mapping": t.force(
            "operators.canonicalize.map", pipeline.canonical_mapping, _components),
        "join_small_dim": t.force("operators.skew.join", pipeline.join_small_dim, _skew_path),
        "emit_transcript_triples": t.force(
            "operators.triples.emit", pipeline.emit_transcript_triples),
        "mention_triples": t.force("plans.pipeline.mention_triples", pipeline.mention_triples),
    }
    swaps: list[tuple[object, str, object]] = []
    for module in (pipeline, incremental):
        for attr, wrapper in plan.items():
            swaps.append((module, attr, wrapper))
    swaps += [
        (incremental, "cross_match_edges",
         t.force("operators.matching.cross", incremental.cross_match_edges)),
        (incremental, "incremental_canonical",
         t.force("plans.incremental.canonical", incremental.incremental_canonical, _attach)),
        (incremental, "incremental_update",
         t.call("plans.incremental.update", incremental.incremental_update)),
        (maintenance, "read_catalog",
         t.force("streaming.maintenance.catalog_read", maintenance.read_catalog)),
        (matching, "blocking_pairs", t.counter("candidates", matching.blocking_pairs)),
        (matching, "blocking_join", t.counter("candidates", matching.blocking_join)),
    ]
    originals = []
    for module, attr, wrapper in swaps:
        originals.append((module, attr, getattr(module, attr)))
        setattr(module, attr, wrapper)
    return originals


def restore(originals: list[tuple[object, str, object]]) -> None:
    for module, attr, fn in reversed(originals):
        setattr(module, attr, fn)
