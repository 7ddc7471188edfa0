"""Per-layer metrics of a traced run, from its spans and operations.

Times are layer self times: for each traced operation, the self time of
the layer's spans in it is summed, and the metric is the median over the
traced operations of the kinds that call the layer. A layer a workload
never calls reads 0. Counts come from the same spans: rows out, Spark
counters of the span's own job group, and wrapper attributes."""

from __future__ import annotations

from collections import defaultdict

from .stats import median

PIPELINE_OPS = ("build", "batch")  # operations that run the build or incremental plan
READ_OPS = ("point", "chain", "agg")
UPDATE_OPS = ("insert", "delete")

# (name, unit) in the order BENCHMARK.json lists them
PER_LAYER = [
    ("session.start_s", "s"),
    ("sources.transcripts.ingest_s", "s"),
    ("operators.mentions.extract_s", "s"),
    ("operators.mentions.per_turn", "count"),
    ("operators.triples.emit_s", "s"),
    ("operators.triples.per_turn", "count"),
    ("operators.skew.join_s", "s"),
    ("operators.skew.broadcast_share", "ratio"),
    ("operators.triples.write_s", "s"),
    ("operators.triples.shuffle_mb", "MB"),
    ("operators.triples.files_per_bucket", "count"),
    ("operators.triples.bytes_per_triple", "B"),
    ("plans.pipeline.eager_s", "s"),
    ("plans.pipeline.driver_share", "ratio"),
    ("operators.mentions.distinct_s", "s"),
    ("operators.mentions.surfaces", "count"),
    ("operators.matching.edges_s", "s"),
    ("operators.matching.cross_s", "s"),
    ("operators.matching.candidates", "count"),
    ("operators.matching.edge_yield", "ratio"),
    ("operators.matching.jobs", "count"),
    ("operators.canonicalize.map_s", "s"),
    ("operators.canonicalize.jobs", "count"),
    ("operators.canonicalize.components", "count"),
    ("plans.incremental.eager_s", "s"),
    ("plans.incremental.novel_surfaces", "count"),
    ("plans.incremental.attach_ratio", "ratio"),
    ("streaming.maintenance.catalog_read_s", "s"),
    ("streaming.maintenance.write_s", "s"),
    ("streaming.maintenance.delta_dirs", "count"),
    ("streaming.maintenance.compact_s", "s"),
    ("streaming.maintenance.compact_mb", "MB"),
    ("operators.triples.read_s", "s"),
    ("operators.sparql.compile_s", "s"),
    ("operators.sparql.exec_s.point", "s"),
    ("operators.sparql.exec_s.chain", "s"),
    ("operators.sparql.exec_s.agg", "s"),
    ("operators.sparql.input_mb.point", "MB"),
    ("operators.sparql_update.op_s.insert", "s"),
    ("operators.sparql_update.op_s.delete", "s"),
    ("operators.sparql_update.buckets_rewritten", "count"),
    ("operators.sparql_update.buckets_appended", "count"),
    ("operators.sparql_update.rows_changed", "count"),
    ("spark.task_busy_frac", "ratio"),
    ("spark.gc_s", "s"),
    ("trace.overhead_s", "s"),
]


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _median_or_zero(values: list[float]) -> float:
    return median(values) if values else 0.0


class _Spans:
    def __init__(self, spans: list[dict], ops: list):
        self.by_trace: dict[str, list[dict]] = defaultdict(list)
        for sp in spans:
            self.by_trace[sp["trace_id"]].append(sp)
        self.traced = [o for o in ops if o.traced]

    def named(self, name: str, op_kinds) -> list[dict]:
        return [
            sp for o in self.traced if o.kind in op_kinds
            for sp in self.by_trace[o.info["trace_id"]] if sp["name"] == name
        ]

    def per_op(self, names: tuple[str, ...], op_kinds, value) -> float:
        """Median over traced ops of ``sum(value(span))`` for the named spans."""
        vals = [
            sum(value(sp) for sp in self.by_trace[o.info["trace_id"]] if sp["name"] in names)
            for o in self.traced if o.kind in op_kinds
        ]
        return _median_or_zero(vals)

    def self_s(self, name: str, op_kinds) -> float:
        return self.per_op((name,), op_kinds, lambda sp: sp["self_s"])

    def rows(self, name: str, op_kinds) -> int:
        return sum(sp["rows"] or 0 for sp in self.named(name, op_kinds))


def compute(spans: list[dict], ops: list, extras: dict) -> dict[str, float]:
    s = _Spans(spans, ops)
    P = PIPELINE_OPS
    matching = ("operators.matching.edges", "operators.matching.cross")
    skew = s.named("operators.skew.join", P)
    blocked = [sp for n in matching for sp in s.named(n, P) if "candidates" in sp["attrs"]]
    inc = s.named("plans.incremental.canonical", P)
    writes = s.named("operators.triples.write", ("build",))
    points = s.named("operators.sparql.exec", ("point",))
    updates = [o for o in ops if o.kind in UPDATE_OPS]
    compacts = [o.seconds for o in ops if o.kind == "compact"]
    samples = [o for o in ops if o.sample]
    traced = [o.seconds for o in samples if o.traced]
    untraced = [o.seconds for o in samples if not o.traced]

    def update_mean(key: str) -> float:
        return _ratio(sum(o.info.get(key, 0) for o in updates), len(updates))

    out = {
        "sources.transcripts.ingest_s": s.self_s("sources.transcripts.ingest", P),
        "operators.mentions.extract_s": s.self_s("operators.mentions.extract", P),
        "operators.mentions.per_turn": _ratio(
            s.rows("operators.mentions.extract", P), s.rows("sources.transcripts.ingest", P)),
        "operators.triples.emit_s": s.self_s("operators.triples.emit", P),
        "operators.triples.per_turn": _ratio(
            s.rows("operators.triples.emit", P), s.rows("sources.transcripts.ingest", P)),
        "operators.skew.join_s": s.self_s("operators.skew.join", P),
        "operators.skew.broadcast_share": _ratio(
            sum(sp["attrs"].get("broadcast", 0) for sp in skew), len(skew)),
        "operators.triples.write_s": s.self_s("operators.triples.write", ("build",)),
        "operators.triples.shuffle_mb": _median_or_zero(
            [sp["counts"]["shuffle_write_bytes"] / 1e6 for sp in writes]),
        "operators.mentions.distinct_s": s.self_s("operators.mentions.distinct", P),
        "operators.mentions.surfaces": s.per_op(
            ("operators.mentions.distinct",), P, lambda sp: sp["rows"] or 0),
        "operators.matching.edges_s": s.self_s("operators.matching.edges", P),
        "operators.matching.cross_s": s.self_s("operators.matching.cross", P),
        "operators.matching.candidates": s.per_op(
            matching, P, lambda sp: sp["attrs"].get("candidates", 0)),
        "operators.matching.edge_yield": _ratio(
            sum(sp["rows"] or 0 for sp in blocked),
            sum(sp["attrs"]["candidates"] for sp in blocked)),
        "operators.matching.jobs": s.per_op(matching, P, lambda sp: sp["counts"]["jobs"]),
        "operators.canonicalize.map_s": s.self_s("operators.canonicalize.map", P),
        "operators.canonicalize.jobs": s.per_op(
            ("operators.canonicalize.map",), P, lambda sp: sp["counts"]["jobs"]),
        "operators.canonicalize.components": s.per_op(
            ("operators.canonicalize.map",), P, lambda sp: sp["attrs"].get("components", 0)),
        "plans.incremental.novel_surfaces": s.per_op(
            ("plans.incremental.canonical",), P, lambda sp: sp["rows"] or 0),
        "plans.incremental.attach_ratio": _ratio(
            sum(sp["attrs"].get("attached", 0) for sp in inc), sum(sp["rows"] or 0 for sp in inc)),
        "streaming.maintenance.catalog_read_s": s.self_s("streaming.maintenance.catalog_read", ("batch",)),
        # the batch closure's own time: the two delta writes
        "streaming.maintenance.write_s": s.self_s("streaming.maintenance.batch", ("batch",)),
        "streaming.maintenance.compact_s": _median_or_zero(compacts),
        "operators.triples.read_s": s.self_s("operators.triples.read", READ_OPS),
        "operators.sparql.compile_s": s.self_s("operators.sparql.compile", READ_OPS),
        "operators.sparql.exec_s.point": s.self_s("operators.sparql.exec", ("point",)),
        "operators.sparql.exec_s.chain": s.self_s("operators.sparql.exec", ("chain",)),
        "operators.sparql.exec_s.agg": s.self_s("operators.sparql.exec", ("agg",)),
        "operators.sparql.input_mb.point": _median_or_zero(
            [sp["counts"]["input_bytes"] / 1e6 for sp in points]),
        "operators.sparql_update.op_s.insert": s.self_s("operators.sparql_update.op", ("insert",)),
        "operators.sparql_update.op_s.delete": s.self_s("operators.sparql_update.op", ("delete",)),
        "operators.sparql_update.buckets_rewritten": update_mean("buckets_rewritten"),
        "operators.sparql_update.buckets_appended": update_mean("buckets_appended"),
        "operators.sparql_update.rows_changed": update_mean("rows_changed"),
        "trace.overhead_s": (
            median(traced) - median(untraced) if traced and untraced else 0.0
        ),
    }
    out.update(extras)
    missing = [n for n, _u in PER_LAYER if n not in out]
    if missing:
        raise KeyError(f"per-layer metrics not computed: {missing}")
    return {n: float(out[n]) for n, _u in PER_LAYER}
