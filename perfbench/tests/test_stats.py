"""The benchmark's own arithmetic. No Spark session: run with

    python3 -m pytest perfbench/tests -q
"""

import json
import os
from types import SimpleNamespace

import pytest

from perfbench import layers, run, stats


# -- percentiles and the tail rule ------------------------------------------
def test_percentile_interpolates_like_numpy_linear():
    xs = [float(v) for v in range(1, 101)]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 100.0
    assert stats.percentile(xs, 90) == pytest.approx(90.1)
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([1.0, 2.0]) == 1.5


@pytest.mark.parametrize(
    "n, expected",
    [(100, 90.0), (1000, 99.0), (50, 80.0), (20, 50.0), (19, 50.0), (3, 50.0)],
)
def test_tail_percentile_is_highest_with_ten_beyond(n, expected):
    assert stats.tail_percentile(n) == pytest.approx(expected)


@pytest.mark.parametrize("n", [20, 37, 100, 250, 1000])
def test_tail_leaves_at_least_ten_samples_beyond_and_no_higher_percentile_does(n):
    xs = [float(v) for v in range(n)]
    t = stats.tail(xs)
    assert t["n"] == n
    assert t["beyond"] >= stats.MIN_BEYOND
    assert sum(1 for x in xs if x > t["value"]) >= stats.MIN_BEYOND
    # a percentile one sample higher would leave fewer than ten beyond
    higher = t["percentile"] + 100.0 / n
    if higher <= 100.0:
        assert sum(1 for x in xs if x > stats.percentile(xs, higher)) < stats.MIN_BEYOND


def test_tail_below_twenty_samples_is_the_median():
    xs = [5.0, 1.0, 9.0, 3.0]
    t = stats.tail(xs)
    assert t["percentile"] == 50.0
    assert t["value"] == stats.median(xs)


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.tail([])


# -- self time ---------------------------------------------------------------
def test_self_time_without_children_is_the_duration():
    assert stats.self_time(1.0, 4.0, []) == pytest.approx(3.0)


def test_self_time_subtracts_disjoint_children():
    assert stats.self_time(0.0, 10.0, [(1.0, 2.0), (5.0, 8.0)]) == pytest.approx(6.0)


def test_self_time_counts_overlapping_children_once():
    # [1,4] ∪ [3,6] ∪ [5,7] = [1,7]: 6 covered, 4 left
    assert stats.self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0), (5.0, 7.0)]) == pytest.approx(4.0)
    # a child inside another child
    assert stats.self_time(0.0, 10.0, [(2.0, 8.0), (3.0, 4.0)]) == pytest.approx(4.0)


def test_self_time_clips_children_to_the_parent():
    assert stats.self_time(2.0, 6.0, [(0.0, 3.0), (5.0, 9.0), (7.0, 8.0)]) == pytest.approx(2.0)
    assert stats.self_time(2.0, 6.0, [(0.0, 10.0)]) == pytest.approx(0.0)


# -- scaling efficiency and failures ----------------------------------------
def test_scaling_eff():
    assert stats.scaling_eff(400.0, 100.0) == pytest.approx(1.0)
    assert stats.scaling_eff(300.0, 100.0) == pytest.approx(0.75)
    assert stats.scaling_eff(300.0, 100.0, factor=3) == pytest.approx(1.0)
    with pytest.raises(ValueError):
        stats.scaling_eff(300.0, 0.0)


def test_failed_frac():
    assert stats.failed_frac(10, 0) == 0.0
    assert stats.failed_frac(8, 2) == pytest.approx(0.25)
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(3, 4)


# -- per-layer aggregation ---------------------------------------------------
# metrics run.py and the workloads supply rather than the spans
EXTRA_NAMES = (
    "session.start_s", "operators.triples.files_per_bucket",
    "operators.triples.bytes_per_triple", "plans.pipeline.eager_s",
    "plans.pipeline.driver_share", "plans.incremental.eager_s",
    "streaming.maintenance.delta_dirs", "streaming.maintenance.compact_mb",
    "spark.task_busy_frac", "spark.gc_s",
)


def _span(name, trace_id, self_s, rows=None, attrs=None, counts=None):
    base = dict.fromkeys(("jobs", "input_bytes", "shuffle_write_bytes"), 0)
    return {
        "name": name, "trace_id": trace_id, "self_s": self_s, "rows": rows,
        "attrs": attrs or {}, "counts": dict(base, **(counts or {})),
    }


def _op(kind, seconds, trace_id, traced, sample=True, info=None):
    return SimpleNamespace(
        kind=kind, seconds=seconds, traced=traced, sample=sample,
        info=dict(info or {}, trace_id=trace_id),
    )


def test_layer_metrics_sum_per_op_then_take_the_median():
    spans = [
        _span("sources.transcripts.ingest", "0", 1.0, rows=100),
        _span("operators.mentions.extract", "0", 0.5, rows=200),
        _span("operators.mentions.extract", "0", 0.25, rows=0),  # two calls in one op
        _span("sources.transcripts.ingest", "2", 3.0, rows=100),
        _span("operators.mentions.extract", "2", 1.0, rows=150),
        _span("operators.matching.edges", "2", 0.1, rows=4, attrs={"candidates": 16}),
    ]
    ops = [
        _op("build", 5.0, "0", True), _op("build", 2.0, "1", False),
        _op("build", 6.0, "2", True), _op("build", 2.5, "3", False),
    ]
    got = layers.compute(spans, ops, {k: 0.0 for k in EXTRA_NAMES})
    assert set(got) == {n for n, _u in layers.PER_LAYER}
    assert got["sources.transcripts.ingest_s"] == pytest.approx(2.0)  # median of 1.0, 3.0
    assert got["operators.mentions.extract_s"] == pytest.approx(0.875)  # median of 0.75, 1.0
    assert got["operators.mentions.per_turn"] == pytest.approx(350 / 200)
    assert got["operators.matching.edge_yield"] == pytest.approx(4 / 16)
    assert got["operators.matching.candidates"] == pytest.approx(8.0)  # median of 0, 16
    assert got["trace.overhead_s"] == pytest.approx(5.5 - 2.25)
    # layers the operations never called read zero
    assert got["operators.sparql.exec_s.point"] == 0.0
    assert got["streaming.maintenance.catalog_read_s"] == 0.0


def test_layer_metrics_refuse_a_missing_extra():
    with pytest.raises(KeyError):
        layers.compute([], [_op("build", 1.0, "0", False)], {})


def test_benchmark_json_lists_exactly_the_reported_metrics():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == layers.PER_LAYER
