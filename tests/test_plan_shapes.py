"""Plan-shape regression sweep: the physical plan of EVERY contract query
is checked for the scale anti-patterns this engine's design forbids.

Value-level correctness is pinned by test_entry.py (DuckDB oracle); these
assertions pin the *shape* of the plan, because at 100 TB a plan with a
cartesian product, a per-row Python UDF, or an all-to-all nested-loop
join is a failed job, not merely a slow one. Keeping them as a sweep over
``queries()`` means any future operator edit that regresses a plan into
one of these shapes fails CI immediately instead of surfacing as a
mystery slowdown in the next round's bench artifact.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"

# Documented exact baselines that use a broadcast nested-loop join BY
# DESIGN (query side broadcast, bounded cardinality — see
# operators/simsearch.py): brute-force cosine top-k is the recall
# baseline its LSH/IVF siblings are asserted against, and the embedding
# near-dup contract query runs a hard-bounded exact verification gate.
NESTED_LOOP_OK = {
    "s1_simsearch_topk",
    "d5_dedup_embedding",
    # ASK probes emptiness by broadcast-joining a limit(1) projection of
    # the pattern against a 1-row anchor — the nested-loop side is at most
    # one row by construction (operators/sparql.py:sparql_ask)
    "g16_sparql_ask",
    # hybrid RRF fuses the dense exact top-k (query side broadcast,
    # bounded cardinality — the s1 scorer) with BM25
    "m12_hybrid_rrf",
    # ONE-ROW broadcast aggregate cross joins by construction: BM25's
    # (n_docs, avgdl) corpus statistics, the skew report's top-10 sum,
    # and HITS' per-half-step normalization total are single-row
    # relations joined into every row — a scalar fan-out, not an
    # all-pairs join
    "x19_bm25_search",
    "a12_skew_report",
    "g36_entity_hits",
    # the gated centroid-assignment path above CENTROID_LITERAL_MAX: a
    # broadcast of the CENTROID TABLE fanned against each row — bounded
    # at k rows per input row by construction, collapsed back to one row
    # per key by a codegen'd primitive-long HashAggregate before any
    # shuffle (simsearch._assign_best; the d8b query exists precisely to
    # put this path under the driver's value gate)
    "d8b_semantic_dedup_gated",
}


def _plan(name: str, spark) -> str:
    df = entry_mod.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_plan_has_no_scale_antipatterns(spark, name):
    plan = _plan(name, spark)
    # unconditional all-pairs: never acceptable at any scale
    assert "CartesianProduct" not in plan, plan
    # nested-loop joins only in the two documented bounded exact gates
    if name not in NESTED_LOOP_OK:
        assert "BroadcastNestedLoopJoin" not in plan, plan
    # per-row Python UDFs are banned engine-wide; the allowed slow path is
    # Arrow-batched pandas (shows as ArrowEvalPython / MapInPandas)
    assert "BatchEvalPython" not in plan, plan


def test_fk_join_broadcasts_dim_side(spark):
    """J1: the nation dim must come in as a broadcast hash join — a
    shuffle join on a 25-row dim is the classic small-dim plan bug."""
    plan = _plan("j1_fk_join_customer_nation", spark)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_structural_emission_is_shuffle_free(spark):
    """G7 flagship: over a materialized turns table, per-row structural
    emission (packed-array explode) plans NO shuffle — this is what makes
    the pipeline scale linearly with input splits (BENCH/BASELINE.md:
    throughput rises 378k→464k turns/s from 40 M to 100 M turns because
    no stage is coordination-bound)."""
    from knowledgegraphs_spark.operators.po_extraction import transcript_po
    from knowledgegraphs_spark.operators.triples import emit_transcript_triples
    from knowledgegraphs_spark.sources.transcripts import synthesize_transcripts

    turns = synthesize_transcripts(spark, n_conversations=20, seed=7)
    plan = (
        emit_transcript_triples(turns, transcript_po())
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_full_build_shuffles_only_vocabulary(spark):
    """The FULL pipeline's turn-stream stays shuffle-free too: the plan's
    only exchanges are (a) the BroadcastExchange of the canonical map —
    data movement proportional to the entity vocabulary, not the corpus —
    and (b) one hashpartitioning exchange for the entity-catalog
    distinct, again over the canonical vocabulary. Any hashpartitioning
    exchange keyed on corpus-sized turn columns is a scale regression."""
    from knowledgegraphs_spark.plans.pipeline import build_kg_triples
    from knowledgegraphs_spark.sources.transcripts import synthesize_transcripts

    turns = synthesize_transcripts(spark, n_conversations=20, seed=7)
    plan = build_kg_triples(spark, turns)._jdf.queryExecution().executedPlan().toString()
    shuffles = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(shuffles) <= 1, plan
    for ln in shuffles:
        assert "canonical" in ln, plan
        for corpus_col in ("conv_id", "turn_idx", "text#", "subj#"):
            assert corpus_col not in ln, plan


def test_driver_paths_hand_off_local_relations(spark, tmp_path):
    """Results computed on the driver come back as JVM local relations: a
    pickled Python RDD (``Scan ExistingRDD``) would re-run in Python
    workers on every evaluation. The pruned cross match scores on the
    driver, so its plan carries no Arrow UDF either. SCC finishes a small
    remainder on the driver, and BPE learns its merges there. The seeded
    transcript generator and the Excel scan build their rows there."""
    from knowledgegraphs_spark.operators.bpe import learn_bpe_merges
    from knowledgegraphs_spark.operators.canonicalize import (
        canonical_mapping,
        connected_components,
    )
    from knowledgegraphs_spark.operators.graph_analytics import scc
    from knowledgegraphs_spark.operators.matching import (
        compute_match_edges,
        cross_match_edges,
    )
    from knowledgegraphs_spark.operators.sparql import _template_graph, parse_update, sparql_select
    from knowledgegraphs_spark.session import driver_frame
    from knowledgegraphs_spark.sources.tabular import read_excel
    from knowledgegraphs_spark.sources.transcripts import synthesize_transcripts
    from knowledgegraphs_spark.streaming.maintenance import CATALOG_SCHEMA, _read_or_empty
    from tests.test_tabular import _write_min_xlsx

    xlsx = str(tmp_path / "mini.xlsx")
    _write_min_xlsx(xlsx)

    surfaces = spark.createDataFrame(
        [(s,) for s in ("Acme Corp", "Acme Corporation", "Data Hub", "Data Hub Central")],
        "mention string",
    )
    prior = spark.createDataFrame(
        [(s,) for s in ("Acme Corp", "Widget Works", "Data Hub")], "mention string"
    )
    edges = compute_match_edges(surfaces)
    cross = cross_match_edges(surfaces, prior, vocab_driver_threshold=10)
    ids = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    store = driver_frame(spark, [("s1", "p", "o1")], "subj string, pred string, obj string")
    values = sparql_select(store, "SELECT ?s ?o WHERE { VALUES ?s { s1 s2 } ?s p ?o . }")
    assert [tuple(r) for r in values.collect()] == [("s1", "o1")]
    frames = {
        "compute_match_edges": edges,
        "cross_match_edges": cross,
        "canonical_mapping": canonical_mapping(surfaces, edges),
        "connected_components": connected_components(ids),
        "_read_or_empty": _read_or_empty(spark, str(tmp_path / "absent"), CATALOG_SCHEMA),
        "sparql VALUES": values,
        "INSERT DATA template": _template_graph(
            spark, None, parse_update("INSERT DATA { s1 p o1 . s2 p o2 . }")[0].insert_template
        ),
        # below driver_finish_threshold the whole graph finishes on the driver
        "scc driver finish": scc(
            spark.createDataFrame([("a", "b"), ("b", "a"), ("b", "c")], "src string, dst string")
        ),
        "bpe merges": learn_bpe_merges(
            spark.createDataFrame([("lower lowest newer",)], "text string"), n_merges=3
        ),
        "synthesize_transcripts": synthesize_transcripts(spark, 5),
        "read_excel": read_excel(spark, xlsx),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, (name, plan)
    cross_plan = cross._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in cross_plan, cross_plan
    assert cross.count() > 0
