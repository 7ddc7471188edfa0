"""Full-pipeline golden test: ingest → mentions → matching → CC → triples,
compared set-wise against the pure-Python reference-semantics oracle
(the BASELINE Triple P/R ≥ 0.95 gate — asserted at exactly 1.0), plus the
checkpoint-manifest resume contract."""

import json
import os

from pyspark.sql import functions as F

from knowledgegraphs_spark.config import EngineConfig
from knowledgegraphs_spark.operators.sparql import sparql_query
from knowledgegraphs_spark.operators.triples import read_triples
from knowledgegraphs_spark.plans.pipeline import run_pipeline
from knowledgegraphs_spark.sources.transcripts import synthesize_rows, synthesize_transcripts

from tests.oracle_kg import expected_full_triples, triple_precision_recall

N_CONV = 80


def _collect_triples(result):
    return {
        (r.subj, r.pred, r.obj)
        for r in result.triples.select("subj", "pred", "obj").collect()
    }


def test_full_pipeline_pr_and_resume(spark, tmp_path):
    workdir = str(tmp_path / "kgrun")
    raw = synthesize_transcripts(spark, N_CONV, seed=42)

    res1 = run_pipeline(spark, raw, workdir, input_fingerprint="test42")
    got = _collect_triples(res1)
    expected = expected_full_triples(synthesize_rows(N_CONV, seed=42))
    p, r = triple_precision_recall(got, expected)
    assert (p, r) == (1.0, 1.0), (
        f"P={p:.4f} R={r:.4f} "
        f"spark_only={sorted(got - expected)[:6]} oracle_only={sorted(expected - got)[:6]}"
    )
    assert res1.stats["ran"] == ["turns", "mentions", "match_edges", "canonical", "triples", "entities"]

    # manifest carries per-partition counters for the triples stage
    with open(os.path.join(workdir, "_manifest.json")) as f:
        man = json.load(f)["stages"]
    assert man["triples"]["rows"] == len(got) or man["triples"]["rows"] >= len(got)
    assert len(man["triples"]["partitions"]) > 1

    # the triples stage is a write_triples store: its bucket count is
    # recorded, so a constant-subject lookup prunes to one bucket and
    # returns what a plain filter returns
    store = read_triples(spark, os.path.join(workdir, "triples"))
    assert store._kg_subj_buckets == EngineConfig().shuffle_partitions
    subj = "kg:Turn_2_conv_00000003_1"
    hits = sparql_query(store, f"SELECT ?p ?o WHERE {{ {subj} ?p ?o . }}")
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "subj_bucket" in plan.split("PartitionFilters:")[1].split("]")[0], plan
    want = sorted(
        tuple(r) for r in store.filter(F.col("subj") == subj).select("pred", "obj").collect()
    )
    assert want and sorted(tuple(r) for r in hits.select("p", "o").collect()) == want

    # resume: identical fingerprints → every stage skipped, same output
    res2 = run_pipeline(spark, raw, workdir, input_fingerprint="test42")
    assert res2.stats["ran"] == []
    assert set(res2.stats["skipped"]) == {"turns", "mentions", "match_edges", "canonical", "triples", "entities"}
    assert _collect_triples(res2) == got

    # changed input fingerprint → full recompute
    res3 = run_pipeline(spark, raw, workdir, input_fingerprint="other")
    assert "turns" in res3.stats["ran"]


def test_entity_catalog_canonicals(spark, tmp_path):
    res = run_pipeline(
        spark,
        synthesize_transcripts(spark, 40, seed=42),
        str(tmp_path / "kgrun2"),
        input_fingerprint="cat42",
    )
    cat = {r.canonical: set(r.surfaces) for r in res.entities.collect()}
    smith = [c for c in cat if "Smith" in c or "smith" in c]
    assert smith, cat.keys()
    # reference pick: min token-concat length ("jsmith" beats "johnsmith"),
    # and the stored canonical is the noPunct form of "J. Smith"
    assert "J  Smith" in smith
    assert {"John Smith", "J. Smith"} <= cat["J  Smith"]