"""Incremental KG maintenance (plans/incremental.py): URI stability across
batches, attach/mint semantics, equivalence with the full batch when no
chain crosses the split, and the DOCUMENTED divergence when one does.

Surfaces below are chosen against the actual predicate:
is_near_duplicate("Acme Corp", "Acme Corporation") is True,
("Gizmo Industries", "Gizmo Industries Inc") is False — asserted in
tests/test_similarity.py's golden suite."""

import datetime

import pytest
from pyspark.sql import functions as F

from knowledgegraphs_spark.plans.incremental import incremental_update
from knowledgegraphs_spark.plans.pipeline import build_kg, build_kg_triples

TS = datetime.datetime(2026, 1, 5, 12, 0, 0)
SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

# mention extraction keys on ≥2-capitalized-word spans; lowercase lead-ins
# ("we met …") keep the sentence verb out of the span
B1 = [
    ("c1", 0, "we met Acme Corp about the plan"),
    ("c1", 1, "then Acme Corporation sent a follow-up"),
    ("c2", 0, "talked to Widget Works yesterday"),
]


def _turns(spark, rows):
    return spark.createDataFrame(
        [(c, i, "user", t, None, TS) for (c, i, t) in rows], SCHEMA
    )


def _trip_set(df):
    return {(r.subj, r.pred, r.obj) for r in df.select("subj", "pred", "obj").collect()}


@pytest.fixture(scope="module")
def prior(spark):
    trip1, canon1 = build_kg(spark, _turns(spark, B1))
    return _trip_set(trip1), canon1.localCheckpoint(eager=True)


def test_known_surface_reuses_entity(spark, prior):
    trip1, canon1 = prior
    res = incremental_update(
        spark, _turns(spark, [("c3", 0, "we met Acme Corp again")]), canon1
    )
    assert res.canonical_delta.count() == 0  # nothing novel
    ents = {r.obj for r in res.triples.filter(F.col("pred") == "p_Mention_Entity").collect()}
    prior_ents = {o for (s, p, o) in trip1 if p == "p_Mention_Entity"}
    assert ents and ents <= prior_ents  # stable URIs, nothing new
    # and no re-declaration of existing entities in the delta
    assert res.triples.filter(
        (F.col("pred") == "rdf:type") & (F.col("obj") == "kg:Entity")
    ).count() == 0


def test_novel_surface_attaches_to_existing_entity(spark, prior):
    _, canon1 = prior
    res = incremental_update(
        spark, _turns(spark, [("c3", 1, "the Acme Corporation Ltd deal closed")]), canon1
    )
    prior_map = {r.mention: r.canonical for r in canon1.collect()}
    delta = {(r.mention, r.canonical) for r in res.canonical_delta.collect()}
    assert "Acme Corporation Ltd" not in prior_map
    # near-dups the existing Acme family → attaches to ITS canonical
    assert ("Acme Corporation Ltd", prior_map["Acme Corp"]) in delta
    assert res.triples.filter(
        (F.col("pred") == "rdf:type") & (F.col("obj") == "kg:Entity")
    ).count() == 0  # attached, not minted


def test_new_family_mints_new_entity(spark, prior):
    trip1, canon1 = prior
    res = incremental_update(
        spark, _turns(spark, [("c4", 0, "call with Gizmo Industries went well")]), canon1
    )
    minted = res.triples.filter(
        (F.col("pred") == "rdf:type") & (F.col("obj") == "kg:Entity")
    ).collect()
    assert len(minted) == 1
    b1_ents = {s for (s, p, o) in trip1 if p == "rdf:type" and o == "kg:Entity"}
    assert minted[0].subj not in b1_ents  # a genuinely new URI


def test_component_attach_is_collective(spark):
    """Two novel surfaces forming one near-dup component attach TOGETHER to
    the same existing entity (the attach decision is per component, not
    per surface)."""
    _, canon1 = build_kg(spark, _turns(spark, [("c1", 0, "we met Data Hub today")]))
    prior_map = {r.mention: r.canonical for r in canon1.collect()}
    res = incremental_update(
        spark,
        _turns(spark, [("c2", 0, "the Data Hub Central and Data Hub Central Office teams synced")]),
        canon1,
    )
    delta = {r.mention: r.canonical for r in res.canonical_delta.collect()}
    assert set(delta) == {"Data Hub Central", "Data Hub Central Office"}
    assert set(delta.values()) == {prior_map["Data Hub"]}


def test_uri_stability_and_equivalence_when_chains_dont_cross(spark):
    """Families wholly inside one batch → increment-then-union == full batch."""
    b1 = B1
    b2 = [
        ("c3", 0, "call with Gizmo Industries went well"),
        ("c3", 1, "and Gizmo Industries confirmed the date"),
    ]
    trip1, canon1 = build_kg(spark, _turns(spark, b1))
    inc = incremental_update(spark, _turns(spark, b2), canon1)
    union = _trip_set(trip1) | _trip_set(inc.triples)
    full = _trip_set(build_kg_triples(spark, _turns(spark, b1 + b2)))
    assert union == full
    # prior map is a strict subset of the updated map (nothing rewritten)
    prior_rows = {(r.mention, r.canonical) for r in canon1.collect()}
    updated_rows = {(r.mention, r.canonical) for r in inc.canonical.collect()}
    assert prior_rows < updated_rows


def test_documented_divergence_late_better_canonical(spark):
    """A late surface that would WIN the canonical pick in a full batch does
    not re-canonicalize the entity incrementally — URI stability wins.
    This is the module's one documented divergence from full recompute."""
    b1 = [("c1", 0, "the Acme Corporation Ltd meeting ran long")]
    b2 = [("c1", 1, "the Acme Corporation meeting notes are out")]
    _, canon1 = build_kg(spark, _turns(spark, b1))
    prior_map = {r.mention: r.canonical for r in canon1.collect()}
    inc = incremental_update(spark, _turns(spark, b2), canon1)
    inc_map = {r.mention: r.canonical for r in inc.canonical.collect()}
    full_map = {
        r.mention: r.canonical
        for r in build_kg(spark, _turns(spark, b1 + b2))[1].collect()
    }
    # full batch re-picks the shorter late surface as the canonical…
    assert full_map["Acme Corporation Ltd"] == "Acme Corporation"
    # …the incremental path attaches the newcomer to the EXISTING entity
    assert inc_map["Acme Corporation Ltd"] == prior_map["Acme Corporation Ltd"]
    assert inc_map["Acme Corporation"] == prior_map["Acme Corporation Ltd"]


def _cross_three_ways(spark, novel, prior, max_token_df=1000):
    """Edge sets of the pruned driver path, the distributed blocking join
    and the in-memory oracle twin for one (novel, prior) input."""
    from knowledgegraphs_spark.config import MatchConfig
    from knowledgegraphs_spark.operators.matching import (
        _cross_edges_python,
        blocking_join,
        cross_match_edges,
        near_duplicate_edges,
    )

    ndf = spark.createDataFrame([(m,) for m in novel], "mention string")
    pdf = spark.createDataFrame([(m,) for m in prior], "mention string")
    cfg = MatchConfig()
    pruned = {
        (r.src, r.tgt)
        for r in cross_match_edges(
            ndf, pdf, cfg, vocab_driver_threshold=100, max_token_df=max_token_df
        ).collect()
    }
    joined = {
        (r.src, r.tgt)
        for r in near_duplicate_edges(blocking_join(ndf, pdf, cfg, max_token_df)).collect()
    }
    oracle = set(_cross_edges_python(novel, prior, cfg, max_token_df))
    return pruned, joined, oracle


def test_cross_edges_distributed_parity(spark):
    """cross_match_edges: the pruned driver path, the distributed
    blocking_join path and the in-memory twin produce identical edge sets
    — also with a token above max_token_df, duplicate prior rows, a novel
    surface without any token, and an empty novel side."""
    novel = ["Acme Corporation Ltd", "Gizmo Industries", "Data Hub Central", "Quantum Leap Labs"]
    prior = ["Acme Corp", "Acme Corporation", "Widget Works", "Data Hub"]
    pruned, joined, oracle = _cross_three_ways(spark, novel, prior)
    assert pruned == joined == oracle
    assert ("Acme Corporation Ltd", "Acme Corporation") in pruned
    assert ("Acme Corporation Ltd", "Acme Corp") in pruned

    # "acme" sits in three distinct prior surfaces (four rows): above
    # max_token_df=2 it leaves the index, so only "corporation" links
    # "Acme Corporation Ltd" — to "Acme Corporation", not "Acme Corp".
    # "X" and "A B" have no token longer than one character.
    novel2 = novel + ["X", "A B"]
    prior2 = prior + ["Acme Labs", "Acme Corporation", "Data Hub"]
    pruned, joined, oracle = _cross_three_ways(spark, novel2, prior2, max_token_df=2)
    assert pruned == joined == oracle
    assert ("Acme Corporation Ltd", "Acme Corporation") in pruned
    assert ("Acme Corporation Ltd", "Acme Corp") not in pruned
    assert not {src for src, _ in pruned} & {"X", "A B"}

    assert _cross_three_ways(spark, [], prior2) == (set(), set(), set())
