"""End-to-end golden test: structural triples vs the pure-Python oracle.

The BASELINE gate is Triple P/R ≥ 0.95; both the Spark pipeline and the
oracle are deterministic, so we assert exact set equality (P = R = 1.0).
"""

from knowledgegraphs_spark.operators.po_extraction import transcript_po
from knowledgegraphs_spark.operators.triples import emit_transcript_triples
from knowledgegraphs_spark.sources.transcripts import ingest, synthesize_rows, synthesize_transcripts

from tests.oracle_kg import expected_structural_triples, triple_precision_recall


def test_structural_triples_match_oracle(spark):
    df = ingest(synthesize_transcripts(spark, n_conversations=60, seed=42).repartition(8, "conv_id"))
    po = transcript_po()
    got = {
        (r.subj, r.pred, r.obj)
        for r in emit_transcript_triples(df, po).collect()
    }
    expected = expected_structural_triples(synthesize_rows(60, seed=42))
    p, r = triple_precision_recall(got, expected)
    assert (p, r) == (1.0, 1.0), (
        f"P={p:.4f} R={r:.4f}; "
        f"spark-only={list(got - expected)[:5]} oracle-only={list(expected - got)[:5]}"
    )


def test_per_turn_text_equality_invariant(spark):
    """Input-hint invariant: per-turn text survives the pipeline under stable
    (conv_id, turn_idx) ordering."""
    rows = synthesize_rows(30, seed=7)
    df = ingest(synthesize_transcripts(spark, n_conversations=30, seed=7))
    got = {
        (r.conv_id, r.turn_idx): r.text
        for r in df.select("conv_id", "turn_idx", "text").collect()
    }
    from tests.oracle_kg import _nullish

    for conv_id, turn_idx, _role, text, _tool, _ts in rows:
        assert got[(conv_id, turn_idx)] == (None if _nullish(text) else text)


def test_partitioning_does_not_change_output(spark):
    """Deterministic URIs → identical triple set under any partitioning."""
    po = transcript_po()
    base = synthesize_transcripts(spark, n_conversations=20, seed=1)
    t1, t2 = (
        {(r.subj, r.pred, r.obj) for r in emit_transcript_triples(ingest(df), po).collect()}
        for df in (base.repartition(2, "conv_id"), base.repartition(13, "conv_id"))
    )
    assert t1 == t2
