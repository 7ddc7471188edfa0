"""Incremental (Structured Streaming) triple emission: exactly-once across
triggers, identical output to the batch path."""

import os

import pytest

from knowledgegraphs_spark.operators.po_extraction import transcript_po
from knowledgegraphs_spark.operators.triples import emit_transcript_triples
from knowledgegraphs_spark.sources.transcripts import ingest, synthesize_transcripts
from knowledgegraphs_spark.streaming import stream_transcript_triples


def test_streaming_matches_batch_and_is_exactly_once(spark, tmp_path):
    inp = str(tmp_path / "turns")
    out = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inp)

    all_turns = synthesize_transcripts(spark, n_conversations=30, seed=7)
    # two file batches with an overlapping conversation set (turn split)
    b1 = all_turns.filter(all_turns.turn_idx % 2 == 0)
    b2 = all_turns.filter(all_turns.turn_idx % 2 == 1)

    b1.write.parquet(os.path.join(inp, "batch=1"))
    q = stream_transcript_triples(spark, inp, out, ckpt)
    q.awaitTermination(120)

    b2.write.parquet(os.path.join(inp, "batch=2"))
    q2 = stream_transcript_triples(spark, inp, out, ckpt)
    q2.awaitTermination(120)

    got = {
        tuple(r)
        for r in spark.read.parquet(out)
        .select("subj", "pred", "obj")
        .collect()
    }
    expected_df = emit_transcript_triples(ingest(all_turns), transcript_po())
    expected = {tuple(r) for r in expected_df.select("subj", "pred", "obj").collect()}
    assert got == expected

    # exactly-once: conversation-type triples not duplicated although the
    # conversation appeared in both file batches
    rows = (
        spark.read.parquet(out)
        .filter("pred = 'rdf:type' AND obj = 'kg:Conversation'")
        .groupBy("subj")
        .count()
        .filter("count > 1")
    )
    assert rows.isEmpty()


def test_stateful_streaming_episodes_match_batch(spark, tmp_path):
    """applyInPandasWithState sessionization: per-conversation state must
    carry across micro-batches AND across query restarts (checkpoint state
    recovery), producing exactly the batch window's episode ids."""
    from knowledgegraphs_spark.operators.episodes import episode_ids
    from knowledgegraphs_spark.sources.transcripts import read_transcript_stream
    from knowledgegraphs_spark.streaming.incremental import stream_episode_ids

    inp = str(tmp_path / "turns_in")
    out = str(tmp_path / "eps_out")
    ckpt = str(tmp_path / "eps_ckpt")
    os.makedirs(inp)

    all_turns = synthesize_transcripts(spark, n_conversations=20, seed=11)
    # split every conversation mid-way: episodes MUST continue across the
    # trigger boundary through the state store
    b1 = all_turns.filter(all_turns.turn_idx <= 3)
    b2 = all_turns.filter(all_turns.turn_idx > 3)

    def run_stream():
        stream = read_transcript_stream(spark, inp)
        q = (
            stream_episode_ids(stream, gap_seconds=300)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    b1.write.parquet(os.path.join(inp, "batch=1"))
    run_stream()
    b2.write.parquet(os.path.join(inp, "batch=2"))
    run_stream()

    got = {
        (r.conv_id, r.turn_idx): r.episode
        for r in spark.read.parquet(out).collect()
    }
    expected = {
        (r.conv_id, r.turn_idx): r.episode
        for r in episode_ids(all_turns, gap_seconds=300).collect()
    }
    assert got == expected and got
