"""S17 resume contract under mid-pipeline interruption: a run killed after
stage k resumes by skipping the completed prefix and recomputing only the
suffix, with byte-identical final output."""

import json
import os
import shutil

import pytest

from knowledgegraphs_spark.plans.pipeline import run_pipeline
from knowledgegraphs_spark.sources.transcripts import synthesize_transcripts

STAGES = ["turns", "mentions", "match_edges", "canonical", "triples", "entities"]


def _triples(res):
    return {tuple(r) for r in res.triples.select("subj", "pred", "obj").collect()}


@pytest.mark.parametrize("scheme", ["", "file:"], ids=["path", "file-uri"])
def test_resume_after_simulated_kill(spark, tmp_path, scheme):
    """The workdir may be a plain path or a Hadoop ``file:`` URI of the
    same directory; the crash is simulated on the local directory."""
    local = str(tmp_path / "run")
    workdir = scheme + local
    raw = synthesize_transcripts(spark, 40, seed=9)

    full = run_pipeline(spark, raw, workdir, input_fingerprint="fp9")
    golden = _triples(full)

    # simulate a crash between 'canonical' and 'triples': wipe the outputs
    # and manifest entries of the suffix, as if the job died mid-write
    with open(os.path.join(local, "_manifest.json")) as f:
        man = json.load(f)
    for stage in ["triples", "entities"]:
        shutil.rmtree(os.path.join(local, stage), ignore_errors=True)
        man["stages"].pop(stage, None)
    with open(os.path.join(local, "_manifest.json"), "w") as f:
        json.dump(man, f)

    res = run_pipeline(spark, raw, workdir, input_fingerprint="fp9")
    # prefix skipped, suffix recomputed
    assert set(res.stats["skipped"]) == {"turns", "mentions", "match_edges", "canonical"}
    assert set(res.stats["ran"]) == {"triples", "entities"}
    assert _triples(res) == golden


def test_resume_detects_partial_stage_output(spark, tmp_path):
    """A stage directory without _SUCCESS (killed mid-write) must be
    recomputed even though a manifest entry exists."""
    workdir = str(tmp_path / "run2")
    raw = synthesize_transcripts(spark, 30, seed=4)
    full = run_pipeline(spark, raw, workdir, input_fingerprint="fp4")
    golden = _triples(full)

    os.remove(os.path.join(workdir, "mentions", "_SUCCESS"))
    res = run_pipeline(spark, raw, workdir, input_fingerprint="fp4")
    assert "mentions" in res.stats["ran"]
    assert "turns" in res.stats["skipped"]
    assert _triples(res) == golden
