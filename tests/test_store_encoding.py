"""The engine's parquet encoding (``operators/triples.PARQUET_OPTIONS``):
every KG store the engine writes — a ``write_triples`` store, a maintained
store's deltas and compacted bases, a ``run_pipeline`` workdir — stores the
URI and free-text columns without a parquet dictionary and keeps one on
``pred``; ``compact_store`` writes its bases in a total order. Stores
written with parquet's defaults (before the policy) mix with new files
under appends, rewrites and compaction. Footers are read with pyarrow."""

import glob
import os

import pyarrow.parquet as pq
import pytest

from knowledgegraphs_spark.operators import triples as triples_mod
from knowledgegraphs_spark.operators.triples import (
    append_triples,
    open_store,
    read_triples,
    rewrite_buckets,
    write_triples,
)
from knowledgegraphs_spark.plans.pipeline import run_pipeline
from knowledgegraphs_spark.sources.transcripts import synthesize_transcripts
from knowledgegraphs_spark.streaming.maintenance import (
    compact_store,
    maintenance_batch_fn,
    read_catalog,
    read_maintained_triples,
)

from tests.test_streaming_maintenance import B1, B2, _turns

PLAIN = {"subj", "obj", "mention", "canonical"}
TRIPLE_DDL = "subj string, pred string, obj string, obj_dtype string, is_literal boolean"
SPO = ["subj", "pred", "obj"]


def _files(root):
    files = sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))
    assert files, root
    return files


def _dictionary_columns(files):
    """Per column: the set of has-dictionary-page values over every column
    chunk of every file, read from the parquet footers."""
    seen: dict[str, set[bool]] = {}
    for f in files:
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            for i in range(md.num_columns):
                chunk = md.row_group(g).column(i)
                seen.setdefault(chunk.path_in_schema, set()).add(chunk.has_dictionary_page)
    return seen


def _assert_policy(files, expect_pred=True):
    seen = _dictionary_columns(files)
    plain = PLAIN & seen.keys()
    assert plain, seen
    for c in plain:
        assert seen[c] == {False}, (c, files)
    if expect_pred:
        # pred keeps its dictionary; parquet-mr itself still writes plain a
        # chunk too small for a dictionary to pay off (a one-row delta file)
        assert True in seen["pred"], files


def _triples(spark, rows):
    return spark.createDataFrame(rows, TRIPLE_DDL)


def _rows(n_subj=60):
    return [
        (f"kg:Turn_2_c{i:03d}_{j}", pred, f"kg:Text_{i}_{j}_{pred}", None, False)
        for i in range(n_subj)
        for j in range(3)
        for pred in ("has_text", "p_Turn_Conversation")
    ]


def _spo_bag(df):
    return sorted(tuple(r) for r in df.select(*SPO).collect())


def test_write_triples_store_encoding(spark, tmp_path):
    path = str(tmp_path / "store")
    write_triples(_triples(spark, _rows()), path, n_buckets=4)
    _assert_policy(_files(path))
    assert _dictionary_columns(_files(path))["pred"] == {True}


def test_maintained_store_encoding_and_compaction_order(spark, tmp_path):
    store = str(tmp_path / "store")
    fn = maintenance_batch_fn(store)
    fn(_turns(spark, B1), 0)
    fn(_turns(spark, B2), 1)
    _assert_policy(_files(f"{store}/triples"))
    _assert_policy(_files(f"{store}/catalog_delta"), expect_pred=False)

    compact_store(spark, store)
    _assert_policy(_files(f"{store}/triples_base"))
    _assert_policy(_files(f"{store}/catalog_base"), expect_pred=False)

    # the compacted bases are in one total order across their files
    spo = []
    for f in _files(f"{store}/triples_base"):
        t = pq.read_table(f, columns=SPO)
        spo += list(zip(*(t.column(c).to_pylist() for c in SPO)))
    assert len(spo) > 10 and spo == sorted(spo)
    mentions = []
    for f in _files(f"{store}/catalog_base"):
        mentions += pq.read_table(f, columns=["mention"]).column("mention").to_pylist()
    assert len(mentions) > 1 and mentions == sorted(mentions)


def test_pipeline_workdir_encoding(spark, tmp_path):
    workdir = str(tmp_path / "kgrun")
    run_pipeline(spark, synthesize_transcripts(spark, 12, seed=3), workdir, input_fingerprint="enc")
    # every stage's files: the store and the plain parquet stages alike
    _assert_policy(_files(os.path.join(workdir, "triples")))
    for stage in ("mentions", "canonical", "entities"):
        _assert_policy(_files(os.path.join(workdir, stage)), expect_pred=False)


@pytest.fixture
def parquet_defaults(monkeypatch):
    """Writes through the engine's writer with parquet's default encoding —
    what stores written before the policy hold."""
    monkeypatch.setattr(triples_mod, "PARQUET_OPTIONS", {})
    return monkeypatch


def test_mixed_encoding_store_appends_and_rewrites(spark, tmp_path, parquet_defaults):
    path = str(tmp_path / "store")
    base = _triples(spark, _rows(n_subj=40))
    write_triples(base, path, n_buckets=4)
    assert _dictionary_columns(_files(path))["subj"] == {True}
    parquet_defaults.undo()

    ins = _triples(spark, _rows(n_subj=50)[-60:] + [("kg:New_1", "about", "kg:X", None, False)])
    stats = append_triples(open_store(spark, path), path, ins)
    assert stats["inserted"] > 0
    # the store now holds both encodings side by side
    assert _dictionary_columns(_files(path))["subj"] == {True, False}
    oracle = base.select(*SPO).union(ins.select(*SPO)).distinct()
    assert _spo_bag(read_triples(spark, path)) == _spo_bag(oracle)

    deletes = oracle.filter("subj LIKE 'kg:Turn_2_c00%' OR subj = 'kg:New_1'")
    inserts = _triples(spark, [("kg:Turn_2_c001_0", "has_note", "kg:Note_1", None, False)])
    rewrite_buckets(open_store(spark, path), path, deletes, inserts)
    want = oracle.exceptAll(deletes.select(*SPO)).union(inserts.select(*SPO))
    assert _spo_bag(read_triples(spark, path)) == _spo_bag(want)


def test_mixed_encoding_maintained_store_compacts(spark, tmp_path, parquet_defaults):
    store = str(tmp_path / "store")
    fn = maintenance_batch_fn(store)
    fn(_turns(spark, B1), 0)
    compact_store(spark, store)
    assert _dictionary_columns(_files(f"{store}/triples_base"))["subj"] == {True}
    parquet_defaults.undo()

    fn(_turns(spark, B2), 1)
    oracle_trips = _spo_bag(read_maintained_triples(spark, store))
    oracle_cat = sorted(tuple(r) for r in read_catalog(spark, store).collect())
    compact_store(spark, store)
    assert _spo_bag(read_maintained_triples(spark, store)) == oracle_trips
    assert sorted(tuple(r) for r in read_catalog(spark, store).collect()) == oracle_cat
    _assert_policy(_files(f"{store}/triples_base"))
