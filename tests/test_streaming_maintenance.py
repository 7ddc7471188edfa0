"""Continuous KG maintenance (streaming/maintenance.py): the foreachBatch
stream over plans/incremental must equal the same batches run sequentially
through incremental_update, survive a checkpointed restart exactly-once,
keep entity URIs stable across batches, and rewrite byte-identical data on
a batch replay (idempotency via the before_batch catalog reconstruction),
and run a warm batch-batch-compaction cycle without generating new code.

Surface families reuse the test_incremental.py corpus: ("Acme Corp",
"Acme Corporation") is a near-dup pair, "Widget Works"/"Gizmo Industries"
are singletons — asserted in tests/test_similarity.py's golden suite."""

import datetime
import hashlib
import os
from pathlib import Path

import pytest

from knowledgegraphs_spark.plans.incremental import incremental_update
from knowledgegraphs_spark.plans.pipeline import build_kg
from knowledgegraphs_spark.streaming.maintenance import (
    compact_store,
    maintenance_batch_fn,
    read_catalog,
    read_maintained_triples,
    stream_kg_maintenance,
)

TS = datetime.datetime(2026, 1, 5, 12, 0, 0)
SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

B1 = [
    ("c1", 0, "we met Acme Corp about the plan"),
    ("c1", 1, "then Acme Corporation sent a follow-up"),
    ("c2", 0, "talked to Widget Works yesterday"),
]
B2 = [
    ("c3", 0, "call with Acme Corp again"),
    ("c3", 1, "and Gizmo Industries joined late"),
    ("c1", 2, "closing note on Widget Works"),  # conversation split across batches
]


def _turns(spark, rows):
    return spark.createDataFrame(
        [(c, i, "user", t, None, TS) for (c, i, t) in rows], SCHEMA
    )


def _trips(df):
    return {(r.subj, r.pred, r.obj) for r in df.select("subj", "pred", "obj").collect()}


def _catalog(df):
    return {(r.mention, r.canonical) for r in df.select("mention", "canonical").collect()}


def _run_stream(spark, inp, store, ckpt):
    q = stream_kg_maintenance(spark, inp, store, ckpt)
    q.awaitTermination(180)


def test_stream_equals_sequential_incremental_and_uris_stable(spark, tmp_path):
    inp = str(tmp_path / "turns")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inp)

    # ---- streamed: two availableNow drains = batch_id 0 then 1
    _turns(spark, B1).coalesce(1).write.parquet(os.path.join(inp, "batch=1"))
    _run_stream(spark, inp, store, ckpt)
    trips_after_b1 = _trips(read_maintained_triples(spark, store))
    cat_after_b1 = _catalog(read_catalog(spark, store))

    _turns(spark, B2).coalesce(1).write.parquet(os.path.join(inp, "batch=2"))
    _run_stream(spark, inp, store, ckpt)
    got_trips = _trips(read_maintained_triples(spark, store))
    got_cat = _catalog(read_catalog(spark, store))

    # ---- spec: the same two batches through incremental_update sequentially
    empty_cat = spark.createDataFrame([], "mention string, canonical string")
    r1 = incremental_update(spark, _turns(spark, B1), empty_cat)
    exp1 = _trips(r1.triples)
    r2 = incremental_update(spark, _turns(spark, B2), r1.canonical.localCheckpoint())
    assert trips_after_b1 == exp1
    assert got_trips == exp1 | _trips(r2.triples)
    assert got_cat == _catalog(r2.canonical)

    # URI stability: every batch-1 triple survives batch 2 untouched, and the
    # batch-2 "Acme Corp" mention resolves to the entity batch 1 minted
    assert trips_after_b1 <= got_trips
    assert cat_after_b1 <= got_cat
    b1_acme = {c for (m, c) in cat_after_b1 if m == "Acme Corp"}
    assert {c for (m, c) in got_cat if m == "Acme Corp"} == b1_acme

    # exactly-once: conversation c1 appeared in both file batches but is
    # declared exactly once
    decls = [
        t for t in got_trips if t[1] == "rdf:type" and t[2] == "kg:Conversation"
    ]
    assert len(decls) == len({t[0] for t in decls}) == 3  # c1, c2, c3

    # restart with nothing new: no-op (checkpoint replays nothing)
    _run_stream(spark, inp, store, ckpt)
    assert _trips(read_maintained_triples(spark, store)) == got_trips


def _content_hashes(path):
    """Sorted content digests of a dir's parquet files (their names carry a
    random UUID per write, their bytes do not)."""
    return sorted(
        hashlib.sha256(f.read_bytes()).hexdigest() for f in Path(path).glob("*.parquet")
    )


def test_batch_replay_is_idempotent(spark, tmp_path):
    """Simulate a foreachBatch replay: after batches 0 and 1 are in the
    store, re-running batch 1's closure must reconstruct the pre-batch
    catalog (batch_id < 1) and rewrite byte-identical files."""
    store = str(tmp_path / "store")
    fn = maintenance_batch_fn(store)
    fn(_turns(spark, B1), 0)
    fn(_turns(spark, B2), 1)
    trips = _trips(read_maintained_triples(spark, store))
    cat = _catalog(read_catalog(spark, store))
    batch_dirs = [f"{store}/triples/batch_id=1", f"{store}/catalog_delta/batch_id=1"]
    files = [_content_hashes(d) for d in batch_dirs]
    assert all(files), files

    fn(_turns(spark, B2), 1)  # replay
    assert _trips(read_maintained_triples(spark, store)) == trips
    assert _catalog(read_catalog(spark, store)) == cat
    assert [_content_hashes(d) for d in batch_dirs] == files


def test_replay_heals_partial_batch_write(spark, tmp_path):
    """Crash-window coverage: the batch closure writes triples/batch_id=N
    FIRST, catalog_delta/batch_id=N second. A crash between the two leaves
    a half-written batch whose checkpoint never committed — on restart the
    batch replays, and the dir-keyed overwrite must heal the store to
    exactly what a never-crashed run produces (both halves of the window)."""
    import shutil as sh

    clean = str(tmp_path / "clean")
    fn_clean = maintenance_batch_fn(clean)
    fn_clean(_turns(spark, B1), 0)
    fn_clean(_turns(spark, B2), 1)
    want_trips = _trips(read_maintained_triples(spark, clean))
    want_cat = _catalog(read_catalog(spark, clean))

    for half in ("triples", "catalog_delta"):
        store = str(tmp_path / f"crash_{half}")
        fn = maintenance_batch_fn(store)
        fn(_turns(spark, B1), 0)
        fn(_turns(spark, B2), 1)
        # simulate the crash: batch 1 lost the OTHER half of its write
        lost = "catalog_delta" if half == "triples" else "triples"
        sh.rmtree(f"{store}/{lost}/batch_id=1")
        fn(_turns(spark, B2), 1)  # checkpoint never committed -> replay
        assert _trips(read_maintained_triples(spark, store)) == want_trips
        assert _catalog(read_catalog(spark, store)) == want_cat


@pytest.mark.parametrize("scheme", ["", "file:"], ids=["path", "file-uri"])
def test_compaction_preserves_reads_and_uri_stability(spark, tmp_path, scheme):
    """Folding committed deltas into the base dirs must not change what
    read_catalog / read_maintained_triples return, must physically remove
    the folded batch dirs, and batches processed AFTER compaction must
    still attach to the pre-compaction entity URIs. The store may be a
    plain path or a Hadoop ``file:`` URI of the same directory."""
    local = str(tmp_path / "store")
    store = scheme + local
    fn = maintenance_batch_fn(store)
    fn(_turns(spark, B1), 0)
    fn(_turns(spark, B2), 1)
    fn(_turns(spark, [("c5", 0, "Widget Works sent a revised quote")]), 2)
    trips = _trips(read_maintained_triples(spark, store))
    cat = _catalog(read_catalog(spark, store))

    stats = compact_store(spark, store, through_batch=1)
    assert stats["folded_batches"] == [0, 1]
    assert _trips(read_maintained_triples(spark, store)) == trips
    assert _catalog(read_catalog(spark, store)) == cat
    # folded dirs gone, the uncommittable-looking tail (batch 2) untouched
    assert not os.path.exists(f"{local}/catalog_delta/batch_id=0")
    assert not os.path.exists(f"{local}/triples/batch_id=1")
    assert os.path.exists(f"{local}/triples/batch_id=2")

    # a second, full compaction folds the tail; reads still identical
    stats = compact_store(spark, store)
    assert stats["folded_batches"] == [2]
    assert _trips(read_maintained_triples(spark, store)) == trips
    assert _catalog(read_catalog(spark, store)) == cat
    assert compact_store(spark, store)["folded_batches"] == []  # no-op now

    # post-compaction batch: known surface resolves to the SAME entity URI
    fn(_turns(spark, [("c6", 0, "Acme Corp confirmed the order")]), 3)
    got_cat = _catalog(read_catalog(spark, store))
    assert {c for (m, c) in got_cat if m == "Acme Corp"} == {
        c for (m, c) in cat if m == "Acme Corp"
    }
    assert _trips(read_maintained_triples(spark, store)) > trips


def test_stream_restart_after_compaction_matches_uncompacted_twin(spark, tmp_path):
    """Drain → compact (stream stopped) → new files → drain on the SAME
    checkpoint must equal the never-compacted twin store byte-for-byte at
    the read surface."""
    b3 = [("c7", 0, "Gizmo Industries and Acme Corporation synced")]
    stores = {}
    for name, do_compact in (("a", True), ("b", False)):
        inp = str(tmp_path / f"turns_{name}")
        store = str(tmp_path / f"store_{name}")
        ckpt = str(tmp_path / f"ckpt_{name}")
        os.makedirs(inp)
        _turns(spark, B1).coalesce(1).write.parquet(os.path.join(inp, "batch=1"))
        _run_stream(spark, inp, store, ckpt)
        _turns(spark, B2).coalesce(1).write.parquet(os.path.join(inp, "batch=2"))
        _run_stream(spark, inp, store, ckpt)
        if do_compact:
            compact_store(spark, store)
        _turns(spark, b3).coalesce(1).write.parquet(os.path.join(inp, "batch=3"))
        _run_stream(spark, inp, store, ckpt)
        stores[name] = (
            _trips(read_maintained_triples(spark, store)),
            _catalog(read_catalog(spark, store)),
        )
    assert stores["a"] == stores["b"]


def test_bootstrap_from_batch_catalog(spark, tmp_path):
    """catalog_base seeds the stream with a batch-built catalog: surfaces
    known to the prior batch run attach to its entity URIs, minting none."""
    store = str(tmp_path / "store")
    _, canon = build_kg(spark, _turns(spark, B1))
    canon.write.parquet(f"{store}/catalog_base")
    base = _catalog(read_catalog(spark, store))

    fn = maintenance_batch_fn(store)
    fn(_turns(spark, [("c9", 0, "pinged Acme Corporation for status")]), 0)
    got = _catalog(read_catalog(spark, store))
    assert got == base  # surface already known -> no delta rows at all
    # and no new-entity declarations in the delta triples
    decls = [
        t
        for t in _trips(read_maintained_triples(spark, store))
        if t[1] == "rdf:type" and t[2] == "kg:Entity"
    ]
    assert decls == []


def test_sparql_over_live_store(spark, tmp_path):
    """Query the LIVE maintained graph with SPARQL text between batches —
    the triple store role end-to-end: stream maintains, analysts query,
    no export step. The entity's conversation count must track the store
    state at each point."""
    from knowledgegraphs_spark.operators.sparql import sparql_select

    inp = str(tmp_path / "turns")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inp)

    q = """
        SELECT ?e (COUNT(DISTINCT ?c) AS ?n_convs) WHERE {
            ?t has_mention ?m .
            ?m p_Mention_Entity ?e .
            ?t p_Turn_Conversation ?c .
        } GROUP BY ?e
    """

    def counts():
        live = read_maintained_triples(spark, store).localCheckpoint(eager=True)
        return {r.e: r.n_convs for r in sparql_select(live, q).collect()}

    _turns(spark, B1).coalesce(1).write.parquet(os.path.join(inp, "batch=1"))
    _run_stream(spark, inp, store, ckpt)
    after_b1 = counts()

    _turns(spark, B2).coalesce(1).write.parquet(os.path.join(inp, "batch=2"))
    _run_stream(spark, inp, store, ckpt)
    after_b2 = counts()

    # Acme (c1 in B1, c3 in B2) grows 1 -> 2 under the SAME entity URI;
    # Widget Works (c2 in B1, c1 in B2) likewise
    acme = [e for e in after_b1 if "Acme" in e]
    widget = [e for e in after_b1 if "Widget" in e]
    assert len(acme) == 1 and len(widget) == 1
    assert after_b1[acme[0]] == 1 and after_b2[acme[0]] == 2
    assert after_b1[widget[0]] == 1 and after_b2[widget[0]] == 2
    # URI stability: batch 2 did not mint a second Acme entity
    assert len([e for e in after_b2 if "Acme" in e]) == 1


def _family(i):
    """Two letter-only tokens private to family ``i`` (digits would change
    how mentions are extracted)."""
    digest = hashlib.md5(str(i).encode()).hexdigest()
    digest = digest.translate(str.maketrans("0123456789", "qrstuvwxyz"))
    return f"Entity{digest[:10]}", digest[10:16].capitalize()


def _surface(i, attach=False):
    head, word = _family(i)
    return f"{head} {word}s" if attach else f"{head} {word}"


def _compiles(spark):
    """Janino compilations so far in this JVM (one per generated class
    that missed the code cache)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_maintenance_cycle_compiles_no_new_code(spark, tmp_path):
    """A long-running stream repeats one batch-batch-compaction cycle. Once
    one cycle has run, the next must reuse every generated class: nothing
    may put a per-batch value into generated code (a ``batch_id < N``
    filter did), and the code cache must hold the whole cycle (the
    default 100 entries did not). Every batch has the same shape, so the
    same branches run: a known surface, a novel spelling of a known
    family (attached) and a new family (minted)."""
    from knowledgegraphs_spark.operators.triples import write_parquet

    store = str(tmp_path / "store")
    boot = [(f"b{i}", 0, f"Please contact {_surface(i)} about the review.") for i in range(8)]
    triples, canonical = build_kg(spark, _turns(spark, boot))
    write_parquet(canonical, f"{store}/catalog_base")
    write_parquet(triples, f"{store}/triples_base")
    booted = {c for (_m, c) in _catalog(canonical)}
    fn = maintenance_batch_fn(store)

    def batch(b):
        rows = [
            (f"l{b}", 0, f"Please contact {_surface(b + 4)} about the review."),
            (f"l{b}", 1, f"then {_surface(b, attach=True)} replied late"),
            (f"l{b}", 2, f"and {_surface(100 + b)} joined the call"),
        ]
        fn(_turns(spark, rows), b)

    def cycle(first):
        batch(first)
        batch(first + 1)
        assert compact_store(spark, store)["folded_batches"] == [first, first + 1]

    cycle(0)  # warm: the first run of each plan generates its code
    before = _compiles(spark)
    cycle(2)
    assert _compiles(spark) == before

    by_mention = dict(_catalog(read_catalog(spark, store)))
    for b in range(4):
        assert by_mention[_surface(b, attach=True)] == by_mention[_surface(b)]  # attached
        assert by_mention[_surface(100 + b)] not in booted  # minted
