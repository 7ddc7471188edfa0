"""SPARQL 1.1 Update over a write_triples store (operators/sparql_update.py).

Covers the four operation forms, RDF set semantics for inserts, spec
§3.1.3 operation order (delete-then-insert within one request, both
against the original state), the bucket-locality contract (an update
must NOT rewrite files in buckets it doesn't touch), the emptied-bucket
edge, NULL metadata on inserted rows of typed stores, and the typed
syntax errors for the unsupported multi-graph forms.
"""

import os

import pytest
from pyspark.sql import functions as F

from knowledgegraphs_spark.operators.sparql import parse_update, sparql_select
from knowledgegraphs_spark.operators.sparql_update import sparql_update
from knowledgegraphs_spark.operators.triples import read_triples, write_triples

EX = "http://example.org/u#"
PFX = f"PREFIX ex: <{EX}>\n"

BASE = [
    (EX + "a", EX + "role", "user"),
    (EX + "a", EX + "score", "1"),
    (EX + "b", EX + "role", "assistant"),
    (EX + "b", EX + "score", "2"),
    (EX + "c", EX + "role", "assistant"),
    (EX + "d", EX + "lonely", "x"),
]

N_BUCKETS = 8


def build_store(spark, tmp_path, rows=BASE, schema="subj string, pred string, obj string"):
    path = os.path.join(str(tmp_path), "store")
    write_triples(spark.createDataFrame(rows, schema), path, n_buckets=N_BUCKETS)
    return path


def spo(spark, path):
    return sorted(
        tuple(r) for r in read_triples(spark, path).select("subj", "pred", "obj").collect()
    )


def bucket_files(path):
    out = {}
    for d in os.listdir(path):
        if d.startswith("subj_bucket="):
            out[d] = sorted(
                f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")
            )
    return out


def test_insert_data_appends_without_rewriting(spark, tmp_path):
    path = build_store(spark, tmp_path)
    before = bucket_files(path)
    stats = sparql_update(
        spark, path, PFX + 'INSERT DATA { ex:e ex:role "tool" . ex:e ex:score "9" . }'
    )
    assert stats["deleted"] == 0 and stats["inserted"] == 2
    assert stats["buckets_rewritten"] == []
    after = bucket_files(path)
    # untouched buckets keep their exact file lists — append-only locality
    touched = set(f"subj_bucket={b}" for b in stats["buckets_appended"])
    for d, files in before.items():
        if d not in touched:
            assert after[d] == files
    assert (EX + "e", EX + "role", "tool") in spo(spark, path)
    assert len(spo(spark, path)) == len(BASE) + 2


def test_insert_data_set_semantics(spark, tmp_path):
    path = build_store(spark, tmp_path)
    stats = sparql_update(spark, path, PFX + 'INSERT DATA { ex:a ex:role "user" . }')
    assert stats["inserted"] == 0
    assert spo(spark, path) == sorted(BASE)


def test_delete_data(spark, tmp_path):
    path = build_store(spark, tmp_path)
    stats = sparql_update(spark, path, PFX + 'DELETE DATA { ex:a ex:score "1" . }')
    assert stats["deleted"] == 1 and stats["inserted"] == 0
    assert spo(spark, path) == sorted(t for t in BASE if t != (EX + "a", EX + "score", "1"))


def test_delete_data_absent_row_is_noop(spark, tmp_path):
    path = build_store(spark, tmp_path)
    stats = sparql_update(spark, path, PFX + 'DELETE DATA { ex:zz ex:score "77" . }')
    assert stats["deleted"] == 0
    assert spo(spark, path) == sorted(BASE)


def test_delete_where_pattern(spark, tmp_path):
    path = build_store(spark, tmp_path)
    stats = sparql_update(spark, path, PFX + "DELETE WHERE { ?s ex:role ?r . }")
    assert stats["deleted"] == 3
    assert spo(spark, path) == sorted(t for t in BASE if t[1] != EX + "role")


def test_delete_insert_where_migration(spark, tmp_path):
    # predicate-rename migration: the bread-and-butter modify form
    path = build_store(spark, tmp_path)
    stats = sparql_update(
        spark,
        path,
        PFX
        + """DELETE { ?s ex:role ?r } INSERT { ?s ex:speaker ?r } WHERE {
               ?s ex:role ?r . FILTER (?r = 'assistant')
           }""",
    )
    assert stats["deleted"] == 2 and stats["inserted"] == 2
    got = spo(spark, path)
    assert (EX + "b", EX + "speaker", "assistant") in got
    assert (EX + "c", EX + "speaker", "assistant") in got
    assert (EX + "a", EX + "role", "user") in got  # filtered row untouched
    assert not any(t == (EX + "b", EX + "role", "assistant") for t in got)
    assert len(got) == len(BASE)


def test_delete_insert_roundtrip_same_triple(spark, tmp_path):
    # §3.1.3: both clauses see the ORIGINAL state — deleting and
    # re-inserting the same triple in one request keeps it
    path = build_store(spark, tmp_path)
    stats = sparql_update(
        spark,
        path,
        PFX + "DELETE { ?s ex:role ?r } INSERT { ?s ex:role ?r } WHERE { ?s ex:role ?r . }",
    )
    assert stats["deleted"] == 3 and stats["inserted"] == 3
    assert spo(spark, path) == sorted(BASE)


def test_emptied_bucket_directory_is_removed(spark, tmp_path):
    # a single-subject store: deleting its triples must empty the store,
    # not leave stale files behind dynamic overwrite's back
    rows = [(EX + "solo", EX + "p", "v1"), (EX + "solo", EX + "q", "v2")]
    path = build_store(spark, tmp_path, rows=rows)
    stats = sparql_update(spark, path, PFX + "DELETE WHERE { ex:solo ?p ?o . }")
    assert stats["deleted"] == 2
    assert spo(spark, path) == []
    assert bucket_files(path) == {}


def test_typed_store_metadata_null_on_insert(spark, tmp_path):
    rows = [(s, p, o, "string", True) for s, p, o in BASE]
    schema = "subj string, pred string, obj string, obj_dtype string, is_literal boolean"
    path = build_store(spark, tmp_path, rows=rows, schema=schema)
    sparql_update(spark, path, PFX + 'INSERT DATA { ex:e ex:role "tool" . }')
    df = read_triples(spark, path)
    new = df.filter(F.col("subj") == EX + "e").collect()
    assert len(new) == 1 and new[0]["obj_dtype"] is None and new[0]["is_literal"] is None
    # deletes match on (s,p,o) regardless of metadata columns
    stats = sparql_update(spark, path, PFX + 'DELETE DATA { ex:a ex:score "1" . }')
    assert stats["deleted"] == 1


def test_updated_store_queryable(spark, tmp_path):
    path = build_store(spark, tmp_path)
    sparql_update(
        spark,
        path,
        PFX + "DELETE { ?s ex:role ?r } INSERT { ?s ex:speaker ?r } WHERE { ?s ex:role ?r . }",
    )
    df = read_triples(spark, path)
    got = sorted(
        r[0] for r in sparql_select(df, PFX + "SELECT ?s WHERE { ?s ex:speaker ?r . }").collect()
    )
    assert got == [EX + "a", EX + "b", EX + "c"]


def test_parse_errors(spark, tmp_path):
    with pytest.raises(SyntaxError, match="single graph"):
        parse_update(PFX + "WITH <g> DELETE WHERE { ?s ?p ?o . }")
    with pytest.raises(SyntaxError, match="variables"):
        parse_update(PFX + "INSERT DATA { ?s ex:p 'v' . }")
    with pytest.raises(SyntaxError, match="blank nodes"):
        parse_update(PFX + "INSERT DATA { _:b ex:p 'v' . }")
    with pytest.raises(SyntaxError, match="only triples"):
        parse_update(PFX + "DELETE WHERE { ?s ex:p ?o . FILTER (?o > 1) }")
    with pytest.raises(SyntaxError, match="INSERT or DELETE"):
        parse_update(PFX + "SELECT ?s WHERE { ?s ?p ?o . }")


def test_multi_operation_script(spark, tmp_path):
    # §3: operations apply in order, each seeing the previous result —
    # the third op deletes a triple the second op just inserted
    path = build_store(spark, tmp_path)
    stats = sparql_update(
        spark,
        path,
        PFX
        + """DELETE WHERE { ex:d ex:lonely ?o . } ;
             INSERT DATA { ex:e ex:role "tool" . } ;
             DELETE DATA { ex:e ex:role "tool" . } ;""",
    )
    assert stats["operations"] == 3
    assert stats["deleted"] == 2 and stats["inserted"] == 1
    assert spo(spark, path) == sorted(t for t in BASE if t[0] != EX + "d")


def test_multi_operation_per_op_prefixes(spark, tmp_path):
    # each operation carries its own prologue, per the grammar
    path = build_store(spark, tmp_path)
    stats = sparql_update(
        spark,
        path,
        PFX
        + 'INSERT DATA { ex:x ex:p "1" . } ;\n'
        + f'PREFIX e2: <{EX}>\nDELETE DATA {{ e2:x e2:p "1" . }}',
    )
    assert stats["operations"] == 2
    assert stats["inserted"] == 1 and stats["deleted"] == 1
    assert spo(spark, path) == sorted(BASE)


def test_plain_parquet_store_raises(spark, tmp_path):
    path = os.path.join(str(tmp_path), "plain")
    spark.createDataFrame(BASE, "subj string, pred string, obj string").write.parquet(path)
    with pytest.raises(ValueError, match="_kg_meta"):
        sparql_update(spark, path, PFX + 'INSERT DATA { ex:e ex:p "v" . }')


# --------------------------------------------------------------------------
# graph management (§3.1.4 LOAD, §3.2 CLEAR/DROP/CREATE)
# --------------------------------------------------------------------------


def test_clear_default_truncates(spark, tmp_path):
    path = build_store(spark, tmp_path)
    stats = sparql_update(spark, path, "CLEAR DEFAULT")
    assert stats["deleted"] == len(BASE) and stats["inserted"] == 0
    assert stats["buckets_rewritten"]  # the dirs that existed
    assert spo(spark, path) == []
    # the emptied store is still a store: inserts land again
    stats2 = sparql_update(spark, path, PFX + 'INSERT DATA { ex:a ex:role "user" . }')
    assert stats2["inserted"] == 1
    assert spo(spark, path) == [(EX + "a", EX + "role", "user")]


def test_drop_all_equals_clear(spark, tmp_path):
    path = build_store(spark, tmp_path)
    stats = sparql_update(spark, path, "DROP ALL")
    assert stats["deleted"] == len(BASE)
    assert spo(spark, path) == []


def test_named_graph_forms(spark, tmp_path):
    path = build_store(spark, tmp_path)
    # NAMED targets the (empty) set of named graphs — a no-op
    stats = sparql_update(spark, path, "CLEAR NAMED")
    assert stats["deleted"] == 0 and spo(spark, path) == sorted(BASE)
    # a specific graph does not exist: error, suppressed by SILENT
    with pytest.raises(SyntaxError, match="no such graph"):
        parse_update("DROP GRAPH <http://example.org/g>")
    stats = sparql_update(spark, path, "DROP SILENT GRAPH <http://example.org/g>")
    assert stats["deleted"] == 0 and spo(spark, path) == sorted(BASE)
    # CREATE can never succeed on a single-graph store
    with pytest.raises(SyntaxError, match="CREATE GRAPH"):
        parse_update("CREATE GRAPH <http://example.org/g>")
    stats = sparql_update(spark, path, "CREATE SILENT GRAPH <http://example.org/g>")
    assert stats["deleted"] == 0 and stats["inserted"] == 0


def test_load_turtle_document(spark, tmp_path):
    path = build_store(spark, tmp_path)
    doc = tmp_path / "extra.ttl"
    doc.write_text(
        f"@prefix ex: <{EX}> .\n"
        'ex:z ex:role "observer" .\n'
        'ex:a ex:role "user" .\n'  # already present — set semantics, no dupe
        'ex:z ex:role "observer" .\n'  # repeated in the document — one triple
    )
    stats = sparql_update(spark, path, f"LOAD <file://{doc}>")
    assert stats["operations"] == 1
    assert stats["inserted"] == 1 and stats["deleted"] == 0
    assert stats["buckets_rewritten"] == []
    assert spo(spark, path) == sorted(BASE + [(EX + "z", EX + "role", "observer")])


def test_load_carries_literal_metadata(spark, tmp_path):
    # a typed store LOADing a typed document keeps the document's
    # obj_dtype/is_literal on fresh rows (unlike INSERT DATA's NULLs)
    rows = [(s, p, o, "xsd:string", True) for s, p, o in BASE]
    path = build_store(
        spark, tmp_path, rows=rows,
        schema="subj string, pred string, obj string, obj_dtype string, is_literal boolean",
    )
    doc = tmp_path / "typed.ttl"
    doc.write_text(f'@prefix ex: <{EX}> .\nex:z ex:age "41"^^<http://www.w3.org/2001/XMLSchema#integer> .\n')
    sparql_update(spark, path, f"LOAD <file://{doc}>")
    row = (
        read_triples(spark, path)
        .filter(F.col("subj") == EX + "z")
        .select("obj", "obj_dtype", "is_literal")
        .collect()
    )
    assert len(row) == 1
    assert row[0]["obj_dtype"] is not None and row[0]["is_literal"] is True


def test_load_silent_missing_document(spark, tmp_path):
    path = build_store(spark, tmp_path)
    with pytest.raises(Exception):
        sparql_update(spark, path, f"LOAD <file://{tmp_path}/absent.ttl>")
    stats = sparql_update(spark, path, f"LOAD SILENT <file://{tmp_path}/absent.ttl>")
    assert stats["inserted"] == 0 and spo(spark, path) == sorted(BASE)
    with pytest.raises(SyntaxError, match="INTO GRAPH"):
        parse_update("LOAD <file:///x.ttl> INTO GRAPH <http://example.org/g>")


def test_mgmt_in_migration_script(spark, tmp_path):
    # CLEAR then LOAD then INSERT DATA in one ;-separated request
    path = build_store(spark, tmp_path)
    doc = tmp_path / "seed.ttl"
    doc.write_text(f'@prefix ex: <{EX}> .\nex:n ex:role "seed" .\n')
    stats = sparql_update(
        spark,
        path,
        f'CLEAR ALL ;\nLOAD <file://{doc}> ;\n{PFX}INSERT DATA {{ ex:m ex:role "tail" . }}',
    )
    assert stats["operations"] == 3
    assert stats["deleted"] == len(BASE) and stats["inserted"] == 2
    assert spo(spark, path) == sorted(
        [(EX + "n", EX + "role", "seed"), (EX + "m", EX + "role", "tail")]
    )


# --------------------------------------------------------------------------
# store API behavior the update path relies on (operators/triples.py)
# --------------------------------------------------------------------------


def test_where_clause_prunes_to_the_subject_bucket(spark, tmp_path, monkeypatch):
    """A constant-subject WHERE reads one bucket: the solution frame's
    scan carries a subj_bucket PARTITION filter, as a query would."""
    from knowledgegraphs_spark.operators import sparql_update as su

    path = build_store(spark, tmp_path)
    solutions = []

    def capture(triples, group):
        sol = real(triples, group)
        solutions.append(sol)
        return sol

    real = su._eval_group
    monkeypatch.setattr(su, "_eval_group", capture)
    stats = sparql_update(spark, path, PFX + "DELETE WHERE { ex:a ?p ?o . }")
    assert stats["deleted"] == 2 and len(stats["buckets_rewritten"]) == 1
    (sol,) = solutions
    plan = sol._jdf.queryExecution().executedPlan().toString()
    assert "subj_bucket" in plan.split("PartitionFilters:")[1].split("]")[0], plan
    assert spo(spark, path) == sorted(t for t in BASE if t[0] != EX + "a")


def test_append_evaluates_a_lazy_input_once(spark, tmp_path):
    """A lazy input (an entailment closure, a LOAD dedup) is paid once:
    a UDF in it runs once per row, not once for the bucket list and
    again for the comparison."""
    from knowledgegraphs_spark.operators.triples import append_triples, open_store

    path = build_store(spark, tmp_path)
    calls = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def subj_of(i):
        calls.add(1)
        return f"{EX}n{i}"

    n = 50
    ins = spark.range(n).select(
        subj_of("id").alias("subj"), F.lit(EX + "p").alias("pred"), F.lit("v").alias("obj")
    )
    stats = append_triples(open_store(spark, path), path, ins)
    assert stats["inserted"] == n
    assert calls.value == n
    assert len(spo(spark, path)) == len(BASE) + n
