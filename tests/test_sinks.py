"""S12/S13 Turtle sink + S16 mappings-file IR."""

import json
import os

import pytest

from knowledgegraphs_spark.sinks.mappings_file import (
    ColumnMappings,
    ElementMapping,
    MappingsFile,
    TableMappings,
)
from knowledgegraphs_spark.sinks.turtle import turtle_string, ttl_lines, write_turtle


@pytest.fixture(scope="module")
def triples(spark):
    return spark.createDataFrame(
        [
            ("kg:Turn_2_c1_0", "rdf:type", "kg:Turn", None, False),
            ("kg:Turn_2_c1_0", "has_text_VALUE", 'he said "hi"\nthen left', "xsd:string", True),
            ("kg:Turn_2_c1_0", "has_n_VALUE", "42", "xsd:integer", True),
        ],
        "subj: string, pred: string, obj: string, obj_dtype: string, is_literal: boolean",
    )


def test_ttl_lines(spark, triples):
    lines = {r.value for r in ttl_lines(triples).collect()}
    assert "kg:Turn_2_c1_0 rdf:type kg:Turn ." in lines
    # escaped quote + newline, typed literal
    assert 'kg:Turn_2_c1_0 has_text_VALUE "he said \\"hi\\"\\nthen left" .' in lines
    assert 'kg:Turn_2_c1_0 has_n_VALUE "42"^^xsd:integer .' in lines


def test_turtle_string_deterministic(spark, triples):
    s1 = turtle_string(triples)
    s2 = turtle_string(triples.repartition(3))
    assert s1 == s2
    assert s1.startswith("@prefix kg:")


def test_write_turtle(spark, triples, tmp_path):
    out = str(tmp_path / "g.ttl")
    write_turtle(triples, out)
    assert os.path.exists(os.path.join(out, "_prefixes.ttl"))
    assert os.path.exists(os.path.join(out, "_SUCCESS"))


def test_write_turtle_sidecar_through_hadoop_fs_scheme(spark, triples, tmp_path):
    """The sidecar write must go through the Hadoop FileSystem resolved
    from the destination (the reader already does): an explicit
    ``file:`` scheme URI — which a local ``open()`` would treat as a
    literal filename and fail on — must round-trip sink -> source,
    prefixes intact."""
    from knowledgegraphs_spark.sources.turtle_source import read_turtle

    valid = spark.createDataFrame(
        [
            ("kg:Turn_1", "rdf:type", "kg:Turn", None, False),
            ("kg:Turn_1", "kg:has_text", 'say "hi"', "xsd:string", True),
            ("kg:Turn_2", "kg:has_n", "42", "xsd:integer", True),
        ],
        "subj string, pred string, obj string, obj_dtype string, is_literal boolean",
    )
    out = "file:" + str(tmp_path / "scheme.ttl")
    write_turtle(valid, out)
    local = tmp_path / "scheme.ttl" / "_prefixes.ttl"
    assert local.exists() and local.read_text().startswith("@prefix kg:")
    back = read_turtle(spark, out)
    assert back.count() == 3
    # prefix expansion proves the sidecar was found via the same FS handle
    assert back.filter(
        back.subj.startswith("http://example.org/kg/")
    ).count() == 3


def _mappings() -> MappingsFile:
    return MappingsFile(
        tables=[
            TableMappings(
                table="turns",
                mapping=ElementMapping(type="Class", ontoEl="kg:Turn"),
                columns=[
                    ColumnMappings(
                        column="role",
                        mappings=[
                            ElementMapping(type="Class", ontoEl="kg:role_ATTR"),
                            ElementMapping(type="ObjectProperty", ontoEl="kg:has_role"),
                            ElementMapping(
                                type="DataProperty",
                                ontoEl="kg:has_role_VALUE",
                                match=["do:Role"],
                            ),
                        ],
                    ),
                    ColumnMappings(column="text"),
                ],
            )
        ]
    )


def test_mappings_file_roundtrip():
    mf = _mappings()
    _check_roundtrip(mf, MappingsFile.from_dict(json.loads(mf.to_json())))


def test_mappings_file_save_load(spark, tmp_path):
    """save/load go through storage: a plain path and a file: URI (into a
    directory that does not exist yet) both round-trip, and a second save
    replaces the first without leaving its .tmp behind."""
    mf = _mappings()
    for path in (str(tmp_path / "mappings.json"), f"file:{tmp_path}/ir/mappings.json"):
        mf.save(spark, path)
        mf.save(spark, path)
        _check_roundtrip(mf, MappingsFile.load(spark, path))
    assert not list(tmp_path.rglob("*.tmp"))
    with pytest.raises(FileNotFoundError):
        MappingsFile.load(spark, str(tmp_path / "missing.json"))


def _check_roundtrip(mf, back):
    t = back.table("turns")
    assert t is not None and t.mapping.ontoEl == "kg:Turn"
    # fixed 3-slot order per column: classMap, objMap, dataMap
    role = t.columns[0]
    assert role.class_map.ontoEl == "kg:role_ATTR"
    assert role.obj_map.ontoEl == "kg:has_role"
    assert role.data_map.match == ["do:Role"]
    # auto-padded empty slots
    assert len(t.columns[1].mappings) == 3
    # deterministic bytes
    assert mf.to_json() == back.to_json()


def test_set_as_initial_match():
    m = ElementMapping(type="ObjectProperty", ontoEl="kg:p", match=["do:x"])
    m.set_as_initial_match()
    assert m.match == [] and m.initialMatch == ["do:x"]


# --- S14: GraphDB (RDF4J-protocol) sink vs a local stdlib HTTP server -------


def test_graphdb_sink_protocol_and_parallel_upload(spark, triples):
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from knowledgegraphs_spark.sinks.graphdb import create_repository, upload_triples

    received = {"puts": [], "posts": [], "deletes": 0}
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def _body(self):
            n = int(self.headers.get("Content-Length", 0))
            return self.rfile.read(n).decode("utf-8")

        def do_PUT(self):
            with lock:
                received["puts"].append((self.path, self._body()))
            self.send_response(204)
            self.end_headers()

        def do_POST(self):
            with lock:
                received["posts"].append((self.path, self._body()))
            self.send_response(204)
            self.end_headers()

        def do_DELETE(self):
            with lock:
                received["deletes"] += 1
            self.send_response(204)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    endpoint = f"http://127.0.0.1:{srv.server_port}"
    try:
        create_repository(endpoint, "kgtest", rewrite=True)
        upload_triples(triples.repartition(3), endpoint, "kgtest")
    finally:
        srv.shutdown()

    assert received["deletes"] == 1                       # rewrite clears first
    assert received["puts"] and 'repositoryID "kgtest"' in received["puts"][0][1]
    stmt_posts = [b for p, b in received["posts"] if p.endswith("/repositories/kgtest/statements")]
    assert 1 <= len(stmt_posts) <= 3                      # one append per non-empty partition
    all_ttl = "\n".join(stmt_posts)
    assert "@prefix kg:" in all_ttl
    n_lines = sum(
        1 for body in stmt_posts for line in body.splitlines()
        if line.endswith(" .") and not line.startswith("@prefix")
    )
    assert n_lines == triples.count()


def _txn_server():
    """Stub RDF4J server with REAL transaction semantics: ADDs stage into
    a per-transaction buffer, COMMIT publishes to `committed`, DELETE (or
    never committing) discards. `fail_adds_after` injects a 500 on every
    ADD past the Nth — the mid-upload-failure probe."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    state = {
        "committed": [], "staged": {}, "next_txn": 0,
        "fail_adds_after": None, "adds_seen": 0, "rolled_back": 0,
    }
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def _body(self):
            n = int(self.headers.get("Content-Length", 0))
            return self.rfile.read(n).decode("utf-8")

        def do_POST(self):
            body = self._body()
            with lock:
                if self.path.endswith("/transactions"):
                    tid = state["next_txn"]
                    state["next_txn"] += 1
                    state["staged"][tid] = []
                    self.send_response(201)
                    host = f"http://127.0.0.1:{self.server.server_port}"
                    self.send_header("Location", f"{host}{self.path}/{tid}")
                    self.end_headers()
                    return
                state["committed"].append(body)
            self.send_response(204)
            self.end_headers()

        def do_PUT(self):
            body = self._body()
            with lock:
                if "/transactions/" in self.path:
                    tid = int(self.path.split("/transactions/")[1].split("?")[0])
                    if "action=ADD" in self.path:
                        state["adds_seen"] += 1
                        limit = state["fail_adds_after"]
                        if limit is not None and state["adds_seen"] > limit:
                            self.send_response(500)
                            self.end_headers()
                            return
                        state["staged"][tid].append(body)
                    elif "action=COMMIT" in self.path:
                        state["committed"].extend(state["staged"].pop(tid))
            self.send_response(204)
            self.end_headers()

        def do_DELETE(self):
            with lock:
                if "/transactions/" in self.path:
                    tid = int(self.path.split("/transactions/")[1].split("?")[0])
                    state["staged"].pop(tid, None)
                    state["rolled_back"] += 1
            self.send_response(204)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, state


def _committed_triple_lines(state):
    return [
        line
        for body in state["committed"]
        for line in body.splitlines()
        if line.endswith(" .") and not line.startswith("@prefix")
    ]


def test_graphdb_atomic_upload_commits_all_or_nothing(spark, triples):
    """atomic=True (reference parity, GraphDB.java:150-163): a clean run
    publishes everything in ONE commit; a mid-upload ADD failure rolls the
    transaction back and the repo shows NOTHING — never a partial graph."""
    from knowledgegraphs_spark.sinks.graphdb import upload_triples

    n = triples.count()

    # clean run → complete
    srv, state = _txn_server()
    endpoint = f"http://127.0.0.1:{srv.server_port}"
    try:
        upload_triples(triples.repartition(3), endpoint, "kgtest",
                       atomic=True, batch_rows=5)
    finally:
        srv.shutdown()
    assert len(_committed_triple_lines(state)) == n
    assert not state["staged"]                       # nothing left open

    # failure mid-stream → empty, rolled back, error surfaced
    srv, state = _txn_server()
    state["fail_adds_after"] = 1                      # first ADD ok, rest 500
    endpoint = f"http://127.0.0.1:{srv.server_port}"
    try:
        with pytest.raises(RuntimeError):
            upload_triples(triples.repartition(3), endpoint, "kgtest",
                           atomic=True, batch_rows=1, retries=1)
    finally:
        srv.shutdown()
    assert _committed_triple_lines(state) == []       # all-or-nothing held
    assert state["rolled_back"] == 1


# --- S15: Kafka sink vs a local stdlib TCP stub broker (Produce v0) ----------


class _StubKafkaBroker:
    """Minimal broker: accepts connections, parses length-prefixed Produce
    v0 requests (topic, partition, CRC-checked MessageSet), records every
    (key, value), replies with a Produce v0 response. ``fail_first`` makes
    it answer error_code=5 (LeaderNotAvailable) that many times — the
    retry-loop probe."""

    def __init__(self, fail_first: int = 0):
        import socket
        import threading

        self.fail_first = fail_first
        self.requests = []   # (correlation_id, topic, [(key, value)])
        self.lock = threading.Lock()
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(16)
        self.port = self.sock.getsockname()[1]
        self._stop = False
        self.thread = threading.Thread(target=self._serve, daemon=True)
        self.thread.start()

    def _serve(self):
        import struct
        import zlib

        while not self._stop:
            try:
                conn, _ = self.sock.accept()
            except OSError:
                return
            with conn:
                try:
                    (size,) = struct.unpack(">i", self._recv(conn, 4))
                    data = self._recv(conn, size)
                except (ConnectionError, struct.error):
                    continue
                # header: api_key, api_version, correlation_id, client_id
                api_key, api_version, corr, cid_len = struct.unpack(">hhih", data[:10])
                assert api_key == 0 and api_version == 0
                off = 10 + cid_len
                _acks, _timeout, n_topics = struct.unpack(">hii", data[off:off + 10])
                assert n_topics == 1
                off += 10
                (tlen,) = struct.unpack(">h", data[off:off + 2])
                topic = data[off + 2:off + 2 + tlen].decode()
                off += 2 + tlen
                n_parts, _partition, ms_size = struct.unpack(">iii", data[off:off + 12])
                assert n_parts == 1
                off += 12
                end = off + ms_size
                msgs = []
                while off < end:
                    _o, msize = struct.unpack(">qi", data[off:off + 12])
                    off += 12
                    m = data[off:off + msize]
                    off += msize
                    (crc,) = struct.unpack(">I", m[:4])
                    assert crc == (zlib.crc32(m[4:]) & 0xFFFFFFFF), "CRC mismatch"
                    magic, attrs = struct.unpack(">bb", m[4:6])
                    assert magic == 0 and attrs == 0
                    (klen,) = struct.unpack(">i", m[6:10])
                    p = 10
                    key = None if klen == -1 else m[p:p + klen]
                    p += max(klen, 0)
                    (vlen,) = struct.unpack(">i", m[p:p + 4])
                    value = m[p + 4:p + 4 + vlen]
                    msgs.append((key, value))
                with self.lock:
                    fail = self.fail_first > 0
                    if fail:
                        self.fail_first -= 1
                    else:
                        self.requests.append((corr, topic, msgs))
                err = 5 if fail else 0
                tp = topic.encode()
                resp = (
                    struct.pack(">ii", corr, 1)
                    + struct.pack(">h", len(tp)) + tp
                    + struct.pack(">iihq", 1, 0, err, 0)
                )
                conn.sendall(struct.pack(">i", len(resp)) + resp)

    @staticmethod
    def _recv(conn, n):
        chunks = []
        while n > 0:
            c = conn.recv(n)
            if not c:
                raise ConnectionError("eof")
            chunks.append(c)
            n -= len(c)
        return b"".join(chunks)

    def close(self):
        self._stop = True
        self.sock.close()


def test_kafka_socket_sink_end_to_end(spark):
    """write_kafka(transport='socket') against the stub broker: every row
    arrives exactly once as CRC-valid (key, JSON value) messages, one
    produce request per non-empty partition."""
    import json

    from knowledgegraphs_spark.sinks.kafka import write_kafka

    df = spark.createDataFrame(
        [(i, f"name {i}") for i in range(20)], "id int, name string"
    ).repartition(4)
    broker = _StubKafkaBroker()
    try:
        write_kafka(df, f"127.0.0.1:{broker.port}", "pii-results", key_col="id",
                    transport="socket", retry_wait_s=0.05)
    finally:
        broker.close()
    got = {
        (k.decode(), json.loads(v.decode())["name"])
        for _, topic, msgs in broker.requests
        for (k, v) in msgs
    }
    assert {t for _, t, _ in broker.requests} == {"pii-results"}
    assert got == {(str(i), f"name {i}") for i in range(20)}
    assert 1 <= len(broker.requests) <= 4


def test_kafka_socket_retry_then_success(spark):
    """The reference's ≤3-retry loop over a real socket: first broker
    answer is error_code=5, the retry lands, nothing is duplicated."""
    import json

    from knowledgegraphs_spark.sinks.kafka import write_kafka

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string").coalesce(1)
    broker = _StubKafkaBroker(fail_first=1)
    try:
        write_kafka(df, f"127.0.0.1:{broker.port}", "t", transport="socket",
                    retry_wait_s=0.05)
    finally:
        broker.close()
    assert len(broker.requests) == 1           # exactly one successful produce
    corr, _, msgs = broker.requests[0]
    assert corr == 2                           # second attempt succeeded
    assert [json.loads(v.decode())["v"] for _, v in msgs] == ["a", "b"]


def test_kafka_socket_gives_up_after_retries():
    """After ``retries`` failed attempts the producer raises — the
    reference's bounded-retry contract (KafkaProducerService.java:28-55)."""
    import pytest as _pytest

    from knowledgegraphs_spark.sinks.kafka import produce_via_socket

    broker = _StubKafkaBroker(fail_first=99)
    try:
        with _pytest.raises(RuntimeError, match="after 3 attempts"):
            produce_via_socket(
                f"127.0.0.1:{broker.port}", "t", [(None, b"x")],
                retries=3, retry_wait_s=0.01,
            )
    finally:
        broker.close()
