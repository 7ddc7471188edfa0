"""Turtle source: parse RDF Turtle documents into the triple-table schema.

The reference ingests ontology FILES and hands them to an RDF library —
``extractBertMapMappings.py:54-56`` (``g.parse(source=ontoPath,
format="turtle")`` / rdf+xml), ``util/Ontology.java`` (Jena model read) —
then queries the in-memory graph. The Spark-first equivalent parses the
same documents into ``(subj, pred, obj, obj_dtype, is_literal)`` rows, so
the file goes straight to the triple table and ``operators/sparql.py``
replaces ``onto.query(...)`` with no RDF library and no driver-resident
graph. ``sinks/turtle.py`` output round-trips (see tests).

Scale shape: a Turtle document is not line-splittable (statements span
lines, blank-node scopes nest), so the unit of parallelism is the FILE —
``read_turtle`` reads each file whole (``spark.read.text(wholetext)``)
and parses per-file inside ``mapInPandas`` (Arrow-batched; a corpus of
ontologies parses across the cluster, one task per file). Blank nodes
are document-scoped in RDF, so skolemized labels carry a per-document
content-hash disambiguator — unioning many files never collides them.

Supported Turtle subset (everything the reference's ontologies and our
own sink emit): ``@prefix``/``PREFIX`` directives, IRIs, prefixed names,
``a``, ``;``/``,`` predicate-object and object lists, anonymous blank
nodes ``[ ... ]``, labeled blanks ``_:x``, collections ``( ... )``
(expanded to rdf:first/rest/nil), short and long string literals with
escapes, ``^^`` datatypes, ``@lang`` tags, numeric and boolean literals,
comments, ``@base``/``BASE`` with RFC 3986 relative-IRI resolution.

Term representation follows the engine convention: ``expand_prefixes=
True`` (default) resolves prefixed names against the document's own
``@prefix`` map (W3C semantics — canonical full IRIs); ``False`` keeps
prefixed names verbatim, which is the compact form ``sinks/turtle.py``
writes and the rest of the engine stores. Datatypes in the XSD namespace
normalize to the engine's compact ``xsd:local`` form either way; plain
strings get ``xsd:string``; lang-tagged literals record ``@tag`` in
``obj_dtype`` (the sink cannot re-emit tags — documented asymmetry).
"""

from __future__ import annotations

import hashlib
import re
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .. import storage
from ..operators.triples import TRIPLE_SCHEMA

_XSD_NS = "http://www.w3.org/2001/XMLSchema#"
_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

_TOKEN_RE = re.compile(
    r"""
      (?P<WS>\s+|\#[^\n]*)
    | (?P<IRI><[^<>"{}|^`\\\s]*>)
    | (?P<LONGSTR>'''(?:[^'\\]|\\.|'(?!''))*'''|\"\"\"(?:[^"\\]|\\.|"(?!""))*\"\"\")
    | (?P<STRING>'(?:[^'\\\n]|\\.)*'|"(?:[^"\\\n]|\\.)*")
    | (?P<AT>@[A-Za-z][A-Za-z0-9\-]*)
    | (?P<NUMBER>[+-]?(?:\d+\.\d+[eE][+-]?\d+|\.\d+[eE][+-]?\d+|\d+[eE][+-]?\d+|\d+\.\d+|\.\d+|\d+))
    | (?P<BLANK>_:[A-Za-z0-9_.\-]+)
    | (?P<PNAME>[A-Za-z_][A-Za-z0-9_.\-]*:[A-Za-z0-9_.\-:%]*|:[A-Za-z0-9_.\-:%]*)
    | (?P<HATHAT>\^\^)
    | (?P<WORD>[A-Za-z][A-Za-z0-9_]*)
    | (?P<OP>[.;,\[\]()])
    """,
    re.VERBOSE,
)

_ESCAPES = {"t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f", '"': '"', "'": "'", "\\": "\\"}


def _unescape(s: str) -> str:
    out, i = [], 0
    while i < len(s):
        c = s[i]
        if c != "\\":
            out.append(c)
            i += 1
            continue
        e = s[i + 1]
        if e in _ESCAPES:
            out.append(_ESCAPES[e])
            i += 2
        elif e == "u":
            out.append(chr(int(s[i + 2 : i + 6], 16)))
            i += 6
        elif e == "U":
            out.append(chr(int(s[i + 2 : i + 10], 16)))
            i += 10
        else:
            raise SyntaxError(f"Turtle: bad escape \\{e}")
    return "".join(out)


class _TurtleParser:
    def __init__(self, text: str, expand_prefixes: bool = True, doc_id: str | None = None):
        self.toks: list[tuple[str, str]] = []
        pos = 0
        while pos < len(text):
            m = _TOKEN_RE.match(text, pos)
            if m is None:
                raise SyntaxError(f"Turtle: cannot tokenize at ...{text[pos:pos + 30]!r}")
            pos = m.end()
            kind, val = m.lastgroup, m.group()
            if kind == "WS":
                continue
            if kind in ("PNAME", "BLANK") and val.endswith("."):
                # PN_LOCAL cannot end with '.' — it's the statement dot
                pos -= len(val) - len(val.rstrip("."))
                val = val.rstrip(".")
            self.toks.append((kind, val))
        self.toks.append(("EOF", ""))
        self.i = 0
        self.expand = expand_prefixes
        self.prefixes: dict[str, str] = {}
        self.base: str | None = None
        self.triples: list[tuple] = []
        self._blank_n = 0
        self._doc = doc_id or hashlib.md5(text.encode()).hexdigest()[:8]

    # -- token helpers ------------------------------------------------------
    def peek(self):
        return self.toks[self.i]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def eat(self, val):
        k, v = self.next()
        if v != val:
            raise SyntaxError(f"Turtle: expected {val!r}, got {v!r}")

    def _fresh_blank(self) -> str:
        self._blank_n += 1
        return f"_:b{self._doc}_{self._blank_n}"

    # -- term resolution ----------------------------------------------------
    def _iri(self, tok: str) -> str:
        """IRIREF token (brackets included) → IRI text, resolving relative
        references against ``@base`` per RFC 3986 (the reference's own
        mapping.ttl uses ``<#Name>`` forms)."""
        ref = tok[1:-1]
        if re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", ref):
            return ref
        if self.base is None:
            raise SyntaxError(f"Turtle: relative IRI {ref!r} without @base")
        from urllib.parse import urljoin

        return urljoin(self.base, ref)

    def _pname(self, tok: str) -> str:
        if not self.expand:
            return tok
        pfx, local = tok.split(":", 1)
        if pfx not in self.prefixes:
            raise SyntaxError(f"Turtle: undeclared prefix {pfx!r}:")
        return self.prefixes[pfx] + local

    def _dtype(self, tok_kind: str, tok: str) -> str:
        iri = tok[1:-1] if tok_kind == "IRI" else None
        if iri is not None:
            return "xsd:" + iri[len(_XSD_NS):] if iri.startswith(_XSD_NS) else iri
        if tok.startswith("xsd:"):
            return tok
        expanded = self._pname(tok) if self.expand else tok
        if expanded.startswith(_XSD_NS):
            return "xsd:" + expanded[len(_XSD_NS):]
        return expanded

    def _rdf(self, local: str) -> str:
        return (_RDF_NS + local) if self.expand else f"rdf:{local}"

    # -- grammar ------------------------------------------------------------
    def parse(self) -> list[tuple]:
        while self.peek()[0] != "EOF":
            k, v = self.peek()
            if k == "AT" and v.lower() in ("@prefix", "@base"):
                self.next()
                if v.lower() == "@base":
                    self._base_decl(sparql_style=False)
                else:
                    self._prefix_decl(sparql_style=False)
            elif k == "WORD" and v.upper() in ("PREFIX", "BASE"):
                self.next()
                if v.upper() == "BASE":
                    self._base_decl(sparql_style=True)
                else:
                    self._prefix_decl(sparql_style=True)
            else:
                subj = self._subject()
                self._predicate_object_list(subj)
                self.eat(".")
        return self.triples

    def _prefix_decl(self, sparql_style: bool) -> None:
        k, v = self.next()
        if k != "PNAME" or not v.endswith(":"):
            raise SyntaxError(f"Turtle: bad prefix name {v!r}")
        pfx = v[:-1]
        k2, iri = self.next()
        if k2 != "IRI":
            raise SyntaxError(f"Turtle: bad prefix IRI {iri!r}")
        self.prefixes[pfx] = iri[1:-1]
        if not sparql_style:
            self.eat(".")

    def _base_decl(self, sparql_style: bool) -> None:
        k, iri = self.next()
        if k != "IRI":
            raise SyntaxError(f"Turtle: bad @base IRI {iri!r}")
        self.base = iri[1:-1]
        if not sparql_style:
            self.eat(".")

    def _subject(self) -> str:
        k, v = self.peek()
        if v == "[":
            return self._bnode_property_list()
        if v == "(":
            return self._collection()
        self.next()
        if k == "IRI":
            return self._iri(v)
        if k == "PNAME":
            return self._pname(v)
        if k == "BLANK":
            return f"_:{self._doc}_{v[2:]}"
        if k == "WORD" and not self.expand:
            return v  # engine-native bare terms (sinks/turtle.py qnames)
        raise SyntaxError(f"Turtle: bad subject {v!r}")

    def _verb(self) -> str:
        k, v = self.next()
        if k == "WORD" and v == "a":
            return self._rdf("type")
        if k == "IRI":
            return self._iri(v)
        if k == "PNAME":
            return self._pname(v)
        if k == "WORD" and not self.expand:
            return v  # engine-native bare predicates (has_role, p_Turn_...)
        raise SyntaxError(f"Turtle: bad predicate {v!r}")

    def _predicate_object_list(self, subj: str) -> None:
        while True:
            pred = self._verb()
            while True:
                self._object(subj, pred)
                if self.peek()[1] == ",":
                    self.next()
                    continue
                break
            if self.peek()[1] == ";":
                self.next()
                while self.peek()[1] == ";":
                    self.next()
                if self.peek()[1] in (".", "]"):
                    return
                continue
            return

    def _object(self, subj: str, pred: str) -> None:
        k, v = self.peek()
        if v == "[":
            self.triples.append((subj, pred, self._bnode_property_list(), None, False))
            return
        if v == "(":
            self.triples.append((subj, pred, self._collection(), None, False))
            return
        self.next()
        if k == "IRI":
            self.triples.append((subj, pred, self._iri(v), None, False))
        elif k == "PNAME":
            self.triples.append((subj, pred, self._pname(v), None, False))
        elif k == "BLANK":
            self.triples.append((subj, pred, f"_:{self._doc}_{v[2:]}", None, False))
        elif k in ("STRING", "LONGSTR"):
            q = 3 if k == "LONGSTR" else 1
            text = _unescape(v[q:-q])
            dtype = "xsd:string"
            nk, nv = self.peek()
            if nk == "HATHAT":
                self.next()
                dk, dv = self.next()
                dtype = self._dtype(dk, dv)
            elif nk == "AT":
                self.next()
                dtype = nv  # lang tag, e.g. @en — recorded in obj_dtype
            self.triples.append((subj, pred, text, dtype, True))
        elif k == "NUMBER":
            if re.search(r"[eE]", v):
                dtype = "xsd:double"
            elif "." in v:
                dtype = "xsd:decimal"
            else:
                dtype = "xsd:integer"
            self.triples.append((subj, pred, v, dtype, True))
        elif k == "WORD" and v in ("true", "false"):
            self.triples.append((subj, pred, v, "xsd:boolean", True))
        elif k == "WORD" and not self.expand:
            self.triples.append((subj, pred, v, None, False))
        else:
            raise SyntaxError(f"Turtle: bad object {v!r}")

    def _bnode_property_list(self) -> str:
        self.eat("[")
        b = self._fresh_blank()
        if self.peek()[1] != "]":
            self._predicate_object_list(b)
        self.eat("]")
        return b

    def _collection(self) -> str:
        self.eat("(")
        items: list[str] = []
        while self.peek()[1] != ")":
            # collection members: reuse object parsing onto a scratch node,
            # then lift the parsed object back out
            scratch = self._fresh_blank()
            self._object(scratch, "__member")
            s, p, o, dt, lit = self.triples.pop()
            items.append((o, dt, lit))
        self.eat(")")
        if not items:
            return self._rdf("nil")
        head = self._fresh_blank()
        node = head
        for idx, (o, dt, lit) in enumerate(items):
            self.triples.append((node, self._rdf("first"), o, dt, lit))
            nxt = self._fresh_blank() if idx + 1 < len(items) else self._rdf("nil")
            self.triples.append((node, self._rdf("rest"), nxt, None, False))
            node = nxt
        return head


def parse_turtle(
    text: str, expand_prefixes: bool = True, doc_id: str | None = None
) -> list[tuple]:
    """Parse one Turtle document → list of (subj, pred, obj, obj_dtype,
    is_literal) tuples. Pure function (skolem labels derive from the
    document content hash unless ``doc_id`` pins them)."""
    return _TurtleParser(text, expand_prefixes, doc_id).parse()


def _read_sidecar_header(spark: SparkSession, path: str) -> str:
    """Contents of ``{path}/_prefixes.ttl`` through ``storage`` (any
    Hadoop FileSystem URI), or '' when absent — including when ``path`` is
    a single file. Driver-side, one small read."""
    return storage.read_text(spark, f"{path.rstrip('/')}/_prefixes.ttl") or ""


def read_turtle(
    spark: SparkSession,
    path: str,
    expand_prefixes: bool = True,
    extra_prefix_header: str | None = None,
) -> DataFrame:
    """Read Turtle file(s) into the triple-table schema, one parse task
    per file (documents are not line-splittable; a corpus of files is the
    parallel unit). ``extra_prefix_header`` prepends shared ``@prefix``
    declarations — ``sinks/turtle.py`` keeps them in ``_prefixes.ttl``,
    which the parquet-style file index hides from the data read."""
    header = extra_prefix_header or ""
    if not header:
        header = _read_sidecar_header(spark, path)
    return read_documents(spark, path, lambda txt: parse_turtle(header + txt, expand_prefixes))


def read_documents(
    spark: SparkSession, path: str, parse: Callable[[str], list[tuple]]
) -> DataFrame:
    """The whole-file reader behind ``read_turtle`` and ``read_rdfxml``:
    each file under ``path`` is read whole and handed to ``parse`` (one
    document's text → its triple tuples) inside ``mapInPandas``, so the
    parse runs on the executors, Arrow-batched."""
    import pandas as pd

    files = spark.read.text(path, wholetext=True)
    columns = TRIPLE_SCHEMA.names

    def gen(batches):
        for pdf in batches:
            rows = []
            for txt in pdf["value"]:
                rows.extend(parse(txt))
            yield pd.DataFrame(rows, columns=columns)

    return files.mapInPandas(gen, TRIPLE_SCHEMA)


def tbox_from_triples(triples: list[tuple] | DataFrame):
    """Build the broadcast-sized :class:`~..operators.ontology.TBox` from
    parsed ontology triples (rdfs:subClassOf / rdfs:domain / rdfs:range,
    compact or expanded forms) — the file → TBox path the reference walks
    through Jena/rdflib (``util/Ontology.java``)."""
    from ..operators.ontology import TBox

    if isinstance(triples, DataFrame):
        triples = [tuple(r) for r in triples.select("subj", "pred", "obj").collect()]
    else:
        triples = [t[:3] for t in triples]

    def local(term: str) -> str:
        return term.rsplit("#", 1)[-1].rsplit("/", 1)[-1]

    tb = TBox()
    for s, p, o in triples:
        pl = local(p)
        if pl == "subClassOf" and not str(o).startswith("_:"):
            tb.subclass_of.setdefault(s, set()).add(o)
        elif pl == "domain":
            tb.prop_domain[s] = o
        elif pl == "range":
            tb.prop_range[s] = o
    return tb
