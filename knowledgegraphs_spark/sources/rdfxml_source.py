"""RDF/XML source: parse ``.rdf`` / ``.owl`` documents into the triple table.

The reference's ontology loader treats these as the other half of its
input formats — ``extractBertMapMappings.py:54-56`` picks
``application/rdf+xml`` for ``.rdf``/``.owl`` paths (rdflib), and the Java
side reads OWL files through Jena/OWL-API. Same engine story as
``turtle_source.py``: the document becomes ``(subj, pred, obj, obj_dtype,
is_literal)`` rows and ``operators/sparql.py`` answers the queries — no
RDF library, no driver-resident graph. Parsing is stdlib
``xml.etree.ElementTree`` (the DICOM source set the precedent for
stdlib-parser scope).

Supported RDF/XML subset (what OWL ontology files actually use):

- node elements: ``rdf:Description`` or TYPED elements
  (``<owl:Class rdf:about=...>`` emits the rdf:type triple)
- ``rdf:about`` / ``rdf:ID`` (resolved against ``xml:base``) /
  ``rdf:nodeID`` / anonymous blank nodes
- property elements with ``rdf:resource``, literal text content
  (``rdf:datatype``, ``xml:lang``), ONE nested node element,
  ``rdf:parseType="Resource"`` (implicit blank), and
  ``rdf:parseType="Collection"`` (rdf:first/rest/nil chain — OWL's
  ``owl:unionOf``/``intersectionOf`` shape)
- property ATTRIBUTES on node elements (literal shorthand)

Relative IRIs without an ``xml:base`` are rejected, not mis-parsed.
Blank labels are document-scoped (content-hash disambiguator), exactly as
in the Turtle source, so multi-file unions never collide. Datatypes in
the XSD namespace normalize to the engine's compact ``xsd:local`` form;
lang tags record ``@tag`` in ``obj_dtype``.
"""

from __future__ import annotations

import hashlib
import re
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession

from .turtle_source import _XSD_NS, read_documents

_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_XML_NS = "http://www.w3.org/XML/1998/namespace"
_R = "{" + _RDF_NS + "}"
_ABSOLUTE_IRI = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")


def _expand(tag: str) -> str:
    # ElementTree gives '{namespace}local'
    return tag[1:].replace("}", "", 1) if tag.startswith("{") else tag


class _RdfXmlParser:
    def __init__(self, text: str, doc_id: str | None = None):
        self.triples: list[tuple] = []
        self._blank_n = 0
        self._doc = doc_id or hashlib.md5(text.encode()).hexdigest()[:8]
        self.root = ET.fromstring(text)

    def _fresh_blank(self) -> str:
        self._blank_n += 1
        return f"_:b{self._doc}_{self._blank_n}"

    def _dtype(self, iri: str) -> str:
        return "xsd:" + iri[len(_XSD_NS):] if iri.startswith(_XSD_NS) else iri

    def _resolve(self, ref: str, base: str | None, fragment: bool = False) -> str:
        from urllib.parse import urljoin

        if fragment:  # rdf:ID is always base-relative
            if base is None:
                raise SyntaxError("RDF/XML: rdf:ID needs an xml:base")
            return urljoin(base, f"#{ref}")
        if _ABSOLUTE_IRI.match(ref):
            return ref
        if base is None:
            raise SyntaxError(f"RDF/XML: relative IRI {ref!r} without xml:base")
        return urljoin(base, ref)  # RFC 3986 resolution

    def parse(self) -> list[tuple]:
        base = self.root.get(f"{{{_XML_NS}}}base")
        nodes = [self.root] if _expand(self.root.tag) != _RDF_NS + "RDF" else list(self.root)
        for el in nodes:
            self._node(el, base)
        return self.triples

    # -- node elements ------------------------------------------------------
    def _node(self, el: ET.Element, base: str | None) -> str:
        base = el.get(f"{{{_XML_NS}}}base", base)
        about = el.get(_R + "about")
        rid = el.get(_R + "ID")
        node_id = el.get(_R + "nodeID")
        if about is not None:
            subj = self._resolve(about, base)
        elif rid is not None:
            subj = self._resolve(rid, base, fragment=True)
        elif node_id is not None:
            subj = f"_:{self._doc}_{node_id}"
        else:
            subj = self._fresh_blank()
        tag = _expand(el.tag)
        if tag != _RDF_NS + "Description":
            self.triples.append((subj, _RDF_NS + "type", tag, None, False))
        for attr, val in el.attrib.items():
            name = _expand(attr)
            if name.startswith(_RDF_NS) or name.startswith(_XML_NS):
                continue
            # property attribute = literal shorthand
            self.triples.append((subj, name, val, "xsd:string", True))
        for child in el:
            self._property(subj, child, base)
        return subj

    # -- property elements ----------------------------------------------------
    def _property(self, subj: str, el: ET.Element, base: str | None) -> None:
        base = el.get(f"{{{_XML_NS}}}base", base)
        pred = _expand(el.tag)
        res = el.get(_R + "resource")
        parse_type = el.get(_R + "parseType")
        node_ref = el.get(_R + "nodeID")
        children = list(el)
        if res is not None:
            self.triples.append((subj, pred, self._resolve(res, base), None, False))
            return
        if node_ref is not None:
            self.triples.append((subj, pred, f"_:{self._doc}_{node_ref}", None, False))
            return
        if parse_type == "Collection":
            items = [self._node(c, base) for c in children]
            if not items:
                self.triples.append((subj, pred, _RDF_NS + "nil", None, False))
                return
            head = self._fresh_blank()
            node = head
            for i, item in enumerate(items):
                self.triples.append((node, _RDF_NS + "first", item, None, False))
                nxt = self._fresh_blank() if i + 1 < len(items) else _RDF_NS + "nil"
                self.triples.append((node, _RDF_NS + "rest", nxt, None, False))
                node = nxt
            self.triples.append((subj, pred, head, None, False))
            return
        if parse_type == "Resource":
            b = self._fresh_blank()
            self.triples.append((subj, pred, b, None, False))
            for c in children:
                self._property(b, c, base)
            return
        if parse_type is not None:
            raise SyntaxError(f"RDF/XML: parseType {parse_type!r} unsupported")
        if children:
            if len(children) != 1:
                raise SyntaxError(f"RDF/XML: property {pred!r} has multiple node children")
            obj = self._node(children[0], base)
            self.triples.append((subj, pred, obj, None, False))
            return
        # literal
        text = el.text or ""
        dt = el.get(_R + "datatype")
        lang = el.get(f"{{{_XML_NS}}}lang")
        if dt is not None:
            dtype = self._dtype(dt)
        elif lang is not None:
            dtype = f"@{lang}"
        else:
            dtype = "xsd:string"
        self.triples.append((subj, pred, text, dtype, True))


def parse_rdfxml(text: str, doc_id: str | None = None) -> list[tuple]:
    """Parse one RDF/XML document → list of (subj, pred, obj, obj_dtype,
    is_literal) tuples, full-IRI terms (RDF/XML has no compact form)."""
    return _RdfXmlParser(text, doc_id).parse()


def read_rdfxml(spark: SparkSession, path: str) -> DataFrame:
    """Read RDF/XML file(s) into the triple-table schema, one parse task
    per file (same scale shape as ``read_turtle``: documents are the
    parallel unit, blanks are document-scoped)."""
    return read_documents(spark, path, parse_rdfxml)


def read_ontology(spark: SparkSession, path: str) -> DataFrame:
    """Format dispatch exactly as the reference does it
    (``extractBertMapMappings.py:54-56``): ``.rdf``/``.owl``/``.xml`` →
    RDF/XML, everything else → Turtle."""
    from .turtle_source import read_turtle

    if path.rstrip("/").lower().endswith((".rdf", ".owl", ".xml")):
        return read_rdfxml(spark, path)
    return read_turtle(spark, path)
