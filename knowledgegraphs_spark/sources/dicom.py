"""S10: DICOM scan — Part-10 parse → nested "dson" JSON → S9 tree triples.

The reference walks each DICOM dataset with dcm4che and rebuilds it as a
nested JSON object ("dson") whose keys are tag names, recording every tag
in a ``TagDictionary`` (``DICOM2SediJSON.java:86-210``,
``DICOMUtil.java``); the hierarchical JSON pipeline then takes over. This
module reproduces that flow with a **pure-stdlib Part-10 parser**
(``struct`` + byte offsets — the encodings are published in PS3.10/PS3.5):

* 128-byte preamble + ``DICM`` magic, File Meta group in Explicit VR LE,
  Transfer Syntax honored for the dataset (Explicit VR LE
  ``1.2.840.10008.1.2.1`` and Implicit VR LE ``1.2.840.10008.1.2``).
* SQ sequences recurse into lists of nested objects (defined and
  undefined lengths, item/sequence delimiters) — the dson tree shape.
* Pixel data (OB/OW, tag 7FE0,0010) is NOT stringified into the tree: it
  comes out as the opaque ``binary`` payload column, which is exactly the
  multimodal-column contract (``operators/multimodal.py``) — decode and
  feature-extraction stay in that module.
* Tag naming uses an embedded dictionary of common tags with the
  deterministic ``Tag_GGGGEEEE`` fallback (the reference resolves names
  via dcm4che's full ``ElementDictionary``; unknown tags degrade to the
  same code-derived naming either way). The per-run tag dictionary
  (tag → name, vr) is returned as a DataFrame like the reference's
  ``TagDictionary``.

Spark shape: ``spark.read.format("binaryFile")`` distributes the files;
parsing runs in ``mapInPandas`` (Arrow batches of whole files — DICOM
headers are small; pixel payloads travel as binary, never through
Python string handling).
"""

from __future__ import annotations

import json
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EXPLICIT_VR_LE = "1.2.840.10008.1.2.1"
IMPLICIT_VR_LE = "1.2.840.10008.1.2"

# VRs with the 2-byte-reserved + 4-byte-length layout (PS3.5 §7.1.2)
_LONG_VRS = {"OB", "OW", "OF", "OD", "OL", "SQ", "UC", "UR", "UT", "UN"}
_BINARY_NUM = {"US": ("<H", 2), "SS": ("<h", 2), "UL": ("<I", 4), "SL": ("<i", 4),
               "FL": ("<f", 4), "FD": ("<d", 8), "AT": ("<I", 4)}

PIXEL_DATA = (0x7FE0, 0x0010)

# common-tag dictionary (public DICOM data dictionary, PS3.6) — the
# fallback Tag_GGGGEEEE covers everything else deterministically
_TAG_NAMES: dict[tuple[int, int], str] = {
    (0x0008, 0x0016): "SOPClassUID",
    (0x0008, 0x0018): "SOPInstanceUID",
    (0x0008, 0x0020): "StudyDate",
    (0x0008, 0x0030): "StudyTime",
    (0x0008, 0x0060): "Modality",
    (0x0008, 0x103E): "SeriesDescription",
    (0x0008, 0x1140): "ReferencedImageSequence",
    (0x0010, 0x0010): "PatientName",
    (0x0010, 0x0020): "PatientID",
    (0x0010, 0x0030): "PatientBirthDate",
    (0x0010, 0x0040): "PatientSex",
    (0x0018, 0x0050): "SliceThickness",
    (0x0020, 0x000D): "StudyInstanceUID",
    (0x0020, 0x000E): "SeriesInstanceUID",
    (0x0020, 0x0013): "InstanceNumber",
    (0x0028, 0x0010): "Rows",
    (0x0028, 0x0011): "Columns",
    (0x0028, 0x0100): "BitsAllocated",
    (0x7FE0, 0x0010): "PixelData",
}

# implicit-VR fallback types for the embedded dictionary (PS3.6 VR column)
_TAG_VRS: dict[tuple[int, int], str] = {
    (0x0008, 0x0016): "UI", (0x0008, 0x0018): "UI", (0x0008, 0x0020): "DA",
    (0x0008, 0x0030): "TM", (0x0008, 0x0060): "CS", (0x0008, 0x103E): "LO",
    (0x0008, 0x1140): "SQ", (0x0010, 0x0010): "PN", (0x0010, 0x0020): "LO",
    (0x0010, 0x0030): "DA", (0x0010, 0x0040): "CS", (0x0018, 0x0050): "DS",
    (0x0020, 0x000D): "UI", (0x0020, 0x000E): "UI", (0x0020, 0x0013): "IS",
    (0x0028, 0x0010): "US", (0x0028, 0x0011): "US", (0x0028, 0x0100): "US",
    (0x7FE0, 0x0010): "OW",
}


def tag_name(group: int, elem: int) -> str:
    return _TAG_NAMES.get((group, elem), f"Tag_{group:04X}{elem:04X}")


def _decode_value(vr: str, raw: bytes):
    if vr in _BINARY_NUM:
        fmt, width = _BINARY_NUM[vr]
        vals = [struct.unpack_from(fmt, raw, i)[0] for i in range(0, len(raw) - width + 1, width)]
        return vals[0] if len(vals) == 1 else vals
    text = raw.decode("ascii", errors="replace").rstrip("\x00 ").strip()
    if vr in ("DS", "IS"):
        parts = [p.strip() for p in text.split("\\") if p.strip() != ""]

        def num(p):
            try:
                return int(p) if vr == "IS" else float(p)
            except ValueError:
                return p

        vals = [num(p) for p in parts]
        return vals[0] if len(vals) == 1 else (vals or None)
    if "\\" in text:
        return text.split("\\")
    return text or None


class _Reader:
    def __init__(self, buf: bytes, pos: int, explicit: bool):
        self.buf, self.pos, self.explicit = buf, pos, explicit

    def u16(self) -> int:
        v = struct.unpack_from("<H", self.buf, self.pos)[0]
        self.pos += 2
        return v

    def u32(self) -> int:
        v = struct.unpack_from("<I", self.buf, self.pos)[0]
        self.pos += 4
        return v

    def read_element_header(self) -> tuple[int, int, str, int]:
        group, elem = self.u16(), self.u16()
        if group == 0xFFFE:  # item/delimiter tags carry no VR in any syntax
            return group, elem, "", self.u32()
        if self.explicit:
            vr = self.buf[self.pos : self.pos + 2].decode("ascii")
            self.pos += 2
            if vr in _LONG_VRS:
                self.pos += 2  # reserved
                length = self.u32()
            else:
                length = self.u16()
        else:
            vr = _TAG_VRS.get((group, elem), "UN")
            length = self.u32()
        return group, elem, vr, length


def _parse_dataset(r: _Reader, end: int, tag_rows: list, depth: int = 0):
    """(dson dict, pixel bytes or None) until ``end`` or a delimiter."""
    out: dict = {}
    pixel: bytes | None = None
    while r.pos < end:
        group, elem, vr, length = r.read_element_header()
        if group == 0xFFFE and elem in (0xE00D, 0xE0DD):  # item/seq delimiter
            return out, pixel, True
        name = tag_name(group, elem)
        if (group, elem) != PIXEL_DATA and group != 0xFFFE:
            tag_rows.append((f"({group:04X},{elem:04X})", name, vr or "UN"))
        if vr == "SQ":
            items = []
            seq_end = end if length == 0xFFFFFFFF else r.pos + length
            while r.pos < seq_end:
                ig, ie, _ivr, ilen = r.read_element_header()
                if ig == 0xFFFE and ie == 0xE0DD:
                    break
                if ig == 0xFFFE and ie == 0xE000:
                    item_end = seq_end if ilen == 0xFFFFFFFF else r.pos + ilen
                    item, ipix, _delim = _parse_dataset(r, item_end, tag_rows, depth + 1)
                    pixel = pixel or ipix
                    items.append(item)
            out[name] = items
            continue
        raw = r.buf[r.pos : r.pos + length]
        r.pos += length
        if (group, elem) == PIXEL_DATA:
            pixel = raw
            continue
        out[name] = _decode_value(vr, raw) if vr not in ("OB", "OW", "UN") else None
    return out, pixel, False


def parse_dicom_bytes(data: bytes) -> tuple[dict, bytes | None, list[tuple[str, str, str]]]:
    """One Part-10 file → (dson tree, pixel payload, tag-dictionary rows)."""
    if len(data) < 132 or data[128:132] != b"DICM":
        raise ValueError("not a DICOM Part-10 file (missing DICM magic)")
    tag_rows: list[tuple[str, str, str]] = []
    meta = _Reader(data, 132, explicit=True)
    transfer_syntax = EXPLICIT_VR_LE
    # file meta group: group 0002 only, always Explicit VR LE
    while meta.pos < len(data):
        peek_group = struct.unpack_from("<H", data, meta.pos)[0]
        if peek_group != 0x0002:
            break
        group, elem, vr, length = meta.read_element_header()
        raw = data[meta.pos : meta.pos + length]
        meta.pos += length
        if (group, elem) == (0x0002, 0x0010):
            transfer_syntax = raw.decode("ascii").rstrip("\x00 ").strip()
    if transfer_syntax not in (EXPLICIT_VR_LE, IMPLICIT_VR_LE):
        raise ValueError(f"unsupported transfer syntax {transfer_syntax!r} "
                         "(Explicit/Implicit VR Little Endian supported)")
    r = _Reader(data, meta.pos, explicit=transfer_syntax == EXPLICIT_VR_LE)
    dson, pixel, _ = _parse_dataset(r, len(data), tag_rows)
    return dson, pixel, tag_rows


def read_dicom(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """S10 scan: binaryFile source → mapInPandas parse →
    (records(path, dson json, payload, rows, columns, modality),
    tag_dictionary(tag, name, vr) distinct)."""
    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for p, content in zip(pdf["path"], pdf["content"]):
                dson, pixel, tag_rows = parse_dicom_bytes(bytes(content))
                recs.append(
                    {
                        "path": p,
                        "dson": json.dumps(dson, separators=(",", ":")),
                        "payload": pixel,
                        "tag_dict": json.dumps(tag_rows, separators=(",", ":")),
                    }
                )
            yield pd.DataFrame(recs, columns=["path", "dson", "payload", "tag_dict"])

    parsed = files.mapInPandas(
        parse, "path string, dson string, payload binary, tag_dict string"
    )
    parsed = parsed.localCheckpoint(eager=False)
    tags = (
        parsed.select(F.explode(F.from_json("tag_dict", "array<array<string>>")).alias("t"))
        .select(
            F.col("t")[0].alias("tag"), F.col("t")[1].alias("name"), F.col("t")[2].alias("vr")
        )
        .dropDuplicates()
    )
    return parsed.drop("tag_dict"), tags


def dicom_triples(spark: SparkSession, path: str, root: str = "DICOMObject") -> DataFrame:
    """End-to-end S10: parse → schema-inferred dson tree → the SAME
    hierarchical triple emission as S9 (``sources/json_source.py``)."""
    from .json_source import emit_json_triples

    records, _tags = read_dicom(spark, path)
    with_id = records.select(
        F.regexp_extract("path", r"([^/]+)$", 1).alias("rec_id"), F.col("dson")
    )
    schema = spark.read.json(
        with_id.select("dson").rdd.map(lambda r: r["dson"])
    ).schema
    return emit_json_triples(with_id, "rec_id", "dson", schema, root=root)
