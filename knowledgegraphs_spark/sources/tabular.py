"""Tabular ingest: delimiter sniff, header repair, vote-based column type
inference, synthetic PK (operators S1, S3-S6 in SURVEY.md §2.1).

Reference semantics (re-expressed, not ported):

* S1 delimiter sniff — most frequent non-word character of the first line
  (``TabularFilesReader.java:156-172``). Driver-side on one line; the scan
  itself is a distributed ``spark.read.csv`` with the sniffed separator.
* S3 header repair — duplicate headers get ``_<i+1>`` (1-based position),
  empty/missing headers become ``Unknown_Header_<k>``; ragged rows are
  padded (``TabularFilesReader.java:175-206``). Driver-side on the header
  row only; padding falls out of passing an explicit schema to the reader.
* S4 drop all-null Unknown_Header columns (``:225-241``) — one aggregate
  pass, not a per-row loop.
* S5 column type inference — per column, over lowercased values, the
  reference votes every value into date/int/double buckets with five date
  shapes + calendar range checks, then decides
  bool → all-date → date-majority-varchar → double → int → varchar
  (``TabularFilesReader.java:246-390``). Here the whole vote for every
  column is ONE ``df.agg`` pass of conditional counters (JVM codegen, no
  Python, no per-column scans) — at 100 TB this is a single full-scan
  map-side aggregation producing one tiny row.
* S6 synthetic PK — row position as string, 1-based
  (``TabularFilesReader.java:394-401``). ``row_number`` over an explicit
  stable ordering; never ``monotonically_increasing_id`` (unstable across
  reruns/partitionings).
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions.nulls import is_nullish
from ..session import driver_frame

UNKNOWN_HEADER = "Unknown_Header_"
PK_COL = "PKCol"

# ---------------------------------------------------------------------------
# S1: delimiter sniff (driver-side, first line)
# ---------------------------------------------------------------------------


def sniff_delimiter(line: str) -> str | None:
    """Most frequent non-word symbol of the line; first seen wins ties
    (matches the reference's running-max scan)."""
    counts: Counter[str] = Counter()
    best, best_n = None, 0
    for ch in re.findall(r"[^_a-zA-Z0-9]", line):
        counts[ch] += 1
        if counts[ch] > best_n:
            best, best_n = ch, counts[ch]
    return best


# ---------------------------------------------------------------------------
# S3: header repair (driver-side, header row only)
# ---------------------------------------------------------------------------


def repair_headers(headers: list[str], max_cells: int | None = None) -> list[str]:
    """Dedupe (``name_<i+1>``), fill empties and ragged tails with
    ``Unknown_Header_<k>``."""
    out: list[str] = []
    seen: set[str] = set()
    n_unknown = 0
    for i, h in enumerate(headers):
        if h == "" or h is None:
            n_unknown += 1
            h = f"{UNKNOWN_HEADER}{n_unknown}"
        elif h in seen:
            h = f"{h}_{i + 1}"
        seen.add(h)
        out.append(h)
    for _ in range((max_cells or len(headers)) - len(headers)):
        n_unknown += 1
        out.append(f"{UNKNOWN_HEADER}{n_unknown}")
    return out


def read_csv(spark: SparkSession, path: str) -> DataFrame:
    """S1+S3: sniff the delimiter on the first line, read all columns as
    strings, repair headers. The sniff reads ONE line driver-side; the data
    scan is fully distributed and schema-pinned (every column string — type
    inference is a separate explicit pass, as in the reference)."""
    first = spark.read.text(path).limit(1).collect()
    sep = sniff_delimiter(first[0].value) if first else ","
    raw = (
        spark.read.option("sep", sep or ",")
        .option("header", True)
        .option("inferSchema", False)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    fixed = repair_headers(list(raw.columns))
    return raw.toDF(*fixed)


# ---------------------------------------------------------------------------
# S4: drop all-null Unknown_Header columns (one agg pass)
# ---------------------------------------------------------------------------


def drop_empty_unknown_columns(df: DataFrame) -> DataFrame:
    targets = [c for c in df.columns if c.startswith(UNKNOWN_HEADER)]
    if not targets:
        return df
    row = df.agg(
        *[
            F.max(
                F.when(~F.coalesce(F.col(c).cast("string"), F.lit("")).isin("", "-"), True).otherwise(False)
            ).alias(c)
            for c in targets
        ]
    ).collect()[0]
    empties = [c for c in targets if not row[c]]
    return df.drop(*empties) if empties else df


# ---------------------------------------------------------------------------
# S5: vote-based type inference — one agg pass for ALL columns
# ---------------------------------------------------------------------------

# date shapes with calendar-range checks (TabularFilesReader.java:277-334):
# P1 yyyy?MM   P2 MM?yyyy   P3 yyyy   P4 yyyy?a?b (a/b=月/日 either order)
# P5 a?b?yyyy. ? ∈ [./-]. Full-match, mutually exclusive.
_D = r"[./-]"
_INT_RX = r"^[+-]?[0-9]+$"
# java Double.parseDouble (lowercased input): sign, digits.digits, exponent,
# optional trailing f/d
_DBL_RX = r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)(e[+-]?[0-9]+)?[fd]?$"


def _date_norm(v: Column) -> Column:
    """Normalized ``yyyy-MM-dd`` if v full-matches one of the five reference
    date shapes (with calendar range checks), else NULL. Pure Catalyst
    expressions — whole-stage codegen, no Python."""

    def part(rx: str, idx: int) -> Column:
        return F.regexp_extract(v, rx, idx).try_cast("int")

    p4 = rf"^(\d{{4}}){_D}(\d{{1,2}}){_D}(\d{{1,2}})$"
    p5 = rf"^(\d{{1,2}}){_D}(\d{{1,2}}){_D}(\d{{4}})$"
    p1 = rf"^(\d{{4}}){_D}(\d{{1,2}})$"
    p2 = rf"^(\d{{1,2}}){_D}(\d{{4}})$"
    p3 = r"^(\d{4})$"

    def ymd(y: Column, m: Column, d: Column) -> Column:
        return F.format_string("%04d-%02d-%02d", y, m, d)

    y4, a4, b4 = part(p4, 1), part(p4, 2), part(p4, 3)
    a5, b5, y5 = part(p5, 1), part(p5, 2), part(p5, 3)
    y1, m1 = part(p1, 1), part(p1, 2)
    m2, y2 = part(p2, 1), part(p2, 2)
    y3 = part(p3, 1)

    return (
        F.when(
            v.rlike(p1) & y1.between(1900, 2200) & m1.between(1, 12), ymd(y1, m1, F.lit(1))
        )
        .when(v.rlike(p2) & y2.between(1900, 2200) & m2.between(1, 12), ymd(y2, m2, F.lit(1)))
        .when(v.rlike(p3) & y3.between(1900, 2500), ymd(y3, F.lit(1), F.lit(1)))
        .when(
            v.rlike(p4) & y4.between(1900, 2500),
            F.when(a4.between(1, 12) & b4.between(1, 31), ymd(y4, a4, b4)).when(
                b4.between(1, 12) & a4.between(1, 31), ymd(y4, b4, a4)
            ),
        )
        .when(
            v.rlike(p5) & y5.between(1900, 2500),
            F.when(a5.between(1, 12) & b5.between(1, 31), ymd(y5, a5, b5)).when(
                b5.between(1, 12) & a5.between(1, 31), ymd(y5, b5, a5)
            ),
        )
        .otherwise(F.lit(None))
    )


def _vote_exprs(c: str) -> list[Column]:
    """Conditional-counter aggregate expressions for one column."""
    v = F.lower(F.col(c).cast("string"))
    sent = is_nullish(F.col(c).cast("string"))
    fmt = F.when(~sent, _date_norm(v))
    is_int = v.rlike(_INT_RX) & F.coalesce(
        v.try_cast("bigint").between(-2147483648, 2147483647), F.lit(False)
    )
    is_dbl = F.replace(v, F.lit(","), F.lit(".")).rlike(_DBL_RX)
    cnt = lambda cond, name: F.count(F.when(cond, 1)).alias(f"{name}__{c}")  # noqa: E731
    return [
        F.count(F.lit(1)).alias(f"n__{c}"),
        cnt(sent, "n_sent"),
        cnt(fmt.isNotNull(), "n_fmt"),
        cnt(~sent & fmt.isNull() & is_int, "n_int"),
        cnt(~sent & fmt.isNull() & ~is_int & is_dbl, "n_dbl"),
        cnt(~sent & ~is_int, "n_bad_int"),
        cnt(~sent & ~is_int & ~is_dbl, "n_bad_dbl"),
        cnt(~sent & ~v.isin("0", "1", "true", "false"), "n_not_bool"),
        # distinct count matters ONLY inside the 4-value bool lexicon (the
        # bool branch requires n_not_bool == 0), so four has-flags replace
        # countDistinct — exact semantics without the multi-distinct Expand
        # (a 7x map-side row blowup at scale).
        (
            F.max(F.when(~sent & (v == "0"), 1).otherwise(0))
            + F.max(F.when(~sent & (v == "1"), 1).otherwise(0))
            + F.max(F.when(~sent & (v == "true"), 1).otherwise(0))
            + F.max(F.when(~sent & (v == "false"), 1).otherwise(0))
        ).alias(f"n_distinct__{c}"),
        F.max(F.when(~sent & v.isin("0", "false"), True)).alias(f"has_zf__{c}"),
        F.max(F.when(~sent & v.isin("1", "true"), True)).alias(f"has_ot__{c}"),
    ]


def decide_type(
    n: int,
    n_sent: int,
    n_fmt: int,
    n_int: int,
    n_dbl: int,
    n_bad_int: int,
    n_bad_dbl: int,
    n_not_bool: int,
    n_distinct: int,
    has_zf: bool,
    has_ot: bool,
) -> str:
    """The reference's decision tree (TabularFilesReader.java:258-389) as a
    pure function of the vote counters — shared by Spark, the DuckDB oracle
    and unit tests."""
    if n_not_bool == 0 and n_distinct in (1, 2) and (n_distinct == 1 or (has_zf and has_ot)):
        return "boolean"
    n_date = n_sent + n_fmt  # sentinels count toward the date vote (:287-291)
    if n_date == n and n_fmt > 0:
        return "timestamp"
    if n_fmt > 0 and n_date > n_int and n_date > n_dbl:
        return "varchar"
    if n_dbl > 0:
        return "double" if n_bad_dbl == 0 else "varchar"
    return "int" if n_bad_int == 0 else "varchar"


def infer_column_types(df: DataFrame, columns: list[str] | None = None) -> dict[str, str]:
    """One full-scan aggregate over ALL columns at once → {col: sqlType}.

    The reference re-scans every column's values in a driver loop
    (``TabularFilesReader.java:246-390``); here the same votes are
    conditional counters inside a single partial+final hash aggregation —
    one distributed pass regardless of column count."""
    cols = columns or df.columns
    row = df.agg(*[e for c in cols for e in _vote_exprs(c)]).collect()[0].asDict()
    return {
        c: decide_type(
            row[f"n__{c}"],
            row[f"n_sent__{c}"],
            row[f"n_fmt__{c}"],
            row[f"n_int__{c}"],
            row[f"n_dbl__{c}"],
            row[f"n_bad_int__{c}"],
            row[f"n_bad_dbl__{c}"],
            row[f"n_not_bool__{c}"],
            row[f"n_distinct__{c}"],
            bool(row[f"has_zf__{c}"]),
            bool(row[f"has_ot__{c}"]),
        )
        for c in cols
    }


def apply_inferred_types(df: DataFrame, types: dict[str, str]) -> DataFrame:
    """Cast each column per the inferred type: sentinels → NULL, ``,``→``.``
    decimal repair for doubles, date shapes normalized to ``yyyy-MM-dd``
    strings (the reference keeps dates as strings too)."""
    out = []
    for c in df.columns:
        t = types.get(c, "varchar")
        v = F.lower(F.col(c).cast("string"))
        clean = F.when(is_nullish(F.col(c).cast("string")), F.lit(None)).otherwise(v)
        if t == "boolean":
            e = F.when(clean.isin("1", "true"), True).when(clean.isin("0", "false"), False)
        elif t == "timestamp":
            e = _date_norm(clean)
        elif t == "double":
            e = F.replace(clean, F.lit(","), F.lit(".")).cast("double")
        elif t == "int":
            e = clean.cast("int")
        else:
            e = F.when(is_nullish(F.col(c).cast("string")), F.lit(None)).otherwise(
                F.col(c).cast("string")
            )
        out.append(e.alias(c))
    return df.select(*out)


# ---------------------------------------------------------------------------
# S6: synthetic PK
# ---------------------------------------------------------------------------


def add_synthetic_pk(df: DataFrame, order_cols: list[str]) -> DataFrame:
    """Append ``PKCol`` = 1-based row position as string, ordered by an
    explicit stable key (the reference uses physical row order, which Spark
    does not guarantee — callers must name the ordering)."""
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(PK_COL, F.row_number().over(w).cast("string"))


# ---------------------------------------------------------------------------
# S2: Excel scan — stdlib OOXML reader, no optional dependency
# ---------------------------------------------------------------------------

_XLSX_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _parse_xlsx_rows(path: str) -> tuple[list[list[str]], int]:
    """Minimal .xlsx reader (zipfile + ElementTree — the format is a public
    OOXML zip of XML parts), mirroring the reference's POI loop
    (``TabularFilesReader.java:115-154``): first worksheet only, every cell
    surfaced as a string, ``(rows, maxCells)`` returned so ragged rows can
    be header-repaired. Shared strings, inline strings, booleans and
    numerics are handled; anything else stringifies to ''. Driver-side by
    design — spreadsheet files are small; the distributed path is CSV or
    parquet."""
    import zipfile
    from xml.etree import ElementTree as ET

    with zipfile.ZipFile(path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            shared = [
                "".join(t.text or "" for t in si.iter(f"{_XLSX_NS}t"))
                for si in root.findall(f"{_XLSX_NS}si")
            ]
        sheets = sorted(
            n for n in z.namelist() if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)
        )
        if not sheets:
            return [], 0
        root = ET.fromstring(z.read(sheets[0]))
        rows: list[list[str]] = []
        max_cells = 0
        for row_el in root.iter(f"{_XLSX_NS}row"):
            cells: dict[int, str] = {}
            for c in row_el.findall(f"{_XLSX_NS}c"):
                letters = "".join(ch for ch in (c.get("r") or "") if ch.isalpha())
                if letters:
                    idx = 0
                    for ch in letters:
                        idx = idx * 26 + (ord(ch.upper()) - 64)
                    idx -= 1
                else:  # no cell reference: append after the last seen cell
                    idx = max(cells) + 1 if cells else 0
                t = c.get("t")
                if t == "inlineStr":
                    v = "".join(tt.text or "" for tt in c.iter(f"{_XLSX_NS}t"))
                else:
                    ve = c.find(f"{_XLSX_NS}v")
                    v = ve.text if ve is not None and ve.text is not None else ""
                    if t == "s" and v != "":
                        v = shared[int(v)]
                    elif t == "b":
                        v = "true" if v == "1" else "false"
                cells[idx] = v
            width = max(cells) + 1 if cells else 0
            max_cells = max(max_cells, width)
            rows.append([cells.get(i, "") for i in range(width)])
        return rows, max_cells


def read_excel(spark: SparkSession, path: str) -> DataFrame:
    """S2: Excel scan feeding the exact same pipeline as CSV — header
    repair (S3, padded to ``maxCells`` like the reference's ragged-row
    handling), all-string schema, empty-Unknown-column drop (S4); type
    inference (S5) is the caller's explicit next pass, as with
    :func:`read_csv`."""
    from pyspark.sql import types as T

    rows, max_cells = _parse_xlsx_rows(path)
    if not rows or max_cells == 0:
        return driver_frame(spark, [], "value string")
    headers = repair_headers([str(h) for h in rows[0]], max_cells=max_cells)
    data = [
        tuple((r + [""] * max_cells)[:max_cells]) for r in rows[1:]
    ]
    schema = T.StructType([T.StructField(h, T.StringType()) for h in headers])
    df = driver_frame(spark, data, schema)
    return drop_empty_unknown_columns(df)
