"""Null normalization (operator F1).

The reference treats a literal sentinel set as NULL everywhere
(``TabularFilesReader.java:34``, ``InsertDataBase.java:190-192``). Here it is
a single ``when/otherwise`` pass so Catalyst can fold it into the scan
projection — no extra stage, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import NULL_SENTINELS


def is_nullish(c: Column) -> Column:
    return c.isNull() | F.lower(F.trim(c)).isin([s.strip() for s in NULL_SENTINELS])


def normalize_null(c: Column) -> Column:
    """Map sentinel values to real NULLs (string columns only)."""
    return F.when(is_nullish(c), F.lit(None)).otherwise(c)


def normalize_nulls(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Apply the sentinel→NULL pass to every (or the given) string column."""
    string_cols = {f.name for f in df.schema.fields if f.dataType.simpleString() == "string"}
    targets = [c for c in (columns or df.columns) if c in string_cols]
    return df.select(
        *[normalize_null(F.col(c)).alias(c) if c in targets else F.col(c) for c in df.columns]
    )
