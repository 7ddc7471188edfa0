"""Date detection + normalization (operators S5 date-vote, X4 fixDateFormat).

The reference recognizes five date shapes with calendar-range checks
(``TabularFilesReader.java:277-334``) and rewrites matches to ``yyyy-MM-dd``
(``util/XSDmappers.java:146-156``; a bare ``MM-yyyy``/``yyyy`` gets ``.01``
day/month appended). Re-expressed as a ``coalesce(to_date(...))`` chain —
pure Catalyst expressions, fully codegen'd.
"""

from __future__ import annotations

import re
from datetime import date

from pyspark.sql import Column
from pyspark.sql import functions as F

# shape regex → Spark datetime pattern, ordered by specificity
DATE_PATTERNS: list[tuple[str, str]] = [
    (r"^\d{4}-\d{1,2}-\d{1,2}$", "yyyy-M-d"),
    (r"^\d{1,2}/\d{1,2}/\d{4}$", "d/M/yyyy"),
    (r"^\d{1,2}-\d{1,2}-\d{4}$", "d-M-yyyy"),
    (r"^\d{1,2}-\d{4}$", "M-yyyy"),      # month-year → day defaults to 01
    (r"^\d{4}$", "yyyy"),                # bare year → Jan 01
]


def fix_date_format(value: str) -> str | None:
    """Normalize a matched date string to ``yyyy-MM-dd`` (calendar-checked)."""
    v = value.strip()
    try:
        if re.match(r"^\d{4}-\d{1,2}-\d{1,2}$", v):
            y, m, d = (int(x) for x in v.split("-"))
        elif re.match(r"^\d{1,2}/\d{1,2}/\d{4}$", v):
            d, m, y = (int(x) for x in v.split("/"))
        elif re.match(r"^\d{1,2}-\d{1,2}-\d{4}$", v):
            d, m, y = (int(x) for x in v.split("-"))
        elif re.match(r"^\d{1,2}-\d{4}$", v):
            m, y = (int(x) for x in v.split("-"))
            d = 1
        elif re.match(r"^\d{4}$", v):
            y, m, d = int(v), 1, 1
        else:
            return None
        return date(y, m, d).isoformat()
    except ValueError:
        return None


def fix_date_format_col(c: Column) -> Column:
    """Column twin: first matching shape wins, result is ``yyyy-MM-dd``."""
    trimmed = F.trim(c)
    attempts = [
        F.when(trimmed.rlike(rx), F.try_to_timestamp(trimmed, F.lit(fmt)).cast("date"))
        for rx, fmt in DATE_PATTERNS
    ]
    return F.date_format(F.coalesce(*attempts), "yyyy-MM-dd")
