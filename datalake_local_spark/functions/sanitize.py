"""Identifier sanitization + the 4-type inference lattice.

Reimplements (as pure, unit-tested functions — not copies) the driver-side
helpers of the reference ingestion pipeline:

- ``fix_string``          ≙ reference assets.py:304-336 (bucket/identifier
  normalization: ``%`` → ``porcentaje_``, ``ñ`` → ``n``, 30+ special chars →
  ``_``, collapse repeats).
- ``sanitize_db_name``    ≙ assets.py:338-344 (ASCII-transliterate, strip
  non-``[a-zA-Z0-9_]``, truncate to 63 chars — the Postgres identifier limit;
  kept for compat even though Spark has no such limit).
- ``identify_string_type``≙ assets.py:294-301 (timestamp-shape regex).
- ``infer_column_types``  ≙ assets.py:236-260 (first-non-null typing over the
  4-type lattice varchar/bigint/date/timestamp; all-null columns → varchar).

The quirks of the reference (first-non-null typing, null-ish sentinel list
``["nan", "NULL", ""]``) are preserved deliberately so ingested schemas match;
see tests/test_sanitize.py for golden pairs.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import types as T

#: Values the reference treats as SQL NULL at ingest (assets.py:227-229).
NULLISH = {"nan", "NULL", "", "None", "NaT"}

_TIMESTAMP_RE = re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(\.\d{1,6})?$")
_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
_INT_RE = re.compile(r"^[+-]?\d+$")

#: Special-character replacements applied before the generic `_` fallback
#: (reference fix_string, assets.py:304-336).
_SPECIAL = {
    "%": "porcentaje_",
    "ñ": "n",
    "Ñ": "N",
    "º": "_",
    "ª": "_",
    "€": "_",
}


def fix_string(value: str) -> str:
    """Normalize a bucket/file/sheet name into an identifier-safe string.

    Order matters for idempotency: NFKD-transliterate FIRST (á→a, and
    compatibility characters like U+1F100 '🄀' decompose to "0."), THEN
    filter to [A-Za-z0-9_] — filtering before normalization let
    decomposition re-introduce non-identifier ASCII (hypothesis-found)."""
    text = "".join(_SPECIAL.get(ch, ch) for ch in value)
    text = unicodedata.normalize("NFKD", text).encode("ascii", "ignore").decode("ascii")
    text = "".join(ch if (ch.isalnum() or ch == "_") else "_" for ch in text)
    text = re.sub(r"_+", "_", text)
    return text.strip("_") or "_"


def sanitize_db_name(value: str) -> str:
    """ASCII-only ``[a-zA-Z0-9_]`` identifier, max 63 chars."""
    text = unicodedata.normalize("NFKD", value).encode("ascii", "ignore").decode("ascii")
    text = re.sub(r"[^a-zA-Z0-9_]", "_", text)
    text = re.sub(r"_+", "_", text)
    return text[:63]


def identify_string_type(value: str) -> str:
    """Classify one stringified cell into the reference's literal categories:
    ``timestamp`` | ``date`` | ``bigint`` | ``varchar``."""
    if _TIMESTAMP_RE.match(value):
        return "timestamp"
    if _DATE_RE.match(value):
        return "date"
    if _INT_RE.match(value):
        return "bigint"
    return "varchar"


_SPARK_TYPES = {
    "varchar": T.StringType(),
    "bigint": T.LongType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
}


def infer_column_types(rows: list[list[str]], columns: list[str]) -> T.StructType:
    """First-non-null typing over the 4-type lattice (assets.py:236-243).

    Column type = type of the first non-nullish value in that column; columns
    with no non-null value default to varchar. Mirrors the reference exactly —
    this is a compat path for small driver-side sheets; large files go through
    Spark's own schema inference.

    Names are sanitized, and a name that repeats an earlier one (Spark
    compares names case-insensitively) gets the first free numeric suffix
    that no header spells literally: ``Total, total, total_2`` →
    ``Total, total_3, total_2``, so one sheet's headers never abort a write.
    """
    names = [sanitize_db_name(col) for col in columns]
    taken = {n.lower() for n in names}
    seen: set[str] = set()
    fields = []
    for j, name in enumerate(names):
        if name.lower() in seen:
            k = 2
            while f"{name}_{k}".lower() in taken:
                k += 1
            name = f"{name}_{k}"
            taken.add(name.lower())
        seen.add(name.lower())
        inferred = "varchar"
        for row in rows:
            v = row[j] if j < len(row) else None
            if v is None or str(v) in NULLISH:
                continue
            inferred = identify_string_type(str(v))
            break
        fields.append(T.StructField(name, _SPARK_TYPES[inferred], True))
    return T.StructType(fields)
