"""Excel multi-sheet ingestion — the reference's ``Insert_excel_tables``
job (assets.py:15-133, §3.1) Spark-first.

Reference behavior: per bucket → per .xlsx → per sheet: infer the 4-type
lattice from stringified cells (assets.py:220-260), create
``<bucket>.<file>_<sheet>`` (sanitized, assets.py:53-61), insert row by
row. Here: pandas reads the sheet (Spark has no native xlsx source), the
compat inference produces a StructType, the cells are converted column by
column into a ``pyarrow.Table`` of that schema, and one Arrow
``createDataFrame`` (no Python worker) + managed-table write replaces the
row loop.

Scale path: a 100 TB landing zone of many xlsx files would distribute the
*parse* too — ``spark.read.format('binaryFile')`` + ``mapInPandas`` opening
each workbook executor-side. The per-sheet parse below is exactly the
kernel that mapInPandas variant would call; driver-side iteration is fine
for the reference's actual workload (a handful of sheets per cron tick).

Parser selection: pandas/openpyxl when installed, else the stdlib
SpreadsheetML parser (sources/xlsx_native.py) — Excel ingestion works in
either environment; both produce the same stringified-cell contract.
"""

from __future__ import annotations

import os
from datetime import date, datetime

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from datalake_local_spark.catalog import InfoCatalog
from datalake_local_spark.functions.sanitize import (
    NULLISH,
    fix_string,
    infer_column_types,
    sanitize_db_name,
)

try:  # pragma: no cover - environment probe
    import openpyxl  # noqa: F401

    HAS_XLSX = True
except ImportError:
    HAS_XLSX = False


def _sheet_raw(xlsx_path: str, sheet_name: str) -> tuple[list[str], list[list[str | None]]]:
    """(columns, stringified rows) via pandas/openpyxl when available,
    else the stdlib SpreadsheetML parser."""
    if HAS_XLSX:
        import pandas as pd

        pdf = pd.read_excel(xlsx_path, sheet_name=sheet_name, dtype=str)
        return [str(c) for c in pdf.columns], [
            list(row) for row in pdf.itertuples(index=False, name=None)
        ]
    from datalake_local_spark.sources import xlsx_native

    with open(xlsx_path, "rb") as f:
        return xlsx_native.parse_xlsx(f.read())[sheet_name]


def _list_sheets(xlsx_path: str) -> list[str]:
    if HAS_XLSX:
        import pandas as pd

        return list(pd.ExcelFile(xlsx_path).sheet_names)
    from datalake_local_spark.sources import xlsx_native

    with open(xlsx_path, "rb") as f:
        return xlsx_native.sheet_names(f.read())


def _sheet_table(xlsx_path: str, sheet_name: str) -> tuple[pa.Table, T.StructType]:
    """Parse one sheet with the reference's stringify-then-infer semantics
    (assets.py:220-250): cells stringified, nullish sentinels → NULL,
    first-non-null typing. Returns the typed Arrow table and its Spark
    schema; ``num_rows`` is the sheet's row count, known on the driver."""
    columns, raw_rows = _sheet_raw(xlsx_path, sheet_name)
    rows = [
        [None if (v is None or str(v) in NULLISH or str(v) == "nan") else str(v) for v in row]
        for row in raw_rows
    ]
    schema = infer_column_types(rows, columns)
    # timestamps go in naive, so Spark reads each cell as wall-clock time
    # in the session time zone (what CAST(string AS TIMESTAMP) does)
    arrow_types = to_arrow_schema(schema, timestamp_utc=False).types

    def _convert(v, type_name):
        if v is None:
            return None
        if type_name == "long":
            return int(v)
        if type_name == "date":
            return date.fromisoformat(v)
        if type_name == "timestamp":
            return datetime.fromisoformat(v)
        return v

    # Columnar conversion with best-effort degradation: the type was
    # inferred from the FIRST non-null cell (reference semantics,
    # assets.py:294-301), so a mixed column ('123' then 'abc') would make
    # the strict converter raise and abort the whole ingest. Instead, any
    # column whose cells don't all parse (or overflow the Arrow type)
    # falls back to varchar — matching the compat path's best-effort
    # intent — and the sheet never aborts.
    fields = list(schema.fields)
    arrays = []
    for j, field in enumerate(fields):
        raw = [row[j] for row in rows]
        try:
            converted = [_convert(v, field.dataType.typeName()) for v in raw]
            arrays.append(pa.array(converted, type=arrow_types[j]))
        except (ValueError, TypeError, OverflowError):
            fields[j] = T.StructField(field.name, T.StringType(), True)
            arrays.append(pa.array(raw, type=pa.string()))
    return pa.Table.from_arrays(arrays, names=[f.name for f in fields]), T.StructType(fields)


def read_sheet(spark: SparkSession, xlsx_path: str, sheet_name: str) -> DataFrame:
    """One sheet as a DataFrame built from its Arrow table (see
    ``_sheet_table``): the rows cross to the JVM as Arrow batches, with no
    Python worker."""
    return spark.createDataFrame(*_sheet_table(xlsx_path, sheet_name))


def xlsx_long_form(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Distributed (executor-side) xlsx parse of a landing tree into the
    schema-stable long form (path, sheet, row_idx, column, value) — the
    100 TB variant of the per-sheet loop below. See
    sources/xlsx_native.read_xlsx_distributed."""
    from datalake_local_spark.sources import xlsx_native

    return xlsx_native.read_xlsx_distributed(spark, landing_dir)


def ingest_excel_file(
    spark: SparkSession, xlsx_path: str, db: str, catalog: InfoCatalog | None = None
) -> list[str]:
    """Ingest every non-empty sheet of ONE workbook into ``db`` as tables
    named ``<file>_<sheet>`` (sanitized; assets.py:53-61). Works with or
    without openpyxl (stdlib SpreadsheetML parser otherwise). Returns the
    FQNs written."""
    catalog = catalog or InfoCatalog(spark)
    written: list[str] = []
    stem = os.path.splitext(os.path.basename(xlsx_path))[0]
    for sheet in _list_sheets(xlsx_path):
        parsed, schema = _sheet_table(xlsx_path, sheet)
        if parsed.num_rows == 0:  # P3 empty-frame guard (assets.py:226,247)
            continue
        table = sanitize_db_name(f"{fix_string(stem)}_{fix_string(sheet)}")
        written.append(catalog.save_ingested(spark.createDataFrame(parsed, schema), db, table))
    return written


def ingest_excel_dir(
    spark: SparkSession, landing_dir: str, catalog: InfoCatalog | None = None
) -> list[str]:
    """Bucket-per-subdirectory landing zone (S1/S2): each subdir of
    ``landing_dir`` is a database, each sheet of each .xlsx a table named
    ``<file>_<sheet>`` (sanitized; assets.py:53-61). Returns FQNs written."""
    catalog = catalog or InfoCatalog(spark)
    written: list[str] = []
    for bucket in sorted(os.listdir(landing_dir)):
        bucket_path = os.path.join(landing_dir, bucket)
        if not os.path.isdir(bucket_path) or bucket == "configuration":
            continue  # P1: configuration bucket excluded (assets.py:31)
        db = fix_string(bucket)
        for fname in sorted(os.listdir(bucket_path)):
            if not fname.endswith(".xlsx"):  # P2 extension predicate
                continue
            written.extend(
                ingest_excel_file(spark, os.path.join(bucket_path, fname), db, catalog)
            )
    return written
