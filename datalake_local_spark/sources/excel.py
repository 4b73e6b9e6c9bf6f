"""Excel multi-sheet ingestion — the reference's ``Insert_excel_tables``
job (assets.py:15-133, §3.1) Spark-first.

Reference behavior: per bucket → per .xlsx → per sheet: infer the 4-type
lattice from stringified cells (assets.py:220-260), create
``<bucket>.<file>_<sheet>`` (sanitized, assets.py:53-61), insert row by
row. Here: the stdlib SpreadsheetML parser (sources/xlsx_native.py)
stringifies every sheet of a workbook in one pass, the compat inference
produces a StructType per sheet, the cells are converted column by column
into a ``pyarrow.Table`` of that schema, and one Arrow ``createDataFrame``
(no Python worker) + managed-table write replaces the row loop. The bucket
walk is ``landing.ingest_landing``'s; this module ingests one workbook.

Scale path: a landing zone of many workbooks distributes the *parse* too —
``xlsx_native.read_xlsx_distributed`` runs the same ``parse_xlsx`` kernel
executor-side over a ``binaryFile`` scan. Driver-side iteration is fine
for the reference's actual workload (a handful of sheets per cron tick).
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
from datalake_local_spark.sources import xlsx_native


def _parse_workbook(xlsx_path: str) -> dict[str, tuple[list[str], list[list[str | None]]]]:
    """One open, one parse: {sheet: (header, stringified rows)}."""
    with open(xlsx_path, "rb") as f:
        return xlsx_native.parse_xlsx(f.read())


def _sheet_table(
    columns: list[str], raw_rows: list[list[str | None]]
) -> tuple[pa.Table, T.StructType]:
    """Type one parsed sheet with the reference's stringify-then-infer
    semantics (assets.py:220-250): nullish sentinels → NULL, first-non-null
    typing. Returns the typed Arrow table and its Spark schema;
    ``num_rows`` is the sheet's row count, known on the driver."""
    rows = [[None if v in NULLISH else v for v in row] for row in raw_rows]
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
    return spark.createDataFrame(*_sheet_table(*_parse_workbook(xlsx_path)[sheet_name]))


def ingest_excel_file(spark: SparkSession, xlsx_path: str, db: str, catalog: InfoCatalog) -> None:
    """Ingest every non-empty sheet of ONE workbook into ``db`` as tables
    named ``<file>_<sheet>`` (sanitized; assets.py:53-61). The workbook is
    opened and parsed once for all its sheets."""
    stem = os.path.splitext(os.path.basename(xlsx_path))[0]
    for sheet, (columns, raw_rows) in _parse_workbook(xlsx_path).items():
        parsed, schema = _sheet_table(columns, raw_rows)
        if parsed.num_rows == 0:  # P3 empty-frame guard (assets.py:226,247)
            continue
        table = sanitize_db_name(f"{fix_string(stem)}_{fix_string(sheet)}")
        catalog.save_ingested(spark.createDataFrame(parsed, schema), db, table)
