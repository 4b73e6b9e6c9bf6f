"""JSON ingestion — closes the reference's doc/code gap (S6): README.md
:123-127 documents ``obtain_data_from_json`` / ``tranform_json_data``
assets that don't exist in assets.py. Implemented natively.

Two shapes:
- file ingestion: ``spark.read.json`` schema-on-read (``ingest_json``), or
  an explicit schema with a quarantine of malformed lines
  (``ingest_json_with_quarantine``) — prefer explicit at scale so a bad
  file can't silently widen types;
- embedded JSON columns (``events.props``): ``from_json`` /
  ``get_json_object`` projections.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalake_local_spark.catalog import InfoCatalog


def ingest_json(
    spark: SparkSession, path: str, database: str, table: str, catalog: InfoCatalog
) -> DataFrame:
    """Read JSON lines (one object per line, schema-on-read) and persist as
    a managed table with provenance."""
    df = spark.read.json(path)
    catalog.save_ingested(df, database, table)
    return df


def ingest_json_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
) -> tuple[DataFrame, DataFrame]:
    """Robust JSON ingest: PERMISSIVE parse with an explicit schema plus a
    corrupt-record column; returns (clean, quarantine). Malformed lines
    never abort the batch and never silently disappear — they land in the
    quarantine frame with their raw text for replay/inspection (the
    data-quality contract a 100 TB landing zone needs: one bad producer
    must not poison or halt the whole ingest).

    The corrupt column must NOT be in the user schema (Spark requirement);
    it is added here and stripped from the clean output."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    # copy: StructType.add mutates in place and would alter the caller's
    full = T.StructType(list(schema.fields) + [T.StructField("_corrupt_record", T.StringType(), True)])
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        # corrupt-record extraction requires materializing beyond the
        # corrupt column alone (Spark disallows that projection) — cache
        # once, split twice
        .cache()
    )
    clean = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    quarantine = df.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    return clean, quarantine


def parse_props_column(events: DataFrame) -> DataFrame:
    """Typed extraction of the embedded ``events.props`` JSON via from_json."""
    return events.withColumn("props_struct", F.from_json(F.col("props"), "k BIGINT"))
