"""Semi-structured CSV line ingestion — the reference's
``Process_csv_data`` job (assets.py:136-218) as native Catalyst expressions.

Reference pipeline (§3.2): read whole lines (pd.read_csv sep='delimiter',
latin-1, assets.py:149-154) → keep lines matching a date+``Venta`` pattern
(assets.py:175-179) → stop at the ``RECRIASIN`` sentinel (assets.py:177-178)
→ split date vs rest, pull ``Key: 123`` integer pairs (``Animales``,
``Documento salida``), leftover → ``extra`` (assets.py:180-211) → fixed
schema ``(name_farm, prefix, fecha, n_animales, documento_salida, extra)``
(assets.py:158) → row INSERTs.

Here: a whole-line latin-1 read (the CSV source with one string column, a
NUL separator and no quoting; ``spark.read.text`` decodes UTF-8 only) →
``rlike`` filter → ``regexp_extract`` columns → cast — one distributed
scan, no row loop. The sentinel early-stop (P5) uses the first sentinel's
monotonically-increasing id as a cutoff (ids are ordered by (split, row)
so they follow file order for a single file).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Line-shape predicate: `d/m` or `d/m/yyyy` date followed by `Venta`
#: (reference regex at assets.py:175).
LINE_PATTERN = r"\b\d{1,2}/\d{1,2}(/\d{4})?\b\s+Venta\b"
SENTINEL = "RECRIASIN"


def parse_sale_lines(lines: DataFrame, name_farm: str) -> DataFrame:
    """Regex-parse filtered sale lines into the fixed reference schema."""
    with_id = lines.withColumn("_line_id", F.monotonically_increasing_id())
    sentinel_ids = with_id.filter(F.col("value").contains(SENTINEL)).agg(
        F.min("_line_id").alias("cut")
    )
    bounded = with_id.join(F.broadcast(sentinel_ids), how="cross").filter(
        F.col("cut").isNull() | (F.col("_line_id") < F.col("cut"))
    )
    matched = bounded.filter(F.col("value").rlike(LINE_PATTERN))
    return matched.select(
        F.lit(name_farm).alias("name_farm"),
        F.lit("").alias("prefix"),  # a reference schema column nothing fills
        F.regexp_extract("value", r"(\b\d{1,2}/\d{1,2}(/\d{4})?\b)", 1).alias("fecha"),
        F.regexp_extract("value", r"Animales\s*:?\s*(\d+)", 1).cast("bigint").alias("n_animales"),
        F.regexp_extract("value", r"Documento\s+salida\s*:?\s*(\d+)", 1)
        .cast("bigint")
        .alias("documento_salida"),
        F.trim(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace("value", r"\b\d{1,2}/\d{1,2}(/\d{4})?\b", ""),
                    r"Venta|Animales\s*:?\s*\d+|Documento\s+salida\s*:?\s*\d+",
                    "",
                ),
                r"\s+",
                " ",
            )
        ).alias("extra"),
    )


def ingest_csv_lines(spark: SparkSession, path: str) -> DataFrame:
    """S4+S5 end-to-end: raw-line latin-1 read → parse. ``name_farm`` is
    the file stem, as the reference derives it from the object name
    (assets.py:155-158). The explicit schema keeps the read lazy (no
    schema-inference job)."""
    lines = (
        spark.read.schema("value STRING")
        .option("encoding", "ISO-8859-1")
        .option("sep", "\u0000")
        .option("quote", "")
        .csv(path)
    )
    return parse_sale_lines(lines, os.path.splitext(os.path.basename(path))[0])
