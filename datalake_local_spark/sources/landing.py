"""Landing-zone discovery — the reference's object-store namespace scan
(SURVEY §2.1 S1/S2, assets.py:24-39: list MinIO buckets skipping
``configuration``, recursive object listing) over a directory landing zone.

Returns the inventory as a DataFrame so discovery itself is queryable
(filter by extension = P2, exclude configuration = P1), and feeds the
type-dispatched ingest pass.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

EXCLUDED_BUCKETS = ("configuration",)  # P1 (assets.py:31, 145)

_INVENTORY = T.StructType(
    [T.StructField(n, T.StringType()) for n in ("bucket", "path", "name", "ext")]
    + [T.StructField("size_bytes", T.LongType())]
)


def _discover_local(landing_root: str) -> list[tuple]:
    rows = []
    if os.path.isdir(landing_root):
        for bucket in sorted(os.listdir(landing_root)):
            bpath = os.path.join(landing_root, bucket)
            if not os.path.isdir(bpath) or bucket in EXCLUDED_BUCKETS:
                continue
            for dirpath, _dirs, files in os.walk(bpath):  # S2 recursive
                for fname in sorted(files):
                    fpath = os.path.join(dirpath, fname)
                    ext = os.path.splitext(fname)[1].lstrip(".").lower()
                    rows.append((bucket, fpath, fname, ext, os.path.getsize(fpath)))
    return rows


def _discover_hadoop(spark: SparkSession, landing_root: str) -> list[tuple]:
    """URI-root discovery via the Hadoop FileSystem API — the same call
    path serves file://, s3a://, abfss://, gs://: the object-store landing
    zone the reference runs on MinIO (docker-compose.yml:4-19) needs only
    the s3a endpoint/credentials conf
    (spark.hadoop.fs.s3a.endpoint / .access.key / .secret.key /
    .path.style.access=true); no code change."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(landing_root)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    rows = []
    if not fs.exists(root):
        return rows
    buckets = sorted(
        (st.getPath() for st in fs.listStatus(root) if st.isDirectory()),
        key=lambda p: p.getName(),
    )
    for bpath in buckets:
        bucket = bpath.getName()
        if bucket in EXCLUDED_BUCKETS:
            continue
        it = fs.listFiles(bpath, True)  # S2 recursive
        files = []
        while it.hasNext():
            st = it.next()
            p = st.getPath()
            name = p.getName()
            ext = os.path.splitext(name)[1].lstrip(".").lower()
            files.append((bucket, p.toString(), name, ext, st.getLen()))
        rows.extend(sorted(files, key=lambda r: r[1]))
    return rows


def discover_landing(spark: SparkSession, landing_root: str) -> DataFrame:
    """One row per object: (bucket, path, name, ext, size_bytes).

    ``landing_root`` may be a plain local directory or ANY Hadoop
    filesystem URI (file://, s3a://, ...) — URI roots go through the
    Hadoop FileSystem client, matching the reference's MinIO bucket
    model. Driver-side listing (the landing *inventory* is catalog-sized
    even when the data is 100 TB); the object *contents* are only ever
    read by distributed sources.
    """
    if "://" in landing_root or landing_root.startswith("file:/"):
        rows = _discover_hadoop(spark, landing_root)
    else:
        rows = _discover_local(landing_root)
    # an Arrow-built frame: collecting it runs no job and no Python worker
    inventory = pa.Table.from_pylist(
        [dict(zip(_INVENTORY.names, r)) for r in rows], schema=to_arrow_schema(_INVENTORY)
    )
    return spark.createDataFrame(inventory, _INVENTORY)


def ingest_landing(spark: SparkSession, landing_root: str) -> dict[str, int]:
    """Type-dispatched ingest of a whole landing zone (the reference's two
    Dagster jobs unified): .csv → semi-structured line pipeline, .jsonl/.json
    → JSON source, .xlsx → Excel (stdlib SpreadsheetML parser).

    One pass: each landing file is one task on a pool of
    ``min(files, defaultParallelism)`` threads, whose Spark jobs stay in
    the caller's job group, and the provenance of the whole pass is
    written once at its end (``InfoCatalog.flush``). A failing file does
    not stop the others: every other table is written and registered, then
    the first failure in inventory order is raised, with a note per other
    failure. Two files that map to one table (``a/t.csv`` and
    ``a/sub/t.csv``) fail the second save with ``ValueError``.

    Returns table→rowcount, the counts observed on each table's write (no
    read-back scan). A re-run leaves the same table contents (each table
    is overwritten), but its provenance is appended again: one more
    ``info.files`` row and two more ``info.operations`` rows per table."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    from datalake_local_spark.catalog import InfoCatalog
    from datalake_local_spark.functions.sanitize import fix_string, sanitize_db_name
    from datalake_local_spark.sources import csv_lines, json_source
    from datalake_local_spark.sources.excel import ingest_excel_file

    def ingest(row, catalog: InfoCatalog) -> None:
        db = fix_string(row["bucket"])
        table = sanitize_db_name(fix_string(os.path.splitext(row["name"])[0]))
        if row["ext"] == "csv":
            catalog.save_ingested(csv_lines.ingest_csv_lines(spark, row["path"]), db, table)
        elif row["ext"] in ("json", "jsonl"):
            json_source.ingest_json(spark, row["path"], db, table, catalog=catalog)
        elif row["ext"] == "xlsx":
            # the workbook is opened locally; file:// inventory paths map
            # back to plain paths (a remote object store routes through
            # sources.xlsx_native.read_xlsx_distributed's binaryFile scan
            # instead — this task is the catalog-sized driver dispatch,
            # not the data path)
            local = row["path"]
            if local.startswith("file:"):
                from urllib.parse import unquote, urlparse

                local = unquote(urlparse(local).path)
            elif "://" in local:
                # reject remote schemes LOUDLY before open() produces an
                # opaque mid-ingest failure
                raise ValueError(
                    f"xlsx landing ingest opens files locally (got {local!r}); "
                    "for object-store roots use "
                    "xlsx_native.read_xlsx_distributed over binaryFile"
                )
            ingest_excel_file(spark, local, db, catalog)

    with InfoCatalog(spark) as catalog:
        inventory = discover_landing(spark, landing_root).collect()
        # once, here: concurrent saves into a new database would race to
        # create it
        for db in sorted({fix_string(row["bucket"]) for row in inventory}):
            spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        failures = []
        if inventory:
            threads = min(len(inventory), spark.sparkContext.defaultParallelism)
            with ThreadPoolExecutor(threads) as pool:
                # each wrap copies the caller's local properties (the job
                # group among them), so no two tasks share one copy
                futures = [
                    pool.submit(inheritable_thread_target(spark)(ingest), row, catalog)
                    for row in inventory
                ]
            failures = [
                (row["path"], err)
                for row, f in zip(inventory, futures)
                if (err := f.exception()) is not None
            ]
        if failures:
            (path, first), others = failures[0], failures[1:]
            first.add_note(f"ingesting {path}")
            for other_path, err in others:
                first.add_note(f"also failed: {other_path}: {err!r}")
            raise first
    return dict(catalog.rows_written)
