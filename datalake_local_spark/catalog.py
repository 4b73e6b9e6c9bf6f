"""Catalog + provenance: the reference's ``info.files`` registry and
SQL-replay durability model, Spark-native.

Reference behavior (SURVEY.md §1.1): every ingested table is recorded in
``info.files(table_name, creation)`` (assets.py:418-425, inserts at
413-415/166-168); every DDL/DML is replayed to a ``.sql`` file in the
``configuration`` bucket for rebuild-after-loss (assets.py:70-74, 214-218).

Here Parquet managed tables are durable by construction, so the replay log
becomes an append-only ``info.operations`` audit table — the capability
(provenance + auditability) survives, the mechanism is columnar.

A catalog is used as a context manager, and one ``with`` block is one
ingest pass. ``save_ingested`` writes its table and stages the provenance
rows; leaving the block flushes them, also on error, with parameterized
``INSERT INTO ... VALUES`` statements: local relations the JVM writes
without a Python worker, one statement per info table per pass
(``info.files`` then ``info.operations``). Saves may run on several
threads at once; staging is locked, and each table may be saved once per
pass. The row count of each save is observed on the write itself
(``DataFrame.observe``), so callers never re-scan a table to learn it.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class InfoCatalog:
    """Provenance registry over managed tables (``info.files`` +
    ``info.operations``), used as ``with InfoCatalog(spark) as catalog:``
    around one ingest pass."""

    def __init__(self, spark: SparkSession, db: str = "info"):
        self.spark = spark
        self.db = db
        #: fqn -> rows written by this catalog's latest save of that table
        self.rows_written: dict[str, int] = {}
        #: fqn -> the audit rows of its save in this pass, for ``flush``
        self._staged: dict[str, list[tuple[str, str, str]]] = {}
        #: tables saved (or being saved) in this pass, lower-cased: Spark
        #: table names are case-insensitive
        self._claimed: set[str] = set()
        self._lock = threading.Lock()
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {db}.files "
            "(table_name STRING, creation TIMESTAMP) USING PARQUET"
        )
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {db}.operations "
            "(op STRING, target STRING, detail STRING, ts TIMESTAMP) USING PARQUET"
        )

    def __enter__(self) -> InfoCatalog:
        return self

    def __exit__(self, *exc_info) -> None:
        self.flush()

    def _insert(self, table: str, columns: tuple[str, ...], rows) -> None:
        """One ``INSERT INTO <db>.<table> VALUES`` of ``rows`` (values of
        ``columns``), the insert time appended as the table's last column.
        Markers are NAMED (``:op0``, ``:target0``, ...): positional ``?``
        markers in a multi-row VALUES bind out of textual order on Spark
        4.1."""
        values, args = [], {}
        for i, row in enumerate(rows):
            names = [f"{c}{i}" for c in columns]
            args.update(zip(names, row, strict=True))
            values.append(f"({', '.join(':' + n for n in names)}, current_timestamp())")
        self.spark.sql(f"INSERT INTO {self.db}.{table} VALUES {', '.join(values)}", args=args)

    def database_exists(self, name: str) -> bool:
        """D4: schema-existence probe (assets.py:393-401) via native catalog."""
        return self.spark.catalog.databaseExists(name)

    def register_table(self, *table_names: str) -> None:
        """D5: provenance insert (assets.py:413-415), one row per table,
        all in one INSERT."""
        self._insert("files", ("table_name",), [(t,) for t in table_names])

    def log_operation(self, *entries: tuple[str, str, str]) -> None:
        """S8 replacement: append-only audit instead of .sql replay files.
        Each entry is one ``(op, target, detail)`` row; all go in one
        INSERT."""
        self._insert("operations", ("op", "target", "detail"), entries)

    def files(self) -> DataFrame:
        return self.spark.table(f"{self.db}.files")

    def flush(self) -> None:
        """End the pass: write the staged provenance of every saved table,
        sorted by table name, as one ``info.files`` INSERT and one
        ``info.operations`` INSERT (none if nothing was saved). Every
        table may be saved again after it."""
        with self._lock:
            staged, self._staged, self._claimed = self._staged, {}, set()
        if staged:
            fqns = sorted(staged)
            self.register_table(*fqns)
            self.log_operation(*(entry for fqn in fqns for entry in staged[fqn]))

    def save_ingested(
        self, df: DataFrame, database: str, table: str, mode: str = "overwrite"
    ) -> str:
        """D1+D2+D3: CREATE SCHEMA IF NOT EXISTS (assets.py:35-36), then a
        batch, schema-checked, injection-free-by-construction managed-table
        write (vs the reference's per-row committed string-spliced
        INSERTs, assets.py:105-115, 385-390 — the documented anti-pattern
        SURVEY.md §4 says not to reproduce). The written row count lands in
        ``rows_written[fqn]``, and the table's ``info.files`` row and its
        ``create_database`` + ``ingest`` audit rows are staged for
        ``flush``. The table is claimed for the pass before the write: a
        second save of it in one pass (two landing files mapping to one
        table) raises ``ValueError`` instead of overwriting the first."""
        fqn = f"{database}.{table}"
        with self._lock:
            if fqn.lower() in self._claimed:
                raise ValueError(f"table {fqn} is saved twice in one ingest pass")
            self._claimed.add(fqn.lower())
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
        written = Observation()
        observed = df.observe(written, F.count(F.lit(1)).alias("rows"))
        observed.write.mode(mode).format("parquet").saveAsTable(fqn)
        rows = written.get["rows"]
        with self._lock:
            self.rows_written[fqn] = rows
            self._staged[fqn] = [("create_database", database, ""), ("ingest", fqn, f"mode={mode}")]
        return fqn
