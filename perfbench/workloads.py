"""The workloads. Each one

- ``generate()``s its inputs from the seed (harness time, untimed);
- ``stage()``s them into a fresh session (part of set-up);
- runs a fixed ``warm_up()`` that also checks outputs against an oracle;
- exposes ``round()``: one timed unit of work, returning its ops as
  ``(name, seconds)`` pairs and its wall;
- runs ``traced_round()``: the same work under the per-layer probes;
- reports ``workload_metrics()`` from the timed rounds.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

import checks
import datagen
from harness import OpFailed, Run, Tracing, log

#: The registry queries of ``query_mix``: a multi-way join and an as-of
#: join; a stateful streaming runner; a builder that launches many eager
#: jobs (``pipeline_dedup_funnel``) and dedup calls that repeat over the
#: same files, so hit the plan cache; and the corpus path,
#: ``prepare_corpus`` and the hashed substring kernel. Seven calls, so two
#: rounds fit a run; see README.md for the calls left out and why.
QUERY_MIX = (
    "flagship_revenue_month_region",
    "join_asof",
    "streaming_tumbling",
    "pipeline_dedup_funnel",
    "dedup_minhash_lsh",
    "pipeline_corpus_prep",
    "dedup_substring_hashed",
)


def force(df: DataFrame) -> bool:
    """Execute the whole plan with no result transfer; True when done.
    ``count()`` is not a force: Catalyst prunes columns and drops subtrees
    under it."""
    df.write.format("noop").mode("overwrite").save()
    return True


class Workload:
    name = ""
    #: whole rounds the timed window holds at least, whatever ``--seconds``.
    #: ``round_s`` is the fastest round of the window; with two or more, a
    #: burst of load from outside the process that hits one round does not
    #: set it
    MIN_ROUNDS = 2
    #: set-ups per run; ``setup_s`` is their median
    SETUPS = 5

    def __init__(self, run: Run, dirs: dict[str, str], seed: int, smoke: bool):
        self.run = run
        self.dirs = dirs
        self.seed = seed
        self.smoke = smoke
        self.spark: SparkSession | None = None
        self.load_tables_s = 0.0

    def generate(self) -> None:
        raise NotImplementedError

    def stage(self, spark: SparkSession) -> None:
        self.spark = spark

    def warm_up(self) -> None:
        raise NotImplementedError

    def round(self) -> tuple[list[tuple[str, float]], float]:
        """One timed unit of work: ``(name, seconds)`` of each op that
        passed, and the round's whole wall, failed ops included."""
        raise NotImplementedError

    def traced_round(self, tracing: Tracing) -> tuple[float, dict[str, float]]:
        raise NotImplementedError

    def workload_metrics(self) -> dict[str, float]:
        raise NotImplementedError


# ------------------------------------------------------------- query_mix


class QueryMix(Workload):
    """Round-robin over registry queries; one op is
    ``queries()[name](spark, sf_dir)`` plus a noop-sink force. The order is
    fixed: a call's latency depends on the calls before it (the JVM keeps
    compiling and collecting), so a per-seed order would add spread across
    seeds that no change to the engine made."""

    name = "query_mix"
    #: calls of ``llm.pipeline.prepare_corpus`` and the hashed substring kernel
    CORPUS_CALLS = ("pipeline_corpus_prep", "dedup_substring_hashed")
    #: warm-up threads: the warm-up pass is compile-bound on the driver
    WARMUP_THREADS = 3

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.order = QUERY_MIX
        self.sf = 0.001 if self.smoke else 0.01
        self.expected_rows: dict[str, int] = {}
        self.corpus_mb = 0.0
        self.survivor_ratio = 0.0
        self.corpus_s: list[float] = []

    def generate(self) -> None:
        tables = datagen.write_tables(self.dirs["data"], self.sf, self.seed)
        self.corpus_mb = sum(tables["documents"]["n_chars"].to_pylist()) / 1e6

    def stage(self, spark):
        from datalake_local_spark.session import load_tables

        super().stage(spark)
        t0 = time.perf_counter()
        load_tables(spark, self.dirs["data"])
        self.load_tables_s = time.perf_counter() - t0

    def _call(self, name: str) -> DataFrame:
        return self.queries[name](self.spark, self.dirs["data"])

    def warm_up(self) -> None:
        """One pass whose outputs are collected, on a few threads, then
        compared with DuckDB running each query's oracle on the same
        parquet. A query without an oracle runs twice and must return the
        same rows both times."""
        import duckdb

        unchecked = [n for n in self.order if n not in self.oracles]
        calls = list(self.order) + unchecked
        with ThreadPoolExecutor(self.WARMUP_THREADS) as pool:
            outs = list(
                pool.map(
                    lambda name: self.run.attempt(name, lambda: self._call(name).toPandas()),
                    calls,
                )
            )
        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dirs['data']}/{t}.parquet'")
        first = dict(zip(self.order, outs))
        for name, out in first.items():
            if out is None:
                continue
            self.expected_rows[name] = len(out)
            if name in self.oracles:
                expected = self.run.attempt(
                    f"{name} oracle", lambda: con.execute(self.oracles[name]).df()
                )
                if expected is not None:
                    self.run.check(f"{name} vs oracle", checks.mismatch(out, expected))
        con.close()
        for name, again in zip(unchecked, outs[len(self.order):]):
            if first[name] is not None and again is not None:
                same = checks.digest(first[name]) == checks.digest(again)
                self.run.check(f"{name} repeat", None if same else "output changed between calls")
        prep = first.get("pipeline_corpus_prep")
        if prep is not None:
            n_docs = datagen.table_sizes(self.sf)["documents"]
            self.survivor_ratio = float(prep["n_docs"].sum()) / n_docs

    def _op(self, name: str) -> bool:
        df = self._call(name)
        force(df)
        if name.startswith("streaming_"):
            # the runners return whatever their memory sink holds, even when
            # the stream stopped early; a short sink is a failed op
            rows = df.count()
            if rows != self.expected_rows.get(name):
                raise OpFailed(f"stream sink has {rows} rows, expected {self.expected_rows.get(name)}")
        return True

    def round(self) -> tuple[list[tuple[str, float]], float]:
        took = {}
        start = time.perf_counter()
        for name in self.order:
            t0 = time.perf_counter()
            if self.run.attempt(name, self._op, name):
                took[name] = time.perf_counter() - t0
        self.corpus_s.append(sum(took.get(n, 0.0) for n in self.CORPUS_CALLS))
        wall = time.perf_counter() - start
        log("round " + " ".join(f"{n}={t:.3f}" for n, t in took.items()))
        return list(took.items()), wall

    def traced_round(self, tracing: Tracing):
        from datalake_local_spark.llm import dedup

        before = dedup.plan_cache_stats()
        walls: dict[str, float] = {}
        with tracing.streams.active(), tracing.component_stats() as components:
            for name in self.order:
                took = self.run.attempt(
                    name, tracing.build_then_force, lambda: self._call(name), force
                )
                walls[name] = took or 0.0
        after = dedup.plan_cache_stats()
        wall = sum(walls.values())
        m = tracing.build_metrics()
        m.update(tracing.stream_metrics())
        m.update(
            {
                "pipeline.prepare_corpus_s": walls.get("pipeline_corpus_prep", 0.0),
                "dedup.substring_s": walls.get("dedup_substring_hashed", 0.0),
                "dedup.component_rounds": sum(s.get("rounds", 0) for s in components),
                "dedup.n_edges": sum(s.get("n_edges", 0) for s in components),
                "dedup.plan_cache_hits": after["hits"] - before["hits"],
                "dedup.plan_cache_misses": after["misses"] - before["misses"],
                "share.build_plan": (
                    m["entry.build_s"] + m["catalyst.optimization_s"] + m["catalyst.planning_s"]
                )
                / wall,
            }
        )
        return wall, m

    def workload_metrics(self) -> dict[str, float]:
        corpus_s = statistics.median(self.corpus_s) if self.corpus_s else 0.0
        return {
            "corpus_mb_per_s": self.corpus_mb / corpus_s if corpus_s else 0.0,
            "pipeline.survivor_ratio": self.survivor_ratio,
        }


# --------------------------------------------------------- landing_ingest

_SALES = "SELECT name_farm, n_animales, documento_salida FROM {}"
_ORDERS = "SELECT o_orderkey, o_orderpriority, o_totalprice FROM {}"

READBACK = {
    "join": """
        SELECT o.o_orderpriority, count(*) AS n_lines, sum(s.n_animales) AS animals,
               round(sum(o.o_totalprice), 2) AS value
        FROM sales s JOIN orders o ON s.documento_salida = o.o_orderkey
        GROUP BY o.o_orderpriority""",
    "aggregate": """
        SELECT name_farm, count(*) AS n_lines, sum(n_animales) AS animals,
               max(documento_salida) AS last_doc
        FROM sales GROUP BY name_farm""",
    "window": """
        SELECT name_farm, documento_salida, n_animales FROM (
            SELECT name_farm, documento_salida, n_animales,
                   row_number() OVER (PARTITION BY name_farm
                                      ORDER BY n_animales DESC, documento_salida DESC) AS rn
            FROM sales) WHERE rn <= 3""",
}

#: bucket of the landing zone -> source kind that ingests it
_KIND = {"ventas": "csv", "pedidos": "json", "catalogo": "xlsx"}


class LandingIngest(Workload):
    """The write path: ``ingest_landing`` of a generated landing zone into
    a fresh warehouse, then read-back queries over the managed tables.
    A round is one such pass; its ops are the read-backs, and its wall
    includes the ingest."""

    name = "landing_ingest"
    #: the first round after the warm-up still runs 10-20% slower than the
    #: next ones (the JIT is still compiling), so two rounds would leave
    #: ``round_s`` to the second alone
    MIN_ROUNDS = 3
    #: a set-up here takes about 0.2 s and varies by a third within a run,
    #: so more of them keep the median steady at little cost
    SETUPS = 9

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.root = os.path.join(self.dirs["data"], "landing")
        self.manifest: dict = {}
        self.expected: dict = {}
        self.input_bytes = 0
        self.rows = 0
        self.ingest_s: list[float] = []
        self.readback_s: list[float] = []
        self.stored_bytes = 0

    def generate(self) -> None:
        import duckdb
        import pandas as pd

        sf = 0.001 if self.smoke else 0.005
        tables = datagen.make_tables(sf, self.seed, names=["part", "supplier", "orders", "lineitem"])
        self.manifest = datagen.write_landing_zone(self.root, tables, self.seed)
        self.input_bytes = datagen.landing_bytes(self.root)
        self.rows = sum(self.manifest["counts"].values())
        con = duckdb.connect()
        con.register("sales", pd.DataFrame(self.manifest["sales"]))
        con.register("orders", pd.DataFrame(self.manifest["orders"]))
        self.expected = {k: con.execute(q).df() for k, q in READBACK.items()}
        con.close()

    def _reset_warehouse(self) -> None:
        for db in self.spark.catalog.listDatabases():
            if db.name != "default":
                self.spark.sql(f"DROP DATABASE {db.name} CASCADE")
        for entry in os.listdir(self.dirs["warehouse"]):
            shutil.rmtree(os.path.join(self.dirs["warehouse"], entry), ignore_errors=True)

    def stage(self, spark):
        """Open the provenance catalog (``info`` database and tables), the
        set-up the first ingest into a new warehouse pays."""
        from datalake_local_spark.catalog import InfoCatalog

        super().stage(spark)
        InfoCatalog(spark)

    def _ingest(self) -> dict[str, int]:
        from datalake_local_spark.sources import landing

        written = landing.ingest_landing(self.spark, self.root)
        if written != self.manifest["counts"]:
            raise OpFailed(f"ingested {written}, expected {self.manifest['counts']}")
        return written

    def _views(self) -> None:
        counts = self.manifest["counts"]
        for view, bucket, sql in (("sales", "ventas", _SALES), ("orders", "pedidos", _ORDERS)):
            parts = [sql.format(t) for t in sorted(counts) if t.startswith(bucket + ".")]
            self.spark.sql(" UNION ALL ".join(parts)).createOrReplaceTempView(view)

    def _readback(self, key: str) -> bool:
        out = self.spark.sql(READBACK[key]).toPandas()
        problem = checks.mismatch(out, self.expected[key])
        if problem is not None:
            raise OpFailed(f"read-back {key}: {problem}")
        return True

    def _stored(self) -> tuple[int, int]:
        """(data files in the warehouse, bytes of the ingested tables')."""
        files = size = 0
        for dirpath, _dirs, names in os.walk(self.dirs["warehouse"]):
            for n in names:
                if n.startswith((".", "_")):
                    continue
                files += 1
                if not os.path.relpath(dirpath, self.dirs["warehouse"]).startswith("info.db"):
                    size += os.path.getsize(os.path.join(dirpath, n))
        return files, size

    def warm_up(self) -> None:
        self.round()
        self.ingest_s.clear()
        self.readback_s.clear()

    def round(self) -> tuple[list[tuple[str, float]], float]:
        self._reset_warehouse()
        start = time.perf_counter()
        if self.run.attempt("ingest_landing", self._ingest) is None:
            return [], time.perf_counter() - start
        self.ingest_s.append(time.perf_counter() - start)
        self.stored_bytes = self._stored()[1]
        self._views()
        lat = []
        for key in READBACK:
            t0 = time.perf_counter()
            if self.run.attempt(f"read-back {key}", self._readback, key):
                lat.append((key, time.perf_counter() - t0))
        self.readback_s += [t for _, t in lat]
        return lat, time.perf_counter() - start

    def traced_round(self, tracing: Tracing):
        from datalake_local_spark import catalog
        from datalake_local_spark.sources import csv_lines, excel, json_source, landing

        targets = {
            "discover": (landing, "discover_landing"),
            "csv": (csv_lines, "ingest_csv_lines"),
            "json": (json_source, "ingest_json"),
            "excel": (excel, "ingest_excel_file"),
            "save": (catalog.InfoCatalog, "save_ingested"),
            "register": (catalog.InfoCatalog, "register_table"),
            "log": (catalog.InfoCatalog, "log_operation"),
        }
        self._reset_warehouse()
        start = time.perf_counter()
        with tracing.calls.patched(targets), tracing.groups.span("ingest"):
            written = self.run.attempt("ingest_landing", self._ingest) or {}
        self._views()
        for key in READBACK:
            with tracing.groups.span("readback"):
                self.run.attempt(f"read-back {key}", self._readback, key)
        wall = time.perf_counter() - start
        sec, calls = tracing.calls.seconds, tracing.calls.calls
        rows = {kind: 0 for kind in _KIND.values()}
        for fqn, n in written.items():
            rows[_KIND[fqn.split(".")[0]]] += n
        m = {
            "sources.discover_s": sec["discover"],
            "sources.csv_s": sec["csv"],
            "sources.json_s": sec["json"],
            "sources.excel_s": sec["excel"],
            "sources.rows.csv": rows["csv"],
            "sources.rows.json": rows["json"],
            "sources.rows.xlsx": rows["xlsx"],
            "catalog.save_ingested_s": sec["save"],
            "catalog.bookkeeping_s": sec["register"] + sec["log"],
            "catalog.bookkeeping_calls": calls["register"] + calls["log"],
            "catalog.files_written": self._stored()[0],
        }
        m["share.sources_catalog"] = sum(sec.values()) / wall
        return wall, m

    def workload_metrics(self) -> dict[str, float]:
        return {
            "ingest_rows_per_s": self.rows / statistics.median(self.ingest_s) if self.ingest_s else 0.0,
            "readback_p50_s": statistics.median(self.readback_s) if self.readback_s else 0.0,
            "stored_bytes_per_input_byte": self.stored_bytes / self.input_bytes,
        }


WORKLOADS = {w.name: w for w in (QueryMix, LandingIngest)}
