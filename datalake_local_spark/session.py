"""SparkSession + testdata table registry.

The reference exposes its tables through a Trino catalog over Postgres
(trino/conf/trino/catalog/my_catalog.properties:1-4); here the warehouse is
native Spark — tables are Parquet scans registered as temp views, so every
query gets Catalyst pushdown/pruning for free.

Scale notes (100 TB): the same code runs unchanged on a cluster master; the
only local-mode specifics are the shuffle-partition count (set ≈ cores here,
≈ 2-3× total cores on a cluster) and driver memory. AQE is enabled so
partition coalescing / skew-join splitting re-tunes at runtime.
"""

from __future__ import annotations

import logging
import os
import re
import threading
import weakref

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)

# Optimized-logical-plan NODE probes for fan_out: each tree line starts
# with the node name after the branch glyphs (spaces, ':-', '+-', '!'),
# so anchoring there distinguishes a Join/Aggregate/Repartition NODE from
# a column or relation that merely contains the word (e.g. a `JoinKey`
# column must not disable the pure-scan fast path — r14 ADVICE).
_PLAN_NODE_REPARTITION = re.compile(r"(?m)^[ :+!-]*Repartition")
_PLAN_NODE_EXCHANGE = re.compile(r"(?m)^[ :+!-]*(?:Join|Aggregate)\b")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables that are bounded (catalog-sized) even at 100 TB scale —
#: always safe to broadcast. customer/part/supplier grow with SF, so they are
#: NOT in this list; AQE decides for them based on runtime size.
BOUNDED_DIMS = ("region", "nation")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "datalake_local_spark",
    cpus: str | None = None,
    warehouse_dir: str | None = None,
) -> SparkSession:
    """Build a local session tuned for the test harness.

    On a real cluster you would drop ``master`` and memory settings and keep
    only the SQL configs (AQE, UTC timezone, Arrow). ``warehouse_dir`` must
    be set at build time — it is immutable once the session exists.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder
    if warehouse_dir is not None:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    return (
        builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def configure(spark: SparkSession) -> SparkSession:
    """Apply session-level configs that matter for oracle parity on a session
    we did not build (the driver passes its own)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # The driver-generated testdata has carried two timestamp encodings
    # across rounds: TIMESTAMP(NANOS) (rejected by the parquet reader by
    # default — read nanos as long and convert in _read_parquet) and
    # naive micros (isAdjustedToUTC=false, which Spark 3.4+ infers as
    # TIMESTAMP_NTZ — unusable for streaming watermarks and a semantics
    # change for every oracle). Disable NTZ inference so naive micros
    # read as TIMESTAMP interpreted in the UTC session zone — the same
    # values DuckDB sees.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Right-size shuffles when running under a session we didn't build
    # (e.g. the driver's): the Spark default of 200 over-parallelizes local
    # runs; AQE coalesces, but a sane ceiling avoids tiny-task overhead.
    try:
        defaultism = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:  # a non-integer setting (e.g. a platform's "auto") is kept
        defaultism = 0
    if defaultism >= 200:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_CPUS", "32"),
        )
    return spark


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan that tolerates TIMESTAMP(NANOS) columns: nanos come in
    as longs (legacy conf above) and are converted to proper timestamps
    (integer division — no double rounding). Timestamp filters then apply
    post-scan; at scale, rewrite such data to µs-precision parquet once and
    regain native pushdown."""
    ns_cols = [
        f.name
        for f in pq.read_schema(path)
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


#: Memo of already-registered table dicts. Every ``queries()`` call goes
#: through ``load_tables``; without this each call re-reads 10 parquet
#: footers (pyarrow schema probe for nanos columns), re-sets the session
#: confs and re-registers 10 temp views — pure fixed overhead. Keyed by
#: sf_dir with the owning session held WEAKLY (the DataFrames in the
#: value still pin the JVM session, so dead entries are also swept
#: eagerly on every call): a hit requires the SAME live session object
#: (temp views are per-session state), anything else rebuilds. Guarded
#: by a lock — ``queries()`` callables may run from threads. Bounded by
#: the number of distinct sf_dirs.
_TABLES_MEMO: dict[str, tuple["weakref.ref[SparkSession]", dict[str, DataFrame]]] = {}
_TABLES_MEMO_LOCK = threading.Lock()


def _session_alive(spark: SparkSession) -> bool:
    try:
        return not spark._jsparkSession.sparkContext().isStopped()
    except Exception:
        return False


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every testdata parquet as a temp view; return name → DataFrame.

    Plain ``spark.read.parquet`` scans: Catalyst pushes predicates and prunes
    columns into the parquet reader (verify with ``.explain`` → PushedFilters
    / ReadSchema), which is exactly the pushdown the reference got from the
    Trino postgresql connector.

    Memoized per (session, sf_dir): repeat calls return the registered
    dict without re-touching the filesystem (``configure`` is still
    re-applied on every hit — conf-only, cheap — so session-conf drift
    between calls is re-asserted). The testdata parquet is immutable
    within a run; call ``load_tables_fresh`` if files were rewritten in
    place.
    """
    key = os.path.abspath(sf_dir)
    with _TABLES_MEMO_LOCK:
        # eager sweep: entries whose owning session died keep JVM-backed
        # DataFrames reachable — drop them regardless of which key hit
        for k in [
            k
            for k, (ref, _) in _TABLES_MEMO.items()
            if (owner := ref()) is None or not _session_alive(owner)
        ]:
            _TABLES_MEMO.pop(k, None)
        entry = _TABLES_MEMO.get(key)
        if entry is not None:
            owner, tables = entry[0](), entry[1]
            if owner is spark:
                configure(spark)
                # re-assert the TEMP VIEWS on every hit: view names are
                # session-GLOBAL while the memo is per-sf_dir, so a
                # later load_tables(other_sf) on the same session
                # re-points "orders" etc. at the other SF — a memo hit
                # that skipped re-registration then let spark.sql()
                # queries silently read the wrong scale factor (bit as
                # an order-dependent pytest failure in r13:
                # sql_groupby_all after test_llm's sf0.01 load).
                # createOrReplaceTempView on a cached DataFrame is a
                # catalog-only op — no filesystem re-probe.
                for name, df in tables.items():
                    df.createOrReplaceTempView(name)
                return tables
            _TABLES_MEMO.pop(key, None)
    tables = load_tables_fresh(spark, sf_dir)
    with _TABLES_MEMO_LOCK:
        _TABLES_MEMO[key] = (weakref.ref(spark), tables)
    return tables


def load_tables_fresh(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Uncached ``load_tables``: re-probe footers and re-register views."""
    configure(spark)
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = _read_parquet(spark, path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Explicit pre-expansion repartition for row-multiplying pipelines
    (explode / sequence / n-gram / shingle generators).

    Parquet splits only at ROW-GROUP boundaries, so a small input (one
    row group) lands in ~one task and a ×K generator stage runs serial
    while the rest of the cluster idles; AQE cannot help because the
    over-density appears MID-STAGE, after partition bounds are fixed,
    and its small-partition coalescing would merge the tiny
    pre-expansion bytes right back — hence an EXPLICIT partition count
    (cluster default parallelism), which AQE respects. Applied only
    when the input is under-partitioned: an already-parallel scan (any
    real multi-row-group dataset at scale) passes through untouched,
    so this never shrinks or reshuffles a 100 TB input.

    Measured (sf0.1, 32 cores, best-of-2): dq_bootstrap_ci 3.2→0.72 s,
    text_cm_heavy_hitters 2.8→1.0 s, text_segment_dedup 2.3→0.94 s,
    sim_knn_label_transfer 2.0→0.99 s — the ×K row multiplier is the
    map-side bottleneck exactly when the input is small enough to be
    one row group.

    Probe discipline (review-pass findings, measured):

    - A frame whose plan already carries an explicit Repartition (a
      caller that fanned out once for several consumers, e.g.
      rrf_rank_fusion) is detected from the OPTIMIZED LOGICAL plan —
      a string probe, no execution. Probing ``.rdd`` instead would be
      a real job: under AQE, RDD conversion materializes every
      shuffle stage, so the "metadata" read of a repartitioned frame
      ran a full throwaway shuffle (measured 0.78 s at sf0.1).
    - For file-scan-rooted frames (no exchange anywhere, so ``.rdd``
      IS a free metadata probe) the byte-split count alone
      OVERSTATES parallelism: Spark assigns a row group to the one
      split holding its midpoint, so a large single-row-group file
      yields N splits of which N−1 are empty. Effective parallelism
      is min(byte splits, parquet row groups) — row groups counted
      from file footers via pyarrow (bounded metadata, no job;
      non-parquet and remote files fall back to the split count,
      correct for line-splittable formats).
    - Exchange-bearing plans that are NOT a pure scan (a Join or
      Aggregate upstream, so ``inputFiles()`` is non-empty but
      ``.rdd`` would materialize every shuffle stage under AQE)
      repartition unconditionally, same as derived frames: the
      caller's fan_out placement signals a following ×K multiplier,
      and a tiny post-shuffle output is exactly the AQE-coalesced
      shape that would run it serial. When such an input is genuinely
      large the extra exchange is same-size — callers at scale should
      not wrap fan_out around an already-shuffled big relation, and
      none do (fan_out's contract is raw-scan-rooted inputs).
    - Derived frames (no input files, e.g. createDataFrame in tests)
      repartition unconditionally — probing them would execute.
    - The footer loop is driver-side O(files) in the worst case but
      EXITS EARLY the moment row groups reach the parallelism target
      (min(splits, groups) ≥ par is then settled), and is skipped
      entirely when the byte-split count alone already forces a
      repartition — at 100 TB / ~10⁵ files the typical cost is a
      handful of footers, not a full metadata sweep."""
    par = df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # Node-name probes anchor to the start of each tree line (after the
    # ``:-``/``+-`` branch glyphs) so a column or relation literally named
    # e.g. ``JoinKey`` in an expression list cannot be mistaken for a plan
    # node (r14 ADVICE).
    if _PLAN_NODE_REPARTITION.search(plan):  # already fanned out upstream
        return df
    files = df.inputFiles()
    pure_scan = bool(files) and not _PLAN_NODE_EXCHANGE.search(plan)
    if pure_scan:
        splits = df.rdd.getNumPartitions()  # scan-rooted: no exchange → free
        if splits >= par:
            # byte splits suffice only if row groups do too: a large
            # single-row-group file shows N splits with N−1 empty
            groups = 0
            complete = True
            try:
                for f in files:
                    local = f[7:] if f.startswith("file://") else f
                    if not local.endswith(".parquet") or not os.path.exists(
                        local
                    ):
                        complete = False  # non-parquet/remote → trust splits
                        break
                    groups += pq.ParquetFile(local).metadata.num_row_groups
                    if groups >= par:
                        break  # early exit: effective parallelism settled
            except Exception:
                complete = False  # footer unreadable → trust the split count
            if not complete or groups >= par:
                return df
    elif files:
        # Exchange-bearing input with real scan files: the documented
        # contract is raw-scan-rooted frames, so this forced repartition
        # is an extra full exchange the caller probably didn't intend —
        # surface contract violations at small scale (r14 ADVICE).
        _LOG.debug(
            "fan_out: forcing repartition(%d) on an exchange-bearing "
            "plan (Join/Aggregate upstream of %d input files); callers "
            "should fan out the raw scan instead",
            par,
            len(files),
        )
    return df.repartition(par, *[F.col(k) for k in keys])
