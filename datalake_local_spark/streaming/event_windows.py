"""Event-time window operators over ``events(event_id, ts, user_id,
event_type, value, props)``.

Batch and streaming variants share the same logical shape; the streaming
ones add watermarks for bounded state. Scale notes: tumbling/sliding
windows shuffle on (window, key) — state per open window only; the
sessionizer's batch form is two window functions over one (user) shuffle.
"""

from __future__ import annotations

import contextlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter


def _stream_session(spark: SparkSession, shuffle_partitions: str = "2") -> SparkSession:
    """Child session (shared SparkContext + catalog, private SQLConf) for
    one streaming run — streaming-specific conf never leaks into batch
    queries planned concurrently in the caller's session.

    Shuffle partitions are sized to the state, not the batch default:
    each state-store partition pays checkpoint/commit I/O per
    micro-batch — and that commit cost scales with PARTITION COUNT,
    not state size (r12 measurement, sf0.1 tumbling agg, idle host:
    8 partitions → ~3.2 s summed commitTimeMs / 2.9-5.4 s wall;
    2 partitions → ~0.1-0.2 s commit / 1.0-1.2 s wall — each
    HDFS-backed store commit pays file-create+fsync+rename regardless
    of how few state rows it carries). The harness aggregates hold
    10³-10⁴ state rows, so 2 partitions is the right size; callers
    with Python-stateful operators (applyInPandasWithState — executor
    Python parallelism, not commit I/O, is their bottleneck) or
    stream-stream joins (state on both sides) pass a higher count
    explicitly. The partition count is pinned into the checkpoint at
    first start; these queries use fresh checkpoints, making the
    setting safe. At production scale, size it to key cardinality ÷
    target state-per-partition instead (and keep it stable across
    restarts — it cannot change under an existing checkpoint)."""
    sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", shuffle_partitions)
    # timestamp-encoding tolerance, same two confs as session.configure():
    # nanos read as long + converted; naive micros read as TIMESTAMP in
    # the UTC session zone (NTZ would break withWatermark)
    sub.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sub.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    sub.conf.set("spark.sql.session.timeZone", "UTC")
    return sub


def _run_available_now(
    writer: DataStreamWriter, timeout: float = 120, checkpoint_dir: str | None = None
) -> None:
    """Run a configured stream writer (sink, output mode, query name) over
    its whole input — ``trigger(availableNow=True)`` with a checkpoint in
    ``checkpoint_dir`` (a fresh temporary directory by default) — and
    wait for it to finish. The query is stopped either way. A query that
    has not finished after ``timeout`` seconds raises TimeoutError: its
    sink holds a partial result, which must never be returned as the
    answer. A query that failed re-raises its failure
    (``awaitTermination`` throws the StreamingQueryException)."""
    ckpt_ctx = (
        tempfile.TemporaryDirectory()
        if checkpoint_dir is None
        else contextlib.nullcontext(checkpoint_dir)
    )
    with ckpt_ctx as ckpt:
        q = writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        try:
            finished = q.awaitTermination(timeout)
        finally:
            q.stop()
        if not finished:
            raise TimeoutError(
                f"streaming query {q.name or q.id} did not finish within "
                f"{timeout} s; its sink holds a partial result"
            )


def _open_events_stream(sub: SparkSession, sf_dir: str, glob: str = "events.parquet") -> DataFrame:
    """File-source stream over one parquet table (directory source +
    pathGlobFilter), with the nanos→timestamp conversion applied."""
    from pyspark.sql import types as T

    schema_path = sf_dir if any(ch in glob for ch in "*?[") else f"{sf_dir}/{glob}"
    schema = sub.read.parquet(schema_path).schema
    stream = sub.readStream.schema(schema).option("pathGlobFilter", glob).parquet(sf_dir)
    if isinstance(schema["ts"].dataType, T.LongType):
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return stream


def tumbling_window_counts(events: DataFrame, minutes: int = 10) -> DataFrame:
    """Tumbling event-time window aggregate (batch form of the streaming
    query below — identical results on static input)."""
    return (
        events.groupBy(
            F.window("ts", f"{minutes} minutes").alias("win"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_window_counts(events: DataFrame, length_min: int = 10, slide_min: int = 5) -> DataFrame:
    """Sliding window: each event lands in length/slide windows."""
    return (
        events.groupBy(F.window("ts", f"{length_min} minutes", f"{slide_min} minutes").alias("win"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("win.start").alias("win_start"), "n_events", "sum_value")
    )


def forward_fill_values(events: DataFrame) -> DataFrame:
    """Time-series forward fill: sparse measurements (here: `value` is
    considered missing on error events) carried forward per user via
    last-non-null over an ordered window (IGNORE NULLS) — one shuffle on
    the user key, streamed in sort order."""
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    sparse = F.when(F.col("event_type") != "error", F.col("value"))
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.round(sparse, 4).alias("sparse_value"),
        F.round(F.last(sparse, ignorenulls=True).over(w), 4).alias("filled_value"),
    )


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization, batch form: lag → new-session flag →
    running sum = session id → per-session aggregate. One shuffle on
    user_id shared by both windows."""
    w = W.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    # micros-precision gap (cast('long') truncates to whole seconds and
    # would diverge from the oracle's exact epoch() on sub-second data)
    gap_us = gap_minutes * 60 * 1_000_000
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    flagged = events.withColumn(
        "new_session",
        F.when(
            ts_us - F.lag(ts_us, 1, 0).over(w) > gap_us, 1
        ).otherwise(0),
    ).withColumn(
        "session_seq",
        F.sum(
            F.when(F.lag("ts", 1).over(w).isNull(), 1).otherwise(F.col("new_session"))
        ).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return flagged.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )


def run_streaming_sessionize(
    spark: SparkSession,
    sf_dir: str,
    gap_minutes: int = 30,
    query_name: str = "stream_sessions",
    state_store_provider: str | None = None,
) -> DataFrame:
    """Gap-based sessionization as an ACTUAL streaming query using the
    native ``session_window`` operator (watermark-bounded state; sessions
    merge as events arrive). On static input with availableNow this equals
    the batch lag/cumsum form minus the session ordinal.

    ``state_store_provider`` swaps the state-store backend for THIS run
    (private child-session conf): pass the RocksDB provider class to
    exercise the 100 TB state knob — HDFS-backed stores keep every
    state row on the executor HEAP (state size is bounded by executor
    memory), while RocksDB spills to local disk with changelog
    checkpointing, the production choice once session state outgrows
    RAM. Results must be IDENTICAL either way (the store is an engine
    detail, not semantics) — asserted by the rocksdb-vs-HDFS parity
    test and by this query's ANSI oracle running against both."""
    sub = _stream_session(spark)
    if state_store_provider:
        sub.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            state_store_provider,
        )
    stream = _open_events_stream(sub, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", f"{gap_minutes} minutes").alias("win"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select("user_id", "n_events", "session_start", "session_end", "session_value")
    )
    _run_available_now(
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name),
    )
    return sub.table(query_name)


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def run_streaming_sessionize_rocksdb(
    spark: SparkSession,
    sf_dir: str,
    gap_minutes: int = 30,
    query_name: str = "stream_sessions_rocksdb",
) -> DataFrame:
    """The sessionize query on the RocksDB state store — the real
    100 TB state configuration (state spills to executor-local disk
    instead of living on the heap; changelog checkpointing bounds
    per-batch upload to the delta). Same plan, same rows: certified by
    the streaming_sessionize ANSI oracle independently AND by a
    parity test against the HDFS-backed twin (r13/r14 verdict #7/#8)."""
    return run_streaming_sessionize(
        spark,
        sf_dir,
        gap_minutes=gap_minutes,
        query_name=query_name,
        state_store_provider=ROCKSDB_PROVIDER,
    )


def run_streaming_session_dynamic_gap(
    spark: SparkSession,
    sf_dir: str,
    error_gap_minutes: int = 10,
    gap_minutes: int = 30,
    query_name: str = "stream_sessions_dynamic",
) -> DataFrame:
    """Dynamic-gap sessionization: ``session_window(ts, CASE ...)`` —
    each EVENT carries its own inactivity gap (SPARK-36465), here a
    tighter window after error events (an error should close its
    session quickly; normal activity keeps the relaxed gap). The
    engine merges the per-event intervals [ts, ts + gap) per key, so a
    session's end is the RUNNING MAX of event ends, not last_ts + a
    constant — semantics a fixed-gap sessionizer cannot express.

    ANSI oracle (DuckDB emulation): a new session starts where
    epoch_us(ts) > max(epoch_us(prev ts) + prev gap) over all
    preceding events of the key (running-max window), session_end =
    max event end within the session — certified hash-exact. The
    inequality is STRICT because the engine's merge is end-INCLUSIVE
    (probed empirically: an event landing exactly on the current
    session end merges — [ts, ts+gap] for merging purposes, matching
    the fixed-gap convention diff > gap ⇒ new session).

    State/scale shape: identical to fixed-gap session_window —
    watermark-bounded per-key session state, shuffle on user_id; the
    CASE gap is evaluated row-side before state, costing nothing
    extra."""
    sub = _stream_session(spark)
    stream = _open_events_stream(sub, sf_dir)
    gap = F.when(
        F.col("event_type") == "error", F.lit(f"{error_gap_minutes} minutes")
    ).otherwise(F.lit(f"{gap_minutes} minutes"))
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )
    _run_available_now(
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name),
    )
    return sub.table(query_name)


def run_streaming_stateful_counter(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_stateful"
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running event count + running value sum maintained in explicit
    state across micro-batches — the escape hatch for operators the built-in
    window/aggregation surface can't express (SURVEY §2.6 net-new).

    State per key is two numbers → bounded; at scale state lives in the
    checkpointed state store partitioned by user_id.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    sub = _stream_session(spark, "8")
    stream = _open_events_stream(sub, sf_dir)

    output_schema = "user_id bigint, n_events bigint, total_value double"
    state_schema = "n bigint, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    out = stream.groupBy("user_id").applyInPandasWithState(
        update, output_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    _run_available_now(
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name),
    )
    return sub.table(query_name)


def run_streaming_transform_with_state(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_tws"
) -> DataFrame:
    """The same per-user running counter as ``run_streaming_stateful_counter``
    on Spark 4's ``transformWithStateInPandas`` — the successor stateful
    API (SPARK-40434 groupState → StatefulProcessor): typed state
    handles (getValueState), explicit init/close lifecycle, timers, and
    the RocksDB state store (required by the API; at scale that is also
    the right provider — state spills to disk instead of executor heap,
    with changelog checkpointing). Output contract matches the
    applyInPandasWithState version row-for-row.

    ENV-GATED: the API's driver worker needs ``google.protobuf``, which
    this container lacks (no pip) — callers get an explicit ImportError
    instead of an opaque worker crash; the gated test skips without it.
    The applyInPandasWithState twin above is the driver-certified
    surface (oracle: streaming_stateful_counter)."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "transformWithStateInPandas requires google.protobuf (absent here); "
            "use run_streaming_stateful_counter (applyInPandasWithState) instead"
        ) from e
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    sub = _stream_session(spark, "8")
    sub.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = _open_events_stream(sub, sf_dir)

    class RunningCounter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n bigint, total double")

        def handleInputRows(self, key, rows, timerValues):
            n, total = self._agg.get() if self._agg.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._agg.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
            )

        def close(self) -> None:
            pass

    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningCounter(),
        outputStructType="user_id bigint, n_events bigint, total_value double",
        outputMode="Update",
        timeMode="None",
    )
    _run_available_now(
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name),
    )
    return sub.table(query_name)


def run_streaming_sliding(
    spark: SparkSession,
    sf_dir: str,
    length_min: int = 10,
    slide_min: int = 5,
    query_name: str = "stream_sliding",
) -> DataFrame:
    """Sliding event-time window as a streaming query — each event lands
    in length/slide overlapping windows; state per open window, expired by
    the watermark. Equals the batch sliding aggregate on static input."""
    sub = _stream_session(spark)
    stream = _open_events_stream(sub, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", f"{length_min} minutes", f"{slide_min} minutes").alias("win"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("win.start").alias("win_start"), "n_events", "sum_value")
    )
    _run_available_now(
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name),
    )
    return sub.table(query_name)


def run_streaming_dedup(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_dedup"
) -> DataFrame:
    """Streaming deduplication: ``dropDuplicatesWithinWatermark`` on a
    business key — the streaming counterpart of exact dedup (at-least-once
    sources re-deliver; the op suppresses re-deliveries while the key is
    inside the watermark, so state stays bounded, unlike plain
    dropDuplicates whose state grows forever). Output restricted to the
    key columns → deterministic, equals batch DISTINCT on static input."""
    sub = _stream_session(spark)
    stream = _open_events_stream(sub, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    _run_available_now(
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name),
    )
    return sub.table(query_name)


def _click_purchase_streams(sub: SparkSession, sf_dir: str, watermark: str = "2 hours"):
    """The two sides every stream-stream join variant shares: clicks and
    purchases split from the events stream, each with its own event-time
    watermark so join state expires."""

    def _stream():
        return _open_events_stream(sub, sf_dir)

    clicks = (
        _stream()
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        _stream()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks, purchases


def _interval_join_cond(within_minutes: int):
    """Same-user purchase within the following ``within_minutes``. The
    range condition must be direct timestamp-interval arithmetic so
    Spark's unsupported-operation check recognizes it as an event-time
    bound and can expire join state (micros-exact, same as the oracle)."""
    return (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {within_minutes} MINUTES")
        )
    )


def run_streaming_semi_join(
    spark: SparkSession, sf_dir: str, within_minutes: int = 60, query_name: str = "stream_semi"
) -> DataFrame:
    """LEFT SEMI stream-stream join: clicks that CONVERTED (a same-user
    purchase within the following hour) — the streaming form of funnel
    step filtering. A semi join emits the left row as soon as its first
    match arrives and never emits unmatched rows, so unlike outer joins
    its availableNow result does not depend on how far the final
    watermark advances past the stream tail: on static input it equals
    the batch LEFT SEMI theta-join exactly → hash oracle. State: left
    rows buffer only until matched or expired by the event-time bound;
    same 2-partition two-store sizing as the inner variant
    (see run_streaming_stream_join for the r12 commit-cost measurements).

    Because every emission happens in the batch its match arrives in,
    the trailing NO-DATA micro-batch (whose only job is advancing the
    watermark to evict state — output-relevant for outer joins and
    append-mode aggregations, NOT here) is pure overhead on a draining
    availableNow run: the r16 floor decomposition measured it at
    ~0.7 s of the 2.1-2.4 s wall (trigger 677 ms: addBatch 495 +
    planning ~100 + stateCommit 293 on an EMPTY batch). Disabling
    ``noDataMicroBatches`` in this run's child session halves the
    machinery floor with an identical result set; long-lived
    deployments of this query should leave it ON (state eviction is
    what bounds the stores between restarts)."""
    sub = _stream_session(spark, "2")
    sub.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    clicks, purchases = _click_purchase_streams(sub, sf_dir)
    joined = clicks.join(
        purchases, _interval_join_cond(within_minutes), "left_semi"
    ).select("click_id", F.col("c_user").alias("user_id"), "click_ts")
    _run_available_now(
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name),
        timeout=180,
    )
    return sub.table(query_name)


def run_streaming_outer_join(
    spark: SparkSession, sf_dir: str, within_minutes: int = 60, query_name: str = "stream_outer"
) -> DataFrame:
    """LEFT OUTER stream-stream join: every click, with its converting
    purchase when one exists within the hour. Matched pairs emit like
    the inner join; an UNMATCHED click emits with NULL purchase only
    once the global watermark proves no match can still arrive — i.e.
    when its state expires. Consequence on a finite stream: clicks in
    the TAIL (within watermark delay + join interval of the final
    watermark) stay in state when the query drains and are NOT emitted
    as unmatched — outer results near the stream end are withheld, not
    wrong (they'd emit when more data advanced the watermark). Under
    this harness the withheld set is DETERMINISTIC — the single-file
    source yields one data micro-batch (no mid-stream drops) and the
    final no-data batch advances the watermark to
    min(ms-truncated side maxima) - delay — so since r16 the query is
    fully oracle-backed: the DuckDB oracle replays the eviction bound
    (unmatched emits iff click_ts + interval < watermark, STRICT —
    both the boundary and ms-truncation probed empirically). The
    pytest invariants still pin the semantics: matched rows ≡ the
    inner join, every emitted NULL row is a true batch non-match, and
    every batch non-match older than the tail horizon IS emitted."""
    sub = _stream_session(spark, "2")
    clicks, purchases = _click_purchase_streams(sub, sf_dir)
    joined = clicks.join(
        purchases, _interval_join_cond(within_minutes), "left_outer"
    ).select(
        "click_id",
        F.col("c_user").alias("user_id"),
        "click_ts",
        "purchase_id",
        F.col("purchase_id").isNotNull().alias("converted"),
    )
    _run_available_now(
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name),
        timeout=180,
    )
    return sub.table(query_name)


def run_streaming_full_outer_join(
    spark: SparkSession, sf_dir: str, within_minutes: int = 60, query_name: str = "stream_fouter"
) -> DataFrame:
    """FULL OUTER stream-stream join (supported since Spark 3.1) —
    completes the stream-stream join-mode matrix (inner / semi /
    left-outer / full-outer): every conversion pair, every click that
    never converted, AND every purchase with no preceding click (the
    attribution blind spot a left join hides). Null-extended rows emit
    per side when that side's state expires under the global watermark.

    Deterministic under this harness (the r16 watermark-replay
    argument: one data micro-batch + the final no-data batch), with
    PER-SIDE eviction bounds probed empirically: an unmatched CLICK
    emits iff click_ts + interval < watermark (STRICT — the same bound
    as the left-outer run); an unmatched PURCHASE emits iff
    purchase_ts <= watermark (INCLUSIVE — a click at exactly the
    watermark cannot match it because the join needs
    click_ts < purchase_ts, so the state is already safe). Both
    boundary cases (== wm and wm ± 1 unit) probed; the oracle replays
    them exactly."""
    sub = _stream_session(spark, "2")
    clicks, purchases = _click_purchase_streams(sub, sf_dir)
    joined = clicks.join(
        purchases, _interval_join_cond(within_minutes), "full_outer"
    ).select(
        "click_id",
        F.coalesce("c_user", "p_user").alias("user_id"),
        "click_ts",
        "purchase_id",
        "purchase_ts",
    )
    _run_available_now(
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name),
        timeout=180,
    )
    return sub.table(query_name)


def run_streaming_right_outer_join(
    spark: SparkSession, sf_dir: str, within_minutes: int = 60, query_name: str = "stream_router"
) -> DataFrame:
    """RIGHT OUTER stream-stream join — the matrix-symmetric partner of
    the left-outer run (r17: inner / semi / left-outer / right-outer /
    full-outer all certified): every purchase with each same-user click
    that could have driven it within the preceding hour, plus purchases
    with NO such click (the un-attributed revenue a click-side join
    never surfaces). Matched pairs emit in the data batch; an unmatched
    purchase null-extends only when its join state expires under the
    global watermark — the INCLUSIVE ``purchase_ts <= wm`` bound the
    full-outer run probed empirically (a click AT the watermark cannot
    match it because the join needs click_ts < purchase_ts), so on this
    harness (single-file source → one data micro-batch + the final
    no-data watermark advance) the result is deterministic and fully
    oracle-backed by the same watermark-replay argument as the
    left-outer conversion. noDataMicroBatches stays ON: the trailing
    batch IS what advances the watermark and emits the null-extended
    tail — the drain optimization of the match-time-emission joins
    (semi/inner) must NOT be applied here.

    State sizing and scale posture: identical to the other outer
    variants — both sides keyed by user, expiry driven per side by the
    event-time bound; at 1000 executors the join parallelism follows
    ``spark.sql.shuffle.partitions`` and the state store count, and the
    eviction bound keeps per-key state at O(interval × rate), not
    O(history)."""
    sub = _stream_session(spark, "2")
    clicks, purchases = _click_purchase_streams(sub, sf_dir)
    joined = clicks.join(
        purchases, _interval_join_cond(within_minutes), "right_outer"
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "purchase_ts",
        "click_id",
        "click_ts",
        F.col("click_id").isNotNull().alias("attributed"),
    )
    _run_available_now(
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name),
        timeout=180,
    )
    return sub.table(query_name)


def run_streaming_stream_join(
    spark: SparkSession, sf_dir: str, within_minutes: int = 60, query_name: str = "stream_join"
) -> DataFrame:
    """Stream-stream inner join with event-time range condition: clicks
    joined to the same user's purchases within the following hour. Both
    sides carry watermarks so the join state expires (the unbounded-state
    trap of stream-stream joins); the time-range predicate bounds how long
    a click waits for a matching purchase. On static input with
    availableNow this equals the batch theta-join — oracle-checked.

    State partitions: the join keeps two state stores per partition
    (left and right buffers) and the commit cost scales with the
    store count, not the state volume (see ``_stream_session``) — r12
    measurement at sf0.1: 4 partitions → 4.1-8.4 s wall / 2.3-3.1 s
    summed commitTimeMs; 2 partitions → 2.8-3.4 s wall / ~0.6 s
    commit. At production scale size to join-state volume instead,
    and keep it stable under the checkpoint.

    Inner-join emission is match-time, so the trailing no-data
    micro-batch only evicts state — disabled here for the draining
    availableNow run (same adjudication as run_streaming_semi_join,
    r16 floor decomposition in SCALE.md); keep it on in long-lived
    deployments."""
    sub = _stream_session(spark, "2")
    sub.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    clicks, purchases = _click_purchase_streams(sub, sf_dir)
    joined = clicks.join(
        purchases, _interval_join_cond(within_minutes)
    ).select("click_id", "purchase_id", F.col("c_user").alias("user_id"))
    _run_available_now(
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name),
        timeout=180,
    )
    return sub.table(query_name)


def run_streaming_static_enrich(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_static_enrich"
) -> DataFrame:
    """Stream-STATIC join — the enrichment pattern stream-stream joins
    don't cover: each micro-batch of the events stream joins a static
    dimension (customer → market segment) planned as a regular batch
    relation, so the join is STATELESS (no watermarks, no join-state
    stores — the static side is re-resolved per micro-batch, which is
    also why a slowly-changing dim picks up updates between batches).
    No broadcast hint: streaming plans skip AQE but the static side
    still goes through the size-estimate broadcast rule — customer
    broadcasts while it fits, shuffles when an SF-scaled deploy
    outgrows the threshold. Aggregate output (segment × event_type) is
    the oracle-checkable batch equivalent under availableNow."""
    sub = _stream_session(spark)
    stream = _open_events_stream(sub, sf_dir)
    customer = sub.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        stream.join(customer, "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    _run_available_now(
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name),
    )
    return sub.table(query_name)


def run_streaming_foreachbatch_upsert(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "stream_fbu",
    source_glob: str = "events.parquet",
    checkpoint_dir: str | None = None,
    n_buckets: int = 8,
) -> DataFrame:
    """foreachBatch sink — the streaming write path into managed tables
    (the reference's S7 JDBC sink + D3 INSERT loop, streaming-shaped and
    batched). The sink table is PARTITIONED by ``bucket = user_id %
    n_buckets``; each micro-batch merges its per-user delta into ONLY the
    buckets its users hash to (read touched buckets via partition
    pruning, re-aggregate, dynamic-partition-overwrite them back).
    Untouched bucket directories keep their files byte-for-byte — per-
    batch cost is O(touched state), not O(table), so a long-running
    stream no longer degrades with table size. A terminal localCheckpoint
    keeps the overwrite from lazily reading its own truncated source.
    Final table state equals the one-shot batch aggregate —
    oracle-checked. On a lakehouse format the same step is MERGE INTO;
    bucket-partitioned dynamic overwrite is the format-agnostic
    equivalent (maintenance.overwrite_changed_partitions)."""
    from datalake_local_spark.maintenance import overwrite_changed_partitions

    sub = _stream_session(spark)
    stream = _open_events_stream(sub, sf_dir, glob=source_glob)

    table = f"stream_sink_{query_name}"
    full_name = f"stream_sink.{table}"
    sub.sql("CREATE DATABASE IF NOT EXISTS stream_sink")
    fresh_start = checkpoint_dir is None or not os.path.exists(checkpoint_dir)
    if fresh_start:
        sub.sql(f"DROP TABLE IF EXISTS {full_name}")
        # DROP only clears THIS catalog: a leftover location from an
        # earlier session (in-memory Derby catalog, same warehouse dir)
        # still fails saveAsTable with LOCATION_ALREADY_EXISTS — clear it
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(sub.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(os.path.join(wh, "stream_sink.db", table), ignore_errors=True)

    def upsert_batch(batch_df, batch_id):
        ss = batch_df.sparkSession
        delta = (
            batch_df.groupBy("user_id")
            .agg(F.count("*").alias("n_events"), F.sum("value").alias("raw_value"))
            .withColumn("bucket", F.pmod(F.col("user_id"), F.lit(n_buckets)).cast("int"))
        )
        if not ss.catalog.tableExists(full_name):
            delta.write.mode("overwrite").partitionBy("bucket").saveAsTable(full_name)
            return
        touched = [r["bucket"] for r in delta.select("bucket").distinct().collect()]
        combined = (
            ss.table(full_name)
            .filter(F.col("bucket").isin(touched))  # partition-pruned read
            .unionByName(delta)
            .groupBy("user_id", "bucket")
            .agg(F.sum("n_events").alias("n_events"), F.sum("raw_value").alias("raw_value"))
        )
        overwrite_changed_partitions(ss, full_name, combined.localCheckpoint(), "bucket")

    _run_available_now(
        stream.writeStream.foreachBatch(upsert_batch), checkpoint_dir=checkpoint_dir
    )
    return sub.table(full_name).select(
        "user_id", "n_events", F.round("raw_value", 2).alias("total_value")
    )


def run_streaming_tumbling(
    spark: SparkSession, sf_dir: str, minutes: int = 10, query_name: str = "stream_tumbling"
) -> DataFrame:
    """Drive the tumbling aggregate through an ACTUAL Structured Streaming
    query: parquet file source → watermark → windowed agg → memory sink,
    with availableNow so the batch of files is consumed to completion
    synchronously. Returns the sink contents (equals the batch form)."""
    sub = _stream_session(spark)
    stream = _open_events_stream(sub, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        stream.groupBy(F.window("ts", f"{minutes} minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events", "sum_value")
    )
    _run_available_now(
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name),
    )
    return sub.table(query_name)


def run_streaming_trending(
    spark: SparkSession,
    sf_dir: str,
    minutes: int = 60,
    k: int = 3,
    query_name: str = "stream_trending",
) -> DataFrame:
    """Trending top-k over a stream: per tumbling window, the ``k`` most
    frequent event types with ranks — the live-dashboard query every
    event platform runs. Structured Streaming does NOT support window
    functions over streaming aggregates (rank needs the window's whole
    key set), so the ranking runs inside ``foreachBatch`` over the
    windowed-count aggregate — the documented escape hatch for
    unsupported operations: the streaming engine maintains the
    incremental (window × type) counts; each micro-batch re-ranks that
    bounded state batch-side and overwrites the sink view.

    Scale shape: the stateful side (counts) is the only thing the engine
    checkpoints — state grain (window × event_type), bounded by
    watermark eviction; the foreachBatch rank runs over that aggregate
    relation (windows × types rows, NOT events) with a per-window
    partition — never the raw stream. Deterministic ties:
    (n_events desc, event_type).

    Returns the final sink: (win_start, event_type, n_events, rank)."""
    sub = _stream_session(spark)
    stream = _open_events_stream(sub, sf_dir).withWatermark("ts", "1 hour")
    counts = (
        stream.groupBy(F.window("ts", f"{minutes} minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events")
    )
    view = f"{query_name}_out"
    # pre-register an EMPTY view with the output schema: a source that
    # yields zero micro-batches never runs rank_batch, and the final
    # global_temp read must still resolve (to zero rows, not an
    # AnalysisException)
    sub.createDataFrame(
        [], "win_start timestamp, event_type string, n_events bigint, rank int"
    ).createOrReplaceGlobalTempView(view)
    last_ranked: list = []

    def rank_batch(batch_df, batch_id):
        w = W.partitionBy("win_start").orderBy(
            F.col("n_events").desc(), F.col("event_type")
        )
        ranked = (
            batch_df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
        ranked.persist().count()
        ranked.createOrReplaceGlobalTempView(view)
        # complete mode re-ranks the FULL aggregate every micro-batch:
        # release the previous batch's cache, only the newest view is
        # ever read (without this, K-batch sources leak K-1 cached copies)
        if last_ranked:
            last_ranked.pop().unpersist()
        last_ranked.append(ranked)

    _run_available_now(
        counts.writeStream.outputMode("complete")
        .foreachBatch(rank_batch),
    )
    out = sub.table(f"global_temp.{view}")
    if last_ranked:
        # materialize the final answer, then release the last batch's
        # cache (otherwise it outlives the query)
        out = sub.createDataFrame(out.collect(), out.schema)
        last_ranked.pop().unpersist()
    return out


def run_streaming_two_level_agg(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_2lvl"
) -> DataFrame:
    """CHAINED stateful streaming aggregation (multiple stateful
    operators in one query — supported since Spark 3.4, hardened in
    Spark 4): 10-minute windowed counts re-aggregated into 60-minute
    windows (max and sum of the inner counts), both levels maintained
    incrementally by the engine with one watermark. The pre-3.4 answer
    was two queries glued by a sink; this is the single-pipeline form.

    Append mode is REQUIRED for chained stateful operators, so windows
    the final watermark has not closed are withheld — tail rows are
    late-but-correct (same contract as the left-outer stream-stream
    join). Under this harness the withheld tail is DETERMINISTIC (one
    data micro-batch from the single-file source, then the no-data
    batch advances the watermark to ms-truncated max ts - 1h), so
    since r16 the query is fully oracle-backed: a window emits iff
    its end <= the final watermark (INCLUSIVE — the exact-boundary
    and -1ms cases probed empirically); streaming ⊆ batch and
    tail-only-difference remain asserted in tests.

    Scale shape: level-1 state is (10-min window × type) counts,
    level-2 re-aggregates level-1's APPEND OUTPUT — state stays
    window-grain at both levels, bounded by watermark eviction; the raw
    stream is never buffered twice."""
    sub = _stream_session(spark)
    stream = _open_events_stream(sub, sf_dir).withWatermark("ts", "1 hour")
    lvl1 = stream.groupBy(
        F.window("ts", "10 minutes").alias("w1"), "event_type"
    ).agg(F.count("*").alias("n"))
    lvl2 = (
        lvl1.groupBy(F.window(F.col("w1"), "60 minutes").alias("w2"), "event_type")
        .agg(F.max("n").alias("max_10min_n"), F.sum("n").alias("total_n"))
        .select(
            F.col("w2.start").alias("win_start"),
            "event_type",
            "max_10min_n",
            F.col("total_n").cast("long").alias("total_n"),
        )
    )
    _run_available_now(
        lvl2.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name),
    )
    return sub.table(query_name)


def run_streaming_join_then_window(
    spark: SparkSession,
    sf_dir: str,
    within_minutes: int = 60,
    query_name: str = "stream_join_window",
) -> DataFrame:
    """Stream-stream JOIN chained into a time-window AGGREGATION — the
    second multiple-stateful-operator shape (supported since Spark 3.4/
    3.5; ``run_streaming_two_level_agg`` covers agg→agg): click-to-
    purchase attribution joined with the event-time interval condition,
    then purchase volume counted per (30-min window × user bucket)
    downstream, both stateful operators maintained by ONE engine
    pipeline with one propagated watermark. The pre-3.4 answer was two
    queries glued by a sink.

    Append mode is REQUIRED, so windows the final watermark has not
    closed are withheld. Under this harness the tail is DETERMINISTIC
    (single data micro-batch, then the no-data batch advances the
    watermark), so the query is oracle-backed: matched pairs all emit
    from the data batch (nothing is late within one batch), and a
    window emits iff its end < the final JOIN OUTPUT watermark (STRICT
    — end == watermark is withheld, the empirically probed bound) — the
    global watermark min(side maxima, ms-truncated) − 2 h, further
    DELAYED by the join's interval bound (the engine subtracts the
    time-interval span from the left side's state-cleanup watermark, so
    the join output's purchase_ts watermark is wm − within_minutes;
    probed empirically in r18, see the oracle comment).

    Scale shape: join state is two per-partition buffers bounded by the
    2 h watermark; window state is (window × bucket) counts — the raw
    stream is buffered once in the join, never again downstream."""
    sub = _stream_session(spark, "2")
    clicks, purchases = _click_purchase_streams(sub, sf_dir)
    joined = clicks.join(purchases, _interval_join_cond(within_minutes)).select(
        "purchase_ts", F.col("c_user").alias("user_id")
    )
    agged = (
        joined.groupBy(
            F.window("purchase_ts", "30 minutes").alias("w"),
            F.pmod(F.col("user_id"), F.lit(4)).alias("user_bucket"),
        )
        .agg(F.count("*").alias("n_matches"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("user_bucket").cast("long").alias("user_bucket"),
            F.col("n_matches").cast("long").alias("n_matches"),
        )
    )
    _run_available_now(
        agged.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name),
        timeout=180,
    )
    return sub.table(query_name)


def run_streaming_anomaly(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "stream_anomaly",
    min_prior: int = 8,
    z_cut: float = 3.0,
) -> DataFrame:
    """Streaming twin of the batch rolling z-score screen
    (operators/windows.rolling_zscore_anomalies): per-user EXPANDING
    baseline (n, Σx, Σx²) held in explicit state, each arriving event
    scored against the state BEFORE it folds in (the same
    cannot-mask-itself discipline; expanding rather than 20-row
    rolling, because bounded-window eviction needs the raw ring buffer
    in state — the documented batch/stream semantic difference).
    Within a micro-batch rows score in (ts, event_id) order, so replays
    of the same data produce identical flags (deterministic given the
    event-time order).

    State per key is three numbers → bounded at any volume; at scale it
    lives in the checkpointed state store partitioned by user_id —
    exactly the stateful-counter shape with a per-row decision added.
    r16: ORACLE-backed — the single-file source arrives as ONE
    micro-batch, so the fold order is the global (ts, event_id) order
    per user and a DuckDB recursive CTE replays the (n, Σx, Σx²,
    Σcents, Σcents²) fold bit-exactly (outputs are the raw fold
    doubles, no rounding); batch-parity vs a pure-python expanding
    reference is additionally tested."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    sub = _stream_session(spark, "8")
    stream = _open_events_stream(sub, sf_dir)

    output_schema = (
        "user_id bigint, event_id bigint, value double, base_mean double, z double"
    )
    state_schema = "n bigint, s1 double, s2 double, s1c bigint, s2c bigint"

    def update(key, pdfs, state: GroupState):
        import math
        from decimal import ROUND_HALF_UP, Decimal

        import pandas as pd

        _Q6 = Decimal("0.000001")

        def _cents(v: float) -> int:
            # mirror the batch twin's quantization EXACTLY
            # (windows.py rolling_zscore_anomalies:427-433):
            # double → decimal(18,6) is Spark's HALF_UP round of the
            # shortest round-trip decimal repr (Scala BigDecimal(d) ≙
            # Python repr(v)); × 100 is exact at scale 6; decimal →
            # long truncates toward zero (Decimal.toLong ≙ int()).
            # int(round(v*100)) — Python banker's rounding on the
            # float product — disagreed off the cent grid (x.005), so
            # the exact constant-baseline decision could split between
            # the streaming and batch paths.
            d = Decimal(repr(v)).quantize(_Q6, rounding=ROUND_HALF_UP)
            return int(d * 100)

        n, s1, s2, s1c, s2c = state.get if state.exists else (0, 0.0, 0.0, 0, 0)
        flagged = {"user_id": [], "event_id": [], "value": [], "base_mean": [], "z": []}
        # concatenate BEFORE sorting: a group larger than the Arrow batch
        # size arrives as multiple chunks, and chunk-local sorts would
        # fold later-timestamped rows into the baseline first (order-
        # dependent flags). Memory is bounded by one user's batch volume.
        chunks = list(pdfs)
        batch = pd.concat(chunks) if chunks else pd.DataFrame()
        if len(batch):
            for row in batch.sort_values(["ts", "event_id"]).itertuples():
                v = float(row.value)
                # exact integer cents mirror the batch twin's DECIMAL
                # cast: the constant-baseline decision must never ride
                # on a float round-trip (1-ulp drift in s1/n flagged a
                # perfectly constant series as an infinite-z anomaly)
                c = _cents(v)
                if n >= min_prior:
                    mean = s1 / n
                    # r19: const check FIRST (the batch twin's And
                    # short-circuit order) — at n == 1 the baseline is
                    # always exactly constant, and computing var first
                    # would divide by n - 1 == 0 under min_prior = 1
                    var = (
                        (s2 - n * mean * mean) / (n - 1) if n > 1 else 0.0
                    )
                    z = None
                    if s2c * n == s1c * s1c:
                        # EXACT constant baseline (Cauchy-Schwarz
                        # equality on cent sums). A jump off it is the
                        # MOST anomalous case — infinite z; a value
                        # equal to the constant is never flagged, even
                        # when double var drifts a few ulp from zero.
                        if c * n != s1c:
                            z = math.inf if c * n > s1c else -math.inf
                    elif var > 0:
                        z = (v - mean) / math.sqrt(var)
                    if z is not None and abs(z) >= z_cut:
                        flagged["user_id"].append(key[0])
                        flagged["event_id"].append(row.event_id)
                        flagged["value"].append(v)
                        # UNROUNDED doubles (r16): the flag decision
                        # rides on the raw z anyway, and emitting the
                        # raw fold values lets the DuckDB oracle replay
                        # the recursion bit-exactly with no Python-
                        # round(banker's) vs SQL-round(half-up) hazard
                        # (the r9 events_anomaly_zscore lesson, taken
                        # to its conclusion). Consumers round for
                        # display.
                        flagged["base_mean"].append(mean)
                        flagged["z"].append(z)
                n, s1, s2 = n + 1, s1 + v, s2 + v * v
                s1c, s2c = s1c + c, s2c + c * c
        state.update((n, s1, s2, s1c, s2c))
        yield pd.DataFrame(flagged)

    out = stream.groupBy("user_id").applyInPandasWithState(
        update, output_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    _run_available_now(
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name),
    )
    return sub.table(query_name)


def session_depth_profile(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Session-depth histogram over the gap-based sessions: how many
    sessions have 1 event (bounces), 2, 3, … — the engagement-depth
    distribution a product team reads next to the bounce rate (the
    share column, in exact basis points, makes the top row the bounce
    rate directly).

    Reuses :func:`sessionize_batch` (one user-keyed shuffle shared by
    its two windows); on top: a session-grain count → a depth-grain
    histogram — both bounded well below event grain. Integer counts,
    integer-division bps."""
    sessions = sessionize_batch(events, gap_minutes).select(
        F.col("n_events").cast("long").alias("depth")
    )
    hist = sessions.groupBy("depth").agg(
        F.count("*").cast("long").alias("n_sessions")
    )
    tot = hist.agg(F.sum("n_sessions").alias("total"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "depth",
            "n_sessions",
            F.expr("(10000 * n_sessions) div total").cast("long").alias("share_bps"),
        )
        .orderBy("depth")
    )
