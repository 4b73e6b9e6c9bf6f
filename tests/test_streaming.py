"""Structured Streaming tests: file-source ingestion with checkpointed
exactly-once, and streaming window aggregates equal to batch results."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalake_local_spark.streaming import event_windows, file_ingest
from tests.conftest import SF_DIR


def test_streaming_tumbling_equals_batch(spark, tables):
    stream_out = event_windows.run_streaming_tumbling(
        spark, SF_DIR, query_name="t_stream_eq_batch"
    )
    batch_out = event_windows.tumbling_window_counts(tables["events"])
    assert stream_out.count() == batch_out.count()
    assert stream_out.exceptAll(batch_out).count() == 0


def test_sessionize_gap_invariant(tables):
    """No session may contain an internal gap above the threshold, and
    consecutive sessions of one user must be separated by more than it."""
    sessions = event_windows.sessionize_batch(tables["events"], gap_minutes=30).collect()
    by_user: dict = {}
    for r in sessions:
        by_user.setdefault(r["user_id"], []).append(r)
    for user_sessions in by_user.values():
        user_sessions.sort(key=lambda r: r["session_seq"])
        for prev, nxt in zip(user_sessions, user_sessions[1:]):
            gap = (nxt["session_start"] - prev["session_end"]).total_seconds()
            assert gap > 30 * 60


def test_file_ingest_exactly_once(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = tmp_path / "ckpt"
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("val", T.StringType())]
    )
    (landing / "a.csv").write_text("id,val\n1,x\n2,y\n")

    q = file_ingest.stream_csv_ingest(
        spark, str(landing), "stream_test.ingested", schema, str(ckpt)
    )
    q.awaitTermination(120)
    assert spark.table("stream_test.ingested").count() == 2

    # second batch picks up ONLY the new file (checkpointed progress)
    (landing / "b.csv").write_text("id,val\n3,z\n")
    q2 = file_ingest.stream_csv_ingest(
        spark, str(landing), "stream_test.ingested", schema, str(ckpt)
    )
    q2.awaitTermination(120)
    out = spark.table("stream_test.ingested")
    assert out.count() == 3
    assert out.agg(F.countDistinct("id")).collect()[0][0] == 3


def test_streaming_dedup_equals_batch_distinct(spark, tables):
    out = event_windows.run_streaming_dedup(spark, SF_DIR, query_name="t_dedup_eq")
    batch = tables["events"].select("user_id", "event_type").distinct()
    assert out.count() == batch.count()
    assert out.exceptAll(batch).count() == 0


def test_streaming_stream_join_equals_batch_theta(spark, tables):
    out = event_windows.run_streaming_stream_join(spark, SF_DIR, query_name="t_ssj_eq")
    ev = tables["events"]
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("u"), F.col("ts").alias("cts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    batch = c.join(
        p,
        (F.col("u") == F.col("pu"))
        & (F.col("pts") > F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 60 MINUTES")),
    ).select("click_id", "purchase_id", F.col("u").alias("user_id"))
    assert out.count() == batch.count()
    assert out.exceptAll(batch).count() == 0


def _batch_click_purchase(tables):
    ev = tables["events"]
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("u"), F.col("ts").alias("cts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    cond = (
        (F.col("u") == F.col("pu"))
        & (F.col("pts") > F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 60 MINUTES"))
    )
    return c, p, cond


def test_streaming_semi_join_equals_batch_semi(spark, tables):
    """LEFT SEMI stream-stream join has no unmatched-tail dependence:
    availableNow on static input must equal the batch semi join exactly."""
    out = event_windows.run_streaming_semi_join(spark, SF_DIR, query_name="t_ssemi_eq")
    c, p, cond = _batch_click_purchase(tables)
    batch = {r["click_id"] for r in c.join(p, cond, "left_semi").collect()}
    got = {r["click_id"] for r in out.collect()}
    assert got == batch and len(out.collect()) == len(got)  # no dup emissions


def test_streaming_outer_join_invariants(spark, tables):
    """LEFT OUTER stream-stream join: matched rows equal the inner join;
    every emitted NULL row is a true batch non-match; every batch
    non-match strictly older than the tail horizon (final watermark -
    join interval) IS emitted; no click emitted twice."""
    out = event_windows.run_streaming_outer_join(spark, SF_DIR, query_name="t_souter_eq").collect()
    c, p, cond = _batch_click_purchase(tables)
    inner = {(r["click_id"], r["purchase_id"]) for r in c.join(p, cond).collect()}
    matched = {(r["click_id"], r["purchase_id"]) for r in out if r["converted"]}
    assert matched == inner
    batch_unmatched = {r["click_id"] for r in c.join(p, cond, "left_anti").collect()}
    emitted_unmatched = {r["click_id"] for r in out if not r["converted"]}
    assert emitted_unmatched <= batch_unmatched
    # tail horizon: global watermark ends at min(side maxima) - 2h delay;
    # a left row is evictable once click_ts + 60min < that watermark
    import datetime

    cmax = c.agg(F.max("cts")).collect()[0][0]
    pmax = p.agg(F.max("pts")).collect()[0][0]
    horizon = min(cmax, pmax) - datetime.timedelta(hours=2, minutes=60)
    must_emit = {
        r["click_id"]
        for r in c.join(p, cond, "left_anti").collect()
        if r["cts"] < horizon - datetime.timedelta(minutes=1)
    }
    assert must_emit <= emitted_unmatched
    ids = [r["click_id"] for r in out]
    assert len(ids) == len(set(ids))


def test_streaming_static_enrich_equals_batch_join(spark, tables):
    """Stream-static join (stateless enrichment) under availableNow must
    equal the batch join+aggregate over the same files."""
    out = event_windows.run_streaming_static_enrich(spark, SF_DIR, query_name="t_sse_eq")
    batch = (
        tables["events"]
        .join(
            tables["customer"].select(
                F.col("c_custkey").alias("user_id"), "c_mktsegment"
            ),
            "user_id",
        )
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    assert out.count() == batch.count()
    assert out.exceptAll(batch).count() == 0


def test_watermark_drops_late_events(spark, tmp_path):
    """Real watermark semantics: with append-mode windowed aggregation and
    maxFilesPerTrigger=1, a second micro-batch carrying an event far older
    than the advanced watermark must NOT resurrect its (already closed)
    window. The reference has no notion of this; it is the §2.6 net-new
    late-data contract."""
    import os
    import time

    src = tmp_path / "stream_src"
    src.mkdir()
    schema = "event_id long, ts timestamp, value double"

    def write_file(name, rows, mtime):
        # the streaming file source lists the root flat — stage the write
        # then move the single part-file in as <name>.parquet
        import glob
        import shutil

        stage = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dest = str(src / f"{name}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    import datetime as dt

    t = dt.datetime(2024, 1, 1, 10, 0, 0)

    def ts(minutes):
        return t + dt.timedelta(minutes=minutes)

    # batch 1: events 10:00-12:00 → watermark 11:30 takes effect in batch 2
    # (the watermark lags one micro-batch: computed from prior batches)
    write_file("b1", [(1, ts(0), 1.0), (2, ts(60), 1.0), (3, ts(120), 1.0)], time.time() - 2000)
    # batch 2 runs under wm=11:30 → emits+evicts the closed 10:00 window
    write_file("b2", [(6, ts(125), 1.0)], time.time() - 1000)
    # batch 3: event at 10:05 is far below the watermark → dropped
    write_file("b3", [(4, ts(5), 100.0), (5, ts(130), 1.0)], time.time())

    agg = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(str(src))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("win"))
        .agg(F.sum("value").alias("total"))
        .select(F.col("win.start").alias("win_start"), "total")
    )
    import tempfile

    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName("late_drop_test")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
    out = {r["win_start"]: r["total"] for r in spark.table("late_drop_test").collect()}
    # the 10:00 window was emitted (closed) with only event 1 — the late
    # value=100 arrival after eviction must not appear anywhere
    assert out.get(ts(0)) == 1.0
    assert all(v < 100 for v in out.values())


def test_range_join_subsecond_precision(spark):
    """Regression: the bucketized range join must compare event times at
    microsecond precision — an event exactly 1h+1µs after the anchor is
    OUT, one at 1h-1µs is IN (whole-second truncation got both wrong)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, 100, "signup", t0, 0.0),
        (2, 100, "click", t0 + dt.timedelta(hours=1, microseconds=-1), 0.0),
        (3, 100, "click", t0 + dt.timedelta(hours=1, microseconds=1), 0.0),
        (4, 100, "click", t0 + dt.timedelta(microseconds=1), 0.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )
    from datalake_local_spark.operators.asof import range_join_bucketized

    out = {r["anchor_id"]: r["n_following"] for r in range_join_bucketized(ev).collect()}
    assert out == {1: 2}  # events 2 and 4 in-window; 3 is 1µs too late


def test_ewma_matches_recurrence(tables):
    """EWMA kernel must follow y_t = (1-a)·y_{t-1} + a·x_t exactly
    (adjust=False), verified against a pure-python recurrence per user."""
    from datalake_local_spark.operators import grouped_pandas

    rows = grouped_pandas.ewma_per_user(tables["events"], alpha=0.3).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    checked = 0
    for user_rows in list(by_user.values())[:20]:
        user_rows.sort(key=lambda r: (r["ts"], r["event_id"]))
        y = None
        for r in user_rows:
            y = r["value"] if y is None else 0.7 * y + 0.3 * r["value"]
            # bit-exact: the kernel publishes the unrounded recursion
            # double (the DuckDB oracle reproduces it bit-identically)
            assert r["ewma"] == y and (y != 0.0 or str(r["ewma"]) == str(y))
            checked += 1
    assert checked > 50


def test_foreachbatch_upsert_touches_only_delta_buckets(spark, tmp_path):
    """Second incremental run (same checkpoint, new file whose users all
    hash to a subset of buckets) must leave untouched bucket partitions'
    data files byte-identical — the O(delta) sink property."""
    import os
    import shutil

    src = tmp_path / "src"
    src.mkdir()
    ckpt = tmp_path / "ckpt"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")

    def listing(table_path):
        out = {}
        for root, _dirs, files in os.walk(table_path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = (os.path.getsize(p), os.path.getmtime(p))
        return out

    def write_single_file(df, dest):
        tmp = tmp_path / "w"
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        shutil.move(str(tmp / part), dest)
        shutil.rmtree(tmp)

    write_single_file(events, str(src / "batch1.parquet"))
    out1 = event_windows.run_streaming_foreachbatch_upsert(
        spark, str(src), query_name="t_fbu_buckets",
        source_glob="*.parquet", checkpoint_dir=str(ckpt), n_buckets=4,
    )
    base = {r["user_id"]: (r["n_events"], r["total_value"]) for r in out1.collect()}

    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    table_path = os.path.join(wh, "stream_sink.db", "stream_sink_t_fbu_buckets")
    before = listing(table_path)

    # second file: only users hashing to bucket 1
    write_single_file(
        events.filter(F.pmod(F.col("user_id"), F.lit(4)) == 1), str(src / "batch2.parquet")
    )
    out2 = event_windows.run_streaming_foreachbatch_upsert(
        spark, str(src), query_name="t_fbu_buckets",
        source_glob="*.parquet", checkpoint_dir=str(ckpt), n_buckets=4,
    )
    after = listing(table_path)

    untouched_before = {p: v for p, v in before.items() if "bucket=1" not in p}
    untouched_after = {p: v for p, v in after.items() if "bucket=1" not in p}
    assert untouched_before == untouched_after, "non-delta buckets must keep their files"
    assert any("bucket=1" in p for p in set(after) - set(before)), "bucket 1 rewritten"

    # values: bucket-1 users doubled, everyone else unchanged
    got = {r["user_id"]: (r["n_events"], r["total_value"]) for r in out2.collect()}
    for uid, (n, v) in base.items():
        if uid % 4 == 1:
            assert got[uid][0] == 2 * n
        else:
            assert got[uid] == (n, v)
    shutil.rmtree(table_path, ignore_errors=True)


def test_transform_with_state_gated_or_equivalent(spark):
    """Spark 4 transformWithStateInPandas surface: runs and matches the
    applyInPandasWithState twin where google.protobuf exists; raises the
    explicit gate error here (no pip in this container)."""
    import pytest

    from datalake_local_spark.streaming import event_windows

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="google.protobuf"):
            event_windows.run_streaming_transform_with_state(
                spark, "/root/testdata/sf0.001", query_name="tws_gate"
            )
        return
    got = {
        (r["user_id"], r["n_events"], r["total_value"])
        for r in event_windows.run_streaming_transform_with_state(
            spark, "/root/testdata/sf0.001", query_name="tws_live"
        ).collect()
    }
    want = {
        (r["user_id"], r["n_events"], r["total_value"])
        for r in event_windows.run_streaming_stateful_counter(
            spark, "/root/testdata/sf0.001", query_name="tws_twin"
        ).collect()
    }
    assert got == want


def test_python_streaming_datasource_jsonl_replay(spark, tmp_path):
    """Spark 4 Python STREAMING data source: deterministic line-offset
    micro-batches with exactly-once replay (readBetweenOffsets). All
    lines arrive exactly once across batches of rowsPerBatch."""
    from datalake_local_spark.sources import pyds

    f = tmp_path / "feed.jsonl"
    f.write_text("".join(f'{{"i": {i}}}\n' for i in range(25)))
    pyds.register_streaming(spark)
    stream = (
        spark.readStream.format("jsonl_replay")
        .option("rowsPerBatch", "10")
        .load(str(f))
    )
    import tempfile
    import time

    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream.writeStream.format("memory")
            .queryName("jsonl_replay_sink")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        # the Simple stream reader prefetches one batch per trigger; run
        # until the feed drains (25 rows / 10 per batch -> 3 batches)
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table("jsonl_replay_sink").count() >= 25:
                break
            time.sleep(0.5)
        q.stop()
    rows = spark.table("jsonl_replay_sink").collect()
    assert sorted(r["line_no"] for r in rows) == list(range(25))
    assert {r["raw"] for r in rows} == {f'{{"i": {i}}}' for i in range(25)}


def test_streaming_trending_equals_batch_rank(spark, tables):
    """foreachBatch ranking over the streaming windowed counts equals the
    batch window-function form exactly on static input; ranks are dense
    1..k per window with deterministic tie-breaks."""
    from pyspark.sql import Window as W

    out = event_windows.run_streaming_trending(
        spark, SF_DIR, query_name="t_trend_eq"
    ).collect()
    counts = (
        tables["events"]
        .groupBy(F.window("ts", "60 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events")
    )
    w = W.partitionBy("win_start").orderBy(F.col("n_events").desc(), F.col("event_type"))
    batch = (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .collect()
    )
    key = lambda r: (r["win_start"], r["rank"])
    assert sorted(map(tuple, out)) == sorted(map(tuple, batch))
    from collections import defaultdict

    per_win = defaultdict(list)
    for r in out:
        per_win[r["win_start"]].append(r["rank"])
    for ranks in per_win.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_streaming_restart_recovers_state_exactly_once(spark, tables, tmp_path):
    """Checkpoint recovery: half the files arrive, the query runs and
    STOPS; the rest arrive, a NEW query starts from the same checkpoint.
    The recovered state must (a) not reprocess the first half (exactly
    once) and (b) end equal to the one-shot batch aggregate."""
    events = tables["events"]
    src = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")
    events.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)

    def run_once(qname):
        sub = event_windows._stream_session(spark)
        schema = sub.read.parquet(src).schema
        stream = (
            sub.readStream.schema(schema).parquet(src).withWatermark("ts", "1 hour")
        )
        agg = (
            stream.groupBy(F.window("ts", "60 minutes").alias("win"), "event_type")
            .agg(F.count("*").alias("n_events"))
            .select(F.col("win.start").alias("win_start"), "event_type", "n_events")
        )
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        progress = q.lastProgress
        q.stop()
        return sub.table(qname).collect(), progress

    first, prog1 = run_once("t_restart_a")
    # second half arrives; a fresh query resumes from the checkpoint
    events.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    final, prog2 = run_once("t_restart_b")

    batch = (
        tables["events"]
        .groupBy(F.window("ts", "60 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events")
        .collect()
    )
    assert sorted(map(tuple, final)) == sorted(map(tuple, batch))
    # exactly-once: the restarted run ingested only the second half
    n_total = tables["events"].count()
    n_first = sum(r["n_events"] for r in first)
    assert n_first == tables["events"].filter(F.col("event_id") % 2 == 0).count()
    if prog2 and prog2["numInputRows"]:
        assert prog2["numInputRows"] <= n_total - n_first


def test_streaming_two_level_agg_tail_contract(spark, tables):
    """Chained stateful aggregation: every emitted row equals its batch
    twin exactly; the only missing rows sit at the stream tail (window
    end beyond the final watermark)."""
    out = event_windows.run_streaming_two_level_agg(
        spark, SF_DIR, query_name="t_2lvl_eq"
    ).collect()
    ev = tables["events"]
    lvl1 = ev.groupBy(F.window("ts", "10 minutes").alias("w1"), "event_type").agg(
        F.count("*").alias("n")
    )
    batch = {
        (r["win_start"], r["event_type"]): (r["max_10min_n"], r["total_n"])
        for r in lvl1.groupBy(
            F.window(F.col("w1"), "60 minutes").alias("w2"), "event_type"
        )
        .agg(F.max("n").alias("max_10min_n"), F.sum("n").cast("long").alias("total_n"))
        .select(F.col("w2.start").alias("win_start"), "event_type", "max_10min_n", "total_n")
        .collect()
    }
    got = {(r["win_start"], r["event_type"]): (r["max_10min_n"], r["total_n"]) for r in out}
    for k, v in got.items():
        assert batch[k] == v
    missing = set(batch) - set(got)
    import datetime

    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - datetime.timedelta(hours=1)
    for win_start, _ in missing:
        assert win_start + datetime.timedelta(minutes=60) > horizon


def test_streaming_anomaly_matches_batch_reference(spark):
    """Stateful expanding z-score parity: the streaming flags equal a
    pure-python expanding-baseline replay over the same events in the
    same (ts, event_id) order — raw unrounded baselines and z (r16:
    the kernel emits the raw fold doubles so the DuckDB oracle can
    replay them bit-exactly)."""
    import math

    from datalake_local_spark.session import load_tables
    from datalake_local_spark.streaming import event_windows

    out = event_windows.run_streaming_anomaly(
        spark, SF_DIR, query_name="stream_anomaly_paritytest"
    ).collect()
    got = {(r["user_id"], r["event_id"]): (r["base_mean"], r["z"]) for r in out}

    events = (
        load_tables(spark, SF_DIR)["events"]
        .select("user_id", "event_id", "ts", "value")
        .collect()
    )
    by_user = {}
    for r in sorted(events, key=lambda r: (r["ts"], r["event_id"])):
        by_user.setdefault(r["user_id"], []).append(r)
    want = {}
    for u, rows in by_user.items():
        n, s1, s2, s1c, s2c = 0, 0.0, 0.0, 0, 0
        for r in rows:
            v = float(r["value"])
            c = int(round(v * 100))
            if n >= 8:
                mean = s1 / n
                var = (s2 - n * mean * mean) / (n - 1)
                z = None
                if s2c * n == s1c * s1c:
                    if c * n != s1c:
                        z = math.inf if c * n > s1c else -math.inf
                elif var > 0:
                    z = (v - mean) / math.sqrt(var)
                if z is not None and abs(z) >= 3.0:
                    want[(u, r["event_id"])] = (mean, z)
            n, s1, s2 = n + 1, s1 + v, s2 + v * v
            s1c, s2c = s1c + c, s2c + c * c
    assert got == want
    assert want  # non-vacuous at the fixture SF


def test_streaming_anomaly_constant_then_jump(spark, tmp_path):
    """The ±inf branch: a perfectly constant baseline must NOT flag a
    repeat of the same value (exact cent-sum detection, no float
    drift), and a jump off it flags with z = ±inf."""
    import datetime
    import math

    from datalake_local_spark.streaming import event_windows

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    # user 1: ten constant 5.00s, one more 5.00 (must NOT flag),
    # then a jump to 50.00 (+inf) — the eleventh 5.00 keeps the
    # baseline constant so the jump still sees a zero-variance state
    for i in range(11):
        rows.append((1, i, t0 + datetime.timedelta(minutes=i), "view", 5.00))
    rows.append((1, 11, t0 + datetime.timedelta(minutes=11), "view", 50.00))
    # user 2: constant 7.50s then a drop to 0.25 (-inf)
    for i in range(9):
        rows.append((2, 100 + i, t0 + datetime.timedelta(minutes=i), "view", 7.50))
    rows.append((2, 109, t0 + datetime.timedelta(minutes=9), "view", 0.25))
    import pandas as pd

    # one parquet FILE (the stream source globs file names, not dirs)
    pd.DataFrame(
        rows, columns=["user_id", "event_id", "ts", "event_type", "value"]
    ).to_parquet(str(tmp_path / "events.parquet"), index=False)
    out = event_windows.run_streaming_anomaly(
        spark, str(tmp_path), query_name="stream_anomaly_constjump"
    ).collect()
    got = {(r["user_id"], r["event_id"]): (r["base_mean"], r["z"]) for r in out}
    assert got == {
        (1, 11): (5.0, math.inf),
        (2, 109): (7.5, -math.inf),
    }


def test_session_depth_profile_hand_computed(spark):
    """User 1: a 3-event session, a 35-min gap, then a 1-event bounce;
    user 2: one 2-event session. Histogram: depth 1×1, 2×1, 3×1; the
    bps shares close to 10000 within integer-floor loss."""
    import datetime

    from datalake_local_spark.streaming import event_windows

    t = lambda m: datetime.datetime(2024, 1, 1, 0, m)  # noqa: E731
    ev = spark.createDataFrame(
        [
            (1, t(0), 1, "view", 1.0, "{}"),
            (2, t(5), 1, "click", 1.0, "{}"),
            (3, t(10), 1, "view", 1.0, "{}"),
            (4, t(50), 1, "view", 1.0, "{}"),
            (5, t(0), 2, "view", 1.0, "{}"),
            (6, t(20), 2, "click", 1.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    rows = {r["depth"]: r for r in event_windows.session_depth_profile(ev).collect()}
    assert {d: rows[d]["n_sessions"] for d in rows} == {1: 1, 2: 1, 3: 1}
    assert all(r["share_bps"] == 3333 for r in rows.values())


def test_rocksdb_statestore_parity_with_hdfs(spark):
    """r15 (r14 verdict #7): the state-store backend is an engine
    detail — the RocksDB-provider sessionize run must return rows
    IDENTICAL to the default HDFS-backed twin."""
    hdfs = event_windows.run_streaming_sessionize(
        spark, SF_DIR, query_name="t_ss_hdfs"
    )
    rocks = event_windows.run_streaming_sessionize_rocksdb(
        spark, SF_DIR, query_name="t_ss_rocks"
    )
    assert hdfs.count() == rocks.count()
    assert hdfs.exceptAll(rocks).count() == 0
    assert rocks.exceptAll(hdfs).count() == 0


def test_session_dynamic_gap_semantics(spark):
    """Dynamic-gap session_window: error events carry a 10-minute gap,
    others 30 — so (a) every session is at least as fragmented as the
    fixed-30 sessionization (dynamic gaps only shrink windows here),
    and (b) a session ENDING in an error ends exactly 10 minutes after
    its last event, a non-error session exactly 30."""
    dyn = event_windows.run_streaming_session_dynamic_gap(
        spark, SF_DIR, query_name="t_dyn_gap"
    ).collect()
    fixed = event_windows.run_streaming_sessionize(
        spark, SF_DIR, query_name="t_dyn_fixed"
    )
    # (a) shrinking gaps can only split sessions, never merge them
    assert len(dyn) >= fixed.count()
    # (b) the merged window end is the running max of per-event ends,
    # so every session spans at least the smaller gap, and a singleton
    # session's span is exactly its one event's gap (600 or 1800 s)
    for r in dyn:
        span = (r["session_end"] - r["session_start"]).total_seconds()
        assert span >= 600.0 - 1e-6
        if r["n_events"] == 1:
            assert abs(span - 600.0) < 1e-6 or abs(span - 1800.0) < 1e-6


def test_dynamic_gap_merges_event_exactly_at_session_end(spark):
    """Pins the engine's interval-merge boundary (r15 review find): an
    event landing EXACTLY on the current session end MERGES — so the
    oracle's new-session condition must be strictly `ts > running max
    end`, not `>=`. Three events chained end-to-exact-end must form
    ONE session."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, 10, base, "error", 1.0),  # 10-min gap -> end t+600s
        (2, 10, base + datetime.timedelta(seconds=600), "click", 1.0),
        (3, 10, base + datetime.timedelta(seconds=2400), "click", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    gap = F.when(F.col("event_type") == "error", F.lit("10 minutes")).otherwise(
        F.lit("30 minutes")
    )
    out = (
        df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert len(out) == 1 and out[0]["n"] == 3


def test_streaming_full_outer_join_invariants(spark, tables):
    """NEW r16: full-outer completes the join-mode matrix. Matched rows
    equal the inner join; left-unmatched rows are true batch
    non-matches (strict click_ts + interval < wm bound, subset of the
    batch anti join); right-unmatched rows are true batch non-matches
    with purchase_ts <= wm (inclusive bound); no row emitted twice."""
    out = event_windows.run_streaming_full_outer_join(
        spark, SF_DIR, query_name="t_sfouter_eq"
    ).collect()
    c, p, cond = _batch_click_purchase(tables)
    inner = {(r["click_id"], r["purchase_id"]) for r in c.join(p, cond).collect()}
    matched = {
        (r["click_id"], r["purchase_id"])
        for r in out
        if r["click_id"] is not None and r["purchase_id"] is not None
    }
    assert matched == inner
    import datetime

    cmax = c.agg(F.max("cts")).collect()[0][0]
    pmax = p.agg(F.max("pts")).collect()[0][0]
    wm = min(cmax, pmax) - datetime.timedelta(hours=2)
    left_unmatched = {r["click_id"] for r in out if r["purchase_id"] is None}
    batch_left_anti = {r["click_id"] for r in c.join(p, cond, "left_anti").collect()}
    assert left_unmatched <= batch_left_anti
    for r in out:
        if r["purchase_id"] is None:
            assert r["click_ts"] + datetime.timedelta(minutes=60) < wm
    right_unmatched = {r["purchase_id"] for r in out if r["click_id"] is None}
    batch_right_anti = {
        r["purchase_id"] for r in p.join(c, cond, "left_anti").collect()
    }
    assert right_unmatched <= batch_right_anti
    for r in out:
        if r["click_id"] is None:
            assert r["purchase_ts"] <= wm
    keys = [(r["click_id"], r["purchase_id"]) for r in out]
    assert len(keys) == len(set(keys))
    # REVERSE inclusion (r16 review find: subset checks alone pass a
    # stream that drops all null-extension) — every batch non-match
    # safely past its eviction bound MUST have emitted; a margin keeps
    # the bound's own boundary semantics to the oracle hash check
    must_left = {
        r["click_id"]
        for r in c.join(p, cond, "left_anti").collect()
        if r["cts"] + datetime.timedelta(minutes=61) < wm
    }
    assert must_left <= left_unmatched
    must_right = {
        r["purchase_id"]
        for r in p.join(c, cond, "left_anti").collect()
        if r["pts"] + datetime.timedelta(minutes=1) < wm
    }
    assert must_right <= right_unmatched
    assert must_left and must_right  # non-vacuous on the harness data


def test_streaming_right_outer_join_invariants(spark, tables):
    """NEW r17 (matrix symmetry): matched rows equal the inner join
    projected to the purchase side; every NULL-click row is a true
    batch non-match respecting the INCLUSIVE purchase_ts <= wm bound;
    every batch non-match safely past the bound IS emitted; no
    (click, purchase) pair emitted twice."""
    import datetime

    out = event_windows.run_streaming_right_outer_join(
        spark, SF_DIR, query_name="t_srouter_eq"
    ).collect()
    c, p, cond = _batch_click_purchase(tables)
    inner = {(r["click_id"], r["purchase_id"]) for r in c.join(p, cond).collect()}
    matched = {(r["click_id"], r["purchase_id"]) for r in out if r["attributed"]}
    assert matched == inner
    cmax = c.agg(F.max("cts")).collect()[0][0]
    pmax = p.agg(F.max("pts")).collect()[0][0]
    wm = min(cmax, pmax) - datetime.timedelta(hours=2)
    unattributed = {r["purchase_id"] for r in out if not r["attributed"]}
    batch_anti = {r["purchase_id"] for r in p.join(c, cond, "left_anti").collect()}
    assert unattributed <= batch_anti
    for r in out:
        if not r["attributed"]:
            assert r["click_id"] is None and r["click_ts"] is None
            assert r["purchase_ts"] <= wm  # inclusive eviction bound
    must_emit = {
        r["purchase_id"]
        for r in p.join(c, cond, "left_anti").collect()
        if r["pts"] + datetime.timedelta(minutes=1) < wm
    }
    assert must_emit <= unattributed and must_emit  # non-vacuous
    keys = [(r["click_id"], r["purchase_id"]) for r in out]
    assert len(keys) == len(set(keys))


def test_join_then_window_boundary_and_subset(spark, tmp_path):
    """r18 chained stateful (join → time-window agg): pins the oracle's
    watermark-cut rule with boundary fixtures. The join OUTPUT
    watermark = global watermark (min side maxima, ms-truncated, − 2 h
    delay) further delayed by the join's 60-min interval bound, and the
    downstream window-emit bound is STRICT: a window ending exactly AT
    the delayed watermark is withheld; shift the anchor 1 ms and it
    emits. Also asserts streaming ⊆ batch with equal counts (the
    late-but-correct append contract)."""
    import datetime as dt
    import glob
    import os
    import shutil

    from datalake_local_spark.streaming import event_windows

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def run_fixture(anchor):
        rows = [
            (900, anchor, 99, "click", 1.0, "{}"),
            (901, anchor, 98, "purchase", 1.0, "{}"),
            # matched pair in the window [08:30, 09:00) — end 09:00
            (50, dt.datetime(2024, 1, 2, 8, 30, 0), 1, "click", 1.0, "{}"),
            (51, dt.datetime(2024, 1, 2, 8, 59, 59), 1, "purchase", 1.0, "{}"),
            # matched pair in [08:00, 08:30) — end 08:30, always closed
            (40, dt.datetime(2024, 1, 2, 8, 0, 0), 2, "click", 1.0, "{}"),
            (41, dt.datetime(2024, 1, 2, 8, 29, 59), 2, "purchase", 1.0, "{}"),
        ]
        src = tmp_path / f"src_{anchor.microsecond}"
        src.mkdir()
        stage = str(tmp_path / f"stage_{anchor.microsecond}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        shutil.move(
            glob.glob(f"{stage}/part-*.parquet")[0], str(src / "events.parquet")
        )
        out = event_windows.run_streaming_join_then_window(spark, str(src))
        return {
            (r["win_start"], r["user_bucket"]): r["n_matches"]
            for r in out.collect()
        }

    # anchor 12:00:00.000 → global wm 10:00, join-delayed wm 09:00:
    # the [08:30, 09:00) window ends EXACTLY at the delayed watermark →
    # withheld (strict bound); only [08:00, 08:30) emits
    got_at = run_fixture(dt.datetime(2024, 1, 2, 12, 0, 0))
    w0830 = (dt.datetime(2024, 1, 2, 8, 0, 0), 2)
    w0900 = (dt.datetime(2024, 1, 2, 8, 30, 0), 1)
    assert got_at == {w0830: 1}, got_at

    # anchor 12:00:00.001 → delayed wm 09:00:00.001: the same window is
    # now 1 ms UNDER the bound → emits
    got_under = run_fixture(dt.datetime(2024, 1, 2, 12, 0, 0, 1000))
    assert got_under == {w0830: 1, w0900: 1}, got_under

    # streaming ⊆ batch with equal counts on real data
    from datalake_local_spark.session import load_tables
    from tests.conftest import SF_DIR

    stream_rows = {
        (r["win_start"], r["user_bucket"]): r["n_matches"]
        for r in event_windows.run_streaming_join_then_window(
            spark, SF_DIR, query_name="jw_subset"
        ).collect()
    }
    ev = load_tables(spark, SF_DIR)["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts")
    )
    batch = {
        (r["win_start"], r["user_bucket"]): r["n_matches"]
        for r in clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") > F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 60 MINUTES")
            ),
        )
        .groupBy(
            F.window("purchase_ts", "30 minutes").alias("w"),
            F.pmod(F.col("p_user"), F.lit(4)).alias("user_bucket"),
        )
        .agg(F.count("*").alias("n_matches"))
        .select(F.col("w.start").alias("win_start"), "user_bucket", "n_matches")
        .collect()
    }
    assert stream_rows, "streaming output must be non-empty on testdata"
    for k, v in stream_rows.items():
        assert batch.get(k) == v, k


def test_available_now_timeout_raises_instead_of_partial_sink(spark, tmp_path):
    """A stream that has not drained its input when the wait runs out must
    raise, not hand back whatever its sink holds so far; the query is
    stopped either way. The foreachBatch body sleeps past the timeout, so
    the wait is certain to expire first."""
    import time

    import pytest

    src = tmp_path / "src"
    spark.range(5).write.parquet(str(src))
    stream = spark.readStream.schema("id long").parquet(str(src))

    def slow_batch(df, epoch_id):
        time.sleep(3)

    writer = stream.writeStream.foreachBatch(slow_batch).queryName("t_avail_now_timeout")
    with pytest.raises(TimeoutError, match="partial result"):
        event_windows._run_available_now(writer, timeout=0.5)
    assert all(q.name != "t_avail_now_timeout" for q in spark.streams.active)
