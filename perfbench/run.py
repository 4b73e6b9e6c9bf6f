"""Benchmark of the engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, sets up a local Spark session several times (``setup_s`` is the
median), runs a fixed warm-up that checks outputs, then measures whole
rounds of the workload until ``--seconds`` have passed and the workload's
minimum of rounds is done. ``--trace 1`` adds
one round under the per-layer probes and reports the per-layer metrics
instead of the end-to-end ones. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

Everything the run writes goes under ``.perfbench_work/`` in the checkout
and is removed at exit. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Spark runs on ``local[CORES]``, every core the process may use
CORES = len(os.sched_getaffinity(0))

END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
}

PER_LAYER = {
    "bench.generate_s": "s",
    "bench.cold_setup_s": "s",
    "bench.warmup_s": "s",
    "bench.trace_overhead": "ratio",
    "bench.timed_ops": "count",
    "bench.error_rate": "ratio",
    "bench.driver_peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "session.load_tables_s": "s",
    "entry.build_s": "s",
    "entry.build_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.tasks_per_stage": "ratio",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.utilisation": "ratio",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "pipeline.prepare_corpus_s": "s",
    "pipeline.survivor_ratio": "ratio",
    "dedup.substring_s": "s",
    "dedup.component_rounds": "count",
    "dedup.n_edges": "count",
    "dedup.plan_cache_hits": "count",
    "dedup.plan_cache_misses": "count",
    "streaming.batches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.state_commit_ms": "ms",
    "sources.discover_s": "s",
    "sources.csv_s": "s",
    "sources.json_s": "s",
    "sources.excel_s": "s",
    "sources.rows.csv": "rows",
    "sources.rows.json": "rows",
    "sources.rows.xlsx": "rows",
    "catalog.save_ingested_s": "s",
    "catalog.bookkeeping_s": "s",
    "catalog.bookkeeping_calls": "count",
    "catalog.files_written": "count",
    "op_geomean_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "corpus_mb_per_s": "MB/s",
    "ingest_rows_per_s": "rows/s",
    "readback_p50_s": "s",
    "stored_bytes_per_input_byte": "ratio",
    "share.build_plan": "ratio",
    "share.sources_catalog": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("query_mix", "landing_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for tests")
    return ap.parse_args(argv)


def engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isdir(
        os.path.join(ROOT, "datalake_local_spark")
    )


def confine(work: str) -> dict[str, str]:
    """Point every temp/scratch location of Python, the JVM and Spark into
    ``work`` (inside the checkout)."""
    from harness import work_dirs

    dirs = work_dirs(work)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # below the engine's 8g default, as its test suite does: the inputs are
    # sf0.01 and the machine is shared; bench.driver_peak_rss_mb reads at 3g
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf {shlex.quote('spark.driver.extraJavaOptions=' + java_opts)} pyspark-shell"
    )
    return dirs


def stop_engine() -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def bench(args, dirs: dict[str, str]) -> dict:
    sys.path.insert(0, ROOT)
    import numpy as np
    import probes
    from harness import Run, Tracing, log
    from workloads import WORKLOADS

    from datalake_local_spark.session import get_spark

    run = Run()
    wl = WORKLOADS[args.workload](run, dirs, args.seed, args.smoke)
    t0 = time.perf_counter()
    wl.generate()
    generate_s = time.perf_counter() - t0

    setup_s, get_spark_s, load_tables_s = [], [], []
    spark = None
    for _ in range(wl.SETUPS):
        if spark is not None:
            spark.stop()
            # every set-up after the first starts from the same heap state
            gc.collect()
            spark._jvm.System.gc()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", cpus=str(CORES), warehouse_dir=dirs["warehouse"])
        get_spark_s.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
        run.spark = spark
        wl.stage(spark)
        setup_s.append(time.perf_counter() - t0)
        load_tables_s.append(wl.load_tables_s)
    log(f"setups {[round(s, 3) for s in setup_s]}")

    t0 = time.perf_counter()
    wl.warm_up()
    warmup_s = time.perf_counter() - t0
    log(f"warm-up {warmup_s:.2f} s")
    # start the window from the same heap state in every run
    gc.collect()
    spark.sparkContext._jvm.System.gc()

    ops: list[tuple[str, float]] = []
    rounds: list[float] = []
    clean: list[float] = []  # walls of the rounds in which no op failed
    t0 = time.perf_counter()
    while len(rounds) < wl.MIN_ROUNDS or time.perf_counter() - t0 < args.seconds:
        failed = run.failed
        lat, wall = wl.round()
        ops += lat
        rounds.append(wall)
        if run.failed == failed:
            clean.append(wall)
    log(f"timed {len(rounds)} rounds {[round(r, 3) for r in rounds]}, {len(ops)} ops")
    # a round with a failed op never sets round_s unless every round failed
    round_s = min(clean) if clean else max(rounds)
    # each op's fastest run in the window, as ``round_s`` takes the fastest round
    best: dict[str, float] = {}
    for name, seconds in ops:
        best[name] = min(seconds, best.get(name, seconds))
    best_s = list(best.values())

    if run.errors:
        log(f"failures by class: {dict(run.errors)}")

    if not args.trace:
        e2e = {
            "setup_s": statistics.median(setup_s),
            "round_s": round_s,
        }
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    else:
        tracing = Tracing(spark)
        traced_wall, traced = wl.traced_round(tracing)
        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update(traced)
        layer.update(tracing.exec_metrics(traced_wall, CORES))
        layer.update(wl.workload_metrics())
        layer.update(
            {
                "bench.generate_s": generate_s,
                "bench.cold_setup_s": setup_s[0],
                "bench.warmup_s": warmup_s,
                "bench.trace_overhead": (traced_wall + tracing.probe_s) / round_s - 1,
                "bench.timed_ops": len(ops),
                "op_geomean_s": statistics.geometric_mean(best_s) if best_s else 0.0,
                "op_p50_s": np.percentile(best_s, 50) if best_s else 0.0,
                "op_p90_s": np.percentile(best_s, 90) if best_s else 0.0,
                "bench.error_rate": run.failed / run.attempted,
                "bench.driver_peak_rss_mb": probes.peak_rss_mb(probes.driver_pids()),
                "session.get_spark_s": statistics.median(get_spark_s),
                "session.load_tables_s": statistics.median(load_tables_s),
            }
        )
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in PER_LAYER.items()}
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_present():
        print(
            "perfbench: the engine (datalake_local_spark/, __spark_entry__.py) "
            f"is not in {ROOT}; run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, HERE)
    parent = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(parent, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        dirs = confine(work)
        result = bench(args, dirs)
    finally:
        stop_engine()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
