"""Measured scaling slopes for the gram-grain dedup kernels (r19
verdict #5): the 100 TB story's shape arguments (bucketed shuffles,
bounded windows), backed with NUMBERS — wall time and shuffle bytes at
1x/3x/10x documents corpora, and the fitted log-log exponent against
the O(n*L) prediction (slope ~= 1: linear in corpus chars; an
all-pairs kernel would show slope ~= 2).

Corpus construction (seeded, in-memory, no files written): replica r of
the base sf documents table remaps doc_id -> doc_id * S + r (dense,
interleaved — so the probe's existing/incoming split covers the same
corpus FRACTION at every scale) and rotates the text alphabet by r via
F.translate (letters and digits), which kills cross-replica 30-gram
equality. Duplicate VOLUME therefore scales linearly with corpus size —
the regime the slope fit assumes; without the rotation every replica
would be a full-corpus duplicate and the dup phase would dominate
super-linearly by construction.

Shuffle bytes come from the Spark UI REST status API (a dedicated
session with spark.ui.enabled=true; get_spark keeps it off), summed
over completed stages and differenced around each measured action.

Usage: python tools/measure_scaling.py [--scales 1,3,10]
       [--sf-dir /root/testdata/sf0.1] [--cpus 16] [--out -]
Prints one JSON document; paste the table into SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import string
import sys
import time
import urllib.request

sys.path.insert(0, "/root/repo")

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def build_session(cpus: int) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("scaling-measure")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # same driver heap as get_spark — the default 1g broadcast-OOMs
        # at the 10x corpus (AQE broadcasts the gram-screen side)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def _rot(alphabet: str, r: int) -> str:
    r %= len(alphabet)
    return alphabet[r:] + alphabet[:r]


def scaled_documents(spark: SparkSession, sf_dir: str, scale: int) -> DataFrame:
    """Union of `scale` alphabet-rotated replicas with interleaved
    doc_ids (base id * scale + replica)."""
    from datalake_local_spark.session import load_tables

    base = load_tables(spark, sf_dir)["documents"]
    lo, dig = string.ascii_lowercase, string.digits
    parts = []
    for r in range(scale):
        part = base.select(
            (F.col("doc_id") * scale + F.lit(r)).alias("doc_id"),
            F.translate(
                F.translate("text", lo, _rot(lo, r)), dig, _rot(dig, r)
            ).alias("text"),
            *[c for c in base.columns if c not in ("doc_id", "text")],
        )
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def scaled_orders(spark: SparkSession, sf_dir: str, scale: int) -> DataFrame:
    """Union of `scale` orders replicas with interleaved o_orderkey
    (base key * S + r — dense, so the CDC change-class partition of the
    key space keeps the same PROPORTIONS at every scale). Every other
    column is copied unchanged (no price jitter), so replica rows differ
    only in their key: counts and sums over the replicas are exactly
    `scale` times the base ones. The IVM refresh tier needs a scaled ORDERS corpus the way
    the gram kernels needed documents."""
    from datalake_local_spark.session import load_tables

    base = load_tables(spark, sf_dir)["orders"]
    parts = []
    for r in range(scale):
        parts.append(
            base.select(
                (F.col("o_orderkey") * scale + F.lit(r)).alias("o_orderkey"),
                *[c for c in base.columns if c != "o_orderkey"],
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def shuffle_totals(spark: SparkSession) -> dict[str, int]:
    """Completed-stage shuffle totals from the UI REST status API."""
    base = spark.sparkContext.uiWebUrl
    apps = json.load(urllib.request.urlopen(f"{base}/api/v1/applications"))
    app_id = apps[0]["id"]
    stages = json.load(
        urllib.request.urlopen(
            f"{base}/api/v1/applications/{app_id}/stages?status=complete"
        )
    )
    return {
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
        "input_bytes": sum(s.get("inputBytes", 0) for s in stages),
    }


def _force(df: DataFrame) -> None:
    """Full-plan execution via the noop sink. count() is NOT one:
    Catalyst eliminates the don't-vanish LEFT join (unique-key
    aggregate right side, cardinality-preserving) and prunes value
    expressions — measured here first, then fixed in bench.py (r20):
    count() of exact_substring_spans compiled to a bare parquet
    metadata scan (0.4 s apparent vs ~12 s real at sf0.1)."""
    df.write.format("noop").mode("overwrite").save()


def measure(spark: SparkSession, name: str, make_df) -> dict:
    """Run the kernel to completion (noop-sink write) twice, keep the
    faster wall time (codegen warmup discipline) and the FIRST run's
    shuffle deltas (the second can reuse shuffle outputs)."""
    before = shuffle_totals(spark)
    t0 = time.perf_counter()
    _force(make_df())
    wall_first = time.perf_counter() - t0
    after = shuffle_totals(spark)
    t0 = time.perf_counter()
    _force(make_df())
    wall = min(wall_first, time.perf_counter() - t0)
    return {
        "wall_sec": round(wall, 3),
        **{k: after[k] - before[k] for k in before},
    }


def fit_slope(scales, values) -> float | None:
    """Least-squares slope of log(value) vs log(scale)."""
    pts = [
        (math.log(s), math.log(v))
        for s, v in zip(scales, values)
        if v and v > 0
    ]
    if len(pts) < 2:
        return None
    mx = sum(x for x, _ in pts) / len(pts)
    my = sum(y for _, y in pts) / len(pts)
    den = sum((x - mx) ** 2 for x, _ in pts)
    if den == 0:
        return None
    return round(sum((x - mx) * (y - my) for x, y, in pts) / den, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,3,10")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", type=int, default=16)
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]

    from datalake_local_spark.llm import dedup, text
    from datalake_local_spark.operators import ivm

    spark = build_session(args.cpus)
    kernels = {
        "exact_substring_spans": lambda d: dedup.exact_substring_spans(d),
        "exact_substring_spans_hashed": lambda d: dedup.exact_substring_spans_hashed(d),
        "exact_substring_probe": lambda d: dedup.exact_substring_probe(
            d, split_doc_id=_half_split(d)
        ),
        "minhash_lsh_candidates": lambda d: dedup.minhash_lsh_candidates(d),
        # r21 next tier (r20 verdict #6): the r20 scan-multiplicity wins
        # get measured slopes like the gram kernels did
        "span_coverage": lambda d: text.duplicate_span_coverage(d),
        "shingle_width_sweep": lambda d: dedup.shingle_width_sweep(d),
    }
    order_kernels = {
        "ivm_rollup_refresh": lambda o: ivm.ivm_rollup_refresh(o),
    }
    results: dict[str, dict] = {k: {} for k in (*kernels, *order_kernels)}
    corpus_chars: dict[int, int] = {}
    order_rows: dict[int, int] = {}
    # warm whole-stage codegen for every kernel's plan shape once at the
    # smallest scale — without this the smallest scale pays all the JIT
    # and the fitted wall slope comes out NEGATIVE (measured: -0.5 at
    # 1x/3x on a cold JVM)
    warm = scaled_documents(spark, args.sf_dir, min(scales)).localCheckpoint()
    for fn in kernels.values():
        _force(fn(warm))  # warm the REAL plan — count() warms a pruned one
    warm.unpersist()
    warm_o = scaled_orders(spark, args.sf_dir, min(scales)).localCheckpoint()
    for fn in order_kernels.values():
        _force(fn(warm_o))
    warm_o.unpersist()
    for s in scales:
        docs = scaled_documents(spark, args.sf_dir, s).localCheckpoint()
        corpus_chars[s] = docs.agg(
            F.sum(F.length("text"))
        ).collect()[0][0]
        for name, fn in kernels.items():
            results[name][s] = measure(spark, name, lambda: fn(docs))
        docs.unpersist()
        orders = scaled_orders(spark, args.sf_dir, s).localCheckpoint()
        order_rows[s] = orders.count()
        for name, fn in order_kernels.items():
            results[name][s] = measure(spark, name, lambda: fn(orders))
        orders.unpersist()

    doc = {
        "sf_dir": args.sf_dir,
        "cpus": args.cpus,
        "scales": scales,
        "corpus_chars": corpus_chars,
        "order_rows": order_rows,
        "kernels": results,
        "slopes": {
            name: {
                metric: fit_slope(
                    scales, [results[name][s][metric] for s in scales]
                )
                for metric in ("wall_sec", "shuffle_write_bytes")
            }
            for name in results
        },
    }
    print(json.dumps(doc, indent=1))
    spark.stop()


def _half_split(docs: DataFrame) -> int:
    """split_doc_id putting half the (dense, interleaved) corpus in the
    probe's existing index at every scale."""
    hi = docs.agg(F.max("doc_id")).collect()[0][0] or 0
    return (hi + 1) // 2


if __name__ == "__main__":
    main()
