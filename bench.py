"""Benchmark harness: runs the headline query suite at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Queries are forced with a ``noop``-sink write (full plan execution, no
driver-side result transfer). Rounds 1-19 forced with ``.count()``;
r20's scaling measurement caught Catalyst ELIMINATING whole subtrees
under count — a don't-vanish LEFT join to an aggregate with unique
keys is cardinality-preserving, so count() of dedup_exact_substring
compiled to a bare parquet metadata scan (0.38 s measured vs 11.9 s
real), and column pruning under count also drops window functions and
aggregate value expressions (window_rank 0.21 -> 1.04 s, text_quality
0.19 -> 1.53 s, agg_pricing_summary 0.63 -> 1.60 s; join shapes were
honest: join_inner 0.29 -> 0.33 s). The noop sink materializes every
output column through the full plan with no collect. The artifact
carries ``force`` so cross-round comparisons know which series a
number belongs to; SCALE.md r20 documents the break and the measured
count-vs-noop bridge. The suite covers each operator family once:
multi-join agg, scan-agg, broadcast join, window top-k, as-of join,
exact + MinHash dedup, cosine top-k, text scoring, sessionization,
streaming.
"""

from __future__ import annotations

import base64
import json
import os
import sys
import time
import zlib

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from datalake_local_spark.session import get_spark  # noqa: E402

BENCH_QUERIES = [
    "flagship_revenue_month_region",
    "agg_pricing_summary",
    "agg_monthly_rollup",
    "join_broadcast",
    "join_asof",
    "window_topk_per_group",
    "window_relative",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_cosine_topk",
    "text_quality",
    "text_token_stats",
    "events_sessionize",
    "streaming_tumbling",
    # round-3 heavy tail: six-way join ratio, iterative connected
    # components, IVF ANN, stream-stream join, blocked near-dup GEMM
    "tpch_market_share",
    "dedup_components",
    "sim_cosine_topk_ivf",
    "streaming_stream_join",
    "dedup_embedding_cosine",
    # round-4: the corpus-pipeline path gets a perf trendline — composed
    # gate→dedup→pack plan, PMI collocations, sequence-pattern windows,
    # n-gram benchmark-contamination join
    "pipeline_corpus_prep",
    "text_pmi_pairs",
    "events_sequence_patterns",
    "text_contamination",
    # round-5 tail: TF-IDF (vocab-join discipline), corpus-internal
    # duplicate n-grams (gram-grain df join), IVF probe behind the
    # build-once index registry
    "text_tfidf_top_terms",
    "text_dup_ngrams",
    # round-6: single-scan BM25 (shared-aggregate reuse) and the full
    # mixture build (sampling → dedup → token budget → packing, one plan)
    "text_bm25_search",
    "pipeline_mixture_build",
    # round-7: Gopher repetition gate (tagged one-explode union),
    # left-semi stream-stream join (stateful engine path), corpus-
    # calibrated quantization (dim-grain stats + vec-grain re-agg)
    "text_repetition_signals",
    "streaming_semi_join",
    "sim_quantize_dim_minmax",
    # round-7 second wave: C4 segment dedup (corpus-grain keeper join),
    # ExactSubstr span coverage (gram-grain semi join + interval-union
    # window), CCNet buckets (per-lang percentile + broadcast), global
    # shuffle order (two-level rank), Bloom prefilter (bitmap build +
    # map-side membership), PQ/ADC top-k (codebook train + lookup scan)
    "text_segment_dedup",
    "text_span_coverage",
    "text_lang_buckets",
    "pipeline_global_shuffle",
    "dedup_bloom_incremental",
    "sim_pq_topk",
    "dedup_kmv_overlap",
    # round-7 late waves: baselines for the r8 trendline — T5 masking
    # plan (hash arithmetic + per-doc window), hashing-trick featurizer
    # (explode + one combine), kNN label transfer (broadcast panel +
    # vote argmax), LTTB + CUSUM (per-series sequential kernels),
    # dup-graph quality (shared pair join + oriented triangle count)
    "text_span_corruption",
    "text_feature_hashing",
    "sim_knn_label_transfer",
    "events_lttb",
    "events_cusum",
    "dedup_graph_quality",
    # round-9 heavyweights (>0.5 s at sf0.1): prior-frame z-score
    # window, CM sketch + exact verifier, graph diagnostics (degree
    # histogram, capped k-core peel, components x pagerank keep
    # policy), RAKE islands, exact-shingle MinHash calibration, 3-way
    # ANN recall audit, greedy MMR, sweep-line concurrency
    "events_anomaly_zscore",
    "text_cm_heavy_hitters",
    "graph_degree_profile",
    "graph_kcore",
    "dedup_keep_policy",
    "text_rake_keywords",
    "dedup_minhash_calibration",
    "sim_ann_recall_report",
    "sim_mmr_diversify",
    "events_peak_concurrency",
    "tpch_basket_affinity",
    "dq_chi_squared",
    # round-11: prefix-filtered similarity join, wedge-count families
    # (triangles + link prediction), brand-partitioned ABC windows,
    # custkey self-join LTV, 50× Poisson-bootstrap explode, 32-term
    # Morton-key codegen scan, KM life table, GEMM-reuse cosine sweep
    "dedup_jaccard_prefix",
    "graph_triangles",
    "graph_link_prediction",
    "tpch_pareto_abc",
    "tpch_cohort_ltv",
    "dq_bootstrap_ci",
    "lake_zorder_layout",
    "events_survival_km",
    "dedup_cosine_sweep",
    # round-11 late waves: component-loop compositions (funnel,
    # leakage split), the sync-LPA fixpoint, the 3-pass shingle sweep,
    # and the cheap SLO table as a floor marker
    "pipeline_dedup_funnel",
    "pipeline_leakage_split",
    "graph_lpa_communities",
    "dedup_shingle_sweep",
    "events_slo_burn",
    # round-12: maintained-view refresh (delta merge + partition-pruned
    # min/max recompute), label-geometry integer GEMM at (label, dim)
    # grain, the day-pair Mann-Kendall join, and the two-ranker RRF
    # fusion (three corpus scans under ReuseExchange)
    "ivm_rollup_refresh",
    "sim_label_separation",
    "dq_mann_kendall",
    "text_rrf_fusion",
    # round-13: maintained grain lattice (O(delta) merge + 5 derived
    # levels off one checkpoint), integer-GEMM silhouette panel,
    # prefix-dim recall calibration (one checkpointed truth + three
    # width-shrinking brute-force passes), dialect round-trip certifier
    "ivm_multigrain_refresh",
    "sim_centroid_silhouette",
    "sim_matryoshka_recall",
    "fmt_csv_dialect_scan",
    # round-15: the verified heavy-hitter panel (two MG scans + pruned
    # exact count) and the dynamic-gap sessionizer (per-event-interval
    # session state)
    "text_frequent_tokens",
    "streaming_session_dynamic_gap",
    # round-16 additions: forecast-residual diagnostics (HW fit +
    # per-series Ljung-Box folds), the exact five-sum Pearson matrix
    # (pair self-join on the hour spine), the FFD OPTIMIZE planner
    # (metadata-grain greedy), the Kalman local-level filter
    # (adaptive-gain recursion), and the full-outer stream-stream join
    # (both-side watermark-tail emission) — five plan shapes the suite
    # did not yet time
    "events_hw_residual_diag",
    "events_cross_correlation",
    "lake_compaction_plan",
    "events_kalman_level",
    "streaming_full_outer_join",
    # round-16 late wave: the Croston intermittent-demand recursion
    # (20k part-grain applyInPandas folds over the demand-month
    # pre-aggregate — the widest grouped-pandas fan-out in the suite)
    # and the all-sources BFS fixpoint (diameter-bounded rounds of
    # frontier-join + anti-join — the one iterative shape the graph
    # suite did not yet time)
    "tpch_croston_demand",
    "graph_closeness",
    # metadata-grain lakehouse planning: envelope pruning quantified
    "lake_skipping_report",
    # exact order-statistic stock target (brand-partitioned windows)
    "tpch_newsvendor_stock",
    # shared-verbatim Wilson interval (brand-grain scalar math)
    "tpch_return_rate_ci",
    # hour-ordered entropy fold (user-grain bot screen)
    "events_behavior_entropy",
    # exact-integer running-peak drawdown (shared type-keyed shuffle)
    "events_max_drawdown",
    # Harris EOQ lot size (brand-grain scalar math, closes the quartet)
    "tpch_eoq",
    # round-17: join-mode matrix symmetry (right-outer watermark replay)
    # and the Morton-layout skipping report (layout-trio closer)
    "streaming_right_outer_join",
    "lake_zorder_skipping",
    # round-18: the Hilbert vs Morton A/B (truncated 3-level chain),
    # tokenizer-aware packing (BPE encode + two sharded prefix sums),
    # and the join->window chained-stateful pipeline (two state stores
    # in one streaming query)
    "lake_hilbert_skipping",
    "text_pack_bpe",
    "streaming_join_window",
    # delta-join view maintenance: O(delta) refresh, fact never rescanned
    "ivm_join_refresh",
    # fixed-depth integer HITS: 6 node-grain join+agg rounds on the feed
    "graph_hits",
    # Pettitt changepoint: day-grain windows over the exact-cents spine
    "dq_pettitt_changepoint",
    # Good-Turing count-of-counts: one corpus scan -> vocab -> r grain
    "text_good_turing",
    # Mann-Whitney U: distinct-value grain + two-level exact-rank cumsum
    "dq_mann_whitney",
    # runs test: day-grain order statistic + lag over the spine
    "dq_runs_test",
    "text_kn_bigram_logprob",
    "pipeline_dsir_weights",
    # round-19: ExactSubstr dedup — char-grain 30-gram canonicalization
    # (gram-keyed shuffle) + per-doc span merge, the widest explode in
    # the dedup family (O(corpus chars) gram rows) — and its
    # incremental ingestion-path probe (gram-grain left-semi join)
    "dedup_exact_substring",
    "dedup_substring_probe",
    "dedup_substring_clean",
    # round-20: the xxhash64-screen variant — timed beside the
    # string-keyed kernel so the suite carries the measured width cut
    "dedup_substring_hashed",
    # Brown-Forsythe variance screen: two grouped passes + class-
    # partitioned median windows
    "dq_levene",
    # Jarque-Bera normality screen: one grouped power-sum aggregate
    "dq_jarque_bera",
    # sigma-DP BFS fixpoint + O(V^3) triple join at bounded-component
    # grain — the widest definitional pair-sum in the graph suite
    "graph_betweenness",
]


def _force(df) -> None:
    """Execute the FULL plan: noop-sink write materializes every output
    column with zero driver-side transfer. count() is NOT a full
    execution — Catalyst eliminates cardinality-preserving subtrees
    under it (don't-vanish left joins to unique-key aggregates compile
    to a bare scan) and prunes window/aggregate value expressions."""
    df.write.format("noop").mode("overwrite").save()


def _bench_components_chain(spark, sf_dir: str) -> tuple[float, dict]:
    """Scale-probe the LSH→components chain over the FULL documents
    table — candidates from MinHash-LSH feeding the star component loop,
    multi-partition. Asserts the O(log d) round bound and that the loop
    really fans out beyond one partition.

    The testdata pair graph is far below ``dedup._DRIVER_GRAPH_EDGES``,
    so the probe patches that constant to 0 to run the distributed loop
    it measures, and sizes the rows-per-task constant so the loop runs
    four tasks at every scale factor."""
    import math
    from unittest import mock

    from datalake_local_spark.llm import dedup
    from datalake_local_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    stats: dict = {}
    t0 = time.perf_counter()
    pairs = dedup.minhash_lsh_candidates(docs).persist()
    rows_per_task = max(1, math.ceil(2 * pairs.count() / 4))
    with mock.patch.object(dedup, "_DRIVER_GRAPH_EDGES", 0), mock.patch.object(
        dedup, "_COMPONENT_ROWS_PER_PARTITION", rows_per_task
    ):
        out = dedup.duplicate_components(docs, pairs=pairs, stats=stats)
        n_rows = out.count()
    pairs.unpersist()
    dt = round(time.perf_counter() - t0, 3)
    assert n_rows == docs.count(), "every node must receive a component"
    # star contracts geometrically: diameter <= n_edges, so rounds must
    # stay within log2(diameter)+2 even on adversarial chain graphs
    bound = math.log2(max(2, stats["n_edges"])) + 2
    assert stats["rounds"] <= bound, f"rounds {stats['rounds']} > log2 bound {bound}"
    assert stats["num_partitions"] > 1, "chain must run multi-partition"
    return dt, stats


def _round_artifacts(root: str) -> list[str]:
    """The canonical driver artifacts ``BENCH_r<N>.json`` under ``root``,
    oldest round first. Suffixed ones (``BENCH_r20_c8.json``, an 8-core
    run) are a different env and never a comparison base. Sorted on the
    integer round: a lexical sort puts ``BENCH_r100`` before
    ``BENCH_r21``."""
    import glob
    import re

    by_round = {}
    for p in glob.glob(os.path.join(root, "BENCH_r*.json")):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", os.path.basename(p))
        if m:
            by_round[int(m.group(1))] = p
    return [by_round[n] for n in sorted(by_round)]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    # --dry-run (CI smoke, r14 verdict #1): exercise the FULL argument /
    # artifact / summary-print control flow — the exact path that shipped
    # BENCH_r14 as rc:1 — without starting Spark or touching testdata.
    dry_run = "--dry-run" in sys.argv[1:]
    times: dict[str, float] = {}
    chain_stats: dict = {}
    # in-suite drift bound (r18 verdict #5): the stable control pair
    # timed right after warmup and AGAIN after the whole suite — a
    # single JVM session accumulates GC/codegen-cache pressure as the
    # suite grows, and end/start separates that in-suite drift from
    # plan changes mechanically. If end/start exceeds ~1.15, split the
    # suite into per-family sessions.
    _CONTROL_PAIR = ("flagship_revenue_month_region", "streaming_tumbling")
    control_start: dict[str, float] = {}
    control_end: dict[str, float] = {}

    def _time_control(qs, into: dict) -> None:
        # best-of-2, same as the suite: the first pass of each control
        # query pays whole-stage-codegen JIT (the generic warmup query
        # does not warm THESE plans), which would make control_start
        # read ~3x slow and invert the drift ratio
        for name in _CONTROL_PAIR:
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                _force(qs[name](spark, sf_dir))
                dt = round(time.perf_counter() - t0, 3)
                best = dt if best is None else min(best, dt)
            into[name] = best

    if dry_run:
        spark = None
        times = {name: 0.0 for name in BENCH_QUERIES}
        times["dedup_components_chain"] = 0.0
        # two separate literals: aliasing them to one dict would let a
        # future mutation of either silently corrupt the other (r19
        # advice #5)
        control_start = {n: 0.0 for n in _CONTROL_PAIR}
        control_end = {n: 0.0 for n in _CONTROL_PAIR}
    else:
        spark = get_spark(app_name="datalake-local-spark-bench")
        qs = entrymod.queries()

        # warm the JVM/codegen once with the cheapest query so per-query
        # times measure the plan, not first-call JIT
        _force(qs["agg_order_stats"](spark, sf_dir))
        _time_control(qs, control_start)

        # best-of-2 per query: the first pass pays whole-stage-codegen JIT
        # and host noise; the min is the steady-state plan cost
        for _ in range(2):
            for name in BENCH_QUERIES:
                t0 = time.perf_counter()
                _force(qs[name](spark, sf_dir))
                dt = round(time.perf_counter() - t0, 3)
                times[name] = min(times.get(name, dt), dt)
        # LSH→components chain probe (best-of-2 like the suite; the first
        # pass pays signature codegen + the registry cache fill)
        for _ in range(2):
            dt, chain_stats = _bench_components_chain(spark, sf_dir)
            times["dedup_components_chain"] = min(
                times.get("dedup_components_chain", dt), dt
            )
        _time_control(qs, control_end)
    total = round(sum(times.values()), 3)
    # host-drift control pair (r16 verdict #4): two queries whose code
    # has been stable since r1/r12 — the flagship multi-join agg and the
    # streaming tumbling-window floor.  Their best-of-2 times move with
    # the HOST (CPU contention, thermal state), not with plan changes,
    # so a future round separates host drift from plan drift by the
    # control ratio (this round's control / last round's control)
    # mechanically instead of by narrative.  SCALE.md r16 documented a
    # ~35% host-slowdown window via exactly this evidence, hand-carried.
    control = {
        name: times[name]
        for name in ("flagship_revenue_month_region", "streaming_tumbling")
        if name in times
    }
    # self-computing round-over-round comparison (r18 verdict #1): the
    # normalized ratio ships ON the artifact, derived from the newest
    # committed BENCH_r{N}.json alone — tools/bench_decode.py --compare
    # reproduces it from the two committed files, so the SCALE.md
    # narrative and the artifacts cannot diverge again.
    nvp: dict | None = None
    prev_name = None
    prev_rec_force = None
    try:
        sys.path.insert(
            0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")
        )
        import bench_decode

        arts = _round_artifacts(os.path.dirname(os.path.abspath(__file__)))
        if arts and not dry_run:
            prev_rec = bench_decode.load_artifact(arts[-1])
            # only a same-SF pair is comparable (an ad-hoc sf0.001 run
            # vs the committed sf0.1 artifact is not a regression story)
            if prev_rec.get("sf") == sf:
                prev_name = os.path.basename(arts[-1])
                prev_rec_force = prev_rec.get("force")
                nvp = bench_decode.compare(
                    {"queries": times, "control": control, "force": "noop"},
                    prev_rec,
                )
                nvp["prev"] = prev_name
    except Exception:
        nvp = None
    # the prev artifact's force series: absent = the r1-r19 count()
    # series. A cross-force normalized_vs_prev mostly measures the
    # forcing change, not plan drift — flag it so nobody reads it as a
    # regression (SCALE.md r20 has the measured count-vs-noop bridge).
    force_changed = bool(nvp) and prev_rec_force != "noop"
    line = json.dumps(
        {
            "metric": "headline_suite_total",
            "value": total,
            "unit": "sec",
            "queries": times,
            "sf": sf,
            "components_chain": chain_stats,
            "control": control,
            "control_start": control_start,
            "control_end": control_end,
            "force": "noop",
            "force_changed_from_prev": force_changed,
            "vs_prev": nvp,
        }
    )
    # artifact-of-record hygiene (r11 verdict #3 + r12 ADVICE + r13
    # verdict #6): the full per-query line goes to BENCH_local.json —
    # but ONLY when the run passes --write-artifact AND is at the
    # canonical SF/env (default sf0.1 dir, default CPU count).  The
    # flag keeps the driver's per-round re-run from overwriting the
    # committed artifact of record (git status stays clean); an ad-hoc
    # SF with the flag writes a suffixed file so it cannot clobber the
    # comparable artifact either.
    artifact = "not-written"
    if "--write-artifact" in sys.argv[1:] and not dry_run:
        canonical = (
            os.path.realpath(sf_dir)
            == os.path.realpath("/root/testdata/sf0.1")
            and os.environ.get("SPARK_GRAFT_CPUS") in (None, "", "32")
        )
        artifact = (
            "BENCH_local.json"
            if canonical
            else f"BENCH_local_sf{sf}_adhoc.json"
        )
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), artifact
            ),
            "w",
        ) as fh:
            fh.write(line + "\n")
    # r20 verdict #1: the driver's per-query regression gate was BLIND
    # for two rounds — the plain per-query map cannot ride the summary
    # line (the driver's tail-capture window is 2000 chars and the 113
    # query names alone are 2093 chars), and the driver cannot decode
    # queries_z. So the FULL plain record is ALWAYS also written to a
    # driver/judge-readable companion file. Unlike BENCH_local.json
    # (the committed measurement of record, --write-artifact-gated so a
    # driver re-run cannot clobber it), this file is REFRESHED ON EVERY
    # REAL RUN by design: after the driver benches, it holds the
    # driver's own run's per-query map, matching the BENCH_r{N} total.
    # Non-canonical envs get suffixed names so the 8-core scaling run
    # cannot overwrite the 32-core detail (both stay readable).
    detail_file = "not-written"
    if not dry_run:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or "32"
        canonical_env = (
            os.path.realpath(sf_dir)
            == os.path.realpath("/root/testdata/sf0.1")
            and cpus == "32"
        )
        detail_file = (
            "BENCH_detail.json"
            if canonical_env
            else f"BENCH_detail_sf{sf}_c{cpus}.json"
        )
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), detail_file
            ),
            "w",
        ) as fh:
            fh.write(line + "\n")
    if spark is not None:
        spark.stop()
    sys.stdout.flush()
    # Two stdout lines: the full per-query record first, then a SHORT
    # summary line LAST (r12 verdict #2: the full line outgrew the
    # driver's tail-capture window, shipping parsed:null — the tail
    # must always end with a complete parseable record).
    print(line)
    summary = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(times),
        "detail": artifact,
        # r20 verdict #1: where the plain per-query map lives (always
        # written on real runs — see the detail_file comment above)
        "pq_file": detail_file,
        # the short line is what the driver's tail-capture records as
        # BENCH_r{N}.json — the control pair must ride on it, not only
        # on the (truncatable) full line
        "control": control,
        # r18 verdict #1+#5: the host-normalized round-over-round ratio
        # (raw common-query ratio / control-pair ratio vs the newest
        # committed BENCH_r{N}.json — tools/bench_decode.py --compare
        # reproduces it) and the in-suite drift pair: the control
        # queries timed at suite START and END, as [flagship,
        # streaming_tumbling] in that documented order (compact form —
        # named dicts ride on the full line).
        "normalized_vs_prev": (
            nvp.get("normalized_vs_prev") if nvp else None
        ),
        # short ref ("r18" = BENCH_r18.json), keeping the line compact
        "nvp_prev": (
            prev_name.replace("BENCH_", "").replace(".json", "")
            if prev_name
            else None
        ),
        "control_start": [control_start.get(n) for n in _CONTROL_PAIR],
        "control_end": [control_end.get(n) for n in _CONTROL_PAIR],
        # r20: forcing changed count -> noop (count let Catalyst
        # eliminate don't-vanish joins and prune window/agg values);
        # true while the newest committed artifact is a count-series
        # number — read normalized_vs_prev as a FORCE delta, not drift
        "force": "noop",
        "force_changed_from_prev": force_changed,
        # r17 verdict #2: the driver artifact must be SELF-CONTAINED —
        # cross-round per-query diffs should not depend on the
        # committed BENCH_local.json. The tail-capture window is 2000
        # chars (measured across BENCH_r12-r17) and the plain map is
        # ~2.7 KB, so it rides compressed: queries_z decodes with
        # json.loads(zlib.decompress(base64.b85decode(s))) — see
        # tools/bench_decode.py. The guard below keeps the line inside
        # the window with margin; if the suite ever outgrows even the
        # compressed form, the map is DROPPED rather than shipping an
        # unparseable tail (the r12 failure mode), and BENCH_local.json
        # remains the fallback of record.
        # 2dp inside the compressed map (10 ms granularity — an order
        # under the documented host-variance band; the 3dp record stays
        # in BENCH_local.json): at 102 queries the 3dp line reached
        # 1899 chars, one char under the old guard
        "codec": "zlib+b85",
    }

    def _qz(dp: int) -> str:
        return base64.b85encode(
            zlib.compress(
                json.dumps(
                    {k: round(v, dp) for k, v in times.items()},
                    separators=(",", ":"),
                ).encode(),
                9,
            )
        ).decode()

    # graceful degrade (r19): try 2dp; if the line outgrows the window,
    # fall to 1dp (0.1 s granularity — still under the host-variance
    # band for cross-round diffs) before dropping the map entirely.
    for dp in (2, 1):
        summary["queries_z"] = _qz(dp)
        if len(json.dumps(summary, separators=(",", ":"))) <= 1980:
            break
    if len(json.dumps(summary, separators=(",", ":"))) > 1980:
        summary.pop("queries_z")
        summary["codec"] = "overflow-see-detail-file"
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()
