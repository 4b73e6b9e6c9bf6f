"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` exposes
one callable per implemented operator from SURVEY.md §2 (+ the LLM-pipeline
north-star set); ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for
every SQL-expressible query (hash-checked at sf0.01). Queries whose
semantics are not ANSI-SQL-expressible (seeded MinHash/SimHash LSH,
approx sketches, hyperplane LSH probes) intentionally have no oracle →
rows-only check.
"""

from __future__ import annotations

import itertools
import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from datalake_local_spark import maintenance
from datalake_local_spark.session import load_tables
from datalake_local_spark.operators import aggregates as agg
from datalake_local_spark.operators import (
    asof,
    flagship,
    funnel,
    grouped_pandas,
    ivm,
    joins,
    layout,
    merge,
    quality,
    scalars,
    semantic,
    setops,
    tpch,
    windows,
)
from datalake_local_spark.llm import (
    dedup,
    pipeline as llm_pipeline,
    relevance,
    similarity,
    text,
    multimodal,
)
from datalake_local_spark.streaming import event_windows

_stream_counter = itertools.count()


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    tables = load_tables(spark, sf_dir)
    return [tables[n] for n in names]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    li, o, c, n, r = _t(
        spark, "/root/testdata/sf0.001", "lineitem", "orders", "customer", "nation", "region"
    )
    return flagship.revenue_by_month_region(li, o, c, n, r)


# ---------------------------------------------------------------- queries

def _q_flagship(spark, sf):
    return flagship.revenue_by_month_region(
        *_t(spark, sf, "lineitem", "orders", "customer", "nation", "region")
    )


def _q_streaming_tumbling(spark, sf):
    name = f"stream_tumbling_{next(_stream_counter)}"
    return event_windows.run_streaming_tumbling(spark, sf, minutes=10, query_name=name)


def _q_streaming_sessionize(spark, sf):
    name = f"stream_sessions_{next(_stream_counter)}"
    return event_windows.run_streaming_sessionize(spark, sf, gap_minutes=30, query_name=name)


def _q_streaming_rocksdb(spark, sf):
    name = f"stream_sessions_rocksdb_{next(_stream_counter)}"
    return event_windows.run_streaming_sessionize_rocksdb(
        spark, sf, gap_minutes=30, query_name=name
    )


def _q_streaming_dynamic_gap(spark, sf):
    name = f"stream_sessions_dynamic_{next(_stream_counter)}"
    return event_windows.run_streaming_session_dynamic_gap(
        spark, sf, query_name=name
    )


def _q_streaming_stateful(spark, sf):
    name = f"stream_stateful_{next(_stream_counter)}"
    return event_windows.run_streaming_stateful_counter(spark, sf, query_name=name)


def _q_streaming_sliding(spark, sf):
    name = f"stream_sliding_{next(_stream_counter)}"
    return event_windows.run_streaming_sliding(spark, sf, query_name=name)


def _q_profile_orders(spark, sf):
    from datalake_local_spark import maintenance

    (orders,) = _t(spark, sf, "orders")
    return maintenance.profile_table(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    )


def _q_streaming_fbu(spark, sf):
    name = f"fbu_{next(_stream_counter)}"
    return event_windows.run_streaming_foreachbatch_upsert(spark, sf, query_name=name)


def _q_streaming_dedup(spark, sf):
    name = f"stream_dedup_{next(_stream_counter)}"
    return event_windows.run_streaming_dedup(spark, sf, query_name=name)


def _q_streaming_stream_join(spark, sf):
    name = f"stream_join_{next(_stream_counter)}"
    return event_windows.run_streaming_stream_join(spark, sf, query_name=name)


def _q_streaming_static_enrich(spark, sf):
    name = f"stream_enrich_{next(_stream_counter)}"
    return event_windows.run_streaming_static_enrich(spark, sf, query_name=name)


def _q_streaming_semi_join(spark, sf):
    name = f"stream_semi_{next(_stream_counter)}"
    return event_windows.run_streaming_semi_join(spark, sf, query_name=name)


def _q_streaming_full_outer_join(spark, sf):
    """NEW r16: completes the stream-stream join-mode matrix. Fully
    oracle-backed — per-side eviction bounds under the final watermark
    (left strict at click_ts + interval, right inclusive at
    purchase_ts) probed empirically and replayed in SQL."""
    name = f"stream_fouter_{next(_stream_counter)}"
    return event_windows.run_streaming_full_outer_join(spark, sf, query_name=name)


def _q_streaming_right_outer_join(spark, sf):
    """NEW r17: matrix symmetry — every purchase with its candidate
    attributing clicks; unmatched purchases null-extend under the
    INCLUSIVE purchase_ts <= wm eviction bound the full-outer run
    probed empirically. Same watermark-replay oracle argument as the
    left-outer conversion."""
    name = f"stream_router_{next(_stream_counter)}"
    return event_windows.run_streaming_right_outer_join(spark, sf, query_name=name)


def _q_streaming_outer_join(spark, sf):
    """Oracle-backed since r16: under this harness the tail emission is
    deterministic (one data micro-batch + the final no-data batch), so
    the oracle replays the watermark — unmatched clicks emit iff
    click_ts + 60min < final watermark (strict; ms-truncated maxima,
    both bounds probed empirically)."""
    name = f"stream_outer_{next(_stream_counter)}"
    return event_windows.run_streaming_outer_join(spark, sf, query_name=name)


def _q_streaming_trending(spark, sf):
    """Per-window top-k event types, ranked inside foreachBatch (window
    functions over streaming aggregates are unsupported natively)."""
    name = f"stream_trending_{next(_stream_counter)}"
    return event_windows.run_streaming_trending(spark, sf, query_name=name)


def _q_streaming_two_level(spark, sf):
    """Oracle-backed since r16: append mode withholds windows the final
    watermark has not closed, but under this harness that tail is
    deterministic (one data micro-batch + the final no-data batch), so
    the oracle replays it — a window emits iff its end <= final
    watermark (inclusive; probed at the exact boundary and at -1ms)."""
    name = f"stream_2lvl_{next(_stream_counter)}"
    return event_windows.run_streaming_two_level_agg(spark, sf, query_name=name)


def _q_streaming_join_window(spark, sf):
    """Join→window chained stateful query (NEW r18): oracle-backed —
    matched pairs all emit from the single data batch; a downstream
    window emits iff its end < the JOIN OUTPUT watermark = global
    watermark (min side maxima, ms-truncated, − 2 h) further delayed by
    the join's 60-min interval bound. STRICT bound probed empirically
    r18: a window ending exactly at the delayed watermark is withheld;
    1 ms under it emits (boundary fixtures in test_streaming)."""
    name = f"stream_join_window_{next(_stream_counter)}"
    return event_windows.run_streaming_join_then_window(spark, sf, query_name=name)


def _q_merge_upsert(spark, sf):
    """MERGE: corrected rows (10% of keys, price uplift, status 'U') +
    brand-new rows (shifted keys), upserted into orders, then profiled."""
    from pyspark.sql import functions as F

    (orders,) = _t(spark, sf, "orders")
    corrections = orders.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        F.round(F.col("o_totalprice") * 1.1, 2).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    inserts = corrections.withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
    source = corrections.unionByName(inserts)
    merged = merge.merge_upsert(
        orders.select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"
        ),
        source,
        ["o_orderkey"],
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


def _q_scd2(spark, sf):
    """SCD2: customer segment changes for every 10th customer become new
    versions; output the versioned history with validity windows."""
    from pyspark.sql import functions as F

    (customer,) = _t(spark, sf, "customer")
    current = customer.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("2020-01-01").cast("date").alias("effective_from"),
    )
    updates = (
        customer.filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            F.lit("WHOLESALE").alias("c_mktsegment"),
            F.lit("2021-01-01").cast("date").alias("effective_from"),
        )
    )
    return merge.scd2_apply(current, updates, "c_custkey", ["c_mktsegment"], "effective_from")


def _q_scd2_asof(spark, sf):
    """Point-in-time SCD2 snapshots: the same versioned history as
    scd2_versions reconstructed AS OF two dates — before the segment
    migration (original mix, no WHOLESALE) and after (every 10th
    customer moved) — summarized at segment grain so the whole
    bitemporal round-trip is one compact certified table."""
    from pyspark.sql import functions as F

    hist = _q_scd2(spark, sf)
    snaps = []
    for d in ("2020-06-01", "2021-06-01"):
        snaps.append(
            merge.scd2_snapshot_at(hist, "effective_from", d)
            .groupBy("c_mktsegment")
            .agg(F.count("*").cast("long").alias("n_customers"))
            .withColumn("asof_date", F.lit(d).cast("date"))
        )
    return (
        snaps[0]
        .unionByName(snaps[1])
        .select("asof_date", "c_mktsegment", "n_customers")
        .orderBy("asof_date", "c_mktsegment")
    )


def _q_cube_request(spark, sf):
    """The semantic-cube façade exercised as a first-class query: a
    StockMarkets.js-style request (conf/cube/schema/StockMarkets.js:12-127
    — measures with a `type:` vocabulary over `sql:` columns, dimensions
    with a time grain) evaluated by ``semantic.cube_query`` in one call.
    avg is deliberately absent: money averages tie at decimal boundaries
    across engines (see semantic._AVG_E4), and the façade's generic
    float rounding makes no fixed-point promise — ``ohlcv_daily`` covers
    the exact-average contract."""
    from pyspark.sql import functions as F

    (events,) = _t(spark, sf, "events")
    return semantic.cube_query(
        events,
        measures={
            "n_events": ("count", "value"),
            "value_sum": ("sum", "value"),
            "value_min": ("min", "value"),
            "value_max": ("max", "value"),
        },
        dimensions={
            "month": F.date_trunc("month", F.col("ts")),
            "symbol": F.col("event_type"),
            "cohort": F.pmod(F.col("user_id"), F.lit(10)),
        },
    )


# Certification-window rotation: the driver oracle-checks the FIRST 50
# ``queries()`` entries (``_CERTIFY_FIRST`` is moved to the front of the
# registry). The window is filled by one rule: (a) the oracle-backed
# names whose code path changed since the last window, then (b) the
# rest by queue age — the round each name last hash-matched in a
# CORRECTNESS_r*.json, oldest first, ties by name. ROWS-ONLY names
# (tools/gen_catalog.ROWS_ONLY_REASONS) never enter the window.
_CERTIFY_FIRST = [
    # ---- code path changed: graph kernels choose driver vs distributed
    # from the edge count (dedup._driver_edges) ----
    "dedup_components",
    "dedup_cluster_sizes",
    "dedup_cluster_purity",
    "dedup_keep_policy",
    "dedup_entity_clusters",
    "graph_pagerank",
    "graph_kcore",
    "graph_lpa_communities",
    "graph_closeness",
    "graph_betweenness",
    "pipeline_dedup_funnel",
    "pipeline_leakage_split",
    # ---- queue age: last certified in r14, then r15 ----
    "dq_page_hinkley",
    "events_calendar_heatmap",
    "events_funnel",
    "events_hampel_outliers",
    "events_little_law",
    "events_retention_matrix",
    "fmt_csv_dialect_scan",
    "fmt_json_scan",
    "ivm_bitmap_distinct",
    "ivm_multigrain_refresh",
    "merge_upsert",
    "mm_frame_sample",
    "pandas_udaf_geomean",
    "pipeline_dataset_card",
    "pivot_status_by_priority",
    "scalar_levenshtein_funcs",
    "scd2_versions",
    "semantic_prediction_join",
    "sim_centroid_silhouette",
    "sim_matryoshka_recall",
    "sql_groupby_all",
    "streaming_dedup",
    "streaming_tumbling",
    "text_heaps_curve",
    "text_js_divergence",
    "text_ngram_novelty",
    "text_simpson_diversity",
    "tpch_demand_xyz",
    "tpch_discount_elasticity",
    "tpch_fill_rate",
    "tpch_priority_late",
    "tpch_product_profit",
    "tpch_rfm_migration",
    "tpch_waiting_supplier",
    "udtf_top_tokens",
    "agg_approx_distinct",
    "agg_approx_percentiles",
    "agg_argmax",
]


#: One ANSI string executed verbatim by BOTH spark.sql() and the DuckDB
#: oracle — the interactive `%sql` surface (reference ipython startup
#: 00-prettytables.py:42-62) demonstrated as a first-class query.
#: Correlated-subquery surface: EXISTS + a nested scalar subquery, ONE
#: ANSI string executed verbatim by spark.sql() AND DuckDB — the
#: decorrelation path (Catalyst rewrites to joins) certified against an
#: engine that evaluates it natively.
_CORRELATED_SQL = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
              AND o.o_totalprice > (SELECT avg(o_totalprice) * 1.8 FROM orders))
ORDER BY c_custkey LIMIT 10
"""

#: Named WINDOW clause (SQL:2003 <window clause>): two named windows —
#: one unframed rank, one ROWS running sum in exact integer cents —
#: shared by reference, ONE ANSI string executed verbatim by
#: spark.sql() AND DuckDB; output bounded to the per-priority top 5.
_NAMED_WINDOW_SQL = """
SELECT * FROM (
    SELECT o_orderpriority,
           o_orderkey,
           rank() OVER w AS price_rank,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS DECIMAL(38,0))) OVER wc AS BIGINT) AS running_cents
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey),
           wc AS (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice DESC, o_orderkey
                  ROWS UNBOUNDED PRECEDING)
)
WHERE price_rank <= 5
ORDER BY o_orderpriority, price_rank
"""

#: LATERAL subquery join (per-customer top-1 order) — the dependent-join
#: surface (SPARK-34382), verbatim on both engines.
_LATERAL_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
"""

#: GROUP BY ALL (SQL:2023-adjacent shorthand both engines ship):
#: every non-aggregated select item becomes a grouping key — ONE ANSI
#: string executed verbatim by spark.sql() AND DuckDB, revenue in exact
#: integer cents (the _NAMED_WINDOW_SQL decimal discipline).
_GROUPBY_ALL_SQL = """
    SELECT o_orderstatus,
           o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS DECIMAL(38,0))) AS BIGINT) AS revenue_cents
    FROM orders
    GROUP BY ALL
    ORDER BY o_orderstatus, o_orderpriority
"""


#: Brown-Forsythe decision cutoff rendered as a CASE chain over the
#: SAME quality._F95 table the Spark side's when-chain reads (r19
#: advice #2: look the cutoff up by the computed k-1 on BOTH engines;
#: one shared table, so the two lookups cannot desync). Outside the
#: table the CASE yields NULL -> NULL decision on both engines.
_LEVENE_CRIT_SQL = (
    "CASE k "
    + " ".join(
        f"WHEN {dof + 1} THEN {quality._F95[dof]}" for dof in sorted(quality._F95)
    )
    + " END"
)


#: ExactSubstr spans oracle — ONE replay certifies BOTH the
#: string-keyed kernel (dedup_exact_substring) and the xxhash64-screen
#: variant (dedup_substring_hashed): the two kernels are
#: value-identical by construction (see
#: dedup.exact_substring_spans_hashed's docstring), so the shared text
#: is the point, not a risk — a kernel divergence reds one row while
#: the other stays green. Gram width rendered from dedup.SUBSTR_K.
_EXACT_SUBSTR_SPANS_ORACLE = f"""
    WITH grams AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               substr(text, CAST(i + 1 AS INT), {dedup.SUBSTR_K}) AS gram
        FROM documents,
             LATERAL unnest(range(0, greatest(length(text) - {dedup.SUBSTR_K - 1}, 0)))
                 AS t(i)
    ),
    owner_doc AS (
        SELECT gram, min(doc_id) AS odoc FROM grams GROUP BY 1
    ),
    owner AS (
        SELECT g.gram, o.odoc, min(g.pos) AS opos
        FROM grams g
        JOIN owner_doc o ON o.gram = g.gram AND o.odoc = g.doc_id
        GROUP BY 1, 2
    ),
    dup AS (
        SELECT g.doc_id, g.pos
        FROM grams g JOIN owner o ON o.gram = g.gram
        WHERE NOT (g.doc_id = o.odoc AND g.pos = o.opos)
    ),
    flagged AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL
                         OR pos - lag(pos) OVER w > {dedup.SUBSTR_K}
                    THEN 1 ELSE 0 END AS new_span
        FROM dup
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    ids AS (
        SELECT doc_id, pos,
               sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING)
                   AS span_id
        FROM flagged
    ),
    spans AS (
        SELECT doc_id, span_id,
               max(pos) - min(pos) + {dedup.SUBSTR_K} AS span_chars,
               count(*) AS n_grams
        FROM ids GROUP BY 1, 2
    ),
    per_doc AS (
        SELECT doc_id,
               count(*) AS n_dup_spans,
               sum(span_chars) AS chars_removed,
               sum(n_grams) AS n_dup_grams
        FROM spans GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(coalesce(p.chars_removed, 0) AS BIGINT)
               AS chars_removed,
           CAST(length(d.text) AS BIGINT) AS total_chars,
           CAST(CASE WHEN length(d.text) > 0 THEN
                    coalesce(p.chars_removed, 0) * 10000
                        // length(d.text)
                ELSE 0 END AS BIGINT) AS removed_bps
    FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    ORDER BY d.doc_id
"""


def _q_sql_groupby_all(spark, sf):
    load_tables(spark, sf)
    return spark.sql(_GROUPBY_ALL_SQL)


_INTERACTIVE_SQL = """
    SELECT n_name AS nation,
           count(DISTINCT c_custkey) AS n_customers,
           round(sum(o_totalprice), 2) AS total_order_value
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
"""


def _dq_integrity(spark, sf):
    from datalake_local_spark.operators import quality

    return quality.integrity_report(*_t(spark, sf, "orders", "customer"))


def _dq_batch_drift(spark, sf):
    from datalake_local_spark.operators import quality

    return quality.batch_drift_report(*_t(spark, sf, "documents"))


def _dq_key_skew(spark, sf):
    from datalake_local_spark.operators import quality

    return quality.key_skew_profile(*_t(spark, sf, "events"), key_col="user_id")


def _fmt_orc_scan(spark, sf):
    from datalake_local_spark import formats

    return formats.orc_scan_parity(*_t(spark, sf, "orders"))


def _fmt_json_scan(spark, sf):
    from datalake_local_spark import formats

    return formats.json_scan_parity(*_t(spark, sf, "orders"))


def _fmt_schema_evolution(spark, sf):
    from datalake_local_spark import formats

    return formats.schema_evolution_scan(*_t(spark, sf, "orders"))


def _fmt_csv_dialect_scan(spark, sf):
    from datalake_local_spark import formats

    return formats.csv_dialect_scan_parity(*_t(spark, sf, "documents"))


def _dq_join_estimate(spark, sf):
    from datalake_local_spark.operators import quality

    events, orders = _t(spark, sf, "events", "orders")
    return quality.join_cardinality_estimate(events, orders, "user_id", "o_custkey")


def _q_recursive_spine(spark, sf):
    """Spark 4 recursive CTE (WITH RECURSIVE, UNION ALL + bounded
    predicate): generate the full month spine across the orders history
    and gap-fill monthly revenue with zeros — the engine-native form of
    the calendar-spine pattern (calendar_spine_daily builds the same
    spine with sequence(); this one exercises the recursion surface the
    reference gets from Trino/Postgres recursive CTEs)."""
    load_tables(spark, sf)
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
            SELECT to_date('1995-01-01')
            UNION ALL
            SELECT add_months(m, 1) FROM months WHERE m < to_date('2001-08-01')
        ),
        rev AS (
            SELECT to_date(date_trunc('month', o_orderdate)) AS m,
                   round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders GROUP BY 1
        )
        SELECT months.m AS month_start,
               coalesce(rev.revenue, 0.0) AS revenue,
               coalesce(rev.n_orders, 0) AS n_orders
        FROM months LEFT JOIN rev ON months.m = rev.m
        """
    )


def _q_sql_interactive(spark, sf):
    load_tables(spark, sf)  # registers the temp views spark.sql reads
    return spark.sql(_INTERACTIVE_SQL)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = _all_queries()
    ordered = {k: q[k] for k in _CERTIFY_FIRST if k in q}
    ordered.update({k: v for k, v in q.items() if k not in ordered})
    return ordered


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # flagship + joins (SURVEY §2.3)
        "flagship_revenue_month_region": _q_flagship,
        "join_inner": lambda s, d: joins.inner_join_order_customer(*_t(s, d, "orders", "customer")),
        "join_left_agg": lambda s, d: joins.left_join_customer_orders(*_t(s, d, "customer", "orders")),
        "join_semi": lambda s, d: joins.semi_join_customers_with_orders(*_t(s, d, "customer", "orders")),
        "join_anti": lambda s, d: joins.anti_join_customers_without_orders(*_t(s, d, "customer", "orders")),
        "join_broadcast": lambda s, d: joins.broadcast_join_lineitem_part(*_t(s, d, "lineitem", "part")),
        "join_composite_theta": lambda s, d: joins.composite_key_join_orders_lineitem(*_t(s, d, "orders", "lineitem")),
        "join_theta_pairs": lambda s, d: joins.theta_join_nation_pairs(*_t(s, d, "nation")),
        "join_asof": lambda s, d: asof.asof_latest_event_before_order(*_t(s, d, "orders", "events")),
        "join_asof_nearest": lambda s, d: asof.asof_nearest_join(*_t(s, d, "events")),
        "join_asof_merge": lambda s, d: asof.asof_join_merge_asof(*_t(s, d, "orders", "events")),
        "join_range_bucketized": lambda s, d: asof.range_join_bucketized(*_t(s, d, "events")),
        "events_forward_fill": lambda s, d: event_windows.forward_fill_values(*_t(s, d, "events")),
        # aggregations (SURVEY §2.4)
        "agg_pricing_summary": lambda s, d: agg.pricing_summary(*_t(s, d, "lineitem")),
        "agg_order_stats": lambda s, d: agg.order_stats_by_priority(*_t(s, d, "orders")),
        "agg_rollup": lambda s, d: agg.rollup_returnflag_linestatus(*_t(s, d, "lineitem")),
        "agg_cube": lambda s, d: agg.cube_status_priority(*_t(s, d, "orders")),
        "agg_grouping_sets": lambda s, d: (_t(s, d, "events") and agg.grouping_sets_events(s)),
        "agg_monthly_rollup": lambda s, d: agg.monthly_rollup(*_t(s, d, "orders")),
        "ivm_rollup_refresh": lambda s, d: ivm.ivm_rollup_refresh(*_t(s, d, "orders")),
        "ivm_multigrain_refresh": lambda s, d: ivm.ivm_multigrain_refresh(*_t(s, d, "orders")),
        "ivm_join_refresh": lambda s, d: ivm.ivm_join_refresh(*_t(s, d, "orders", "customer")),
        "ivm_bitmap_distinct": lambda s, d: ivm.ivm_bitmap_distinct(*_t(s, d, "orders")),
        "agg_argmax": lambda s, d: agg.argmax_aggregates(*_t(s, d, "orders")),
        "agg_conditional": lambda s, d: agg.conditional_aggregates(*_t(s, d, "lineitem")),
        "null_handling": lambda s, d: agg.null_handling_orders(*_t(s, d, "orders", "customer")),
        "window_range_frame": lambda s, d: windows.range_frame_weekly_revenue(*_t(s, d, "orders")),
        # windows (SURVEY §2.5 + A6)
        "window_rank": lambda s, d: windows.rank_orders_per_customer(*_t(s, d, "orders")),
        "window_lag_lead": lambda s, d: windows.lag_lead_order_dates(*_t(s, d, "orders")),
        "window_running": lambda s, d: windows.running_revenue_per_customer(*_t(s, d, "orders")),
        "window_topk_per_group": lambda s, d: windows.top_k_orders_per_customer(*_t(s, d, "orders")),
        "window_relative": lambda s, d: windows.relative_value_per_user(*_t(s, d, "events")),
        # r15 rows-only -> oracle conversion: integer bucket bounds +
        # fold centroids make the greedy selection bit-deterministic;
        # recursive-CTE replay (pick-for-pick at all three SFs)
        "events_lttb": lambda s, d: windows.lttb_downsample(*_t(s, d, "events")),
        # r15 rows-only -> oracle conversion: bit-deterministic chain
        # (exact-cents hourly mean, left-fold calibration, identical
        # recursion op order) replayed by a DuckDB recursive CTE
        "events_cusum": lambda s, d: windows.cusum_changepoints(*_t(s, d, "events")),
        "events_interpolate_hourly": lambda s, d: windows.interpolate_hourly(*_t(s, d, "events")),
        # set ops / sort / limit
        "setop_intersect": lambda s, d: setops.customers_active_both_years(*_t(s, d, "orders")),
        "setop_except": lambda s, d: setops.customers_active_only_first_year(*_t(s, d, "orders")),
        "setop_union": lambda s, d: setops.union_high_value_entities(*_t(s, d, "customer", "supplier")),
        "sort_limit_topn": lambda s, d: setops.top_orders_global(*_t(s, d, "orders")),
        # scalar function families
        "scalar_string_funcs": lambda s, d: scalars.string_functions_part(*_t(s, d, "part")),
        "scalar_levenshtein_funcs": lambda s, d: scalars.edit_distance_pairs(*_t(s, d, "nation")),
        "scalar_date_funcs": lambda s, d: scalars.date_functions_orders(*_t(s, d, "orders")),
        "scalar_json_extract": lambda s, d: scalars.json_functions_events(*_t(s, d, "events")),
        "scalar_json_agg": lambda s, d: scalars.json_aggregate_events(*_t(s, d, "events")),
        "scalar_variant_funcs": lambda s, d: scalars.variant_functions_events(
            *_t(s, d, "events")
        ),
        "scalar_array_funcs": lambda s, d: scalars.array_functions_embeddings(*_t(s, d, "embeddings")),
        "scalar_map_funcs": lambda s, d: scalars.map_functions_events(*_t(s, d, "events")),
        "scalar_string_funcs2": lambda s, d: scalars.string_functions_extended(*_t(s, d, "part")),
        "scalar_math_funcs": lambda s, d: scalars.math_functions_lineitem(*_t(s, d, "lineitem")),
        "scalar_try_funcs": lambda s, d: scalars.try_function_family(
            *_t(s, d, "orders")
        ),
        "scalar_bitwise_funcs": lambda s, d: scalars.bitwise_functions_lineitem(*_t(s, d, "lineitem")),
        "scalar_url_funcs": lambda s, d: scalars.url_functions_orders(*_t(s, d, "orders")),
        "calendar_spine_daily": lambda s, d: scalars.calendar_spine_daily_orders(*_t(s, d, "orders")),
        "agg_statistics": lambda s, d: agg.statistical_aggregates(*_t(s, d, "lineitem")),
        "agg_histogram": lambda s, d: agg.price_histogram(*_t(s, d, "orders")),
        "agg_equidepth_histogram": lambda s, d: agg.equidepth_histogram(*_t(s, d, "orders")),
        # dedup family (north star)
        "dedup_exact": lambda s, d: dedup.exact_dedup(*_t(s, d, "documents")),
        "dedup_exact_substring": lambda s, d: dedup.exact_substring_spans(*_t(s, d, "documents")),
        "dedup_substring_hashed": lambda s, d: dedup.exact_substring_spans_hashed(*_t(s, d, "documents")),
        "dedup_substring_probe": lambda s, d: dedup.exact_substring_probe(*_t(s, d, "documents")),
        "dedup_substring_clean": lambda s, d: dedup.exact_substring_clean(*_t(s, d, "documents")),
        "dedup_ngram_jaccard": lambda s, d: dedup.ngram_token_jaccard_pairs(*_t(s, d, "documents")),
        # round-8 wave 2
        "dedup_containment": lambda s, d: dedup.token_containment_pairs(*_t(s, d, "documents")),
        # oracle-backed since r16: the fold-deterministic local power
        # method replays in a list-state recursive CTE (adaptive delta
        # cadence included); python-reference test remains
        "graph_pagerank": lambda s, d: dedup.pagerank_dup_graph(*_t(s, d, "documents")),
        "dedup_components": lambda s, d: dedup.duplicate_components(*_t(s, d, "documents")),
        # cluster-size histogram over the components output
        "dedup_cluster_sizes": lambda s, d: dedup.duplicate_cluster_sizes(
            *_t(s, d, "documents")
        ),
        # per-component density + triangles: clique vs chain diagnosis
        "dedup_graph_quality": lambda s, d: dedup.duplicate_graph_quality(
            *_t(s, d, "documents")
        ),
        "dedup_incremental": lambda s, d: dedup.incremental_exact_dedup(*_t(s, d, "documents")),
        # Bloom-prefiltered incremental dedup: approximate accelerator,
        # exact contract — certified by the SAME oracle as the plain path
        "dedup_bloom_incremental": lambda s, d: dedup.bloom_incremental_dedup(
            *_t(s, d, "documents")
        ),
        # rows-only (seeded MinHash; no ANSI oracle) — the persisted-
        # index online probe: new batch vs indexed corpus, verified
        "dedup_band_index_probe": lambda s, d: dedup.band_index_probe(
            *_t(s, d, "documents")
        ),
        # rows-only (seeded MinHash; no ANSI oracle) — r13 verdict #4:
        # O(delta) append maintenance of the persisted band index; the
        # output row IS the certificate (incremental-probe pair set vs
        # from-scratch rebuild, n_only_* structural zeros)
        "dedup_band_incremental": lambda s, d: dedup.band_index_incremental(
            *_t(s, d, "documents")
        ),
        # KMV sketches: cross-source union/Jaccard/intersection estimates
        # at sketch grain (no doc-grain pair join); seed-free md5 hash
        "dedup_kmv_overlap": lambda s, d: dedup.kmv_source_overlap(
            *_t(s, d, "documents")
        ),
        # near-dup leakage matrix between sources (exact-Jaccard feed →
        # full oracle; at scale the feed is minhash_lsh_candidates)
        "dedup_cross_source": lambda s, d: dedup.cross_source_contamination(
            *_t(s, d, "documents")
        ),
        # rows-only (seeded MinHash feed): the full-table LSH→star chain,
        # the production composition bench.py scale-probes at sf0.1
        "dedup_components_chain": lambda s, d: dedup.duplicate_components(
            _t(s, d, "documents")[0],
            pairs=dedup.minhash_lsh_candidates(_t(s, d, "documents")[0]),
        ),
        # similarity search (north star)
        "sim_cosine_topk": lambda s, d: similarity.cosine_topk_bruteforce(*_t(s, d, "embeddings")),
        # kNN label transfer: odd ids labeled from even-id neighbors
        "sim_knn_label_transfer": lambda s, d: similarity.knn_label_transfer(
            *_t(s, d, "embeddings")
        ),
        # r15 rows-only -> oracle conversion: already fold-exact loop
        # replayed by a list-state recursive CTE (no code change)
        "sim_kcenter_coreset": lambda s, d: similarity.kcenter_coreset(
            *_t(s, d, "embeddings")
        ),
        # contrastive hard negatives: top-k similar with a DIFFERENT label
        "sim_hard_negatives": lambda s, d: similarity.hard_negative_mining(
            *_t(s, d, "embeddings")
        ),
        "sim_cosine_topk_vectorized": lambda s, d: similarity.cosine_topk_vectorized(*_t(s, d, "embeddings")),
        "sim_label_centroids": lambda s, d: similarity.embedding_centroids_by_label(*_t(s, d, "embeddings")),
        "sim_range_search": lambda s, d: similarity.cosine_range_search(*_t(s, d, "embeddings")),
        # rows-only BY DESIGN: KMeans state (seeded) has no ANSI oracle;
        # equivalence to cosine_topk_ivf + partition pruning pinned in tests
        "sim_ivf_partitioned_probe": lambda s, d: similarity.ivf_partitioned_probe(
            *_t(s, d, "embeddings")
        ),
        # text analysis (north star)
        "text_token_stats": lambda s, d: text.token_stats(*_t(s, d, "documents")),
        "text_quality": lambda s, d: text.quality_scores(*_t(s, d, "documents")),
        "text_lang_id": lambda s, d: text.language_id(*_t(s, d, "documents")),
        "text_fingerprint": lambda s, d: text.fingerprints(*_t(s, d, "documents")),
        "text_source_profile": lambda s, d: text.source_lang_profile(*_t(s, d, "documents")),
        "text_top_bigrams": lambda s, d: text.top_bigrams_per_lang(*_t(s, d, "documents")),
        "text_unigram_logprob": lambda s, d: text.unigram_logprob(*_t(s, d, "documents")),
        "text_bigram_logprob": lambda s, d: text.bigram_logprob(*_t(s, d, "documents")),
        "text_kn_bigram_logprob": lambda s, d: text.kn_bigram_logprob(*_t(s, d, "documents")),
        "text_good_turing": lambda s, d: text.good_turing_counts(*_t(s, d, "documents")),
        "text_vocab_oov": lambda s, d: text.vocab_oov_profile(*_t(s, d, "documents")),
        "text_pmi_pairs": lambda s, d: text.token_pmi_pairs(*_t(s, d, "documents")),
        "sample_stratified": lambda s, d: tpch.stratified_sample_stats(*_t(s, d, "orders")),
        "events_sequence_patterns": lambda s, d: funnel.sequence_pattern_counts(*_t(s, d, "events")),
        "sql_interactive": _q_sql_interactive,
        "sql_groupby_all": _q_sql_groupby_all,
        "sql_correlated_exists": lambda s, d: (load_tables(s, d), s.sql(_CORRELATED_SQL))[1],
        "sql_lateral_topn": lambda s, d: (load_tables(s, d), s.sql(_LATERAL_SQL))[1],
        "sql_named_window": lambda s, d: (load_tables(s, d), s.sql(_NAMED_WINDOW_SQL))[1],
        "sql_recursive_spine": _q_recursive_spine,
        "pipeline_corpus_prep": lambda s, d: llm_pipeline.prepare_corpus(*_t(s, d, "documents")),
        "pipeline_decontaminate": lambda s, d: llm_pipeline.decontaminate_corpus(*_t(s, d, "documents")),
        "pipeline_weighted_sample": lambda s, d: llm_pipeline.weighted_source_sample(
            *_t(s, d, "documents")
        ),
        # the production mixture job end-to-end: weighted sampling →
        # exact dedup → per-source token budget → packing, one plan
        "pipeline_mixture_build": lambda s, d: llm_pipeline.pretraining_mixture(
            *_t(s, d, "documents")
        ),
        # rows-only (seeded MinHash near-dedup slotted into the chain)
        "pipeline_mixture_neardup": lambda s, d: llm_pipeline.pretraining_mixture(
            *_t(s, d, "documents"), near_dedup=True
        ),
        # deterministic md5-interval train/val/test assignment audit
        "pipeline_train_split": lambda s, d: llm_pipeline.train_eval_split(
            *_t(s, d, "documents")
        ),
        # CDC-style snapshot changelog (added/removed/changed/unchanged)
        "pipeline_snapshot_diff": lambda s, d: llm_pipeline.corpus_snapshot_diff(
            *_t(s, d, "documents")
        ),
        # deterministic global training order (two-level shard rank ==
        # one global hash-order row_number, without the one-task window)
        "pipeline_global_shuffle": lambda s, d: llm_pipeline.global_shuffle_order(
            *_t(s, d, "documents")
        ),
        "text_tfidf_top_terms": lambda s, d: relevance.tfidf_top_terms(*_t(s, d, "documents")),
        "text_bm25_search": lambda s, d: relevance.bm25_scores(*_t(s, d, "documents")),
        "text_rrf_fusion": lambda s, d: relevance.rrf_rank_fusion(*_t(s, d, "documents")),
        "text_js_divergence": lambda s, d: text.source_js_divergence(*_t(s, d, "documents")),
        "text_heaps_curve": lambda s, d: text.heaps_vocabulary_curve(*_t(s, d, "documents")),
        "text_simpson_diversity": lambda s, d: text.simpson_diversity(*_t(s, d, "documents")),
        "text_ngram_novelty": lambda s, d: text.ngram_novelty(*_t(s, d, "documents")),
        "text_dup_ngrams": lambda s, d: text.duplicate_ngram_profile(*_t(s, d, "documents")),
        "text_repetition_signals": lambda s, d: text.repetition_signals(*_t(s, d, "documents")),
        # PII redaction pass (emails/phones/IPs counted + masked; the
        # corpus carries no real PII, so a deterministic synthesizer
        # injects it — same fixture pattern as mm_audio_features)
        "text_pii_scrub": lambda s, d: text.pii_scrub(*_t(s, d, "documents")),
        "text_encoding_quality": lambda s, d: text.encoding_quality(*_t(s, d, "documents")),
        # C4-style corpus-wide segment dedup: first occurrence kept,
        # per-doc removal audit + kept-sequence fingerprint
        "text_segment_dedup": lambda s, d: text.segment_dedup(*_t(s, d, "documents")),
        # exact-substring span coverage: interval-union of cross-doc
        # duplicated k-token windows (what an ExactSubstr rewrite cuts)
        "text_span_coverage": lambda s, d: text.duplicate_span_coverage(
            *_t(s, d, "documents")
        ),
        # CCNet head/middle/tail: per-language LM-score terciles
        "text_lang_buckets": lambda s, d: text.lang_quality_buckets(
            *_t(s, d, "documents")
        ),
        # rows-only (iterative driver loop — argmax per round is not one
        # ANSI statement); merge sequence checked against a pure-python
        # reference implementation in test_llm.py
        "text_bpe_merges": lambda s, d: text.bpe_train(*_t(s, d, "documents")),
        # rows-only (driver merge loop feeds the encoder) — per-doc
        # subword token accounting with the learned merges
        "text_bpe_encode": lambda s, d: text.bpe_encode_corpus(*_t(s, d, "documents")),
        # hashing-trick sparse featurizer (exploded (doc, bucket, w))
        "text_feature_hashing": lambda s, d: text.feature_hashing(
            *_t(s, d, "documents")
        ),
        # T5 span-corruption plan: deterministic hash-driven masking
        "text_span_corruption": lambda s, d: text.span_corruption_plan(
            *_t(s, d, "documents")
        ),
        # rows-only (no ANSI zlib) — compressibility quality signal
        "text_compression_ratio": lambda s, d: text.compression_ratio_signal(
            *_t(s, d, "documents")
        ),
        "text_zipf_profile": lambda s, d: text.zipf_profile(*_t(s, d, "documents")),
        "text_langid_confusion": lambda s, d: text.langid_confusion(*_t(s, d, "documents")),
        "text_corpus_qa_report": lambda s, d: text.corpus_qa_report(*_t(s, d, "documents")),
        "tpch_rfm_segments": lambda s, d: tpch.rfm_segments(*_t(s, d, "orders")),
        "tpch_rfm_migration": lambda s, d: tpch.rfm_migration(*_t(s, d, "orders")),
        "tpch_fill_rate": lambda s, d: tpch.order_fill_rate(*_t(s, d, "orders", "lineitem")),
        "tpch_discount_elasticity": lambda s, d: tpch.discount_elasticity(*_t(s, d, "lineitem")),
        "events_transition_matrix": lambda s, d: funnel.event_transition_matrix(
            *_t(s, d, "events")
        ),
        # rows-only (driver-side eigendecomposition of the tree-aggregated
        # Gram matrix; no ANSI oracle) — invariant-tested in test_llm.py.
        # Registered as the FLAT scalar form (vec_id, component_idx,
        # component_value, explained_variance): the array form is not
        # canonicalizable by the correctness driver (r5 ERR).
        "sim_pca_project": lambda s, d: similarity.pca_project_flat(*_t(s, d, "embeddings")),
        # rows-only (seeded MinHash has no ANSI oracle): the production
        # scale path — quality gate → exact dedup → LSH candidates →
        # star components → keep canonical → pack — as one chain
        "pipeline_corpus_prep_neardup": lambda s, d: llm_pipeline.prepare_corpus(
            *_t(s, d, "documents"), near_dedup=True
        ),
        "dq_orders_integrity": lambda s, d: _dq_integrity(s, d),
        "dq_batch_drift": lambda s, d: _dq_batch_drift(s, d),
        # shuffle-key skew diagnosis over the events fact (user_id grain)
        "dq_key_skew": lambda s, d: _dq_key_skew(s, d),
        "dq_chi_squared": lambda s, d: quality.chi_squared_screen(*_t(s, d, "events")),
        "events_stickiness": lambda s, d: funnel.stickiness_profile(*_t(s, d, "events")),
        "sim_embedding_dim_profile": lambda s, d: similarity.embedding_dim_profile(*_t(s, d, "embeddings")),
        "sim_label_separation": lambda s, d: similarity.label_separation_geometry(*_t(s, d, "embeddings")),
        "sim_matryoshka_recall": lambda s, d: similarity.matryoshka_prefix_recall(*_t(s, d, "embeddings")),
        "sim_centroid_silhouette": lambda s, d: similarity.centroid_silhouette(*_t(s, d, "embeddings")),
        "sim_pair_geometry": lambda s, d: similarity.pair_geometry(*_t(s, d, "embeddings")),
        "dq_completeness_profile": lambda s, d: quality.completeness_profile(*_t(s, d, "orders")),
        # pre-flight join-size estimate: events.user_id x orders.o_custkey
        "dq_join_estimate": lambda s, d: _dq_join_estimate(s, d),
        # format parity: same oracle aggregates, data read back from ORC
        # and from a schema-evolved (mergeSchema) parquet dataset
        "fmt_orc_scan": lambda s, d: _fmt_orc_scan(s, d),
        "fmt_json_scan": lambda s, d: _fmt_json_scan(s, d),
        "fmt_csv_dialect_scan": lambda s, d: _fmt_csv_dialect_scan(s, d),
        "fmt_schema_evolution": lambda s, d: _fmt_schema_evolution(s, d),
        "tpch_priority_late": lambda s, d: tpch.priority_late_count(*_t(s, d, "lineitem", "orders")),
        "tpch_product_profit": lambda s, d: tpch.product_profit(
            *_t(s, d, "lineitem", "orders", "supplier", "nation", "part")
        ),
        "tpch_waiting_supplier": lambda s, d: tpch.waiting_supplier(*_t(s, d, "lineitem", "orders", "supplier")),
        "tpch_supplier_part_counts": lambda s, d: tpch.supplier_part_counts(*_t(s, d, "lineitem", "part", "supplier")),
        "text_contamination": lambda s, d: text.benchmark_contamination(*_t(s, d, "documents")),
        "text_pack_sequences": lambda s, d: text.pack_sequences(*_t(s, d, "documents")),
        "text_pack_bpe": lambda s, d: text.pack_sequences_bpe(*_t(s, d, "documents")),
        "text_quality_gate": lambda s, d: text.quality_gate(*_t(s, d, "documents")),
        "pipeline_quality_sweep": lambda s, d: text.quality_threshold_sweep(*_t(s, d, "documents")),
        "pipeline_dataset_card": lambda s, d: llm_pipeline.dataset_card(*_t(s, d, "documents")),
        "agg_mad_outliers": lambda s, d: agg.mad_outliers(*_t(s, d, "events")),
        "agg_trend_regression": lambda s, d: agg.trend_regression(*_t(s, d, "events")),
        # round-8 wave 1
        "agg_regression_funcs": lambda s, d: agg.regression_family(*_t(s, d, "lineitem")),
        "dq_benford": lambda s, d: quality.benford_profile(*_t(s, d, "orders")),
        "window_moving_median": lambda s, d: windows.moving_median_user_spend(*_t(s, d, "events")),
        "events_streaks": lambda s, d: windows.activity_streaks(*_t(s, d, "events")),
        # round-9 additions
        "agg_higher_moments": lambda s, d: agg.higher_moment_family(*_t(s, d, "lineitem")),
        "agg_weighted_median": lambda s, d: agg.weighted_median_family(*_t(s, d, "lineitem")),
        "events_anomaly_zscore": lambda s, d: windows.rolling_zscore_anomalies(*_t(s, d, "events")),
        "events_multigrain_rollup": lambda s, d: agg.multigrain_time_rollup(*_t(s, d, "events")),
        "scalar_ip_funcs": lambda s, d: scalars.ip_functions_events(*_t(s, d, "events")),
        "graph_degree_profile": lambda s, d: dedup.dup_graph_degree_profile(*_t(s, d, "documents")),
        # oracle-backed since r16: the k-ascending peel replays in a
        # list-state recursive CTE (coreness is peel-order-invariant);
        # pure-python Batagelj–Zaveršnik reference still asserted in tests
        "graph_kcore": lambda s, d: dedup.kcore_decomposition(*_t(s, d, "documents")),
        "tpch_important_stock": lambda s, d: tpch.important_stock(*_t(s, d, "supplier", "nation", "part")),
        "text_cm_heavy_hitters": lambda s, d: text.cm_heavy_hitters(*_t(s, d, "documents")),
        "dq_ab_ttest": lambda s, d: quality.ab_welch_ttest(*_t(s, d, "events")),
        "dq_cuped": lambda s, d: quality.cuped_adjustment(*_t(s, d, "events")),
        "dq_mann_kendall": lambda s, d: quality.mann_kendall_trend(*_t(s, d, "orders")),
        "dq_cramers_v": lambda s, d: quality.cramers_v_screen(*_t(s, d, "orders")),
        "dq_levene": lambda s, d: quality.levene_variance_screen(*_t(s, d, "orders")),
        "dq_jarque_bera": lambda s, d: quality.jarque_bera_screen(*_t(s, d, "orders")),
        "dq_ljung_box": lambda s, d: quality.ljung_box_test(*_t(s, d, "orders")),
        "dq_page_hinkley": lambda s, d: quality.page_hinkley_drift(*_t(s, d, "orders")),
        "dq_control_chart": lambda s, d: quality.control_chart_monthly(*_t(s, d, "orders")),
        # NEW r15: EWMA control chart (Roberts 1959) — completes the
        # SPC trio (XmR above, CUSUM in events_cusum); bit-deterministic
        # chain replayed by a prefix-list_reduce oracle
        "dq_ewma_chart": lambda s, d: quality.ewma_control_chart(*_t(s, d, "events")),
        # NEW r15 (post-window: 3-SF local certs now, driver row heads
        # the r16 window — the r12-precedent pattern): Holt linear-trend
        # one-step-ahead forecasting, the first forecasting-family
        # operator; two-state recursive-CTE oracle
        "events_holt_forecast": lambda s, d: windows.holt_forecast(*_t(s, d, "events")),
        # NEW r15 (post-window, same pattern): Holt-Winters additive
        # seasonal forecasting, daily (period-24) profile; three-state
        # recursive-CTE oracle with the seasonal LIST as state
        "events_holt_winters": lambda s, d: windows.holt_winters_forecast(*_t(s, d, "events")),
        # NEW r16 (r15 verdict #7): Ljung-Box on the Holt-Winters
        # one-step residuals — forecast-residual diagnostics closing
        # the forecasting family; fold-exact over bit-identical
        # residuals, oracle shares the HW recursion verbatim
        "events_hw_residual_diag": lambda s, d: quality.hw_residual_ljung_box(*_t(s, d, "events")),
        # NEW r16: pairwise Pearson of the hourly event-type series in
        # exact integer arithmetic (five-sum identity; dq_ljung_box
        # discipline) — the cross-series coupling screen
        "events_cross_correlation": lambda s, d: quality.cross_series_correlation(*_t(s, d, "events")),
        # NEW r16: OPTIMIZE planner — FFD bin packing of the per-source
        # pseudo-file manifest (all-integer greedy; CTE-replayed)
        "lake_compaction_plan": lambda s, d: maintenance.compaction_plan(
            maintenance.document_file_manifest(*_t(s, d, "documents"))
        ),
        # NEW r16: optimal-gain state estimation (Kalman local level) —
        # the adaptive-gain counterpart of the fixed-gain smoothers;
        # (x, P) recursion replayed by a recursive-CTE oracle
        "events_kalman_level": lambda s, d: windows.kalman_level_filter(*_t(s, d, "events")),
        "dq_theil_sen": lambda s, d: quality.theil_sen_slope(*_t(s, d, "orders")),
        "dq_ks_test": lambda s, d: quality.ks_two_sample(*_t(s, d, "orders")),
        "dq_column_diff": lambda s, d: ivm.column_diff_profile(*_t(s, d, "orders")),
        # rows-only: composes two iterative upstreams (components +
        # pagerank); planted hub-vs-min-id keep test
        "dedup_keep_policy": lambda s, d: dedup.canonical_keep_policy(*_t(s, d, "documents")),
        # r15 rows-only -> oracle conversion: fold-exact greedy loop
        # replayed by a list-state recursive CTE, pick-for-pick;
        # first-pick/diversity/determinism invariants still tested
        "sim_mmr_diversify": lambda s, d: similarity.mmr_diversify(*_t(s, d, "embeddings")),
        "events_cumulative_users": lambda s, d: windows.cumulative_distinct_users(*_t(s, d, "events")),
        "agg_gini_spend": lambda s, d: agg.gini_spend_concentration(*_t(s, d, "orders")),
        "dedup_rate_by_source": lambda s, d: dedup.dedup_rate_by_source(*_t(s, d, "documents")),
        # rows-only: ensemble of seeded index artifacts (hyperplanes +
        # KMeans); exact-recall and bound invariants tested
        "sim_ann_recall_report": lambda s, d: similarity.ann_recall_report(*_t(s, d, "embeddings")),
        "events_peak_concurrency": lambda s, d: windows.peak_concurrency(*_t(s, d, "events")),
        "pipeline_shard_manifest": lambda s, d: llm_pipeline.shard_manifest(*_t(s, d, "documents")),
        # rows-only: seeded xxhash64 signatures have no DuckDB twin;
        # estimator-quality invariants tested
        "dedup_minhash_calibration": lambda s, d: dedup.minhash_calibration(*_t(s, d, "documents")),
        "text_rake_keywords": lambda s, d: text.rake_keywords(*_t(s, d, "documents")),
        "tpch_part_promotion": lambda s, d: tpch.part_promotion(*_t(s, d, "lineitem", "supplier", "nation", "part")),
        "tpch_basket_affinity": lambda s, d: tpch.basket_affinity(*_t(s, d, "lineitem")),
        "tpch_seasonal_index": lambda s, d: tpch.seasonal_index(*_t(s, d, "orders")),
        "dedup_lsh_scurve": lambda s, d: dedup.lsh_scurve(s),
        "graph_triangles": lambda s, d: dedup.dup_graph_triangles(*_t(s, d, "documents")),
        # NEW r16: all-sources BFS -> closeness + eccentricity; exact
        # integers until one final division, bounded-CTE oracle replay
        "graph_betweenness": lambda s, d: dedup.betweenness_centrality(*_t(s, d, "documents")),
        "graph_closeness": lambda s, d: dedup.closeness_centrality(*_t(s, d, "documents")),
        "graph_hits": lambda s, d: dedup.hits_walk_centrality(*_t(s, d, "documents")),
        "dq_pettitt_changepoint": lambda s, d: quality.pettitt_changepoint(*_t(s, d, "orders")),
        "dq_mann_whitney": lambda s, d: quality.mann_whitney_u(*_t(s, d, "orders")),
        "dq_runs_test": lambda s, d: quality.runs_test(*_t(s, d, "orders")),
        "graph_assortativity": lambda s, d: dedup.graph_degree_assortativity(*_t(s, d, "documents")),
        "dedup_entity_fuzzy": lambda s, d: dedup.fuzzy_entity_pairs(*_t(s, d, "part")),
        "text_phrase_search": lambda s, d: text.phrase_search(*_t(s, d, "documents")),
        "dedup_jaccard_prefix": lambda s, d: dedup.jaccard_prefix_filter_pairs(*_t(s, d, "documents")),
        "events_attribution": lambda s, d: funnel.touch_attribution(*_t(s, d, "events")),
        "dedup_cluster_purity": lambda s, d: dedup.cluster_source_purity(*_t(s, d, "documents")),
        "tpch_yoy_growth": lambda s, d: tpch.yoy_growth(*_t(s, d, "orders")),
        "tpch_pareto_abc": lambda s, d: tpch.pareto_abc(*_t(s, d, "lineitem", "part")),
        "tpch_cohort_ltv": lambda s, d: tpch.cohort_ltv(*_t(s, d, "orders")),
        "graph_link_prediction": lambda s, d: dedup.dup_graph_link_prediction(*_t(s, d, "documents")),
        "events_survival_km": lambda s, d: funnel.survival_km(*_t(s, d, "events")),
        "dq_bootstrap_ci": lambda s, d: quality.bootstrap_mean_ci(*_t(s, d, "orders")),
        "dq_psi_drift": lambda s, d: quality.psi_drift(*_t(s, d, "orders")),
        "lake_zorder_layout": lambda s, d: layout.zorder_layout(*_t(s, d, "orders")),
        # NEW r16: min/max file-skipping effectiveness under a predicate
        # workload — 2 layouts x 2 predicate families, exact integers
        # until the one skip-rate division
        "lake_skipping_report": lambda s, d: layout.skipping_report(*_t(s, d, "events")),
        "lake_zorder_skipping": lambda s, d: layout.zorder_skipping_report(*_t(s, d, "events")),
        "lake_hilbert_skipping": lambda s, d: layout.hilbert_skipping_report(*_t(s, d, "events")),
        "mm_aspect_buckets": lambda s, d: multimodal.aspect_ratio_buckets(*_t(s, d, "documents")),
        "dedup_entity_clusters": lambda s, d: dedup.fuzzy_entity_clusters(*_t(s, d, "part")),
        "pipeline_weighted_reservoir": lambda s, d: llm_pipeline.weighted_reservoir_sample(*_t(s, d, "documents")),
        "dedup_url_canonical": lambda s, d: scalars.url_canonical_dedup(*_t(s, d, "orders")),
        "scd2_asof_snapshot": _q_scd2_asof,
        # oracle-backed since r16: the synchronous rounds replay in a
        # list-state recursive CTE (deterministic min-label tie-break,
        # positional label-vector termination); python replay test kept
        "graph_lpa_communities": lambda s, d: dedup.lpa_communities(*_t(s, d, "documents")),
        "tpch_lead_time": lambda s, d: tpch.fulfillment_lead_time(*_t(s, d, "lineitem", "orders")),
        "events_path_trigrams": lambda s, d: funnel.path_trigrams(*_t(s, d, "events")),
        "events_session_depth": lambda s, d: event_windows.session_depth_profile(*_t(s, d, "events")),
        "dedup_shingle_sweep": lambda s, d: dedup.shingle_width_sweep(*_t(s, d, "documents")),
        "pipeline_dedup_funnel": lambda s, d: llm_pipeline.dedup_funnel_report(*_t(s, d, "documents")),
        "events_seasonal_anomaly": lambda s, d: windows.seasonal_anomaly_days(*_t(s, d, "events")),
        "join_full_outer": lambda s, d: joins.full_outer_reconcile(*_t(s, d, "orders", "lineitem")),
        "tpch_realized_margin": lambda s, d: tpch.realized_margin(*_t(s, d, "lineitem", "part")),
        "tpch_supplier_hhi": lambda s, d: tpch.supplier_concentration_hhi(*_t(s, d, "lineitem", "part")),
        "tpch_demand_xyz": lambda s, d: tpch.demand_variability_xyz(*_t(s, d, "lineitem", "part")),
        # NEW r16: Croston intermittent-demand forecast — the companion
        # forecaster for demand_xyz's erratic "Z" class; two-state SES
        # recursion per part, replayed bit-exactly by the recursive-CTE
        # oracle (the holt/kalman toolbox)
        "tpch_croston_demand": lambda s, d: tpch.croston_demand(*_t(s, d, "lineitem")),
        # NEW r16: newsvendor critical-ratio stock target — exact order
        # statistic (no interpolating percentile kernel), integer-pure
        # until the two documented divisions
        "tpch_newsvendor_stock": lambda s, d: tpch.newsvendor_stock(*_t(s, d, "lineitem", "part")),
        # NEW r16: Wilson 95% interval on per-brand return rates — ONE
        # expression string parsed verbatim by both engines
        "tpch_return_rate_ci": lambda s, d: tpch.return_rate_wilson_ci(*_t(s, d, "lineitem", "part")),
        # NEW r16: Harris EOQ lot size — exact-integer ratio into a
        # correctly-rounded sqrt, unrounded outputs
        "tpch_eoq": lambda s, d: tpch.economic_order_quantity(*_t(s, d, "lineitem", "part")),
        "tpch_order_aging": lambda s, d: tpch.order_aging(*_t(s, d, "orders")),
        "text_quality_by_source": lambda s, d: text.quality_by_source(*_t(s, d, "documents")),
        "tpch_return_rates": lambda s, d: tpch.return_rates(*_t(s, d, "lineitem", "part")),
        "events_slo_burn": lambda s, d: windows.slo_burn_table(*_t(s, d, "events")),
        "events_latency_trend": lambda s, d: windows.latency_percentile_trend(*_t(s, d, "events")),
        "pipeline_dsir_weights": lambda s, d: llm_pipeline.dsir_importance_weights(*_t(s, d, "documents")),
        "pipeline_leakage_split": lambda s, d: llm_pipeline.leakage_safe_split(*_t(s, d, "documents")),
        "events_autocorrelation": lambda s, d: windows.daily_autocorrelation(*_t(s, d, "events")),
        "pipeline_token_budget": lambda s, d: llm_pipeline.token_budget_allocation(*_t(s, d, "documents")),
        "pipeline_temperature_mix": lambda s, d: llm_pipeline.temperature_mixture_allocation(*_t(s, d, "documents")),
        "events_growth_accounting": lambda s, d: funnel.growth_accounting(*_t(s, d, "events")),
        "dedup_cosine_sweep": lambda s, d: similarity.cosine_threshold_sweep(*_t(s, d, "embeddings")),
        # rows-only (stateful streaming): batch-parity vs a pure-python
        # expanding reference tested
        "streaming_anomaly": lambda s, d: event_windows.run_streaming_anomaly(
            s, d, query_name=f"stream_anomaly_{next(_stream_counter)}"
        ),
        "agg_mode_family": lambda s, d: agg.mode_family(*_t(s, d, "lineitem")),
        "events_interarrival": lambda s, d: windows.interarrival_stats(*_t(s, d, "events")),
        "events_burstiness": lambda s, d: windows.user_burstiness(*_t(s, d, "events")),
        # NEW r16: hour-of-day Shannon entropy per user (bot screen) —
        # canonical hour-ordered fold, ln kernel, unrounded
        "events_behavior_entropy": lambda s, d: windows.user_behavior_entropy(*_t(s, d, "events")),
        # NEW r16: max drawdown per series — exact integer cents end to
        # end, argmax with a total tie-break order
        "events_max_drawdown": lambda s, d: windows.max_drawdown(*_t(s, d, "events")),
        "events_calendar_heatmap": lambda s, d: windows.calendar_heatmap(*_t(s, d, "events")),
        "events_stl_decompose": lambda s, d: windows.stl_decompose_daily(*_t(s, d, "events")),
        "sim_random_projection": lambda s, d: similarity.random_projection_profile(*_t(s, d, "embeddings")),
        "pandas_grouped_zscore": lambda s, d: grouped_pandas.zscore_chars_within_lang(*_t(s, d, "documents")),
        "pandas_scalar_logistic": lambda s, d: grouped_pandas.logistic_quality_score(*_t(s, d, "documents")),
        "pandas_udaf_geomean": lambda s, d: grouped_pandas.geometric_mean_udaf(*_t(s, d, "orders")),
        # mapInArrow: zero-copy Arrow-native kernel, hash-checked oracle
        "pandas_arrow_bytes": lambda s, d: grouped_pandas.arrow_byte_profile(
            *_t(s, d, "documents")
        ),
        "udtf_top_tokens": lambda s, d: grouped_pandas.top_tokens_udtf(*_t(s, d, "documents")),
        "sim_quantize_int8": lambda s, d: similarity.quantize_int8_profile(*_t(s, d, "embeddings")),
        "sim_quantize_dim_minmax": lambda s, d: similarity.quantize_embeddings_int8(*_t(s, d, "embeddings")),
        # multimodal plumbing (north star)
        "mm_decode_metadata": lambda s, d: multimodal.decode_image_metadata(*_t(s, d, "documents")),
        "mm_payload_profile": lambda s, d: multimodal.payload_size_profile(*_t(s, d, "documents")),
        "mm_resize_metadata": lambda s, d: multimodal.resize_images(*_t(s, d, "documents")).drop("resized_payload"),
        "mm_decode_real_headers": lambda s, d: multimodal.decode_synthesized_real_headers(*_t(s, d, "documents")),
        "mm_video_metadata": lambda s, d: multimodal.video_metadata(*_t(s, d, "documents")),
        "mm_audio_metadata": lambda s, d: multimodal.audio_metadata(*_t(s, d, "documents")),
        "mm_frame_sample": lambda s, d: multimodal.sample_video_frames(*_t(s, d, "documents")).drop("frame_hash"),
        # rows-only (numpy FFT features have no ANSI oracle; DSP ground
        # truth asserted in test_audio_pcm_features_physics)
        "mm_audio_features": lambda s, d: multimodal.audio_pcm_features(
            multimodal.synthesize_pcm_audio(_t(s, d, "documents")[0])
        ),
        # TPC-H-style depth + pivot/unpivot/sampling/percentiles
        "tpch_shipping_priority": lambda s, d: tpch.shipping_priority(*_t(s, d, "lineitem", "orders", "customer")),
        "tpch_local_supplier_volume": lambda s, d: tpch.local_supplier_volume(
            *_t(s, d, "lineitem", "orders", "customer", "supplier", "nation", "region")
        ),
        "tpch_returned_items": lambda s, d: tpch.returned_item_losses(*_t(s, d, "lineitem", "orders", "customer")),
        "tpch_big_spenders": lambda s, d: tpch.big_spender_segments(*_t(s, d, "orders", "customer")),
        "tpch_forecast_revenue": lambda s, d: tpch.forecast_revenue(*_t(s, d, "lineitem")),
        "tpch_promo_revenue": lambda s, d: tpch.promo_revenue(*_t(s, d, "lineitem", "part")),
        "tpch_min_cost_supplier": lambda s, d: tpch.min_cost_supplier(
            *_t(s, d, "part", "supplier", "nation", "region")
        ),
        "tpch_top_supplier": lambda s, d: tpch.top_supplier(*_t(s, d, "lineitem", "supplier")),
        "tpch_large_orders": lambda s, d: tpch.large_orders(*_t(s, d, "lineitem", "orders", "customer")),
        "tpch_volume_shipping": lambda s, d: tpch.volume_shipping(
            *_t(s, d, "lineitem", "orders", "customer", "supplier", "nation")
        ),
        "tpch_small_qty_revenue": lambda s, d: tpch.small_quantity_revenue(*_t(s, d, "lineitem", "part")),
        "tpch_market_share": lambda s, d: tpch.market_share(
            *_t(s, d, "lineitem", "orders", "customer", "supplier", "nation", "region")
        ),
        "tpch_order_distribution": lambda s, d: tpch.customer_order_distribution(*_t(s, d, "orders", "customer")),
        "tpch_disjunctive_revenue": lambda s, d: tpch.disjunctive_revenue(*_t(s, d, "lineitem", "part")),
        "tpch_sales_opportunity": lambda s, d: tpch.global_sales_opportunity(*_t(s, d, "orders", "customer")),
        "dedup_embedding_cosine": lambda s, d: similarity.embedding_near_dup_pairs(*_t(s, d, "embeddings")),
        # rows-only (seeded KMeans coarse quantizer): SemDeDup-style
        # cluster-then-exact-pairs semantic dedup → star components
        "dedup_semantic": lambda s, d: similarity.semantic_dedup(*_t(s, d, "embeddings")),
        "pivot_status_by_priority": lambda s, d: tpch.pivot_status_by_priority(*_t(s, d, "orders")),
        "unpivot_order_measures": lambda s, d: tpch.unpivot_order_measures(*_t(s, d, "orders")),
        "sample_deterministic": lambda s, d: tpch.deterministic_sample_stats(*_t(s, d, "orders")),
        "agg_exact_percentiles": lambda s, d: tpch.exact_percentiles(*_t(s, d, "orders")),
        # semantic-layer façade (Cube schema contract)
        "semantic_ohlcv_daily": lambda s, d: semantic.ohlcv_daily(*_t(s, d, "events")),
        "semantic_prediction_join": lambda s, d: semantic.prediction_vs_actual(*_t(s, d, "events")),
        "semantic_cube_request": _q_cube_request,
        # event-time windows / streaming (SURVEY §2.6)
        "events_tumbling": lambda s, d: event_windows.tumbling_window_counts(*_t(s, d, "events")),
        "events_sliding": lambda s, d: event_windows.sliding_window_counts(*_t(s, d, "events")),
        "events_sessionize": lambda s, d: event_windows.sessionize_batch(*_t(s, d, "events")),
        "events_salted_agg": lambda s, d: merge.salted_two_phase_agg(*_t(s, d, "events")),
        "events_funnel": lambda s, d: funnel.funnel_click_to_purchase(*_t(s, d, "events")),
        "events_retention": lambda s, d: funnel.retention_cohorts(*_t(s, d, "events")),
        "events_retention_matrix": lambda s, d: funnel.retention_matrix_weekly(*_t(s, d, "events")),
        "events_hampel_outliers": lambda s, d: windows.hampel_outlier_days(*_t(s, d, "events")),
        "events_little_law": lambda s, d: windows.little_law_reconciliation(*_t(s, d, "events")),
        "window_distribution": lambda s, d: funnel.ranking_distribution_functions(*_t(s, d, "orders")),
        "agg_collect_sorted": lambda s, d: funnel.collect_sorted_arrays(*_t(s, d, "orders")),
        # table maintenance (MERGE / SCD2 — Delta/Iceberg ops emulated)
        "merge_upsert": _q_merge_upsert,
        "scd2_versions": _q_scd2,
        "profile_orders": _q_profile_orders,
        # streaming queries late (oracle-backed but each spins a streaming
        # engine + checkpoint — keep the cheap verified queries first for a
        # bounded correctness sweep)
        "streaming_tumbling": _q_streaming_tumbling,
        "streaming_trending": _q_streaming_trending,
        "streaming_two_level_agg": _q_streaming_two_level,
        "streaming_join_window": _q_streaming_join_window,
        "streaming_sessionize": _q_streaming_sessionize,
        # NEW r15 (r14 verdict #7): the same sessionize plan on the
        # RocksDB state store (the 100 TB state knob) + the dynamic-gap
        # CASE sessionizer — both ANSI-oracle-certified
        "streaming_statestore_rocksdb": _q_streaming_rocksdb,
        "streaming_session_dynamic_gap": _q_streaming_dynamic_gap,
        "streaming_stateful_counter": _q_streaming_stateful,
        "streaming_dedup": _q_streaming_dedup,
        "streaming_stream_join": _q_streaming_stream_join,
        "streaming_semi_join": _q_streaming_semi_join,
        "streaming_outer_join": _q_streaming_outer_join,
        "streaming_right_outer_join": _q_streaming_right_outer_join,
        "streaming_full_outer_join": _q_streaming_full_outer_join,
        "streaming_static_enrich": _q_streaming_static_enrich,
        "streaming_sliding": _q_streaming_sliding,
        "streaming_foreachbatch_upsert": _q_streaming_fbu,
        # rows-only checks last (seeded-hash / sketch semantics — no ANSI
        # oracle by design), so a bounded correctness sweep spends its
        # budget on the hash-verified queries first
        "agg_boolean_funcs": lambda s, d: agg.boolean_aggregate_family(
            *_t(s, d, "orders")
        ),
        # exact distinct via Spark 3.5+ bitmap aggregation (no Expand)
        "agg_bitmap_distinct": lambda s, d: agg.bitmap_exact_distinct(
            *_t(s, d, "events")
        ),
        # r15 rows-only -> oracle conversions: exact distinct counts /
        # order-statistic bounds + sketch in-bound certificate booleans
        # (the approx_percentiles_certified pattern); raw sketch forms
        # stay pytest-asserted on approx_distinct_parts /
        # hll_sketch_rollup
        "agg_approx_distinct": lambda s, d: agg.approx_distinct_parts_certified(*_t(s, d, "lineitem")),
        "agg_hll_sketch_rollup": lambda s, d: agg.hll_sketch_rollup_certified(*_t(s, d, "events")),
        "dedup_minhash_lsh": lambda s, d: dedup.minhash_lsh_candidates(*_t(s, d, "documents")),
        "dedup_simhash": lambda s, d: dedup.simhash_near_dup_pairs(*_t(s, d, "documents")),
        "sim_cosine_topk_lsh": lambda s, d: similarity.cosine_topk_lsh(*_t(s, d, "embeddings")),
        "sim_cosine_topk_lsh_multiprobe": lambda s, d: similarity.cosine_topk_lsh_multiprobe(*_t(s, d, "embeddings")),
        "sim_cosine_topk_ivf": lambda s, d: similarity.cosine_topk_ivf(*_t(s, d, "embeddings")),
        # rows-only (driver-trained PQ codebooks + ADC lookup scan; no
        # ANSI oracle) — recall/determinism tested in test_llm.py
        "sim_pq_topk": lambda s, d: similarity.pq_topk(*_t(s, d, "embeddings")),
        # r15 rows-only -> oracle conversion: exact rank-window bounds +
        # GK in-bound certificate booleans (layout-dependent sketch
        # values never leave the plan); raw-GK error bound still
        # pytest-asserted on approx_percentiles in test_relational.py
        "agg_approx_percentiles": lambda s, d: tpch.approx_percentiles_certified(*_t(s, d, "orders")),
        "text_chunk_rolling_hash": lambda s, d: text.chunk_documents_rolling_hash(*_t(s, d, "documents")),
        "events_ewma": lambda s, d: grouped_pandas.ewma_per_user(*_t(s, d, "events")),
        # r15 rows-only -> oracle conversion: the MG sketch prunes
        # candidates, exact counts + an integer threshold publish the
        # deterministic true-heavy-hitter panel (layout-dependent MG
        # estimates never leave the plan); sketch invariants still
        # pytest-asserted on frequent_tokens_sketch in test_llm.py
        "text_frequent_tokens": lambda s, d: text.frequent_tokens_heavy_hitters(*_t(s, d, "documents")),
    }


# ------------------------------------------------------------- oracle SQL

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

#: Shared exact-Jaccard pair feed (doc_id < 100, t = 0.8) as CTE text —
#: the same inverted-index verifier the dedup_ngram_jaccard oracle
#: certifies (and dedup._harness_pair_feed computes Spark-side); the
#: graph fixpoint oracles below replay their driver loops over it.
_PAIR_FEED_CTES = f"""
            docs AS (
                SELECT doc_id, {_NORM} AS norm FROM documents
                WHERE doc_id < 100
            ),
            toks AS (
                SELECT DISTINCT doc_id,
                       unnest(string_split(norm, ' ')) AS token
                FROM docs
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       count(*) AS n_common
                FROM toks a
                JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT doc_a, doc_b,
                       round(CAST(n_common AS DOUBLE)
                             / (sa.n + sb.n - n_common), 6) AS jaccard
                FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE round(CAST(n_common AS DOUBLE)
                            / (sa.n + sb.n - n_common), 6) >= 0.8
            ),
            edges0 AS (
                SELECT doc_a AS s, doc_b AS d FROM pairs
                UNION ALL
                SELECT doc_b AS s, doc_a AS d FROM pairs
            )
"""

#: Bit-exact replay of the fold-deterministic driver-side power method
#: (dedup.pagerank_dup_graph driver path) as CTE text ending in
#: ``prout(doc_id, pagerank)`` — shared by the graph_pagerank oracle
#: and every oracle that consumes ranks (r16: dedup_keep_policy).
#: State = (it, stopped, loc_last, rank vector aligned to sorted ids);
#: per-node in-mass folds over pre-resolved (rank position, outdegree)
#: neighbor structs; the adaptive delta cadence replays exactly
#: (measure when it%3==2 OR loc_last<10*tol OR it==29; stop at
#: delta < tol or the 30-round cap).
_PAGERANK_CTES = f"""
            {_PAIR_FEED_CTES},
            deg AS (SELECT s AS id, count(*) AS od FROM edges0 GROUP BY s),
            idl AS (
                SELECT list(id ORDER BY id) AS ids, count(*) AS n FROM deg
            ),
            nbr AS (
                SELECT e.d AS id,
                       list(struct_pack(
                           pos := list_position(i.ids, e.s),
                           od := dg.od) ORDER BY e.s) AS ins
                FROM edges0 e
                JOIN deg dg ON dg.id = e.s
                CROSS JOIN idl i
                GROUP BY e.d
            ),
            topo AS (
                SELECT i.ids, i.n,
                       list(struct_pack(id := nb.id, ins := nb.ins)
                            ORDER BY nb.id) AS nodes
                FROM nbr nb CROSS JOIN idl i GROUP BY i.ids, i.n
            ),
            pr AS (
                SELECT 0 AS it, FALSE AS stopped,
                       CAST(NULL AS DOUBLE) AS loc_last,
                       ids, n, nodes,
                       list_transform(ids, x ->
                           CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE))
                         AS ranks
                FROM topo
                UNION ALL
                SELECT t.it + 1,
                       coalesce(t.measure AND t.delta < 1e-4, FALSE),
                       CASE WHEN t.measure THEN t.delta
                            ELSE t.loc_last END,
                       t.ids, t.n, t.nodes, t.newranks
                FROM (
                    SELECT u.it, u.ids, u.n, u.nodes, u.loc_last,
                           u.measure, u.newranks,
                           CASE WHEN u.measure THEN
                               list_reduce(list_prepend(
                                   CAST(0.0 AS DOUBLE),
                                   list_transform(
                                       list_zip(u.newranks, u.ranks),
                                       z -> abs(z[1] - z[2]))),
                                   (a, x) -> a + x)
                           ELSE NULL END AS delta
                    FROM (
                        SELECT p.*,
                               list_transform(p.nodes, nd ->
                                   (CAST(1.0 AS DOUBLE)
                                    - CAST(0.85 AS DOUBLE))
                                   / CAST(p.n AS DOUBLE)
                                   + CAST(0.85 AS DOUBLE)
                                     * list_reduce(list_prepend(
                                           CAST(0.0 AS DOUBLE),
                                           list_transform(nd.ins, e ->
                                               p.ranks[e.pos]
                                               / CAST(e.od AS DOUBLE))),
                                           (a, x) -> a + x)) AS newranks,
                               ((p.it % 3) = 2
                                OR (p.loc_last IS NOT NULL
                                    AND p.loc_last < 10 * 1e-4)
                                OR p.it = 29) AS measure
                        FROM pr p
                        WHERE NOT p.stopped AND p.it < 30
                    ) u
                ) t
            ),
            prout AS (
                SELECT unnest(ids) AS doc_id, unnest(ranks) AS pagerank
                FROM pr WHERE stopped OR it = 30
            )
"""


def _holt_winters_oracle_sql(
    final_select: str = (
        "SELECT event_type, hour, forecast, actual, error FROM steps"
    ),
) -> str:
    """Holt-Winters additive replay (windows.holt_winters_forecast):
    a recursive CTE whose state is (level, trend, 24-double seasonal
    LIST) — the seasonal slot is rewritten per step by slice
    concatenation (s[1:idx-1] || [new] || s[idx+1:24]; DuckDB slices
    are inclusive and collapse to [] at the edges). Every smoothing
    constant is a COMPUTED double cast (DuckDB literal-only arithmetic
    is DECIMAL; 1.0-x can round to a different neighbor than the
    short literal). The new level is computed once in a nested derived
    table so trend and season updates reference it.

    ``final_select`` lets derived oracles (r16: the residual Ljung-Box
    diagnostics) append their own CTEs after ``steps`` and replace the
    published projection — the recursion itself is shared verbatim."""
    A = "CAST(0.3 AS DOUBLE)"
    NA = f"(CAST(1.0 AS DOUBLE) - {A})"
    B = "CAST(0.05 AS DOUBLE)"
    NB = f"(CAST(1.0 AS DOUBLE) - {B})"
    G = "CAST(0.2 AS DOUBLE)"
    NG = f"(CAST(1.0 AS DOUBLE) - {G})"
    return f"""
        WITH RECURSIVE hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                 AS BIGINT)) AS DOUBLE)
                   / CAST(count(*) * 100 AS DOUBLE) AS mean_value
            FROM events GROUP BY 1, 2
        ),
        indexed AS (
            SELECT *, row_number() OVER (PARTITION BY event_type
                                         ORDER BY hour) AS i
            FROM hourly
        ),
        calib AS (
            SELECT event_type, list(mean_value ORDER BY hour) AS vals
            FROM hourly GROUP BY event_type
        ),
        init AS (
            SELECT event_type,
                   list_reduce(vals[1:24], (a, x) -> a + x) / 24 AS m1,
                   list_reduce(vals[25:48], (a, x) -> a + x) / 24 AS m2
            FROM calib WHERE len(vals) >= 48
        ),
        init2 AS (
            SELECT i.event_type, i.m1 AS lvl, (i.m2 - i.m1) / 24 AS trd,
                   list_transform(c.vals[1:24], v -> v - i.m1) AS season
            FROM init i JOIN calib c USING (event_type)
        ),
        steps AS (
            SELECT t.event_type, t.i, t.hour,
                   t.lb + t.si AS forecast,
                   t.mean_value AS actual,
                   t.mean_value - (t.lb + t.si) AS error,
                   t.nlvl AS lvl,
                   {B} * (t.nlvl - t.plvl) + {NB} * t.ptrd AS trd,
                   t.pseason[1:t.idx - 1]
                   || [{G} * (t.mean_value - t.nlvl) + {NG} * t.si]
                   || t.pseason[t.idx + 1:24] AS season
            FROM (
                SELECT n.event_type, n.i, n.hour, n.mean_value,
                       i2.lvl AS plvl, i2.trd AS ptrd,
                       i2.season AS pseason,
                       1 AS idx, i2.season[1] AS si,
                       i2.lvl + i2.trd AS lb,
                       {A} * (n.mean_value - i2.season[1])
                       + {NA} * (i2.lvl + i2.trd) AS nlvl
                FROM indexed n JOIN init2 i2 USING (event_type)
                WHERE n.i = 25
            ) t
            UNION ALL
            SELECT t.event_type, t.i, t.hour,
                   t.lb + t.si,
                   t.mean_value,
                   t.mean_value - (t.lb + t.si),
                   t.nlvl,
                   {B} * (t.nlvl - t.plvl) + {NB} * t.ptrd,
                   t.pseason[1:t.idx - 1]
                   || [{G} * (t.mean_value - t.nlvl) + {NG} * t.si]
                   || t.pseason[t.idx + 1:24]
            FROM (
                SELECT n.event_type, n.i, n.hour, n.mean_value,
                       s.lvl AS plvl, s.trd AS ptrd,
                       s.season AS pseason,
                       ((n.i - 1) % 24) + 1 AS idx,
                       s.season[((n.i - 1) % 24) + 1] AS si,
                       s.lvl + s.trd AS lb,
                       {A} * (n.mean_value
                              - s.season[((n.i - 1) % 24) + 1])
                       + {NA} * (s.lvl + s.trd) AS nlvl
                FROM steps s JOIN indexed n
                  ON n.event_type = s.event_type AND n.i = s.i + 1
            ) t
        )
        {final_select}
    """


def _rp_matrix_sql(out_dim: int = 16, dim: int = 64, seed: int = 7) -> str:
    """The sim_random_projection Gaussian matrix as a DuckDB list-of-
    lists literal — the SAME seeded numpy draw the Spark query embeds
    as repr() literals in its expr-string plan
    (similarity.random_projection_profile), so the 'engine-side state'
    that made the query rows-only becomes shared SQL text (r14 verdict
    #3). ``repr(float)`` emits the shortest round-trip decimal, which
    both engines parse back to the identical double."""
    import numpy as np

    mat = np.random.default_rng(seed).standard_normal((out_dim, dim))
    mat = mat / np.sqrt(out_dim)
    return (
        "["
        + ", ".join(
            "[" + ", ".join(repr(float(v)) for v in row) + "]" for row in mat
        )
        + "]"
    )

def _lsh_bucket_sql(planes: int = 6, dim: int = 64, seed: int = 42) -> str:
    """The hyperplane-LSH packed-signature expression as DuckDB SQL —
    the SAME seed-42 numpy draw similarity.lsh_bucket_ids embeds as
    repr() literals in its expr-string plan, so the 'seeded index'
    becomes shared SQL text and the bucket of every vector is
    engine-portable (r15 conversion of the LSH top-k probes). Operates
    on a double-array column named ``e``."""
    import numpy as np

    hp = np.random.default_rng(seed).standard_normal((planes, dim))
    terms = []
    for i, plane in enumerate(hp):
        arr = "[" + ",".join(repr(float(v)) for v in plane) + "]"
        proj = (
            f"list_reduce(list_transform(list_zip(e, {arr}), "
            "z -> CAST(z[1] AS DOUBLE) * z[2]), (a, x) -> a + x)"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(terms)


_LSH_COSINE = (
    "round(list_sum(list_transform(list_zip(q.qe, c.e), "
    "z -> CAST(z[1] AS DOUBLE) * z[2])) "
    "/ (sqrt(list_sum(list_transform(q.qe, x -> x*x))) "
    "* sqrt(list_sum(list_transform(c.e, x -> x*x)))), 6)"
)


_COSINE_TOPK_ORACLE = """
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1, 2)
            ),
            pairs AS (
                SELECT q.query_id, e.vec_id AS corpus_id,
                       round(
                         list_sum(list_transform(list_zip(q.qe, e.embedding),
                                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                         / (sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                            * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                         6) AS cosine
                FROM q, embeddings e WHERE e.vec_id <> q.query_id
            )
            SELECT query_id, corpus_id, cosine, rank FROM (
                SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, corpus_id) AS INTEGER) AS rank
                FROM pairs
            ) WHERE rank <= 5
        """

_TUMBLING_ORACLE = """
SELECT date_trunc('hour', ts) + to_minutes(CAST(floor(minute(ts)/10)*10 AS BIGINT)) AS win_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


_ASOF_ORACLE = """
    SELECT o_orderkey, o_custkey, o_orderdate, max(e.ts) AS asof_event_ts
    FROM orders o LEFT JOIN events e
      ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    GROUP BY 1, 2, 3
"""

_SLIDING_ORACLE = """
    WITH b AS (
        SELECT value,
               date_trunc('hour', ts) + to_minutes(CAST(floor(minute(ts)/5)*5 AS BIGINT)) AS slide_start
        FROM events
    ),
    w AS (
        SELECT value, slide_start - to_minutes(CAST(o * 5 AS BIGINT)) AS win_start
        FROM b, (VALUES (0), (1)) t(o)
    )
    SELECT win_start, count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM w GROUP BY 1
"""


def _zorder_skipping_oracle_sql(n_files: int = 64, n_preds: int = 4, bits: int = 16) -> str:
    """DuckDB twin of layout.zorder_skipping_report (NEW r17): the r16
    skipping oracle extended with a third layout whose file ids come
    from the SAME generated Morton-key expression as lake_zorder_layout,
    rendered with `//` — bit-identical keys by construction (shared-text
    mech B in the SCALE.md r17 audit; independent coverage =
    test_zvalue_interleave_hand_computed + the r17 python-replay test)."""
    from datalake_local_spark.functions.zorder import normalize_sql, zvalue_sql

    # ms-resolution Morton input, mirroring the Spark side (r17
    # review-pass overflow fix — see layout.zorder_skipping_report);
    # prescale on the min-offset value, never the raw epoch (r18: a
    # negative epoch truncates under Spark `div` but floors under `//`)
    ne = normalize_sql("((e - min_e) // 1000)", "0", "((max_e - min_e) // 1000)", bits, "//")
    nu = normalize_sql("u", "min_u", "max_u", bits, "//")
    zv = zvalue_sql(ne, nu, bits, "//")
    zdiv = (1 << (2 * bits)) // n_files
    return f"""
        WITH b AS (
            SELECT min(epoch_us(ts)) AS min_e, max(epoch_us(ts)) AS max_e,
                   min(user_id) AS min_u, max(user_id) AS max_u
            FROM events
        ),
        keyed AS (
            SELECT e, u,
                   least({n_files - 1}, (e - min_e) * {n_files}
                             // (max_e - min_e + 1)) AS f_ts,
                   least({n_files - 1}, (u - min_u) * {n_files}
                             // (max_u - min_u + 1)) AS f_user,
                   ({zv}) // {zdiv} AS f_z
            FROM (SELECT epoch_us(ts) AS e, user_id AS u FROM events), b
        ),
        env AS (
            SELECT layout, file_id,
                   min(e) AS f_emin, max(e) AS f_emax,
                   min(u) AS f_umin, max(u) AS f_umax
            FROM (
                SELECT 'by_ts' AS layout, f_ts AS file_id, e, u FROM keyed
                UNION ALL
                SELECT 'by_user', f_user, e, u FROM keyed
                UNION ALL
                SELECT 'by_zorder', f_z, e, u FROM keyed
            ) GROUP BY 1, 2
        ),
        preds AS (
            SELECT 'ts_' || CAST(k AS VARCHAR) AS pred, 'ts' AS family,
                   min_e + CAST(k AS BIGINT) * (max_e - min_e + 1) // {n_preds} AS lo,
                   min_e + CAST(k AS BIGINT) * (max_e - min_e + 1) // {n_preds}
                       + (max_e - min_e + 1) // 16 AS hi
            FROM b, (SELECT unnest(range(0, {n_preds})) AS k)
            UNION ALL
            SELECT 'user_' || CAST(k AS VARCHAR), 'user',
                   min_u + CAST(k AS BIGINT) * (max_u - min_u + 1) // {n_preds},
                   min_u + CAST(k AS BIGINT) * (max_u - min_u + 1) // {n_preds}
                       + (max_u - min_u + 1) // 16
            FROM b, (SELECT unnest(range(0, {n_preds})) AS k)
        ),
        nfiles AS (
            SELECT layout, CAST(count(*) AS BIGINT) AS n_files
            FROM env GROUP BY 1
        ),
        hits AS (
            SELECT layout, pred, CAST(count(*) AS BIGINT) AS files_hit
            FROM env CROSS JOIN preds
            WHERE CASE WHEN family = 'ts'
                       THEN f_emin < hi AND f_emax >= lo
                       ELSE f_umin < hi AND f_umax >= lo END
            GROUP BY 1, 2
        )
        SELECT g.layout, g.pred, nf.n_files,
               coalesce(h.files_hit, 0) AS files_hit,
               round(CAST(nf.n_files - coalesce(h.files_hit, 0) AS DOUBLE)
                     / CAST(nf.n_files AS DOUBLE), 6) AS skip_rate
        FROM (SELECT layout, pred FROM nfiles, preds) g
        JOIN nfiles nf ON nf.layout = g.layout
        LEFT JOIN hits h ON h.layout = g.layout AND h.pred = g.pred
    """


def _bpe_replay_oracle_ctes(n_merges: int = 20) -> str:
    """DuckDB replay of the BPE arc (NEW r18 — converts text_bpe_merges
    / text_bpe_encode from rows-only to oracle-backed and feeds
    text_pack_bpe): WITH-body CTEs ending in ``merges(rank, left,
    right, merged, pair_count)`` and ``wordlen(w, n_subtokens)``.

    Same public algorithm (Sennrich et al. 2016), INDEPENDENT mechanism
    (the audit-protocol point): where the Spark kernel applies each
    merge as a greedy left-to-right ``aggregate`` fold, this replay is
    purely relational — candidate positions where (s[i], s[i+1]) equals
    the round's argmax pair, maximal runs of consecutive candidates via
    the i − row_number() trick, and the greedy non-overlap choice as
    odd ranks within each run (overlap only ever ties CONSECUTIVE
    candidates for a pair merge, so alternation IS greedy); the
    survivor positions rebuild each word's symbol list with
    ``list(... ORDER BY j)``. Pair counts are overlapping-adjacent sums
    weighted by word count; the argmax tie-breaks (count DESC, left,
    right) — both exactly the Spark semantics. Every per-round CTE is
    MATERIALIZED: DuckDB inlines plain CTEs, and sym{{r}} has three
    consumers, so inlining would re-evaluate the chain exponentially
    (~3^rounds — the prototype hung; materialized it is sub-second).

    The word-grain loop is the same 100 TB shape as the Spark side:
    rounds touch the vocabulary relation, never the corpus."""
    parts = [f"""
            words AS MATERIALIZED (
                SELECT t.w AS w, count(*) AS n
                FROM (SELECT string_split({_NORM}, ' ') AS l FROM documents),
                     LATERAL unnest(l) AS t(w)
                WHERE length(t.w) > 0
                GROUP BY 1
            ),
            sym0 AS MATERIALIZED (
                SELECT w, n,
                       list_transform(range(1, length(w) + 1),
                                      i -> substring(w, CAST(i AS INTEGER), 1)) AS s
                FROM words
            )"""]
    for r in range(n_merges):
        parts.append(f"""
            pairs{r} AS MATERIALIZED (
                SELECT s[i] AS a, s[i + 1] AS b, sum(n) AS c
                FROM sym{r}, LATERAL unnest(range(1, len(s))) AS u(i)
                GROUP BY 1, 2
            ),
            best{r} AS MATERIALIZED (
                SELECT a, b, a || b AS m, CAST(c AS BIGINT) AS c
                FROM pairs{r} ORDER BY c DESC, a, b LIMIT 1
            ),
            cand{r} AS MATERIALIZED (
                SELECT t.w, t.i
                FROM (SELECT w, s, i FROM sym{r},
                      LATERAL unnest(range(1, len(s))) AS u(i)) t, best{r} bb
                WHERE t.s[i] = bb.a AND t.s[i + 1] = bb.b
            ),
            pick{r} AS MATERIALIZED (
                SELECT w, i FROM (
                    SELECT w, i,
                           row_number() OVER (PARTITION BY w, i - rn ORDER BY i) AS rk
                    FROM (SELECT w, i,
                                 row_number() OVER (PARTITION BY w ORDER BY i) AS rn
                          FROM cand{r})
                ) WHERE rk % 2 = 1
            ),
            sym{r + 1} AS MATERIALIZED (
                SELECT g.w, g.n,
                       list(CASE WHEN p.i IS NOT NULL THEN g.s[g.j] || g.s[g.j + 1]
                                 ELSE g.s[g.j] END ORDER BY g.j) AS s
                FROM (SELECT w, n, s, j FROM sym{r},
                      LATERAL unnest(range(1, len(s) + 1)) AS u(j)) g
                LEFT JOIN pick{r} p  ON p.w = g.w AND p.i = g.j
                LEFT JOIN pick{r} p2 ON p2.w = g.w AND p2.i = g.j - 1
                WHERE p2.i IS NULL
                GROUP BY g.w, g.n
            )""")
    merges_union = "\n                UNION ALL\n                ".join(
        f'SELECT CAST({r + 1} AS INTEGER) AS rank, a AS "left", b AS "right",'
        f" m AS merged, c AS pair_count FROM best{r}"
        for r in range(n_merges)
    )
    parts.append(f"""
            merges AS (
                {merges_union}
            ),
            wordlen AS MATERIALIZED (
                SELECT w, CAST(len(s) AS INTEGER) AS n_subtokens FROM sym{n_merges}
            )""")
    return ",".join(parts)


#: per-doc BPE token counts over the replay's wordlen — the shared tail
#: of the text_bpe_encode and text_pack_bpe oracles
_BPE_PERDOC_CTES = f"""
            btoks AS (
                SELECT doc_id, t.w AS w
                FROM (SELECT doc_id, string_split({_NORM}, ' ') AS l FROM documents),
                     LATERAL unnest(l) AS t(w)
                WHERE length(t.w) > 0
            ),
            per_doc AS (
                SELECT doc_id, CAST(count(*) AS INTEGER) AS n_words,
                       CAST(sum(n_subtokens) AS BIGINT) AS n_subword_tokens,
                       CAST(sum(length(w)) AS BIGINT) AS n_chars
                FROM btoks JOIN wordlen USING (w) GROUP BY 1
            )"""


def _hilbert_skipping_oracle_sql(n_files: int = 64, n_preds: int = 4, bits: int = 16) -> str:
    """DuckDB twin of layout.hilbert_skipping_report (NEW r18, the
    "which curve" A/B): the Morton key renders the SAME generated
    zvalue term sum and the Hilbert index renders the SAME generated
    per-level rotate/reflect chain (functions.hilbert.hilbert_chain) as
    chained CTEs with `//` — bit-identical keys by construction
    (shared-text mech B; independent coverage =
    test_hilbert_index_matches_pure_python_xy2d +
    test_hilbert_skipping_matches_python_replay, whose replays compute
    the index with their OWN bit-op loop)."""
    from datalake_local_spark.functions.hilbert import hilbert_chain
    from datalake_local_spark.functions.zorder import normalize_sql, zvalue_sql

    ne = normalize_sql("((e - min_e) // 1000)", "0", "((max_e - min_e) // 1000)", bits, "//")
    nu = normalize_sql("u", "min_u", "max_u", bits, "//")
    zv = zvalue_sql(ne, nu, bits, "//")
    zdiv = (1 << (2 * bits)) // n_files
    levels = -(-(n_files - 1).bit_length() // 2)  # prefix property, as Spark side
    lvls = []
    prev = "keyed"
    for i, (d_sql, x_sql, y_sql) in enumerate(
        hilbert_chain(bits=bits, div="//", levels=levels)
    ):
        lvls.append(
            f"lvl{i} AS (SELECT e, u, f_z, {x_sql} AS hx, {y_sql} AS hy,"
            f" {d_sql} AS hd FROM {prev})"
        )
        prev = f"lvl{i}"
    lvl_ctes = ",\n        ".join(lvls)
    return f"""
        WITH b AS (
            SELECT min(epoch_us(ts)) AS min_e, max(epoch_us(ts)) AS max_e,
                   min(user_id) AS min_u, max(user_id) AS max_u
            FROM events
        ),
        keyed AS (
            SELECT e, u,
                   ({zv}) // {zdiv} AS f_z,
                   ({ne}) AS hx,
                   ({nu}) AS hy,
                   CAST(0 AS BIGINT) AS hd
            FROM (SELECT epoch_us(ts) AS e, user_id AS u FROM events), b
        ),
        {lvl_ctes},
        hkeyed AS (
            SELECT e, u, f_z, hd // {zdiv} AS f_h FROM {prev}
        ),
        env AS (
            SELECT layout, file_id,
                   min(e) AS f_emin, max(e) AS f_emax,
                   min(u) AS f_umin, max(u) AS f_umax
            FROM (
                SELECT 'by_zorder' AS layout, f_z AS file_id, e, u FROM hkeyed
                UNION ALL
                SELECT 'by_hilbert', f_h, e, u FROM hkeyed
            ) GROUP BY 1, 2
        ),
        preds AS (
            SELECT 'ts_' || CAST(k AS VARCHAR) AS pred, 'ts' AS family,
                   min_e + CAST(k AS BIGINT) * (max_e - min_e + 1) // {n_preds} AS lo,
                   min_e + CAST(k AS BIGINT) * (max_e - min_e + 1) // {n_preds}
                       + (max_e - min_e + 1) // 16 AS hi
            FROM b, (SELECT unnest(range(0, {n_preds})) AS k)
            UNION ALL
            SELECT 'user_' || CAST(k AS VARCHAR), 'user',
                   min_u + CAST(k AS BIGINT) * (max_u - min_u + 1) // {n_preds},
                   min_u + CAST(k AS BIGINT) * (max_u - min_u + 1) // {n_preds}
                       + (max_u - min_u + 1) // 16
            FROM b, (SELECT unnest(range(0, {n_preds})) AS k)
        ),
        nfiles AS (
            SELECT layout, CAST(count(*) AS BIGINT) AS n_files
            FROM env GROUP BY 1
        ),
        hits AS (
            SELECT layout, pred, CAST(count(*) AS BIGINT) AS files_hit
            FROM env CROSS JOIN preds
            WHERE CASE WHEN family = 'ts'
                       THEN f_emin < hi AND f_emax >= lo
                       ELSE f_umin < hi AND f_umax >= lo END
            GROUP BY 1, 2
        )
        SELECT g.layout, g.pred, nf.n_files,
               coalesce(h.files_hit, 0) AS files_hit,
               round(CAST(nf.n_files - coalesce(h.files_hit, 0) AS DOUBLE)
                     / CAST(nf.n_files AS DOUBLE), 6) AS skip_rate
        FROM (SELECT layout, pred FROM nfiles, preds) g
        JOIN nfiles nf ON nf.layout = g.layout
        LEFT JOIN hits h ON h.layout = g.layout AND h.pred = g.pred
    """


def _zorder_oracle_sql() -> str:
    """DuckDB twin of layout.zorder_layout: the SAME generated integer
    div/mod Morton-key expression, rendered with `//` (the one dialect
    difference) — bit-identical keys by construction."""
    from datalake_local_spark.functions.zorder import normalize_sql, zvalue_sql

    x = normalize_sql("o_custkey", "min_c", "max_c", 16, "//")
    y = normalize_sql("(CAST(o_orderdate AS DATE) - DATE '1990-01-01')", "min_d", "max_d", 16, "//")
    z = zvalue_sql(x, y, 16, "//")
    return f"""
        WITH bounds AS (
            SELECT min(o_custkey) AS min_c, max(o_custkey) AS max_c,
                   min(CAST(o_orderdate AS DATE) - DATE '1990-01-01') AS min_d,
                   max(CAST(o_orderdate AS DATE) - DATE '1990-01-01') AS max_d
            FROM orders
        ),
        keyed AS (
            SELECT CAST({z} // {1 << 24} AS INTEGER) AS zbucket,
                   o_custkey,
                   (CAST(o_orderdate AS DATE) - DATE '1990-01-01') AS dday
            FROM orders CROSS JOIN bounds
        )
        SELECT zbucket,
               count(*) AS n_orders,
               min(o_custkey) AS min_custkey,
               max(o_custkey) AS max_custkey,
               CAST(min(dday) AS INTEGER) AS min_day,
               CAST(max(dday) AS INTEGER) AS max_day,
               CAST((max(o_custkey) - min(o_custkey) + 1)
                    * (max(dday) - min(dday) + 1) AS BIGINT) AS envelope_area
        FROM keyed GROUP BY 1 ORDER BY 1
    """


def _leakage_split_oracle_sql() -> str:
    """DuckDB twin of pipeline.leakage_safe_split: recursive-CTE
    components, then the SAME md5-interval CASE chain keyed on the
    component id, with hex boundaries computed by the one shared
    Python helper (mixture_threshold_hex's arithmetic)."""
    b_train = format(min(int(0.90 * (1 << 32)), (1 << 32) - 1), "08x")
    b_val = format(min(int(0.95 * (1 << 32)), (1 << 32) - 1), "08x")
    return f"""
        WITH RECURSIVE docs AS (
            SELECT doc_id, {_NORM} AS norm
            FROM documents WHERE doc_id < 100
        ),
        toks AS (
            SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS token
            FROM docs
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM toks a JOIN toks b
              ON a.token = b.token AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT doc_a, doc_b FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(CAST(n_common AS DOUBLE)
                        / (sa.n + sb.n - n_common), 6) >= 0.8
        ),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
        reach AS (
            SELECT doc_id AS node, doc_id AS reached FROM docs
            UNION
            SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.reached
        ),
        comp AS (SELECT node AS doc_id, min(reached) AS component_id
                 FROM reach GROUP BY 1),
        assigned AS (
            SELECT doc_id, component_id,
                   CASE WHEN substr(md5(concat_ws(':', component_id, 'split')),
                                    1, 8) < '{b_train}' THEN 'train'
                        WHEN substr(md5(concat_ws(':', component_id, 'split')),
                                    1, 8) < '{b_val}' THEN 'val'
                        ELSE 'test' END AS split
            FROM comp
        ),
        viol AS (
            SELECT CAST(count(*) AS BIGINT) AS cluster_split_violations
            FROM (SELECT component_id FROM assigned
                  GROUP BY 1 HAVING count(DISTINCT split) > 1)
        )
        SELECT split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT component_id) AS BIGINT) AS n_clusters,
               cluster_split_violations
        FROM assigned CROSS JOIN viol
        GROUP BY 1, 4 ORDER BY 1
    """


def _shingle_sweep_oracle_sql(widths=(1, 2, 3), threshold=0.8) -> str:
    """DuckDB twin of dedup.shingle_width_sweep: one block per width
    (DuckDB generate_series(1, 0) is empty, so short docs need no
    guard), unioned into the 3-row summary."""
    blocks = []
    for w in widths:
        blocks.append(f"""
            SELECT {w} AS width,
                   (SELECT CAST(count(DISTINCT sh) AS BIGINT) FROM sh{w})
                       AS n_shingle_types,
                   (SELECT CAST(count(*) AS BIGINT)
                    FROM (
                        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                               count(*) AS n_common
                        FROM sh{w} a JOIN sh{w} b
                          ON a.sh = b.sh AND a.doc_id < b.doc_id
                        GROUP BY 1, 2
                    ) i
                    JOIN (SELECT doc_id, count(*) AS n FROM sh{w} GROUP BY 1) sa
                      ON sa.doc_id = i.doc_a
                    JOIN (SELECT doc_id, count(*) AS n FROM sh{w} GROUP BY 1) sb
                      ON sb.doc_id = i.doc_b
                    WHERE round(CAST(n_common AS DOUBLE)
                                / (sa.n + sb.n - n_common), 6) >= {threshold})
                       AS n_pairs""")
    ctes = ",\n".join(
        f"""sh{w} AS (
                SELECT DISTINCT doc_id,
                       array_to_string(toks[i:i + {w - 1}], ' ') AS sh
                FROM docs, unnest(generate_series(1, len(toks) - {w - 1}))
                     AS t(i)
            )"""
        for w in widths
    )
    union = "\nUNION ALL\n".join(blocks)
    return f"""
        WITH docs AS (
            SELECT doc_id, string_split({_NORM}, ' ') AS toks
            FROM documents WHERE doc_id < 100
        ),
        {ctes}
        SELECT * FROM ({union}) ORDER BY width
    """


def oracle_sql() -> dict[str, str]:
    d = _oracle_sql()
    # the RocksDB state-store run is the SAME sessionize plan on a
    # different store backend — identical rows by contract, certified
    # against the identical ANSI emulation (r14 verdict #7)
    d["streaming_statestore_rocksdb"] = d["streaming_sessionize"]
    return d


def _oracle_sql() -> dict[str, str]:
    return {
        "flagship_revenue_month_region": """
            SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
                   r_name AS region_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY 1, 2
        """,
        "join_inner": """
            SELECT o_orderkey, c_name, c_mktsegment, o_totalprice
            FROM orders JOIN customer ON o_custkey = c_custkey
        """,
        "join_left_agg": """
            SELECT c_custkey, c_name,
                   count(o_orderkey) AS n_orders,
                   round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spent
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY 1, 2
        """,
        "join_semi": """
            SELECT c_custkey, c_name, c_mktsegment FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "join_anti": """
            SELECT c_custkey, c_name, c_mktsegment FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                              AND o.o_orderdate >= DATE '2000-01-01')
        """,
        "join_broadcast": """
            SELECT p_brand,
                   round(sum(l_quantity), 2) AS sum_qty,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1
        """,
        "join_composite_theta": """
            WITH s AS (
                SELECT o_orderstatus,
                       count(*) AS nl,
                       sum(CAST(date_diff('day', CAST(o_orderdate AS DATE),
                                CAST(l_shipdate AS DATE)) AS BIGINT)) AS sd
                FROM lineitem JOIN orders
                  ON l_orderkey = o_orderkey AND l_shipdate >= o_orderdate
                GROUP BY 1
            )
            SELECT o_orderstatus,
                   nl AS n_shipped_after_order,
                   CAST((2 * sd * 10000 + nl) // (2 * nl) AS DOUBLE) / 10000.0
                       AS avg_ship_delay_days
            FROM s
        """,
        "join_theta_pairs": """
            SELECT n1.n_name AS nation_a, n2.n_name AS nation_b,
                   n1.n_regionkey AS region_key
            FROM nation n1 JOIN nation n2
              ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
        """,
        "join_asof": _ASOF_ORACLE,
        "join_asof_merge": _ASOF_ORACLE,
        "join_range_bucketized": """
            WITH anchors AS (
                SELECT event_id AS anchor_id, user_id AS anchor_user, ts AS anchor_ts
                FROM events WHERE event_type = 'signup'
            )
            SELECT a.anchor_id, a.anchor_user, a.anchor_ts,
                   count(e.event_id) AS n_following
            FROM anchors a LEFT JOIN events e
              ON e.user_id = a.anchor_user
             AND e.ts > a.anchor_ts
             AND epoch(e.ts) <= epoch(a.anchor_ts) + 3600
            GROUP BY 1, 2, 3
        """,
        "events_forward_fill": """
            SELECT event_id, user_id, ts,
                   round(CASE WHEN event_type <> 'error' THEN value END, 4) AS sparse_value,
                   round(last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS filled_value
            FROM events
        """,
        # r15 rows-only -> oracle conversion (r14 verdict #3): the EWMA
        # recursion y_t = 0.7*y_{t-1} + 0.3*x_t replayed per row via
        # list_reduce over the ordered per-user prefix — the identical
        # correctly-rounded double ops as the pandas kernel, so the
        # UNROUNDED doubles are bit-identical cross-engine (see
        # grouped_pandas.ewma_per_user docstring for the rounding
        # hazard this sidesteps). O(n^2) prefix replay is oracle-side
        # only; groups are <=100 rows at every test SF.
        "events_ewma": """
            WITH ordered AS (
                SELECT event_id, user_id, ts, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events
            ),
            lists AS (
                SELECT user_id, list(value ORDER BY ts, event_id) AS vals
                FROM events GROUP BY user_id
            )
            SELECT o.event_id, o.user_id, o.ts, o.value,
                   list_reduce(l.vals[1:o.rn],
                               (acc, x) -> 0.7*acc + 0.3*x) AS ewma
            FROM ordered o JOIN lists l USING (user_id)
        """,
        # r15 rows-only -> oracle conversion: the oracle computes the
        # exact order-statistic rank windows (pure integer rank
        # arithmetic, unrounded double values straight from the scan)
        # and emits literal TRUE for the certificate columns — the GK
        # epsilon bound guarantees them; a sketch rank-error violation
        # flips the Spark-side boolean and reds the row.
        "agg_approx_percentiles": """
            WITH ranked AS (
                SELECT o_orderpriority, o_totalprice,
                       row_number() OVER (PARTITION BY o_orderpriority
                                          ORDER BY o_totalprice) AS r,
                       count(*) OVER (PARTITION BY o_orderpriority) AS n
                FROM orders
            )
            SELECT o_orderpriority,
                   max(n) AS n_orders,
                   max(CASE WHEN r = greatest(1, (n * 499) // 1000)
                            THEN o_totalprice END) AS median_lo,
                   max(CASE WHEN r = least(n, (n * 501) // 1000 + 1)
                            THEN o_totalprice END) AS median_hi,
                   max(CASE WHEN r = greatest(1, (n * 899) // 1000)
                            THEN o_totalprice END) AS p90_lo,
                   max(CASE WHEN r = least(n, (n * 901) // 1000 + 1)
                            THEN o_totalprice END) AS p90_hi,
                   TRUE AS median_in_bound,
                   TRUE AS p90_in_bound
            FROM ranked GROUP BY o_orderpriority
        """,
        # r15 rows-only -> oracle conversions: exact values + literal
        # TRUE sketch certificates (HLL/GK outputs are layout-
        # independent for fixed data; the Spark-side booleans red the
        # row on any error-bound violation)
        "agg_approx_distinct": """
            WITH ranked AS (
                SELECT l_returnflag, l_extendedprice,
                       row_number() OVER (PARTITION BY l_returnflag
                                          ORDER BY l_extendedprice) AS r,
                       count(*) OVER (PARTITION BY l_returnflag) AS n
                FROM lineitem
            ),
            b AS (
                SELECT l_returnflag,
                       max(n) AS n_rows,
                       max(CASE WHEN r = greatest(1, (n * 4999) // 10000)
                                THEN l_extendedprice END) AS median_lo,
                       max(CASE WHEN r = least(n, (n * 5001) // 10000 + 1)
                                THEN l_extendedprice END) AS median_hi
                FROM ranked GROUP BY l_returnflag
            ),
            e AS (
                SELECT l_returnflag,
                       count(DISTINCT l_partkey) AS exact_parts
                FROM lineitem GROUP BY l_returnflag
            )
            SELECT b.l_returnflag, b.n_rows, e.exact_parts,
                   b.median_lo, b.median_hi,
                   TRUE AS parts_in_bound,
                   TRUE AS median_in_bound
            FROM b JOIN e USING (l_returnflag)
        """,
        "agg_hll_sketch_rollup": """
            SELECT event_type,
                   count(DISTINCT user_id) AS exact_users,
                   count(*) AS n_events,
                   TRUE AS estimate_in_bound
            FROM events GROUP BY event_type
            UNION ALL
            SELECT 'ALL', count(DISTINCT user_id), count(*), TRUE
            FROM events
        """,
        # r15 rows-only -> oracle conversion: the LTTB greedy selection
        # replayed by a recursive CTE over buckets — each step holds the
        # previously picked point (the sequential dependency) and takes
        # the first-max triangle-area argmax over its bucket's ordered
        # candidate list via a struct list_reduce (strict > keeps the
        # earliest on ties, matching np.argmax). Bucket bounds are pure
        # integer arithmetic; centroids are left-fold means; x is
        # epoch-ns -> double (one correctly-rounded conversion both
        # engines); the area is the identical elementwise op sequence.
        "events_lttb": """
            WITH RECURSIVE base AS (
                SELECT event_type, ts, value,
                       CAST(epoch_ns(ts) AS DOUBLE) AS x,
                       value AS y,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY ts, event_id) - 1 AS idx,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM events
            ),
            small AS (
                SELECT event_type, ts, value, idx AS point_index
                FROM base WHERE n <= 50
            ),
            big AS (SELECT * FROM base WHERE n > 50),
            series AS (SELECT DISTINCT event_type, n FROM big),
            ii AS (SELECT unnest(range(0, 48)) AS b),
            centro AS (
                SELECT s.event_type, s.n, ii.b,
                       1 + (ii.b * (s.n - 2)) // 48 AS lo,
                       1 + ((ii.b + 1) * (s.n - 2)) // 48 AS hi,
                       CASE WHEN ii.b + 2 <= 48
                            THEN 1 + ((ii.b + 1) * (s.n - 2)) // 48
                            ELSE s.n - 1 END AS clo,
                       CASE WHEN ii.b + 2 <= 48
                            THEN 1 + ((ii.b + 2) * (s.n - 2)) // 48
                            ELSE s.n END AS chi
                FROM series s, ii
            ),
            cands AS (
                SELECT c.event_type, c.b,
                       list(struct_pack(idx := p.idx, x := p.x, y := p.y)
                            ORDER BY p.idx) AS pts
                FROM centro c JOIN big p
                  ON p.event_type = c.event_type
                 AND p.idx >= c.lo AND p.idx < c.hi
                GROUP BY 1, 2
            ),
            cent AS (
                SELECT c.event_type, c.b,
                       list_reduce(list(p.x ORDER BY p.idx),
                                   (a, v) -> a + v) / count(*) AS cx,
                       list_reduce(list(p.y ORDER BY p.idx),
                                   (a, v) -> a + v) / count(*) AS cy
                FROM centro c JOIN big p
                  ON p.event_type = c.event_type
                 AND p.idx >= c.clo AND p.idx < c.chi
                GROUP BY 1, 2
            ),
            steps AS (
                SELECT ca.event_type, ca.b,
                       list_reduce(
                           list_transform(ca.pts, q -> struct_pack(
                               idx := q.idx, x := q.x, y := q.y,
                               area := abs((p0.px - ce.cx) * (q.y - p0.py)
                                           - (p0.px - q.x) * (ce.cy - p0.py)))),
                           (a, c) -> CASE WHEN c.area > a.area
                                          THEN c ELSE a END) AS pick
                FROM cands ca
                JOIN cent ce ON ce.event_type = ca.event_type
                            AND ce.b = ca.b
                JOIN (SELECT event_type, x AS px, y AS py
                      FROM big WHERE idx = 0) p0
                  ON p0.event_type = ca.event_type
                WHERE ca.b = 0
                UNION ALL
                SELECT ca.event_type, ca.b,
                       list_reduce(
                           list_transform(ca.pts, q -> struct_pack(
                               idx := q.idx, x := q.x, y := q.y,
                               area := abs((struct_extract(s.pick, 'x') - ce.cx)
                                             * (q.y - struct_extract(s.pick, 'y'))
                                           - (struct_extract(s.pick, 'x') - q.x)
                                             * (ce.cy - struct_extract(s.pick, 'y'))))),
                           (a, c) -> CASE WHEN c.area > a.area
                                          THEN c ELSE a END)
                FROM steps s
                JOIN cands ca ON ca.event_type = s.event_type
                             AND ca.b = s.b + 1
                JOIN cent ce ON ce.event_type = s.event_type
                            AND ce.b = s.b + 1
            ),
            keep AS (
                SELECT event_type,
                       struct_extract(pick, 'idx') AS point_index
                FROM steps
                UNION ALL
                SELECT event_type, 0 FROM series
                UNION ALL
                SELECT event_type, n - 1 FROM series
            )
            SELECT b.event_type, b.ts, b.value, b.idx AS point_index
            FROM big b JOIN keep k
              ON b.event_type = k.event_type AND b.idx = k.point_index
            UNION ALL
            SELECT event_type, ts, value, point_index FROM small
        """,
        # r15 rows-only -> oracle conversions: the seed-42 hyperplane
        # index as shared SQL text (_lsh_bucket_sql == the repr()
        # literals in the Spark expr plan) — the full bucket/probe/
        # re-rank pipeline replayed end-to-end, proving the bucketing
        # itself, not just arithmetic. Recall vs exact stays tested.
        "sim_cosine_topk_lsh": f"""
            WITH v AS (
                SELECT vec_id,
                       list_transform(embedding,
                                      x -> CAST(x AS DOUBLE)) AS e
                FROM embeddings
            ),
            b AS (
                SELECT vec_id, e, {_lsh_bucket_sql()} AS bucket FROM v
            ),
            q AS (
                SELECT vec_id AS query_id, e AS qe, bucket AS qb
                FROM b WHERE vec_id IN (0, 1, 2)
            ),
            pairs AS (
                SELECT q.query_id, c.vec_id AS corpus_id,
                       {_LSH_COSINE} AS cosine
                FROM b c JOIN q
                  ON c.bucket = q.qb AND c.vec_id <> q.query_id
            ),
            ranked AS (
                SELECT *, CAST(row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY cosine DESC, corpus_id) AS INTEGER) AS rank
                FROM pairs
            )
            SELECT query_id, corpus_id, cosine, rank
            FROM ranked WHERE rank <= 5
        """,
        "sim_cosine_topk_lsh_multiprobe": f"""
            WITH v AS (
                SELECT vec_id,
                       list_transform(embedding,
                                      x -> CAST(x AS DOUBLE)) AS e
                FROM embeddings
            ),
            b AS (
                SELECT vec_id, e, {_lsh_bucket_sql()} AS bucket FROM v
            ),
            q AS (
                SELECT vec_id AS query_id, qe,
                       unnest([qb, xor(qb, 1), xor(qb, 2), xor(qb, 4),
                               xor(qb, 8), xor(qb, 16), xor(qb, 32)])
                           AS probe
                FROM (SELECT vec_id, e AS qe, bucket AS qb
                      FROM b WHERE vec_id IN (0, 1, 2))
            ),
            pairs AS (
                SELECT DISTINCT q.query_id, c.vec_id AS corpus_id,
                       {_LSH_COSINE} AS cosine
                FROM b c JOIN q
                  ON c.bucket = q.probe AND c.vec_id <> q.query_id
            ),
            ranked AS (
                SELECT *, CAST(row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY cosine DESC, corpus_id) AS INTEGER) AS rank
                FROM pairs
            )
            SELECT query_id, corpus_id, cosine, rank
            FROM ranked WHERE rank <= 5
        """,
        # r15 rows-only -> oracle conversion: Gonzalez farthest-point
        # traversal replayed by a list-state recursive CTE. The Spark
        # loop is ALREADY fold-exact (distances are zip_with/aggregate
        # folds over double literals — no BLAS anywhere), so the oracle
        # just mirrors it: state = full pool with running min-distance;
        # each step takes the (mind DESC, vec_id ASC) argmax, emits it,
        # and rewrites mind = least(mind, dist-to-pick); the
        # mind <= 0 early stop becomes the recursion guard. Picked
        # centers keep mind 0 in the kernel's frame and are filtered
        # here — equivalent, since a 0 can never win while the guard
        # holds.
        "sim_kcenter_coreset": """
            WITH RECURSIVE c0 AS (
                SELECT vec_id,
                       list_transform(embedding,
                                      x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings ORDER BY vec_id LIMIT 1
            ),
            pool AS (
                SELECT e.vec_id,
                       list_transform(e.embedding,
                                      x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings e
            ),
            init AS (
                SELECT list(struct_pack(vid := p.vec_id, v := p.v,
                           mind := sqrt(list_reduce(list_transform(
                               list_zip(p.v, c.v),
                               z -> (z[1] - z[2]) * (z[1] - z[2])),
                               (a, x) -> a + x)))
                           ORDER BY p.vec_id) AS state
                FROM pool p, c0 c
            ),
            steps AS (
                SELECT 1 AS pick_order, c.vec_id,
                       CAST(NULL AS DOUBLE) AS radius, i.state
                FROM c0 c, init i
                UNION ALL
                SELECT t2.pick_order + 1,
                       struct_extract(t2.best, 'vid'),
                       round(struct_extract(t2.best, 'mind'), 6),
                       list_transform(
                           list_filter(t2.state, it ->
                               it.vid <> struct_extract(t2.best, 'vid')),
                           it -> struct_pack(vid := it.vid, v := it.v,
                               mind := least(it.mind,
                                   sqrt(list_reduce(list_transform(
                                       list_zip(it.v,
                                           struct_extract(t2.best, 'v')),
                                       z -> (z[1] - z[2]) * (z[1] - z[2])),
                                       (a, x) -> a + x)))))
                FROM (
                    SELECT s.pick_order, s.state,
                           list_reduce(s.state, (a, c) ->
                               CASE WHEN c.mind > a.mind
                                      OR (c.mind = a.mind
                                          AND c.vid < a.vid)
                                    THEN c ELSE a END) AS best
                    FROM steps s
                    WHERE s.pick_order < 16 AND len(s.state) > 0
                ) t2
                WHERE struct_extract(t2.best, 'mind') > 0.0
            )
            SELECT vec_id, CAST(pick_order AS INTEGER) AS pick_order,
                   radius
            FROM steps
        """,
        # r15 rows-only -> oracle conversion: the MMR greedy re-rank
        # replayed by a recursive CTE whose state is the remaining-pool
        # list of structs {cid, v, rel, nrm, msel} — each step scores
        # the list (rank 1: rel; else 0.7*rel - (1.0-0.7)*msel, the
        # kernel's exact op shapes incl. the computed 1-lam), takes the
        # (score DESC, cid ASC) argmax via a struct list_reduce, emits
        # it, and rewrites every survivor's msel with greatest(msel,
        # fold-dot(v, best.v)/(nrm*best.nrm)). All dots/norms are the
        # same left folds as the rewritten driver kernel.
        "sim_mmr_diversify": """
            WITH RECURSIVE qv AS (
                SELECT list_transform(embedding,
                                      x -> CAST(x AS DOUBLE)) AS q
                FROM embeddings WHERE vec_id = 0
            ),
            scored AS (
                SELECT e.vec_id AS cid,
                       list_transform(e.embedding,
                                      x -> CAST(x AS DOUBLE)) AS v,
                       list_reduce(list_transform(
                           list_zip(e.embedding, qv.q),
                           z -> CAST(z[1] AS DOUBLE) * z[2]),
                           (a, x) -> a + x)
                         / (sqrt(list_reduce(list_transform(e.embedding,
                                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                                (a, x) -> a + x))
                            * sqrt(list_reduce(list_transform(qv.q,
                                x -> x * x), (a, x) -> a + x))) AS rel
                FROM embeddings e, qv WHERE e.vec_id <> 0
            ),
            pool AS (
                SELECT cid, v, rel,
                       sqrt(list_reduce(list_transform(v, x -> x * x),
                                        (a, x) -> a + x)) AS nrm
                FROM scored
                ORDER BY rel DESC, cid
                LIMIT 50
            ),
            plist AS (
                SELECT list(struct_pack(cid := cid, v := v, rel := rel,
                                        nrm := nrm,
                                        msel := CAST('-infinity' AS DOUBLE))
                            ORDER BY rel DESC, cid) AS state
                FROM pool
            ),
            steps AS (
                SELECT 1 AS rank,
                       struct_extract(t2.best, 'cid') AS corpus_id,
                       struct_extract(t2.best, 'rel') AS relevance,
                       struct_extract(t2.best, 'score') AS mmr_score,
                       list_transform(
                           list_filter(t2.annot, it ->
                               it.cid <> struct_extract(t2.best, 'cid')),
                           it -> struct_pack(cid := it.cid, v := it.v,
                               rel := it.rel, nrm := it.nrm,
                               msel := greatest(it.msel,
                                   list_reduce(list_transform(
                                       list_zip(it.v,
                                           struct_extract(t2.best, 'v')),
                                       z -> CAST(z[1] AS DOUBLE) * z[2]),
                                       (a, x) -> a + x)
                                   / (it.nrm
                                      * struct_extract(t2.best, 'nrm'))))
                       ) AS state
                FROM (
                    SELECT t.annot,
                           list_reduce(t.annot, (a, c) ->
                               CASE WHEN c.score > a.score
                                      OR (c.score = a.score
                                          AND c.cid < a.cid)
                                    THEN c ELSE a END) AS best
                    FROM (
                        SELECT list_transform(p.state, it ->
                                   struct_pack(cid := it.cid, v := it.v,
                                       rel := it.rel, nrm := it.nrm,
                                       msel := it.msel,
                                       score := it.rel)) AS annot
                        FROM plist p
                    ) t
                ) t2
                UNION ALL
                SELECT t2.rank + 1,
                       struct_extract(t2.best, 'cid'),
                       struct_extract(t2.best, 'rel'),
                       struct_extract(t2.best, 'score'),
                       list_transform(
                           list_filter(t2.annot, it ->
                               it.cid <> struct_extract(t2.best, 'cid')),
                           it -> struct_pack(cid := it.cid, v := it.v,
                               rel := it.rel, nrm := it.nrm,
                               msel := greatest(it.msel,
                                   list_reduce(list_transform(
                                       list_zip(it.v,
                                           struct_extract(t2.best, 'v')),
                                       z -> CAST(z[1] AS DOUBLE) * z[2]),
                                       (a, x) -> a + x)
                                   / (it.nrm
                                      * struct_extract(t2.best, 'nrm')))))
                FROM (
                    SELECT t.rank, t.annot,
                           list_reduce(t.annot, (a, c) ->
                               CASE WHEN c.score > a.score
                                      OR (c.score = a.score
                                          AND c.cid < a.cid)
                                    THEN c ELSE a END) AS best
                    FROM (
                        SELECT s.rank,
                               list_transform(s.state, it ->
                                   struct_pack(cid := it.cid, v := it.v,
                                       rel := it.rel, nrm := it.nrm,
                                       msel := it.msel,
                                       score := 0.7 * it.rel
                                                - (CAST(1.0 AS DOUBLE)
                                                   - CAST(0.7 AS DOUBLE))
                                                  * it.msel))
                                   AS annot
                        FROM steps s
                        WHERE s.rank < 10 AND len(s.state) > 0
                    ) t
                ) t2
            )
            SELECT CAST(rank AS INTEGER) AS rank, corpus_id,
                   round(relevance, 6) AS relevance,
                   round(mmr_score, 6) AS mmr_score
            FROM steps
        """,
        # NEW r15: Holt linear-trend replay — the two-state recursion
        # (level, trend) rides a recursive CTE; the new level is
        # computed ONCE in a nested derived table so the trend update
        # can reference it. EVERY constant is a computed double cast:
        # (1.0 - 0.1) is NOT the 0.9 literal's double (it rounds to the
        # lower neighbor), and DuckDB literal-only arithmetic is
        # DECIMAL — so 1-alpha/1-beta appear exactly as the kernel
        # computes them. Unrounded values; exact-cents hourly mean.
        "events_holt_forecast": """
            WITH RECURSIVE hourly AS (
                SELECT event_type, date_trunc('hour', ts) AS hour,
                       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                     AS BIGINT)) AS DOUBLE)
                       / CAST(count(*) * 100 AS DOUBLE) AS mean_value
                FROM events GROUP BY 1, 2
            ),
            indexed AS (
                SELECT *, row_number() OVER (PARTITION BY event_type
                                             ORDER BY hour) AS i
                FROM hourly
            ),
            init AS (
                SELECT a.event_type, a.mean_value AS x1,
                       b.mean_value AS x2
                FROM indexed a JOIN indexed b
                  ON a.event_type = b.event_type
                 AND a.i = 1 AND b.i = 2
            ),
            steps AS (
                SELECT n.event_type, n.i, n.hour,
                       (i.x1 + (i.x2 - i.x1)) AS forecast,
                       n.mean_value AS actual,
                       n.mean_value - (i.x1 + (i.x2 - i.x1)) AS error,
                       CAST(0.3 AS DOUBLE) * n.mean_value
                       + (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE))
                         * (i.x1 + (i.x2 - i.x1)) AS lvl,
                       CAST(0.1 AS DOUBLE)
                         * ((CAST(0.3 AS DOUBLE) * n.mean_value
                             + (CAST(1.0 AS DOUBLE)
                                - CAST(0.3 AS DOUBLE))
                               * (i.x1 + (i.x2 - i.x1))) - i.x1)
                       + (CAST(1.0 AS DOUBLE) - CAST(0.1 AS DOUBLE))
                         * (i.x2 - i.x1) AS trd
                FROM indexed n JOIN init i USING (event_type)
                WHERE n.i = 2
                UNION ALL
                SELECT t.event_type, t.i, t.hour,
                       t.plvl + t.ptrd,
                       t.mean_value,
                       t.mean_value - (t.plvl + t.ptrd),
                       t.nlvl,
                       CAST(0.1 AS DOUBLE) * (t.nlvl - t.plvl)
                       + (CAST(1.0 AS DOUBLE) - CAST(0.1 AS DOUBLE))
                         * t.ptrd
                FROM (
                    SELECT n2.event_type, n2.i, n2.hour, n2.mean_value,
                           s2.lvl AS plvl, s2.trd AS ptrd,
                           CAST(0.3 AS DOUBLE) * n2.mean_value
                           + (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE))
                             * (s2.lvl + s2.trd) AS nlvl
                    FROM steps s2 JOIN indexed n2
                      ON n2.event_type = s2.event_type
                     AND n2.i = s2.i + 1
                ) t
            )
            SELECT event_type, hour, forecast, actual, error FROM steps
        """,
        # NEW r15: Holt-Winters additive replay (see
        # _holt_winters_oracle_sql docstring)
        "events_holt_winters": _holt_winters_oracle_sql(),
        # NEW r16: OPTIMIZE planner — first-fit-decreasing bin packing
        # of the per-source pseudo-file manifest, replayed file-for-
        # file by a list-state recursive CTE (ALL-INTEGER state: no
        # rounding discipline needed; first fitting bin via
        # list_position(list_transform(bins, b -> b >= sz), true);
        # bin vector updated by the slice-concatenation trick).
        "lake_compaction_plan": """
            WITH RECURSIVE manifest AS (
                SELECT source AS part, doc_id % 16 AS file_id,
                       CAST(sum(strlen(text)) AS BIGINT) AS size_bytes
                FROM documents GROUP BY 1, 2
            ),
            srcs AS (
                SELECT part,
                       list(struct_pack(fid := file_id, sz := size_bytes)
                            ORDER BY size_bytes DESC, file_id) AS files,
                       CAST(max(size_bytes) * 2 AS BIGINT) AS cap
                FROM manifest GROUP BY part
            ),
            ffd AS (
                SELECT part, files AS remaining, cap,
                       CAST([] AS BIGINT[]) AS bins,
                       CAST([] AS STRUCT(fid BIGINT, sz BIGINT,
                                         bin BIGINT)[]) AS placed
                FROM srcs
                UNION ALL
                SELECT t.part, t.remaining[2:], t.cap,
                       CASE WHEN t.hit IS NULL
                            THEN t.bins || [t.cap - t.sz]
                            ELSE t.bins[1:t.hit - 1]
                                 || [t.bins[t.hit] - t.sz]
                                 || t.bins[t.hit + 1:]
                       END,
                       t.placed || [struct_pack(fid := t.fid, sz := t.sz,
                           bin := CAST(coalesce(t.hit, len(t.bins) + 1)
                                       AS BIGINT))]
                FROM (
                    SELECT f.part, f.remaining, f.cap, f.bins, f.placed,
                           f.remaining[1].fid AS fid,
                           f.remaining[1].sz AS sz,
                           -- nullif: list_position signals a miss as 0
                           -- (not NULL) — 0 would index bins[0] = NULL
                           -- and silently poison the fold
                           nullif(list_position(list_transform(f.bins,
                               b -> b >= f.remaining[1].sz), true),
                                  0) AS hit
                    FROM ffd f WHERE len(f.remaining) > 0
                ) t
            )
            SELECT part, struct_extract(p, 'fid') AS file_id,
                   struct_extract(p, 'sz') AS size_bytes,
                   struct_extract(p, 'bin') AS bin_id
            FROM (SELECT part, unnest(placed) AS p
                  FROM ffd WHERE len(remaining) = 0)
        """,
        # NEW r16: exact five-sum Pearson — every sum an exact integer
        # (HUGEINT here, DECIMAL(38,0) Spark-side, order-invariant);
        # the three integer->double conversions route through VARCHAR
        # (strtod, correctly rounded — DuckDB's native hugeint cast
        # double-rounds via upper*2^64+lower, the dq_ljung_box lesson);
        # sqrt is IEEE-correctly-rounded, so unrounded r is bit-exact.
        "events_cross_correlation": """
            WITH hourly AS (
                SELECT event_type, date_trunc('hour', ts) AS hour,
                       sum(CAST(CAST(value AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS x
                FROM events GROUP BY 1, 2
            ),
            j AS (
                SELECT a.event_type AS type_a, b.event_type AS type_b,
                       count(*) AS n_hours,
                       sum(CAST(a.x AS HUGEINT)) AS sa,
                       sum(CAST(b.x AS HUGEINT)) AS sb,
                       sum(CAST(a.x AS HUGEINT) * CAST(b.x AS HUGEINT))
                         AS sab,
                       sum(CAST(a.x AS HUGEINT) * CAST(a.x AS HUGEINT))
                         AS saa,
                       sum(CAST(b.x AS HUGEINT) * CAST(b.x AS HUGEINT))
                         AS sbb
                FROM hourly a
                JOIN hourly b ON a.hour = b.hour
                             AND a.event_type < b.event_type
                GROUP BY 1, 2
            ),
            t AS (
                SELECT type_a, type_b, CAST(n_hours AS BIGINT) AS n_hours,
                       n_hours * sab - sa * sb AS num,
                       n_hours * saa - sa * sa AS dena,
                       n_hours * sbb - sb * sb AS denb
                FROM j
            )
            SELECT type_a, type_b, n_hours,
                   CAST(CAST(num AS VARCHAR) AS DOUBLE)
                   / (sqrt(CAST(CAST(dena AS VARCHAR) AS DOUBLE))
                      * sqrt(CAST(CAST(denb AS VARCHAR) AS DOUBLE)))
                     AS pearson_r
            FROM t WHERE dena > 0 AND denb > 0
        """,
        # NEW r16: Kalman local-level replay — (x, P) recursion with
        # P-predict computed once in the innermost derived table, the
        # gain once in the next (repeating an expression would be
        # bit-identical anyway, but single-site keeps the op shape
        # auditable); every constant a computed double cast; unrounded.
        "events_kalman_level": """
            WITH RECURSIVE hourly AS (
                SELECT event_type, date_trunc('hour', ts) AS hour,
                       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                     AS BIGINT)) AS DOUBLE)
                       / CAST(count(*) * 100 AS DOUBLE) AS z
                FROM events GROUP BY 1, 2
            ),
            indexed AS (
                SELECT *, row_number() OVER (PARTITION BY event_type
                                             ORDER BY hour) AS i
                FROM hourly
            ),
            init AS (
                SELECT event_type, z AS x0 FROM indexed WHERE i = 1
            ),
            steps AS (
                SELECT u.event_type, u.i, u.hour, u.z AS actual,
                       u.innov AS innovation, u.k AS gain,
                       u.x_prev + u.k * u.innov AS x,
                       (CAST(1.0 AS DOUBLE) - u.k) * u.p_pred AS p
                FROM (
                    SELECT t.*,
                           t.p_pred / (t.p_pred + CAST(1.0 AS DOUBLE))
                             AS k
                    FROM (
                        SELECT n.event_type, n.i, n.hour, n.z,
                               i0.x0 AS x_prev,
                               n.z - i0.x0 AS innov,
                               CAST(1.0 AS DOUBLE)
                               + CAST(0.01 AS DOUBLE) AS p_pred
                        FROM indexed n JOIN init i0 USING (event_type)
                        WHERE n.i = 2
                    ) t
                ) u
                UNION ALL
                SELECT u.event_type, u.i, u.hour, u.z,
                       u.innov, u.k,
                       u.x_prev + u.k * u.innov,
                       (CAST(1.0 AS DOUBLE) - u.k) * u.p_pred
                FROM (
                    SELECT t.*,
                           t.p_pred / (t.p_pred + CAST(1.0 AS DOUBLE))
                             AS k
                    FROM (
                        SELECT n.event_type, n.i, n.hour, n.z,
                               s.x AS x_prev,
                               n.z - s.x AS innov,
                               s.p + CAST(0.01 AS DOUBLE) AS p_pred
                        FROM steps s JOIN indexed n
                          ON n.event_type = s.event_type
                         AND n.i = s.i + 1
                    ) t
                ) u
            )
            SELECT event_type, hour, actual, innovation, gain,
                   x AS filtered, p AS variance
            FROM steps
        """,
        # NEW r16: Ljung-Box over the SAME recursive-CTE residuals the
        # events_holt_winters oracle replays; every aggregate an
        # explicit 0.0-init left fold in series order (quality.
        # hw_residual_ljung_box docstring), rho/Q unrounded, and the
        # reject cutoff parsed from the identical decimal string
        # (CAST(str AS DOUBLE) = strtod = python float parse).
        "events_hw_residual_diag": _holt_winters_oracle_sql(
            final_select="""
            , per AS (
                SELECT event_type, list(error ORDER BY hour) AS errs
                FROM steps GROUP BY event_type
            ),
            base AS (
                SELECT event_type, errs, len(errs) AS n_obs,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                                errs), (a, x) -> a + x)
                         / CAST(len(errs) AS DOUBLE) AS m
                FROM per WHERE len(errs) > 6
            ),
            devd AS (
                SELECT event_type, n_obs,
                       list_transform(errs, x -> x - m) AS devs
                FROM base
            ),
            sums AS (
                SELECT event_type, n_obs,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list_transform(devs, d -> d * d)),
                           (a, x) -> a + x) AS den,
                       """
            + ",\n                       ".join(
                "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
                f" list_transform(list_zip(devs[1:n_obs - {k}],"
                f" devs[{k + 1}:n_obs]), z -> z[1] * z[2])),"
                f" (a, x) -> a + x) AS num_{k}"
                for k in range(1, 7)
            )
            + """
                FROM devd
            ),
            rhos AS (
                SELECT event_type, n_obs, CAST(n_obs AS DOUBLE) AS nd,
                       """
            + ",\n                       ".join(
                f"num_{k} / den AS rho_{k}" for k in range(1, 7)
            )
            + """
                FROM sums
            )
            , qq AS (
                SELECT event_type, n_obs,
                       rho_1, rho_2, rho_3, rho_4, rho_5, rho_6,
                       (nd * (nd + 2)) * (rho_1 * rho_1 / (nd - 1)
                           + rho_2 * rho_2 / (nd - 2)
                           + rho_3 * rho_3 / (nd - 3)
                           + rho_4 * rho_4 / (nd - 4)
                           + rho_5 * rho_5 / (nd - 5)
                           + rho_6 * rho_6 / (nd - 6)) AS q_stat
                FROM rhos
            )
            SELECT event_type, CAST(n_obs AS BIGINT) AS n_obs,
                   rho_1, rho_2, rho_3, rho_4, rho_5, rho_6,
                   q_stat,
                   q_stat > CAST('12.591587243743977' AS DOUBLE)
                     AS lb_reject
            FROM qq
            """
        ),
        # NEW r15: EWMA chart replay — z_t and the time-varying limit
        # replayed per row by prefix list_reduce (z starts at the
        # burn-in mu via list_prepend; (1-lam)^{2t} is a repeated-
        # multiplication fold, never libm pow); same burn-in folds and
        # exact-cents hourly mean as events_cusum; unrounded values.
        "dq_ewma_chart": """
            WITH hourly AS (
                SELECT event_type, date_trunc('hour', ts) AS hour,
                       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                     AS BIGINT)) AS DOUBLE)
                       / CAST(count(*) * 100 AS DOUBLE) AS mean_value
                FROM events GROUP BY 1, 2
            ),
            indexed AS (
                SELECT *, row_number() OVER (PARTITION BY event_type
                                             ORDER BY hour) AS i
                FROM hourly
            ),
            calib AS (
                SELECT event_type,
                       list(mean_value ORDER BY hour) AS vals
                FROM hourly GROUP BY event_type
            ),
            mu_t AS (
                SELECT event_type,
                       list_reduce(vals[1:least(24, len(vals))],
                                   (a, x) -> a + x)
                         / least(24, len(vals)) AS mu
                FROM calib
            ),
            params AS (
                SELECT c.event_type, m.mu,
                       greatest(sqrt(
                           list_reduce(list_transform(
                               c.vals[1:least(24, len(c.vals))],
                               x -> (x - m.mu) * (x - m.mu)),
                               (a, y) -> a + y)
                           / least(24, len(c.vals))), 1e-12) AS sd
                FROM calib c JOIN mu_t m USING (event_type)
            ),
            z AS (
                SELECT n.event_type, n.i, n.hour, p.mu, p.sd,
                       -- the decay coefficient mirrors the kernel's op
                       -- shape (one_m = 1.0 - 0.2), not the 0.8 literal:
                       -- the subtraction happens to round to double(0.8)
                       -- here, but writing the computed form keeps the
                       -- parity by construction (r9 hazard: 1.0 - 0.1
                       -- is NOT double(0.9))
                       list_reduce(list_prepend(p.mu, c.vals[1:n.i]),
                                   (a, x) -> (CAST(1.0 AS DOUBLE)
                                              - CAST(0.2 AS DOUBLE)) * a
                                             + 0.2 * x) AS ewma_z,
                       -- every pure-literal subexpression must be cast
                       -- to DOUBLE: DuckDB evaluates literal-only
                       -- arithmetic in exact DECIMAL (0.8*0.8 = exact
                       -- 0.64; 0.2/1.8 = truncated decimal), which
                       -- diverges from the kernel's double products
                       list_reduce(list_transform(c.vals[1:n.i],
                                   x -> CAST(0.8 AS DOUBLE)
                                        * CAST(0.8 AS DOUBLE)),
                                   (a, b) -> a * b) AS wfac
                FROM indexed n JOIN params p USING (event_type)
                JOIN calib c ON c.event_type = n.event_type
            ),
            lim AS (
                SELECT *, (3.0 * sd)
                          * sqrt((CAST(0.2 AS DOUBLE)
                                  / (CAST(2.0 AS DOUBLE)
                                     - CAST(0.2 AS DOUBLE)))
                                 * (1.0 - wfac)) AS hw
                FROM z
            )
            SELECT event_type, hour, ewma_z,
                   CASE WHEN ewma_z > mu + hw THEN 'high'
                        ELSE 'low' END AS side,
                   CASE WHEN ewma_z > mu + hw THEN mu + hw
                        ELSE mu - hw END AS violated_limit
            FROM lim WHERE ewma_z > mu + hw OR ewma_z < mu - hw
        """,
        # r15 rows-only -> oracle conversion: the CUSUM alarm recursion
        # replayed exactly by a recursive CTE. Every float op mirrors
        # the kernel bit-for-bit (see cusum_changepoints docstring):
        # hourly mean = one division of exact integers; mu/sd = left
        # folds over the burn-in (list_reduce's first-element init ==
        # the kernel's 0.0+x0 fold); the recursion carries POST-reset
        # state forward and alarms on the PRE-reset statistics with
        # identical parenthesization; stat published unrounded.
        "events_cusum": """
            WITH RECURSIVE hourly AS (
                SELECT event_type, date_trunc('hour', ts) AS hour,
                       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                     AS BIGINT)) AS DOUBLE)
                       / CAST(count(*) * 100 AS DOUBLE) AS mean_value
                FROM events GROUP BY 1, 2
            ),
            indexed AS (
                SELECT *, row_number() OVER (PARTITION BY event_type
                                             ORDER BY hour) AS i
                FROM hourly
            ),
            calib AS (
                SELECT event_type,
                       list(mean_value ORDER BY hour) AS vals
                FROM hourly GROUP BY event_type
            ),
            mu_t AS (
                SELECT event_type,
                       list_reduce(vals[1:least(24, len(vals))],
                                   (a, x) -> a + x)
                         / least(24, len(vals)) AS mu
                FROM calib
            ),
            params AS (
                SELECT c.event_type, m.mu,
                       greatest(sqrt(
                           list_reduce(list_transform(
                               c.vals[1:least(24, len(c.vals))],
                               x -> (x - m.mu) * (x - m.mu)),
                               (a, y) -> a + y)
                           / least(24, len(c.vals))), 1e-12) AS sd
                FROM calib c JOIN mu_t m USING (event_type)
            ),
            step AS (
                SELECT n.event_type, n.i, n.hour, p.mu, p.sd,
                       0.5 * p.sd AS k, 5.0 * p.sd AS h,
                       greatest(0.0, ((0.0 + (n.mean_value - p.mu))
                                      - (0.5 * p.sd))) AS sp_raw,
                       greatest(0.0, ((0.0 + (p.mu - n.mean_value))
                                      - (0.5 * p.sd))) AS sn_raw
                FROM indexed n JOIN params p USING (event_type)
                WHERE n.i = 1
                UNION ALL
                SELECT n.event_type, n.i, n.hour, s.mu, s.sd, s.k, s.h,
                       greatest(0.0, ((CASE WHEN s.sp_raw > s.h
                                              OR s.sn_raw > s.h THEN 0.0
                                            ELSE s.sp_raw END
                                       + (n.mean_value - s.mu)) - s.k)),
                       greatest(0.0, ((CASE WHEN s.sp_raw > s.h
                                              OR s.sn_raw > s.h THEN 0.0
                                            ELSE s.sn_raw END
                                       + (s.mu - n.mean_value)) - s.k))
                FROM step s JOIN indexed n
                  ON n.event_type = s.event_type AND n.i = s.i + 1
            )
            SELECT event_type, hour,
                   CASE WHEN sp_raw > h THEN 'up' ELSE 'down' END
                       AS direction,
                   greatest(sp_raw, sn_raw) / sd AS stat_sigma
            FROM step WHERE sp_raw > h OR sn_raw > h
        """,
        # r15 rows-only -> oracle conversion: the seeded JL matrix is
        # shared SQL text (_rp_matrix_sql == the F.lit columns the Spark
        # plan bakes in), dot products replay F.aggregate's left fold
        # via list_sum, and sqrt is correctly rounded by IEEE-754 — so
        # the 6dp-rounded norms are deterministic cross-engine.
        "sim_random_projection": f"""
            WITH v AS (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                FROM embeddings
            ),
            pr AS (
                SELECT vec_id, e,
                       list_transform({_rp_matrix_sql()}, r ->
                           list_sum(list_transform(list_zip(e, r),
                                    z -> CAST(z[1] AS DOUBLE) * z[2]))) AS proj
                FROM v
            )
            SELECT vec_id,
                   round(sqrt(list_sum(list_transform(e, x -> x*x))), 6)
                       AS orig_norm,
                   round(sqrt(list_sum(list_transform(proj, d -> d*d))), 6)
                       AS proj_norm,
                   round(sqrt(list_sum(list_transform(proj, d -> d*d)))
                         / sqrt(list_sum(list_transform(e, x -> x*x))), 6)
                       AS norm_ratio
            FROM pr
        """,
        # r15 rows-only -> oracle conversion: exact true-heavy-hitter
        # panel (cnt*(capacity+1) > n_total, integer compare). The
        # oracle needs no sketch — which is the point: if the Spark
        # side's MG candidate pruning ever dropped a true heavy hitter,
        # the row would be missing vs this exact-count ground truth.
        "text_frequent_tokens": f"""
            WITH toks AS (
                SELECT unnest(string_split({_NORM}, ' ')) AS token
                FROM documents
            ),
            tot AS (SELECT count(*) AS n_total FROM toks),
            cnts AS (
                SELECT token, count(*) AS exact_cnt FROM toks GROUP BY token
            )
            SELECT c.token, c.exact_cnt, t.n_total,
                   CAST(row_number() OVER (ORDER BY c.exact_cnt DESC,
                                           c.token) AS INTEGER) AS rank
            FROM cnts c, tot t
            WHERE c.exact_cnt * 257 > t.n_total
        """,
        "agg_pricing_summary": """
            WITH g AS (
                SELECT l_returnflag, l_linestatus,
                       round(sum(l_quantity), 2) AS sum_qty,
                       round(sum(l_extendedprice), 2) AS sum_base_price,
                       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                       sum(CAST(l_quantity AS BIGINT)) AS sq,
                       sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS spc,
                       sum(CAST(CAST(l_discount AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS sdc,
                       count(*) AS count_order
                FROM lineitem
                WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
                GROUP BY 1, 2
            )
            SELECT l_returnflag, l_linestatus,
                   sum_qty, sum_base_price, sum_disc_price, sum_charge,
                   CAST((2 * sq * 10000 + count_order) // (2 * count_order)
                        AS DOUBLE) / 10000.0 AS avg_qty,
                   CAST((2 * spc * 100 + count_order) // (2 * count_order)
                        AS DOUBLE) / 10000.0 AS avg_price,
                   CAST((2 * sdc * 100 + count_order) // (2 * count_order)
                        AS DOUBLE) / 10000.0 AS avg_disc,
                   count_order
            FROM g
        """,
        "agg_order_stats": """
            WITH g AS (
                SELECT o_orderpriority,
                       count(*) AS n_orders,
                       round(sum(o_totalprice), 2) AS sum_price,
                       sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS sc,
                       round(min(o_totalprice), 2) AS min_price,
                       round(max(o_totalprice), 2) AS max_price,
                       count(DISTINCT o_custkey) AS n_customers
                FROM orders GROUP BY 1
            )
            SELECT o_orderpriority, n_orders, sum_price,
                   CAST((2 * sc * 100 + n_orders) // (2 * n_orders)
                        AS DOUBLE) / 10000.0 AS avg_price,
                   min_price, max_price, n_customers
            FROM g
        """,
        "agg_rollup": """
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   count(*) AS n_rows,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "agg_cube": """
            SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
                   coalesce(o_orderpriority, 'ALL') AS orderpriority,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS sum_price
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "agg_grouping_sets": """
            SELECT coalesce(event_type, 'ALL') AS event_type,
                   coalesce(CAST(user_id % 10 AS VARCHAR), 'ALL') AS user_bucket,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events
            GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
        """,
        "agg_monthly_rollup": """
            WITH g AS (
                SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
                       o_orderstatus AS orderstatus,
                       count(*) AS n_orders,
                       round(sum(o_totalprice), 2) AS sum_price,
                       sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS sum_cents,
                       round(min(o_totalprice), 2) AS min_price,
                       round(max(o_totalprice), 2) AS max_price
                FROM orders GROUP BY 1, 2
            )
            SELECT order_month, orderstatus, n_orders, sum_price,
                   CAST((2 * sum_cents * 100 + n_orders) // (2 * n_orders)
                        AS DOUBLE) / 10000.0 AS avg_price,
                   min_price, max_price
            FROM g
        """,
        # NEW r18: join-view IVM — the oracle recomputes the segment ×
        # month revenue view from scratch over the post-change base
        # JOIN; a hash match against the O(delta)-refreshed Spark view
        # certifies refreshed ≡ recomputed (the delta-join rule,
        # Blakeley et al. 1986).
        "ivm_join_refresh": """
            WITH new_base AS (
                SELECT o_custkey, o_orderdate,
                       CASE WHEN o_orderkey % 53 = 0
                            THEN o_totalprice + 100.0
                            ELSE o_totalprice END AS o_totalprice
                FROM orders WHERE o_orderkey % 97 <> 0
                UNION ALL
                SELECT o_custkey, o_orderdate, o_totalprice + 55.25
                FROM orders WHERE o_orderkey % 101 = 0
            ),
            j AS (
                SELECT c.c_mktsegment AS segment,
                       CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP)
                           AS order_month,
                       CAST(CAST(o.o_totalprice AS DECIMAL(18,6)) * 100
                            AS BIGINT) AS cents
                FROM new_base o JOIN customer c ON o.o_custkey = c.c_custkey
            )
            SELECT segment, order_month,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   round(sum(cents) / 100.0, 2) AS sum_price
            FROM j GROUP BY 1, 2
        """,
        "ivm_rollup_refresh": """
            WITH new_base AS (
                SELECT o_orderdate, o_orderstatus,
                       CASE WHEN o_orderkey % 53 = 0
                            THEN o_totalprice + 100.0
                            ELSE o_totalprice END AS o_totalprice
                FROM orders WHERE o_orderkey % 97 <> 0
                UNION ALL
                SELECT o_orderdate, o_orderstatus, o_totalprice + 55.25
                FROM orders WHERE o_orderkey % 101 = 0
            ),
            g AS (
                SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
                           AS order_month,
                       o_orderstatus AS orderstatus,
                       count(*) AS n_orders,
                       sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS sum_cents,
                       round(min(o_totalprice), 2) AS min_price,
                       round(max(o_totalprice), 2) AS max_price
                FROM new_base GROUP BY 1, 2
            )
            SELECT order_month, orderstatus, n_orders,
                   round(sum_cents / 100.0, 2) AS sum_price,
                   CAST((2 * sum_cents * 100 + n_orders) // (2 * n_orders)
                        AS DOUBLE) / 10000.0 AS avg_price,
                   min_price, max_price
            FROM g
        """,
        "ivm_multigrain_refresh": """
            WITH new_base AS (
                SELECT o_orderdate, o_orderstatus,
                       CASE WHEN o_orderkey % 53 = 0
                            THEN o_totalprice + 100.0
                            ELSE o_totalprice END AS o_totalprice
                FROM orders WHERE o_orderkey % 97 <> 0
                UNION ALL
                SELECT o_orderdate, o_orderstatus, o_totalprice + 55.25
                FROM orders WHERE o_orderkey % 101 = 0
            ),
            -- every lattice level recomputed DIRECTLY from the
            -- post-change base (independent of the engine's
            -- finest-grain derivation)
            lvl AS (
                SELECT 'day' AS grain,
                       CAST(date_trunc('day', o_orderdate) AS TIMESTAMP)
                           AS period_start,
                       o_orderstatus AS orderstatus, count(*) AS n_orders,
                       sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS sum_cents,
                       round(min(o_totalprice), 2) AS min_price,
                       round(max(o_totalprice), 2) AS max_price
                FROM new_base GROUP BY 2, 3
                UNION ALL
                SELECT 'month',
                       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP),
                       o_orderstatus, count(*),
                       sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)),
                       round(min(o_totalprice), 2), round(max(o_totalprice), 2)
                FROM new_base GROUP BY 2, 3
                UNION ALL
                SELECT 'year',
                       CAST(date_trunc('year', o_orderdate) AS TIMESTAMP),
                       o_orderstatus, count(*),
                       sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)),
                       round(min(o_totalprice), 2), round(max(o_totalprice), 2)
                FROM new_base GROUP BY 2, 3
                UNION ALL
                SELECT 'year_all',
                       CAST(date_trunc('year', o_orderdate) AS TIMESTAMP),
                       'ALL', count(*),
                       sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)),
                       round(min(o_totalprice), 2), round(max(o_totalprice), 2)
                FROM new_base GROUP BY 2
                UNION ALL
                SELECT 'total', CAST(NULL AS TIMESTAMP), 'ALL', count(*),
                       sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)),
                       round(min(o_totalprice), 2), round(max(o_totalprice), 2)
                FROM new_base
            )
            SELECT grain, period_start, orderstatus,
                   CAST(n_orders AS BIGINT) AS n_orders,
                   round(sum_cents / 100.0, 2) AS sum_price,
                   CAST((2 * sum_cents * 100 + n_orders) // (2 * n_orders)
                        AS DOUBLE) / 10000.0 AS avg_price,
                   min_price, max_price
            FROM lvl ORDER BY grain, period_start, orderstatus
        """,
        "ivm_bitmap_distinct": """
            WITH new_base AS (
                SELECT o_orderdate, o_custkey
                FROM orders WHERE o_orderkey % 97 <> 0
                UNION ALL
                SELECT o_orderdate, o_custkey
                FROM orders WHERE o_orderkey % 101 = 0
            ),
            per AS (
                SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
                           AS order_month,
                       o_custkey, count(*) AS cnt
                FROM new_base GROUP BY 1, 2
            )
            SELECT order_month,
                   CAST(count(*) AS BIGINT) AS n_distinct_cust,
                   CAST(sum(cnt) AS BIGINT) AS n_orders,
                   CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_repeat_cust
            FROM per GROUP BY 1 ORDER BY 1
        """,
        "agg_argmax": """
            SELECT o_orderpriority,
                   arg_max(o_orderkey, o_totalprice) AS priciest_orderkey,
                   arg_min(o_orderkey, o_totalprice) AS cheapest_orderkey,
                   round(max(o_totalprice), 2) AS max_price,
                   round(min(o_totalprice), 2) AS min_price
            FROM orders GROUP BY 1
        """,
        "agg_conditional": """
            SELECT l_linestatus,
                   count(*) AS n_rows,
                   count(*) FILTER (WHERE l_returnflag = 'R') AS n_returned,
                   count(*) FILTER (WHERE l_quantity > 30) AS n_big,
                   round(coalesce(sum(l_extendedprice) FILTER (WHERE l_returnflag = 'R'), 0.0), 2)
                       AS returned_value,
                   round(avg(l_discount) FILTER (WHERE l_quantity > 30), 6) AS avg_disc_big
            FROM lineitem GROUP BY 1
        """,
        "null_handling": """
            SELECT o_orderkey,
                   coalesce(big_name, '(small)') AS display_name,
                   big_name IS NULL AS is_small,
                   CASE WHEN big_name IS NOT NULL THEN 'BIG' ELSE 'SMALL' END AS tier,
                   nullif(o_orderstatus, 'O') AS status_or_null
            FROM orders LEFT JOIN (
                SELECT c_custkey, c_name AS big_name FROM customer WHERE c_acctbal > 7000
            ) b ON o_custkey = b.c_custkey
        """,
        "window_range_frame": """
            SELECT o_orderkey, o_custkey, o_orderdate,
                   round(sum(o_totalprice) OVER w, 2) AS trailing_7d_revenue,
                   count(*) OVER w AS trailing_7d_orders
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
                         RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
        """,
        "window_rank": """
            SELECT o_orderkey, o_custkey,
                   round(o_totalprice, 2) AS totalprice,
                   CAST(row_number() OVER w AS INTEGER) AS rn,
                   CAST(rank() OVER w AS INTEGER) AS rnk,
                   CAST(dense_rank() OVER w AS INTEGER) AS drnk,
                   CAST(ntile(4) OVER w AS INTEGER) AS quartile
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        """,
        "window_lag_lead": """
            SELECT o_orderkey, o_custkey, o_orderdate,
                   lag(o_orderdate, 1) OVER w AS prev_orderdate,
                   lead(o_orderdate, 1) OVER w AS next_orderdate,
                   CAST(date_diff('day', CAST(lag(o_orderdate, 1) OVER w AS DATE),
                                  CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_prev
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """,
        "window_running": """
            SELECT o_orderkey, o_custkey,
                   round(sum(o_totalprice) OVER w, 2) AS running_total,
                   count(*) OVER w AS running_n
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "window_topk_per_group": """
            SELECT o_custkey, o_orderkey, totalprice, rn FROM (
                SELECT o_custkey, o_orderkey,
                       round(o_totalprice, 2) AS totalprice,
                       CAST(row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
                FROM orders
            ) WHERE rn <= 3
        """,
        "window_relative": """
            SELECT event_id, user_id, ts,
                   round(value, 4) AS value,
                   round(CASE WHEN fv <> 0 THEN value / fv END, 6) AS value_relative
            FROM (
                SELECT *, first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
                FROM events
            )
        """,
        "setop_intersect": """
            SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
            INTERSECT
            SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
        """,
        "setop_except": """
            SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
            EXCEPT
            SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
        """,
        "setop_union": """
            SELECT c_name AS name, round(c_acctbal, 2) AS acctbal, 'customer' AS kind
            FROM customer WHERE c_acctbal > 5000
            UNION ALL
            SELECT s_name AS name, round(s_acctbal, 2) AS acctbal, 'supplier' AS kind
            FROM supplier WHERE s_acctbal > 5000
        """,
        "sort_limit_topn": """
            SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
        """,
        "scalar_levenshtein_funcs": """
            SELECT a.n_name AS name_a, b.n_name AS name_b,
                   CAST(levenshtein(a.n_name, b.n_name) AS BIGINT)
                       AS edit_distance,
                   CAST(length(a.n_name) AS BIGINT) AS len_a,
                   CAST(length(b.n_name) AS BIGINT) AS len_b,
                   CAST((10000 * (greatest(length(a.n_name), length(b.n_name))
                                  - levenshtein(a.n_name, b.n_name)))
                        // greatest(length(a.n_name), length(b.n_name))
                        AS BIGINT) AS similarity_bps,
                   CAST(CASE WHEN levenshtein(a.n_name, b.n_name) <= 3
                             THEN levenshtein(a.n_name, b.n_name)
                             ELSE -1 END AS BIGINT) AS banded_distance
            FROM nation a JOIN nation b ON a.n_name < b.n_name
            ORDER BY name_a, name_b
        """,
        "scalar_string_funcs": """
            SELECT p_partkey,
                   lower(p_name) AS name_lower,
                   upper(p_brand) AS brand_upper,
                   substring(p_type, 1, 5) AS type_prefix,
                   CAST(length(p_name) AS INTEGER) AS name_len,
                   regexp_extract(p_name, '^(\\w+)', 1) AS first_word,
                   regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
                   translate(p_brand, '#', '_') AS brand_clean,
                   trim(concat('  ', p_brand, '  ')) AS trimmed_brand,
                   concat_ws('|', p_brand, p_type) AS brand_type
            FROM part
        """,
        "scalar_date_funcs": """
            SELECT o_orderkey,
                   CAST(year(o_orderdate) AS INTEGER) AS order_year,
                   CAST(month(o_orderdate) AS INTEGER) AS order_month_num,
                   CAST(dayofmonth(o_orderdate) AS INTEGER) AS order_day,
                   CAST(quarter(o_orderdate) AS INTEGER) AS order_quarter,
                   CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS order_dow,
                   CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
                   CAST(o_orderdate AS DATE) AS order_date,
                   strftime(o_orderdate, '%Y-%m') AS ym_label
            FROM orders
        """,
        "scalar_json_extract": """
            SELECT event_id, event_type,
                   CAST(props->>'$.k' AS BIGINT) AS prop_k,
                   CAST(floor(CAST(props->>'$.k' AS BIGINT) / 10) AS BIGINT) AS k_bucket
            FROM events
        """,
        "scalar_json_agg": """
            WITH g AS (
                SELECT event_type,
                       count(*) AS n_events,
                       count(CAST(props->>'$.k' AS BIGINT)) AS nk,
                       sum(CAST(props->>'$.k' AS BIGINT)) AS sk,
                       max(CAST(props->>'$.k' AS BIGINT)) AS max_k
                FROM events GROUP BY 1
            )
            SELECT event_type, n_events,
                   CASE WHEN nk > 0
                        THEN CAST((2 * sk * 10000 + nk) // (2 * nk) AS DOUBLE)
                             / 10000.0 END AS avg_k,
                   max_k
            FROM g
        """,
        "scalar_variant_funcs": """
            WITH g AS (
                SELECT event_type,
                       count(*) AS n_events,
                       CAST(sum(CASE WHEN props->>'$.missing' IS NULL THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_missing,
                       count(CAST(props->>'$.k' AS BIGINT)) AS nk,
                       sum(CAST(props->>'$.k' AS BIGINT)) AS sk,
                       min(CAST(props->>'$.k' AS BIGINT)) AS min_k,
                       max(CAST(props->>'$.k' AS BIGINT)) AS max_k
                FROM events GROUP BY 1
            )
            SELECT event_type, n_events, n_missing,
                   CASE WHEN nk > 0
                        THEN CAST((2 * sk * 10000 + nk) // (2 * nk) AS DOUBLE)
                             / 10000.0 END AS avg_k,
                   min_k, max_k
            FROM g
        """,
        "scalar_array_funcs": """
            SELECT vec_id, label,
                   CAST(len(embedding) AS INTEGER) AS dim,
                   round(CAST(embedding[1] AS DOUBLE), 6) AS first_component,
                   round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS squared_norm,
                   round(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))) / 8.0, 6) AS mean_first8
            FROM embeddings
        """,
        "scalar_map_funcs": """
            SELECT event_id,
                   CAST(props->>'$.k' AS BIGINT) AS k_value,
                   CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
                   array_to_string(list_sort(json_keys(props)), ',') AS key_list,
                   json_extract(props, '$.k') IS NOT NULL AS has_k
            FROM events
        """,
        "scalar_string_funcs2": """
            SELECT p_partkey,
                   upper(substring(p_name, 1, 1)) || substring(p_name, 2) AS name_ucfirst,
                   lpad(p_brand, 12, '*') AS brand_padded,
                   reverse(p_brand) AS brand_reversed,
                   split_part(p_type, ' ', 1) AS type_field1,
                   CAST(levenshtein(p_brand, 'Brand#1') AS INTEGER) AS brand_edit_dist,
                   repeat('-', p_size % 5 + 1) AS size_bar,
                   format('{}/{}', p_brand, p_type) AS brand_slash_type
            FROM part
        """,
        "scalar_math_funcs": """
            SELECT l_orderkey, l_linenumber,
                   round(sqrt(l_extendedprice), 6) AS price_sqrt,
                   round(pow(l_discount, 2), 6) AS disc_sq,
                   round(ln(l_extendedprice), 6) AS price_ln,
                   round(exp(l_discount), 6) AS disc_exp,
                   abs(l_quantity - 25) AS qty_dev,
                   CAST(sign(l_quantity - 25) AS INTEGER) AS qty_side,
                   CAST(ceil(l_tax) AS BIGINT) AS tax_ceil,
                   CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
                   l_orderkey % 7 AS key_mod7
            FROM lineitem
        """,
        "scalar_try_funcs": """
            SELECT o_orderkey,
                   round(CASE WHEN o_custkey % 3 = 0 THEN NULL
                         ELSE o_totalprice / (o_custkey % 3) END, 6) AS safe_div,
                   TRY_CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS prio_num,
                   TRY_CAST(o_orderstatus AS INTEGER) AS bad_cast
            FROM orders
        """,
        "scalar_bitwise_funcs": """
            SELECT l_orderkey, l_linenumber,
                   l_orderkey & 255 AS key_and,
                   l_orderkey | 4096 AS key_or,
                   xor(l_orderkey, l_partkey) AS key_xor_part,
                   l_orderkey << 2 AS key_shl2,
                   l_orderkey >> 3 AS key_shr3,
                   CAST(bit_count(l_orderkey) AS INTEGER) AS key_popcount
            FROM lineitem
        """,
        "calendar_spine_daily": """
            WITH bounds AS (
                SELECT CAST(min(o_orderdate) AS DATE) AS lo,
                       CAST(max(o_orderdate) AS DATE) AS hi
                FROM orders
            ),
            spine AS (
                SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
                FROM bounds
            ),
            daily AS (
                SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n, sum(o_totalprice) AS v
                FROM orders GROUP BY 1
            )
            SELECT s.day,
                   coalesce(n, 0) AS n_orders,
                   round(coalesce(v, 0.0), 2) AS order_value
            FROM spine s LEFT JOIN daily d ON s.day = d.day
        """,
        "agg_statistics": """
            SELECT l_linestatus,
                   count(*) AS n,
                   round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
                   round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
                   round(stddev_samp(l_extendedprice), 4) AS price_stddev,
                   round(var_samp(l_quantity), 4) AS qty_var
            FROM lineitem GROUP BY 1
        """,
        "agg_histogram": """
            WITH bounds AS (
                SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
            )
            SELECT CASE WHEN hi > lo THEN
                       least(CAST(floor((o_totalprice - lo) / ((hi - lo) / 10))
                                  AS BIGINT), 9)
                   ELSE 0 END AS bin,
                   count(*) AS n_orders
            FROM orders, bounds GROUP BY 1
        """,
        "agg_equidepth_histogram": """
            WITH cuts AS (
                SELECT quantile_cont(o_totalprice,
                       [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS c
                FROM orders
            )
            SELECT CAST(len(list_filter(c, x -> o_totalprice > x)) AS INTEGER) AS bucket,
                   count(*) AS n_orders
            FROM orders, cuts GROUP BY 1
        """,
        "dedup_exact": f"""
            SELECT md5({_NORM}) AS fingerprint,
                   min(doc_id) AS keep_doc_id,
                   count(*) AS n_copies
            FROM documents GROUP BY 1
        """,
        # NEW r19 (r18 verdict #6): ExactSubstr dedup (Lee et al. 2022)
        # — char-grain 30-gram occurrences, canonical = lexicographic
        # min (doc_id, pos) per gram (spelled two-step here vs Spark's
        # struct-min: min doc first, then min pos within it — an
        # independent re-expression, no shared text), duplicated marks
        # merged into maximal spans via the lag-gap island idiom, one
        # doc-grain rollup with the don't-vanish LEFT join. All exact
        # integers; removed_bps is an integer div on non-negatives.
        # gram width / span-merge gap rendered from dedup.SUBSTR_K (r19
        # advice #1: hard-coded 30/29 literals silently diverged from a
        # kernel called with non-default k; one shared constant now
        # feeds kernel defaults AND oracle text)
        "dedup_exact_substring": _EXACT_SUBSTR_SPANS_ORACLE,
        # the xxhash64-screen variant (r19 verdict #3) is value-
        # IDENTICAL by construction — hash singletons are provably
        # unique grams, collisions resolve in the exact string-grain
        # regroup — so the ONE oracle certifies both kernels; a
        # divergence between them reds exactly one of the two rows.
        "dedup_substring_hashed": _EXACT_SUBSTR_SPANS_ORACLE,
        # NEW r19 late wave: the ExactSubstr REWRITE — same dup-span
        # derivation, complement intervals via one lag, per-doc ordered
        # string_agg of the kept substring slices; verbatim
        # pass-through for clean docs.
        "dedup_substring_clean": f"""
            WITH grams AS (
                SELECT doc_id, CAST(i AS BIGINT) AS pos,
                       substr(text, CAST(i + 1 AS INT), {dedup.SUBSTR_K}) AS gram
                FROM documents,
                     LATERAL unnest(range(0, greatest(length(text) - {dedup.SUBSTR_K - 1}, 0)))
                         AS t(i)
            ),
            owner_doc AS (
                SELECT gram, min(doc_id) AS odoc FROM grams GROUP BY 1
            ),
            owner AS (
                SELECT g.gram, o.odoc, min(g.pos) AS opos
                FROM grams g
                JOIN owner_doc o ON o.gram = g.gram AND o.odoc = g.doc_id
                GROUP BY 1, 2
            ),
            dup AS (
                SELECT g.doc_id, g.pos
                FROM grams g JOIN owner o ON o.gram = g.gram
                WHERE NOT (g.doc_id = o.odoc AND g.pos = o.opos)
            ),
            flagged AS (
                SELECT doc_id, pos,
                       CASE WHEN lag(pos) OVER w IS NULL
                                 OR pos - lag(pos) OVER w > {dedup.SUBSTR_K}
                            THEN 1 ELSE 0 END AS new_span
                FROM dup
                WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ),
            ids AS (
                SELECT doc_id, pos,
                       sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                           ROWS UNBOUNDED PRECEDING)
                           AS span_id
                FROM flagged
            ),
            spans AS (
                SELECT doc_id, span_id,
                       min(pos) AS s_start,
                       max(pos) + {dedup.SUBSTR_K} AS s_end
                FROM ids GROUP BY 1, 2
            ),
            pieces AS (
                SELECT doc_id,
                       coalesce(lag(s_end) OVER (PARTITION BY doc_id
                                                 ORDER BY s_start), 0)
                           AS p_start,
                       s_start AS p_end
                FROM spans
                UNION ALL
                SELECT sp.doc_id, max(sp.s_end) AS p_start,
                       CAST(max(length(d.text)) AS BIGINT) AS p_end
                FROM spans sp JOIN documents d ON d.doc_id = sp.doc_id
                GROUP BY 1
            ),
            cleaned AS (
                SELECT p.doc_id,
                       string_agg(substr(d.text, CAST(p.p_start + 1 AS INT),
                                         CAST(p.p_end - p.p_start AS INT)),
                                  '' ORDER BY p.p_start) AS ct
                FROM pieces p JOIN documents d ON d.doc_id = p.doc_id
                GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(c.ct, d.text) AS clean_text,
                   CAST(length(d.text) AS BIGINT) AS total_chars,
                   CAST(length(d.text) - length(coalesce(c.ct, d.text))
                        AS BIGINT) AS chars_removed
            FROM documents d LEFT JOIN cleaned c ON c.doc_id = d.doc_id
            ORDER BY d.doc_id
        """,
        # NEW r19: incremental ExactSubstr probe — incoming docs
        # (doc_id >= 250) vs the existing corpus's distinct 30-gram
        # set, EVERY indexed occurrence marked (no canonical-copy
        # exemption: the corpus holds the canonical), same island
        # merge + don't-vanish rollup. Semi join spelled EXISTS here
        # vs Spark's left_semi.
        "dedup_substring_probe": f"""
            WITH grams AS (
                SELECT doc_id, CAST(i AS BIGINT) AS pos,
                       substr(text, CAST(i + 1 AS INT), {dedup.SUBSTR_K}) AS gram
                FROM documents,
                     LATERAL unnest(range(0, greatest(length(text) - {dedup.SUBSTR_K - 1}, 0)))
                         AS t(i)
            ),
            idx AS (
                SELECT DISTINCT gram FROM grams
                WHERE doc_id < {dedup.SUBSTR_SPLIT_DOC_ID}
            ),
            hits AS (
                SELECT g.doc_id, g.pos FROM grams g
                WHERE g.doc_id >= {dedup.SUBSTR_SPLIT_DOC_ID}
                  AND EXISTS (SELECT 1 FROM idx i WHERE i.gram = g.gram)
            ),
            flagged AS (
                SELECT doc_id, pos,
                       CASE WHEN lag(pos) OVER w IS NULL
                                 OR pos - lag(pos) OVER w > {dedup.SUBSTR_K}
                            THEN 1 ELSE 0 END AS new_span
                FROM hits
                WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ),
            ids AS (
                SELECT doc_id, pos,
                       sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                           ROWS UNBOUNDED PRECEDING)
                           AS span_id
                FROM flagged
            ),
            spans AS (
                SELECT doc_id, span_id,
                       max(pos) - min(pos) + {dedup.SUBSTR_K} AS span_chars,
                       count(*) AS n_grams
                FROM ids GROUP BY 1, 2
            ),
            per_doc AS (
                SELECT doc_id,
                       count(*) AS n_spans,
                       sum(span_chars) AS chars_covered,
                       sum(n_grams) AS n_hit_grams
                FROM spans GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(coalesce(p.n_hit_grams, 0) AS BIGINT) AS n_hit_grams,
                   CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
                   CAST(coalesce(p.chars_covered, 0) AS BIGINT)
                       AS chars_covered,
                   CAST(length(d.text) AS BIGINT) AS total_chars,
                   CAST(CASE WHEN length(d.text) > 0 THEN
                            coalesce(p.chars_covered, 0) * 10000
                                // length(d.text)
                        ELSE 0 END AS BIGINT) AS covered_bps
            FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
            WHERE d.doc_id >= {dedup.SUBSTR_SPLIT_DOC_ID}
            ORDER BY d.doc_id
        """,
        # r16 review consolidation: the exact-Jaccard verifier text now
        # lives ONLY in _PAIR_FEED_CTES — this oracle, containment, and
        # the graph-fixpoint replays all read the one copy, so a
        # threshold/normalization tweak cannot desync them
        "dedup_ngram_jaccard": f"""
            WITH {_PAIR_FEED_CTES}
            SELECT doc_a, doc_b, jaccard FROM pairs
        """,
        # r16 rows-only -> oracle conversion (list-state recursive CTE,
        # the r15 technique applied to a DISTRIBUTED FIXPOINT): the
        # k-ascending Batagelj-Zaversnik peel replays with state =
        # (k, live edge list, live node list, assigned corenesses) in
        # ONE recursive row. Coreness is peel-ORDER-INVARIANT (Seidman
        # 1983), so the CTE peels one stabilization pass per step and
        # skips the Spark side's peel-jump optimization without
        # changing any value; the max_k=20 cap replays exactly (a node
        # peeled at k gets k-1; survivors past k=20 get 20). The pair
        # feed is the certified exact-Jaccard verifier — no seeded
        # state anywhere, so the index AND the fixpoint both red the
        # row on defect.
        "graph_kcore": f"""
            WITH RECURSIVE {_PAIR_FEED_CTES},
            init AS (
                SELECT 1 AS k,
                       list(struct_pack(s := s, d := d)) AS edges,
                       list_sort(list_distinct(list(s))) AS live,
                       CAST([] AS STRUCT(id BIGINT, c BIGINT)[]) AS outl
                FROM edges0
            ),
            peel AS (
                SELECT k, edges, live, outl FROM init
                UNION ALL
                SELECT CASE WHEN len(t.weak) > 0 THEN t.k
                            ELSE t.k + 1 END AS k,
                       CASE WHEN len(t.weak) > 0
                            THEN list_filter(t.edges, e ->
                                     NOT list_contains(t.weak, e.s)
                                 AND NOT list_contains(t.weak, e.d))
                            ELSE t.edges END AS edges,
                       CASE WHEN len(t.weak) > 0
                            THEN list_filter(t.live, u ->
                                     NOT list_contains(t.weak, u))
                            ELSE t.live END AS live,
                       CASE WHEN len(t.weak) > 0
                            THEN t.outl || list_transform(t.weak, u ->
                                     struct_pack(id := u,
                                         c := CAST(t.k - 1 AS BIGINT)))
                            ELSE t.outl END AS outl
                FROM (
                    SELECT p.k, p.edges, p.live, p.outl,
                           list_filter(p.live, u ->
                               len(list_filter(p.edges,
                                   e -> e.s = u)) < p.k) AS weak
                    FROM peel p
                    WHERE p.k <= 20 AND len(p.live) > 0
                ) t
            )
            SELECT struct_extract(u, 'id') AS doc_id,
                   struct_extract(u, 'c') AS coreness
            FROM (
                SELECT unnest(outl || list_transform(live, v ->
                           struct_pack(id := v,
                               c := CAST(20 AS BIGINT)))) AS u
                FROM peel
                WHERE k > 20 OR len(live) = 0
            )
        """,
        # r16 rows-only -> oracle conversion: synchronous LPA (Raghavan
        # 2007, the deterministic min-label tie-break variant) replays
        # with state = the full (id, nbrs, label) list in one recursive
        # row. Per round the arm computes neighbor-label lists ONCE in
        # a nested derived table (the recursive ref appears exactly
        # once), then each node adopts the (count DESC, label ASC)
        # argmax via list_reduce with the full tie-break in the compare;
        # termination = label vector unchanged (positional list
        # equality — both engines iterate a fixed node order) or 10
        # rounds, exactly the Spark loop's break condition.
        "graph_lpa_communities": f"""
            WITH RECURSIVE {_PAIR_FEED_CTES},
            adj AS (
                SELECT s AS id, list(d ORDER BY d) AS nbrs
                FROM edges0 GROUP BY s
            ),
            init AS (
                SELECT 0 AS it, TRUE AS go,
                       list(struct_pack(id := id, nbrs := nbrs,
                                        lab := id) ORDER BY id) AS st
                FROM adj
            ),
            rounds AS (
                SELECT it, go, st FROM init
                UNION ALL
                SELECT t.it + 1 AS it, t.newst <> t.st AS go,
                       t.newst AS st
                FROM (
                    SELECT u.it, u.st,
                           list_transform(u.st, (n, i) -> struct_pack(
                               id := n.id, nbrs := n.nbrs,
                               lab := struct_extract(list_reduce(
                                   list_transform(u.labs[i], c ->
                                       struct_pack(lab := c,
                                           cnt := len(list_filter(
                                               u.labs[i], x -> x = c)))),
                                   (a, c) -> CASE
                                       WHEN c.cnt > a.cnt
                                         OR (c.cnt = a.cnt
                                             AND c.lab < a.lab)
                                       THEN c ELSE a END),
                                   'lab'))) AS newst
                    FROM (
                        SELECT r.it, r.st,
                               list_transform(r.st, n ->
                                   list_transform(n.nbrs, m ->
                                       struct_extract(list_filter(r.st,
                                           l -> l.id = m)[1], 'lab')))
                                 AS labs
                        FROM rounds r WHERE r.go AND r.it < 10
                    ) u
                ) t
            )
            SELECT struct_extract(n, 'lab') AS community_id,
                   count(*) AS n_members,
                   min(struct_extract(n, 'id')) AS min_member,
                   max(struct_extract(n, 'id')) AS max_member
            FROM (SELECT unnest(st) AS n FROM rounds
                  WHERE (NOT go) OR it = 10)
            GROUP BY 1
        """,
        # r16 rows-only -> oracle conversion (the 6th this round; the
        # r15 "terminal: distributed fixpoint" adjudication REVISED):
        # the harness path is the local power method, which r16 made
        # bit-deterministic — sorted neighbor folds, computed 1-d,
        # unrounded ranks — so the whole float recursion INCLUDING the
        # adaptive delta cadence (measure every 3rd round until
        # last_delta < 10*tol, then every round; stop at delta < tol or
        # 30 rounds) replays in a list-state recursive CTE. State =
        # (it, stopped, loc_last, rank vector aligned to sorted ids);
        # per-node in-mass folds over pre-resolved (rank position,
        # outdegree) neighbor structs.
        "graph_pagerank": "WITH RECURSIVE "
        + _PAGERANK_CTES
        + """
            SELECT doc_id, pagerank FROM prout
        """,
        # r16 rows-only -> oracle conversion (7th this round; the
        # recorded "seeded MinHash pairs" reason was WRONG — the
        # harness feed is the exact-Jaccard verifier): components =
        # min reachable id via a transitive-closure recursive CTE
        # (order-invariant), winner-per-component = the window argmax
        # over the now bit-exact pagerank replay, both composed in one
        # WITH RECURSIVE.
        "dedup_keep_policy": "WITH RECURSIVE "
        + _PAGERANK_CTES
        + """,
            reach AS (
                SELECT s AS id, s AS lab FROM edges0
                UNION
                SELECT e.d, r.lab
                FROM reach r JOIN edges0 e ON e.s = r.id
            ),
            comp AS (
                SELECT id AS doc_id, min(lab) AS component_id
                FROM reach GROUP BY id
            ),
            pick AS (
                SELECT c.component_id, c.doc_id, p.pagerank,
                       row_number() OVER (
                           PARTITION BY c.component_id
                           ORDER BY p.pagerank DESC, c.doc_id) AS rn
                FROM comp c JOIN prout p USING (doc_id)
            )
            SELECT component_id,
                   min(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id,
                   max(CASE WHEN rn = 1 THEN pagerank END) AS keep_rank,
                   CAST(count(*) AS BIGINT) AS n_members,
                   CAST(count(*) - 1 AS BIGINT) AS n_dropped
            FROM pick GROUP BY 1
            HAVING count(*) > 1
        """,
        # r16 review consolidation: shares _PAIR_FEED_CTES's docs/toks/
        # sizes/inter (the unused pairs/edges0 CTEs are pruned by the
        # optimizer); only the containment measure is local
        "dedup_containment": f"""
            WITH {_PAIR_FEED_CTES}
            SELECT doc_a, doc_b,
                   round(CAST(n_common AS DOUBLE) / sa.n, 6) AS cont_a_in_b,
                   round(CAST(n_common AS DOUBLE) / sb.n, 6) AS cont_b_in_a
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE greatest(round(CAST(n_common AS DOUBLE) / sa.n, 6),
                           round(CAST(n_common AS DOUBLE) / sb.n, 6)) >= 0.5
        """,
        "text_bigram_logprob": f"""
            WITH lists AS (
                SELECT doc_id, string_split({_NORM}, ' ') AS l FROM documents
            ),
            toks AS (
                SELECT doc_id, unnest(l) AS w1 FROM lists
            ),
            bigrams AS (
                SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
                FROM lists, LATERAL unnest(generate_series(1, len(l) - 1)) AS g(i)
            ),
            bi_freq AS (SELECT w1, w2, count(*) AS c_bi FROM bigrams GROUP BY 1, 2),
            uni_freq AS (SELECT w1, count(*) AS c_uni FROM toks GROUP BY 1),
            vocab AS (SELECT count(*) AS v FROM uni_freq),
            scored AS (
                SELECT b.doc_id,
                       count(*) AS n_bigrams,
                       round(avg(log10(CAST(c_bi + 1 AS DOUBLE) / (c_uni + v))), 6)
                           AS mean_log10_p,
                       round(min(log10(CAST(c_bi + 1 AS DOUBLE) / (c_uni + v))), 6)
                           AS min_log10_p
                FROM bigrams b
                JOIN bi_freq USING (w1, w2)
                JOIN uni_freq USING (w1)
                CROSS JOIN vocab
                GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(s.n_bigrams, 0) AS n_bigrams,
                   s.mean_log10_p, s.min_log10_p
            FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
        """,
        # NEW r17: interpolated Kneser-Ney — the probability is ONE
        # expression shared verbatim with the Spark plan
        # (text._KN_P_SQL, the _WILSON_SQL pattern; independent
        # pure-python fixture test per the r17 audit protocol). All
        # model tables are exact integer counts; mean/min publish at
        # 6dp (the bigram_logprob avg-absorption discipline).
        # NEW r18: Good-Turing frequency-of-frequencies — exact integer
        # type/token counts, one division per published ratio (6dp);
        # r* NULL where N_{{r+1}} = 0 (raw GT undefined, tail left to a
        # fitted estimator by design).
        "text_good_turing": f"""
            WITH toks AS (
                SELECT t.w AS w
                FROM (SELECT string_split({_NORM}, ' ') AS l FROM documents),
                     LATERAL unnest(l) AS t(w)
                WHERE length(t.w) > 0
            ),
            vocab AS (SELECT w, count(*) AS r FROM toks GROUP BY 1),
            nr AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r
                   FROM vocab GROUP BY 1),
            total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks)
            SELECT CAST(a.r AS BIGINT) AS r,
                   a.n_r,
                   CAST(coalesce(b.n_r, 0) AS BIGINT) AS n_r_plus1,
                   CASE WHEN b.n_r IS NOT NULL THEN
                       round((a.r + 1) * b.n_r / CAST(a.n_r AS DOUBLE), 6)
                   END AS r_star,
                   round((a.r * a.n_r) / CAST(t.n_total AS DOUBLE), 6)
                       AS mass_share
            FROM nr a
            LEFT JOIN nr b ON b.r = a.r + 1
            CROSS JOIN total t
        """,
        "text_kn_bigram_logprob": f"""
            WITH lists AS (
                SELECT doc_id, string_split({_NORM}, ' ') AS l FROM documents
            ),
            bigrams AS (
                SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
                FROM lists, LATERAL unnest(generate_series(1, len(l) - 1)) AS g(i)
            ),
            bi_freq AS (SELECT w1, w2, count(*) AS c_bi FROM bigrams GROUP BY 1, 2),
            ctx AS (
                SELECT w1, CAST(sum(c_bi) AS BIGINT) AS cstart,
                       CAST(count(*) AS BIGINT) AS n1p_fw
                FROM bi_freq GROUP BY 1
            ),
            cont AS (
                SELECT w2, CAST(count(*) AS BIGINT) AS n1p_bw
                FROM bi_freq GROUP BY 1
            ),
            types AS (SELECT CAST(count(*) AS BIGINT) AS t FROM bi_freq),
            scored AS (
                SELECT b.doc_id,
                       count(*) AS n_bigrams,
                       round(avg(log10({text._KN_P_SQL})), 6) AS mean_log10_p,
                       round(min(log10({text._KN_P_SQL})), 6) AS min_log10_p
                FROM bigrams b
                JOIN bi_freq USING (w1, w2)
                JOIN ctx USING (w1)
                JOIN cont USING (w2)
                CROSS JOIN types
                GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(s.n_bigrams, 0) AS n_bigrams,
                   s.mean_log10_p, s.min_log10_p
            FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
        """,
        "scalar_url_funcs": """
            WITH u AS (
                SELECT o_orderkey,
                       'https://shop.example.com/orders/' || o_orderkey
                       || '?priority=' || substring(o_orderpriority, 1, 1)
                       || '&status=' || lower(o_orderstatus)
                       || '&utm_source=mail' AS url
                FROM orders
            )
            SELECT o_orderkey, url,
                   regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
                   regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
                   regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
                   regexp_extract(url, '[?&]priority=([^&#]*)', 1) AS q_priority,
                   regexp_extract(url, '[?&]status=([^&#]*)', 1) AS q_status,
                   regexp_replace(
                       regexp_replace(url, '[?&]utm_[a-z]+=[^&#]*', '', 'g'),
                       '\\?$', '') AS canonical_url
            FROM u
        """,
        "tpch_market_share": """
            SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
                   round(sum(CASE WHEN n1.n_name = 'NATION_3'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END)
                         / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            JOIN region   ON n2.n_regionkey = r_regionkey
            WHERE r_name = 'AMERICA'
            GROUP BY 1
        """,
        "tpch_order_distribution": """
            SELECT c_count, count(*) AS n_customers FROM (
                SELECT c_custkey, count(o_orderkey) AS c_count
                FROM customer LEFT JOIN orders ON c_custkey = o_custkey
                GROUP BY 1
            ) GROUP BY 1
        """,
        "tpch_disjunctive_revenue": """
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "tpch_sales_opportunity": """
            WITH a AS (
                SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0.0
            ),
            eligible AS (
                SELECT c.* FROM customer c, a WHERE c.c_acctbal > a.avg_bal
            )
            SELECT c_custkey % 7 AS cntrycode,
                   count(*) AS n_custs,
                   round(sum(c_acctbal), 2) AS total_bal
            FROM eligible e
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = e.c_custkey
                                AND o.o_orderdate >= TIMESTAMP '2000-01-01')
            GROUP BY 1
        """,
        "dedup_components": f"""
            WITH RECURSIVE docs AS (
                SELECT doc_id, {_NORM} AS norm FROM documents WHERE doc_id < 100
            ),
            toks AS (
                SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS token FROM docs
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT doc_a, doc_b FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= 0.8
            ),
            edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL
                SELECT doc_b, doc_a FROM pairs
            ),
            reach AS (
                SELECT doc_id AS node, doc_id AS reached FROM docs
                UNION
                SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.reached
            )
            SELECT node AS doc_id,
                   min(reached) AS component_id,
                   min(reached) = node AS is_canonical
            FROM reach GROUP BY node
        """,
        "dedup_cluster_sizes": f"""
            WITH RECURSIVE docs AS (
                SELECT doc_id, {_NORM} AS norm FROM documents WHERE doc_id < 100
            ),
            toks AS (
                SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS token FROM docs
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT doc_a, doc_b FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= 0.8
            ),
            edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL
                SELECT doc_b, doc_a FROM pairs
            ),
            reach AS (
                SELECT doc_id AS node, doc_id AS reached FROM docs
                UNION
                SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.reached
            ),
            comp AS (
                SELECT node AS doc_id, min(reached) AS component_id
                FROM reach GROUP BY node
            ),
            csizes AS (
                SELECT component_id, count(*) AS cluster_size FROM comp GROUP BY 1
            ),
            tot AS (SELECT sum(cluster_size) AS n_docs FROM csizes)
            SELECT CAST(cluster_size AS INT) AS cluster_size,
                   CAST(count(*) AS BIGINT) AS n_clusters,
                   round(CAST(cluster_size * count(*) AS DOUBLE) / n_docs, 6)
                       AS doc_share
            FROM csizes, tot GROUP BY cluster_size, n_docs
        """,
        "dedup_graph_quality": f"""
            WITH RECURSIVE docs AS (
                SELECT doc_id, {_NORM} AS norm FROM documents WHERE doc_id < 100
            ),
            toks AS (
                SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS token FROM docs
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT doc_a, doc_b FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= 0.8
            ),
            gedges AS (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL
                SELECT doc_b, doc_a FROM pairs
            ),
            reach AS (
                SELECT doc_id AS node, doc_id AS reached FROM docs
                UNION
                SELECT r.node, e.dst FROM reach r JOIN gedges e ON e.src = r.reached
            ),
            comp AS (
                SELECT node AS doc_id, min(reached) AS component_id
                FROM reach GROUP BY node
            ),
            e1 AS (
                SELECT p.doc_a, p.doc_b, c.component_id
                FROM pairs p JOIN comp c ON c.doc_id = p.doc_a
            ),
            tri AS (
                SELECT ac.component_id, count(*) AS n_triangles
                FROM e1 ab
                JOIN e1 bc ON ab.doc_b = bc.doc_a
                JOIN e1 ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b
                GROUP BY 1
            ),
            percomp AS (
                SELECT component_id, count(*) AS n_edges FROM e1 GROUP BY 1
            ),
            csize AS (
                SELECT component_id, count(*) AS size FROM comp GROUP BY 1
            )
            SELECT p.component_id,
                   CAST(size AS INT) AS size,
                   CAST(n_edges AS BIGINT) AS n_edges,
                   round(n_edges / (size * (size - 1) / 2.0), 6) AS density,
                   CAST(coalesce(n_triangles, 0) AS BIGINT) AS n_triangles
            FROM percomp p
            JOIN csize USING (component_id)
            LEFT JOIN tri USING (component_id)
            WHERE size >= 2
        """,
        "sim_cosine_topk": _COSINE_TOPK_ORACLE,
        "sim_knn_label_transfer": """
            WITH corpus AS (
                SELECT vec_id AS n_id, label AS n_label, embedding AS ce
                FROM embeddings WHERE vec_id % 2 = 0
            ),
            q AS (
                SELECT vec_id AS query_id, label AS true_label, embedding AS qe
                FROM embeddings WHERE vec_id % 2 = 1 AND vec_id < 200
            ),
            scored AS (
                SELECT q.query_id, q.true_label, c.n_id, c.n_label,
                       round(
                         list_sum(list_transform(list_zip(q.qe, c.ce),
                                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                         / (sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                            * sqrt(list_sum(list_transform(c.ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                         6) AS cosine
                FROM q, corpus c
            ),
            nn AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, n_id) AS rank
                    FROM scored
                ) WHERE rank <= 5
            ),
            votes AS (
                SELECT query_id, true_label, n_label, count(*) AS n_votes
                FROM nn GROUP BY 1, 2, 3
            )
            SELECT query_id, n_label AS predicted_label,
                   CAST(n_votes AS INT) AS n_votes, true_label,
                   n_label = true_label AS agrees
            FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY n_votes DESC, n_label) AS vr
                FROM votes
            ) WHERE vr = 1
        """,
        "sim_hard_negatives": """
            WITH q AS (
                SELECT vec_id AS query_id, label AS q_label, embedding AS qe
                FROM embeddings WHERE vec_id IN (0, 1, 2)
            ),
            pairs AS (
                SELECT q.query_id, e.vec_id AS corpus_id, e.label AS negative_label,
                       round(
                         list_sum(list_transform(list_zip(q.qe, e.embedding),
                                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                         / (sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                            * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                         6) AS cosine
                FROM q, embeddings e
                WHERE e.vec_id <> q.query_id AND e.label <> q.q_label
            )
            SELECT query_id, corpus_id, negative_label, cosine, rank FROM (
                SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, corpus_id) AS INTEGER) AS rank
                FROM pairs
            ) WHERE rank <= 5
        """,
        "sim_cosine_topk_vectorized": _COSINE_TOPK_ORACLE,
        "sim_range_search": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1, 2)
            ),
            pairs AS (
                SELECT q.query_id, e.vec_id AS corpus_id,
                       round(
                         list_sum(list_transform(list_zip(q.qe, e.embedding),
                                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                         / (sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                            * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                         6) AS cosine
                FROM q, embeddings e WHERE e.vec_id <> q.query_id
            )
            SELECT query_id, corpus_id, cosine FROM pairs WHERE cosine >= 0.2
        """,
        "sim_label_centroids": """
            WITH per_dim AS (
                SELECT label, pos, avg(CAST(v AS DOUBLE)) AS mean_v FROM (
                    SELECT label,
                           generate_subscripts(embedding, 1) AS pos,
                           unnest(embedding) AS v
                    FROM embeddings
                ) GROUP BY 1, 2
            ),
            cent AS (
                SELECT label, round(sqrt(sum(mean_v * mean_v)), 6) AS centroid_norm,
                       CAST(count(*) AS INTEGER) AS dim
                FROM per_dim GROUP BY 1
            )
            SELECT c.label, n.n_vectors, c.dim, c.centroid_norm
            FROM cent c JOIN (SELECT label, count(*) AS n_vectors FROM embeddings GROUP BY 1) n
              ON c.label = n.label
        """,
        "text_token_stats": f"""
            SELECT doc_id,
                   CAST(len(string_split({_NORM}, ' ')) AS INTEGER) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens,
                   CAST(len(list_distinct(string_split({_NORM}, ' '))) AS INTEGER) AS n_distinct_tokens,
                   round(CAST(len(list_distinct(string_split({_NORM}, ' '))) AS DOUBLE)
                         / len(string_split({_NORM}, ' ')), 6) AS distinct_ratio
            FROM documents
        """,
        "text_quality": f"""
            WITH t AS (
                SELECT doc_id, {_NORM} AS norm,
                       string_split({_NORM}, ' ') AS toks
                FROM documents
            )
            SELECT doc_id,
                   CAST(length(norm) AS INTEGER) AS n_chars_norm,
                   CAST(len(toks) AS INTEGER) AS n_tokens,
                   round(CAST(length(norm) - len(toks) + 1 AS DOUBLE) / len(toks), 6) AS mean_token_len,
                   round(CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE)
                         / len(toks), 6) AS stopword_ratio,
                   round(CAST(length(regexp_replace(norm, '[^a-z]', '', 'g')) AS DOUBLE)
                         / length(norm), 6) AS alpha_ratio
            FROM t
        """,
        "text_lang_id": f"""
            WITH t AS (
                SELECT doc_id, lang, concat(' ', {_NORM}, ' ') AS padded FROM documents
            ),
            v AS (
                SELECT doc_id, lang,
                       (CASE WHEN contains(padded, ' the ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' and ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' of ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' is ') THEN 1 ELSE 0 END) AS en,
                       (CASE WHEN contains(padded, ' el ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' la ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' de ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' que ') THEN 1 ELSE 0 END) AS es,
                       (CASE WHEN contains(padded, ' der ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' die ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' und ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' ist ') THEN 1 ELSE 0 END) AS de,
                       (CASE WHEN contains(padded, ' le ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' les ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' des ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' est ') THEN 1 ELSE 0 END) AS fr
                FROM t
            )
            SELECT doc_id, lang,
                   CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
                        WHEN en = greatest(en, es, de, fr) THEN 'en'
                        WHEN es = greatest(en, es, de, fr) THEN 'es'
                        WHEN de = greatest(en, es, de, fr) THEN 'de'
                        ELSE 'fr' END AS lang_guess,
                   CAST(greatest(en, es, de, fr) AS INTEGER) AS vote_score
            FROM v
        """,
        "text_langid_confusion": f"""
            WITH t AS (
                SELECT doc_id, lang, concat(' ', {_NORM}, ' ') AS padded FROM documents
            ),
            v AS (
                SELECT doc_id, lang,
                       (CASE WHEN contains(padded, ' the ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' and ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' of ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' is ') THEN 1 ELSE 0 END) AS en,
                       (CASE WHEN contains(padded, ' el ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' la ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' de ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' que ') THEN 1 ELSE 0 END) AS es,
                       (CASE WHEN contains(padded, ' der ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' die ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' und ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' ist ') THEN 1 ELSE 0 END) AS de,
                       (CASE WHEN contains(padded, ' le ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' les ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' des ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' est ') THEN 1 ELSE 0 END) AS fr
                FROM t
            ),
            preds AS (
                SELECT lang,
                       CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
                            WHEN en = greatest(en, es, de, fr) THEN 'en'
                            WHEN es = greatest(en, es, de, fr) THEN 'es'
                            WHEN de = greatest(en, es, de, fr) THEN 'de'
                            ELSE 'fr' END AS lang_guess
                FROM v
            ),
            cells AS (
                SELECT lang, lang_guess, count(*) AS n_docs
                FROM preds GROUP BY 1, 2
            )
            SELECT lang, lang_guess, n_docs,
                   round(CAST(n_docs AS DOUBLE)
                         / sum(n_docs) OVER (PARTITION BY lang), 6) AS share_of_lang,
                   (lang = lang_guess) AS is_correct
            FROM cells
        """,
        "tpch_rfm_migration": """
            WITH p1 AS (
                SELECT o_custkey, count(*) AS freq,
                       sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS mon
                FROM orders WHERE o_orderdate < DATE '1995-06-01'
                GROUP BY 1
            ),
            q1 AS (SELECT quantile_cont(freq, 0.5) AS f_med,
                          quantile_cont(mon, 0.5) AS m_med FROM p1),
            s1 AS (
                SELECT o_custkey,
                       (CASE WHEN freq > f_med THEN 'Fhi' ELSE 'Flo' END)
                       || '_' ||
                       (CASE WHEN mon > m_med THEN 'Mhi' ELSE 'Mlo' END)
                           AS seg_from
                FROM p1, q1
            ),
            p2 AS (
                SELECT o_custkey, count(*) AS freq,
                       sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS mon
                FROM orders WHERE o_orderdate >= DATE '1995-06-01'
                GROUP BY 1
            ),
            q2 AS (SELECT quantile_cont(freq, 0.5) AS f_med,
                          quantile_cont(mon, 0.5) AS m_med FROM p2),
            s2 AS (
                SELECT o_custkey,
                       (CASE WHEN freq > f_med THEN 'Fhi' ELSE 'Flo' END)
                       || '_' ||
                       (CASE WHEN mon > m_med THEN 'Mhi' ELSE 'Mlo' END)
                           AS seg_to
                FROM p2, q2
            ),
            matrix AS (
                SELECT coalesce(seg_from, 'NEW') AS seg_from,
                       coalesce(seg_to, 'LOST') AS seg_to,
                       count(*) AS n_customers
                FROM s1 FULL OUTER JOIN s2 USING (o_custkey)
                GROUP BY 1, 2
            ),
            tot AS (SELECT sum(n_customers) AS t FROM matrix)
            SELECT seg_from, seg_to,
                   CAST(n_customers AS BIGINT) AS n_customers,
                   CAST((10000 * n_customers) // t AS BIGINT) AS share_bps
            FROM matrix, tot ORDER BY seg_from, seg_to
        """,
        "tpch_fill_rate": """
            WITH per_order AS (
                SELECT o_orderkey, o_orderdate, o_orderpriority,
                       min(CASE WHEN l_shipdate <= o_orderdate
                                     + INTERVAL 30 DAY
                                THEN 1 ELSE 0 END) AS otif
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                GROUP BY 1, 2, 3
            )
            SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                   o_orderpriority AS priority,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(otif) AS BIGINT) AS n_otif,
                   CAST((10000 * sum(otif)) // count(*) AS BIGINT) AS fill_bps
            FROM per_order GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "tpch_discount_elasticity": """
            WITH bands AS (
                SELECT CAST(round(l_discount * 100) AS BIGINT) AS discount_pct,
                       count(*) AS n_lines,
                       sum(CAST(CAST(l_quantity AS DECIMAL(18,6)) AS BIGINT))
                           AS sum_qty,
                       sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)
                           * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                           AS revenue_e4
                FROM lineitem GROUP BY 1
            ),
            zero AS (
                SELECT n_lines AS n0, sum_qty AS sq0
                FROM bands WHERE discount_pct = 0
            )
            SELECT discount_pct,
                   CAST(n_lines AS BIGINT) AS n_lines,
                   CAST(sum_qty AS BIGINT) AS sum_qty,
                   CAST(revenue_e4 AS BIGINT) AS revenue_e4,
                   CAST(sum_qty AS DOUBLE) / CAST(n_lines AS DOUBLE) AS avg_qty,
                   CAST(sum_qty * n0 AS DOUBLE)
                       / CAST(n_lines * sq0 AS DOUBLE) AS qty_lift_vs_zero
            FROM bands, zero ORDER BY discount_pct
        """,
        "tpch_rfm_segments": """
            WITH per_cust AS (
                SELECT o_custkey, max(o_orderdate) AS last_order,
                       count(*) AS frequency,
                       round(sum(o_totalprice), 2) AS monetary
                FROM orders GROUP BY 1
            ),
            q AS (
                SELECT quantile_cont(frequency, 0.25) AS frequency_q1,
                       quantile_cont(frequency, 0.5) AS frequency_q2,
                       quantile_cont(frequency, 0.75) AS frequency_q3,
                       quantile_cont(monetary, 0.25) AS monetary_q1,
                       quantile_cont(monetary, 0.5) AS monetary_q2,
                       quantile_cont(monetary, 0.75) AS monetary_q3,
                       quantile_cont(epoch(last_order), 0.25) AS recency_q1,
                       quantile_cont(epoch(last_order), 0.5) AS recency_q2,
                       quantile_cont(epoch(last_order), 0.75) AS recency_q3
                FROM per_cust
            ),
            scored AS (
                SELECT CASE WHEN epoch(last_order) <= recency_q1 THEN 1
                            WHEN epoch(last_order) <= recency_q2 THEN 2
                            WHEN epoch(last_order) <= recency_q3 THEN 3
                            ELSE 4 END AS r_bucket,
                       CASE WHEN frequency <= frequency_q1 THEN 1
                            WHEN frequency <= frequency_q2 THEN 2
                            WHEN frequency <= frequency_q3 THEN 3
                            ELSE 4 END AS f_bucket,
                       CASE WHEN monetary <= monetary_q1 THEN 1
                            WHEN monetary <= monetary_q2 THEN 2
                            WHEN monetary <= monetary_q3 THEN 3
                            ELSE 4 END AS m_bucket
                FROM per_cust, q
            )
            SELECT r_bucket, f_bucket, m_bucket, count(*) AS n_customers
            FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
        """,
        "text_corpus_qa_report": f"""
            WITH t AS (
                SELECT doc_id, {_NORM} AS norm, string_split({_NORM}, ' ') AS toks
                FROM documents
            ),
            q AS (
                SELECT doc_id,
                       CAST(len(toks) AS INTEGER) AS n_tokens,
                       round(CAST(length(norm) - len(toks) + 1 AS DOUBLE) / len(toks), 6)
                           AS mean_token_len,
                       round(CAST(len(list_filter(toks,
                             x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE)
                             / len(toks), 6) AS stopword_ratio,
                       round(CAST(length(regexp_replace(norm, '[^a-z]', '', 'g')) AS DOUBLE)
                             / length(norm), 6) AS alpha_ratio
                FROM t
            ),
            pad AS (
                SELECT doc_id, lang, concat(' ', {_NORM}, ' ') AS padded FROM documents
            ),
            v AS (
                SELECT doc_id, lang,
                       (CASE WHEN contains(padded, ' the ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' and ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' of ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' is ') THEN 1 ELSE 0 END) AS en,
                       (CASE WHEN contains(padded, ' el ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' la ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' de ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' que ') THEN 1 ELSE 0 END) AS es,
                       (CASE WHEN contains(padded, ' der ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' die ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' und ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' ist ') THEN 1 ELSE 0 END) AS de,
                       (CASE WHEN contains(padded, ' le ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' les ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' des ') THEN 1 ELSE 0 END
                        + CASE WHEN contains(padded, ' est ') THEN 1 ELSE 0 END) AS fr
                FROM pad
            ),
            lid AS (
                SELECT doc_id, lang,
                       (lang = CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
                               WHEN en = greatest(en, es, de, fr) THEN 'en'
                               WHEN es = greatest(en, es, de, fr) THEN 'es'
                               WHEN de = greatest(en, es, de, fr) THEN 'de'
                               ELSE 'fr' END) AS langid_agrees
                FROM v
            ),
            grams AS (
                SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS gram
                FROM t, unnest(generate_series(1, len(toks) - 7)) AS g(i)
                WHERE len(toks) >= 8
            ),
            dfp AS (SELECT gram, count(*) AS df FROM grams GROUP BY 1),
            dup AS (
                SELECT doc_id,
                       round(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                             / count(*), 6) AS dup_fraction
                FROM grams JOIN dfp USING (gram) GROUP BY 1
            ),
            toks2 AS (
                SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token FROM documents
            ),
            freqs AS (SELECT token, count(*) AS n_tok FROM toks2 GROUP BY 1),
            tot AS (SELECT CAST(sum(n_tok) AS DOUBLE) AS total FROM freqs),
            lm AS (
                SELECT doc_id, round(avg(log10(CAST(n_tok AS DOUBLE) / total)), 6)
                           AS mean_logp
                FROM toks2 JOIN freqs USING (token), tot GROUP BY 1
            )
            SELECT q.doc_id, q.n_tokens, q.mean_token_len, q.stopword_ratio,
                   q.alpha_ratio, lid.lang, lid.langid_agrees,
                   dup.dup_fraction, lm.mean_logp
            FROM q JOIN lid USING (doc_id)
            LEFT JOIN dup USING (doc_id)
            JOIN lm USING (doc_id)
        """,
        "text_fingerprint": f"""
            SELECT doc_id,
                   md5({_NORM}) AS fingerprint,
                   substring(md5({_NORM}), 1, 4) AS shard_key,
                   CAST(length({_NORM}) AS INTEGER) AS n_chars_norm
            FROM documents
        """,
        "text_source_profile": """
            WITH g AS (
                SELECT source, lang,
                       count(*) AS n_docs,
                       sum(CAST(n_chars AS BIGINT)) AS schars,
                       min(n_chars) AS min_chars,
                       max(n_chars) AS max_chars
                FROM documents GROUP BY 1, 2
            )
            SELECT source, lang, n_docs,
                   CAST((2 * schars * 10000 + n_docs) // (2 * n_docs)
                        AS DOUBLE) / 10000.0 AS avg_chars,
                   min_chars, max_chars
            FROM g
        """,
        "text_top_bigrams": f"""
            WITH d AS (
                SELECT lang, string_split({_NORM}, ' ') AS toks FROM documents
            ),
            e AS (
                SELECT lang, unnest(list_transform(generate_series(1, len(toks) - 1),
                                    i -> toks[i] || ' ' || toks[i+1])) AS bigram
                FROM d
            ),
            c AS (SELECT lang, bigram, count(*) AS n FROM e GROUP BY 1, 2)
            SELECT lang, bigram, n, CAST(rank AS INTEGER) AS rank FROM (
                SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rank
                FROM c
            ) WHERE rank <= 5
        """,
        "text_unigram_logprob": f"""
            WITH toks AS (
                SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token FROM documents
            ),
            freqs AS (SELECT token, count(*) AS n_tok FROM toks GROUP BY 1),
            tot AS (SELECT sum(n_tok) AS total FROM freqs),
            scored AS (
                SELECT doc_id, log10(CAST(n_tok AS DOUBLE) / total) AS logp
                FROM toks JOIN freqs USING (token), tot
            )
            SELECT doc_id, count(*) AS n_tokens,
                   round(avg(logp), 6) AS mean_logp,
                   round(min(logp), 6) AS min_logp
            FROM scored GROUP BY 1
        """,
        "text_lang_buckets": f"""
            WITH toks AS (
                SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token FROM documents
            ),
            freqs AS (SELECT token, count(*) AS n_tok FROM toks GROUP BY 1),
            tot AS (SELECT sum(n_tok) AS total FROM freqs),
            scored AS (
                SELECT doc_id, round(avg(log10(CAST(n_tok AS DOUBLE) / total)), 6)
                       AS mean_logp
                FROM toks JOIN freqs USING (token), tot GROUP BY 1
            ),
            docs AS (
                SELECT d.doc_id, d.lang, s.mean_logp
                FROM documents d JOIN scored s USING (doc_id)
            ),
            th AS (
                SELECT lang,
                       round(quantile_cont(mean_logp, 1.0/3), 6) AS t1,
                       round(quantile_cont(mean_logp, 2.0/3), 6) AS t2
                FROM docs GROUP BY 1
            )
            SELECT doc_id, docs.lang, mean_logp AS lm_score,
                   CASE WHEN mean_logp > t2 THEN 'head'
                        WHEN mean_logp > t1 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM docs JOIN th ON docs.lang = th.lang
        """,
        "text_vocab_oov": f"""
            WITH toks AS (
                SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token FROM documents
            ),
            freqs AS (SELECT token, count(*) AS n_tok FROM toks GROUP BY 1),
            vocab AS (
                SELECT token FROM (
                    SELECT token, row_number() OVER (ORDER BY n_tok DESC, token) AS rank
                    FROM freqs
                ) WHERE rank <= 100
            )
            SELECT doc_id,
                   count(*) AS n_tokens,
                   CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
                   round(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                         / count(*), 6) AS oov_ratio
            FROM toks t LEFT JOIN vocab v ON t.token = v.token
            GROUP BY 1
        """,
        "text_pmi_pairs": f"""
            WITH toks AS (
                SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
            ),
            uni AS (
                SELECT token, count(*) AS n_uni FROM (
                    SELECT unnest(t) AS token FROM toks
                ) GROUP BY 1
            ),
            tot_u AS (SELECT CAST(sum(n_uni) AS DOUBLE) AS tot FROM uni),
            pairs AS (
                SELECT tok_a, tok_b, count(*) AS n_pair FROM (
                    SELECT t[i] AS tok_a, t[i+1] AS tok_b
                    FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
                    WHERE len(t) >= 2
                ) GROUP BY 1, 2
            ),
            tot_p AS (SELECT CAST(sum(n_pair) AS DOUBLE) AS tot FROM pairs),
            scored AS (
                SELECT p.tok_a, p.tok_b, p.n_pair,
                       round(log10((p.n_pair / tp.tot)
                             / ((a.n_uni / tu.tot) * (b.n_uni / tu.tot))), 6) AS pmi
                FROM pairs p
                JOIN uni a ON p.tok_a = a.token
                JOIN uni b ON p.tok_b = b.token, tot_u tu, tot_p tp
                WHERE p.n_pair >= 10
            )
            SELECT tok_a, tok_b, n_pair, pmi, CAST(rank AS INTEGER) AS rank FROM (
                SELECT *, row_number() OVER (ORDER BY pmi DESC, tok_a, tok_b) AS rank
                FROM scored
            ) WHERE rank <= 20
        """,
        "text_tfidf_top_terms": f"""
            WITH scorable AS (
                -- contract (matches tfidf_top_terms): NULL-text docs
                -- carry no terms and count toward neither rankings nor N
                SELECT * FROM documents
                WHERE doc_id IS NOT NULL AND text IS NOT NULL
            ),
            tf AS (
                SELECT doc_id, token, count(*) AS tf FROM (
                    SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token FROM scorable
                ) GROUP BY 1, 2
            ),
            dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
            df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS n_docs FROM scorable),
            scored AS (
                SELECT t.doc_id, t.token,
                       round((CAST(t.tf AS DOUBLE) / d.dl)
                             * log10(CAST(n.n_docs AS DOUBLE) / f.df), 6) AS tfidf
                FROM tf t JOIN dl d USING (doc_id) JOIN df f USING (token), n
            )
            SELECT doc_id, CAST(rank AS INTEGER) AS rank, token, tfidf FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank
                FROM scored
            ) WHERE rank <= 5
        """,
        "text_rrf_fusion": f"""
            WITH scorable AS (
                SELECT * FROM documents
                WHERE doc_id IS NOT NULL AND text IS NOT NULL
            ),
            tf_all AS (
                SELECT doc_id, token, count(*) AS tf FROM (
                    SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token
                    FROM scorable
                ) GROUP BY 1, 2
            ),
            dl AS (SELECT doc_id, sum(tf) AS dl FROM tf_all GROUP BY 1),
            toks AS (
                SELECT t.doc_id, t.token, t.tf, d.dl
                FROM tf_all t JOIN dl d USING (doc_id)
                WHERE t.token IN ('data', 'learning', 'model')
            ),
            dfq AS (SELECT token, count(*) AS df FROM toks GROUP BY 1),
            scalars AS (
                SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       avg(CAST(len(string_split({_NORM}, ' ')) AS DOUBLE))
                           AS avgdl
                FROM scorable
            ),
            bm25 AS (
                SELECT doc_id,
                       round(sum(log10(1.0 + (s.n_docs - f.df + 0.5)
                                       / (f.df + 0.5))
                                 * (t.tf * (1.2 + 1))
                                 / (t.tf + 1.2 * (1 - 0.75
                                    + 0.75 * t.dl / s.avgdl))), 6) AS bm25
                FROM toks t JOIN dfq f USING (token), scalars s
                GROUP BY 1
                ORDER BY bm25 DESC, doc_id LIMIT 20
            ),
            r1 AS (
                SELECT doc_id,
                       CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                            AS INTEGER) AS rank_bm25
                FROM bm25
            ),
            tfr AS (
                SELECT doc_id, count(*) AS tf_sum FROM (
                    SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token
                    FROM scorable
                ) WHERE token IN ('data', 'learning', 'model')
                GROUP BY 1
                ORDER BY tf_sum DESC, doc_id LIMIT 20
            ),
            r2 AS (
                SELECT doc_id,
                       CAST(row_number() OVER (ORDER BY tf_sum DESC, doc_id)
                            AS INTEGER) AS rank_tf
                FROM tfr
            ),
            fused AS (
                SELECT coalesce(r1.doc_id, r2.doc_id) AS doc_id,
                       rank_bm25, rank_tf,
                       coalesce(1000000000 // (60 + rank_bm25), 0)
                       + coalesce(1000000000 // (60 + rank_tf), 0) AS rrf_e9
                FROM r1 FULL OUTER JOIN r2 ON r1.doc_id = r2.doc_id
            )
            SELECT doc_id, rank_bm25, rank_tf,
                   CAST(rrf_e9 AS BIGINT) AS rrf_e9
            FROM fused ORDER BY rrf_e9 DESC, doc_id LIMIT 20
        """,
        "text_bm25_search": f"""
            WITH scorable AS (
                -- contract (matches bm25_scores): NULL-text docs carry
                -- no terms and count toward neither N nor avgdl
                SELECT * FROM documents
                WHERE doc_id IS NOT NULL AND text IS NOT NULL
            ),
            tf_all AS (
                SELECT doc_id, token, count(*) AS tf FROM (
                    SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token FROM scorable
                ) GROUP BY 1, 2
            ),
            dl AS (SELECT doc_id, sum(tf) AS dl FROM tf_all GROUP BY 1),
            toks AS (
                SELECT t.doc_id, t.token, t.tf, d.dl
                FROM tf_all t JOIN dl d USING (doc_id)
                WHERE t.token IN ('data', 'learning', 'model')
            ),
            df AS (SELECT token, count(*) AS df FROM toks GROUP BY 1),
            scalars AS (
                SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       avg(CAST(len(string_split({_NORM}, ' ')) AS DOUBLE)) AS avgdl
                FROM scorable
            )
            SELECT doc_id,
                   round(sum(log10(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                             * (t.tf * (1.2 + 1)) / (t.tf + 1.2 * (1 - 0.75
                                + 0.75 * t.dl / s.avgdl))), 6) AS bm25,
                   count(*) AS n_matched_terms
            FROM toks t JOIN df f USING (token), scalars s
            GROUP BY 1
            ORDER BY bm25 DESC, doc_id LIMIT 20
        """,
        "text_dup_ngrams": f"""
            WITH toked AS (
                SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
            ),
            grams AS (
                SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS gram
                FROM toked, unnest(generate_series(1, len(t) - 7)) AS g(i)
                WHERE len(t) >= 8
            ),
            dfp AS (SELECT gram, count(*) AS df FROM grams GROUP BY 1)
            SELECT doc_id, count(*) AS n_grams,
                   CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
                   round(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                         / count(*), 6) AS dup_fraction
            FROM grams JOIN dfp USING (gram) GROUP BY 1
        """,
        "text_repetition_signals": f"""
            WITH toked AS (
                SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
            ),
            tagged AS (
                SELECT doc_id, 1 AS n, unnest(t) AS gram FROM toked
                UNION ALL
                SELECT doc_id, 2 AS n, array_to_string(t[i:i+1], ' ') AS gram
                FROM toked, unnest(generate_series(1, len(t) - 1)) AS g(i)
                WHERE len(t) >= 2
                UNION ALL
                SELECT doc_id, 5 AS n, array_to_string(t[i:i+4], ' ') AS gram
                FROM toked, unnest(generate_series(1, len(t) - 4)) AS g(i)
                WHERE len(t) >= 5
            ),
            counts AS (
                SELECT doc_id, n, gram, count(*) AS c FROM tagged GROUP BY 1, 2, 3
            ),
            per_doc AS (
                SELECT doc_id,
                       sum(CASE WHEN n = 1 THEN c END) AS n_tokens,
                       count(DISTINCT CASE WHEN n = 1 THEN gram END) AS n_types,
                       max(CASE WHEN n = 2 THEN c END) AS top2,
                       sum(CASE WHEN n = 2 THEN c END) AS tot2,
                       sum(CASE WHEN n = 5 AND c >= 2 THEN c END) AS dup5,
                       sum(CASE WHEN n = 5 THEN c END) AS tot5
                FROM counts GROUP BY 1
            ),
            sig AS (
                SELECT doc_id,
                       CAST(n_tokens AS BIGINT) AS n_tokens,
                       round(1.0 - CAST(n_types AS DOUBLE) / n_tokens, 6) AS dup_token_frac,
                       round(coalesce(CAST(top2 AS DOUBLE) / tot2, 0), 6) AS top_2gram_frac,
                       round(coalesce(CAST(dup5 AS DOUBLE) / tot5, 0), 6) AS dup_5gram_frac,
                       coalesce(top2, 0) AS top2
                FROM per_doc
            )
            SELECT doc_id, n_tokens, dup_token_frac, top_2gram_frac, dup_5gram_frac,
                   (dup_token_frac > 0.5 OR (top2 >= 2 AND top_2gram_frac > 0.2)
                    OR dup_5gram_frac > 0.15) AS is_repetitive
            FROM sig
        """,
        "dedup_incremental": f"""
            WITH fps AS (
                SELECT doc_id, source, md5({_NORM}) AS fingerprint FROM documents
            ),
            existing AS (SELECT DISTINCT fingerprint FROM fps WHERE doc_id < 250),
            incoming AS (SELECT * FROM fps WHERE doc_id >= 250),
            firsts AS (
                SELECT fingerprint, min(doc_id) AS first_doc_id
                FROM incoming GROUP BY 1
            )
            SELECT i.doc_id, i.source, i.fingerprint,
                   CASE WHEN e.fingerprint IS NOT NULL THEN 'dup_of_existing'
                        WHEN i.doc_id != f.first_doc_id THEN 'dup_within_batch'
                        ELSE 'unique' END AS status
            FROM incoming i
            LEFT JOIN existing e USING (fingerprint)
            JOIN firsts f USING (fingerprint)
        """,
        # the Bloom prefilter is an exact-contract accelerator: no false
        # negatives + confirmation join ⇒ statuses identical to the
        # plain incremental path, so the oracle is the same SQL
        "dedup_bloom_incremental": f"""
            WITH fps AS (
                SELECT doc_id, source, md5({_NORM}) AS fingerprint FROM documents
            ),
            existing AS (SELECT DISTINCT fingerprint FROM fps WHERE doc_id < 250),
            incoming AS (SELECT * FROM fps WHERE doc_id >= 250),
            firsts AS (
                SELECT fingerprint, min(doc_id) AS first_doc_id
                FROM incoming GROUP BY 1
            )
            SELECT i.doc_id, i.source, i.fingerprint,
                   CASE WHEN e.fingerprint IS NOT NULL THEN 'dup_of_existing'
                        WHEN i.doc_id != f.first_doc_id THEN 'dup_within_batch'
                        ELSE 'unique' END AS status
            FROM incoming i
            LEFT JOIN existing e USING (fingerprint)
            JOIN firsts f USING (fingerprint)
        """,
        "dedup_kmv_overlap": f"""
            WITH dh AS (
                SELECT DISTINCT source, md5({_NORM}) AS hv FROM documents
            ),
            l1 AS (
                SELECT source, hv,
                       row_number() OVER (
                           PARTITION BY source, substring(hv, 1, 1)
                           ORDER BY hv) AS r1
                FROM dh
            ),
            sk AS (
                SELECT source, hv FROM (
                    SELECT source, hv,
                           row_number() OVER (PARTITION BY source ORDER BY hv) AS rank
                    FROM l1 WHERE r1 <= 64
                ) WHERE rank <= 64
            ),
            pairs AS (
                SELECT a.source AS source_a, b.source AS source_b
                FROM (SELECT DISTINCT source FROM sk) a,
                     (SELECT DISTINCT source FROM sk) b
                WHERE a.source < b.source
            ),
            merged AS (
                SELECT source_a, source_b, hv,
                       max(CASE WHEN source = source_a THEN 1 ELSE 0 END) AS in_a,
                       max(CASE WHEN source = source_b THEN 1 ELSE 0 END) AS in_b
                FROM pairs JOIN sk ON source = source_a OR source = source_b
                GROUP BY 1, 2, 3
            ),
            topm AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY source_a, source_b ORDER BY hv) AS r
                    FROM merged
                ) WHERE r <= 64
            ),
            agg AS (
                SELECT source_a, source_b, max(hv) AS kth, count(*) AS m_u,
                       sum(in_a * in_b) AS inter
                FROM topm GROUP BY 1, 2
            ),
            est AS (
                SELECT source_a, source_b, m_u, inter,
                       CASE WHEN m_u < 64 THEN CAST(m_u AS DOUBLE)
                            ELSE round(63 / (CAST(CAST('0x' || substring(kth, 1, 8)
                                 AS BIGINT) AS DOUBLE) / 4294967296.0), 4)
                       END AS est_union
                FROM agg
            )
            SELECT source_a, source_b, est_union,
                   round(CAST(inter AS DOUBLE) / m_u, 6) AS est_jaccard,
                   round(CAST(inter AS DOUBLE) / m_u * est_union, 4) AS est_intersection
            FROM est
        """,
        "text_zipf_profile": f"""
            WITH freqs AS (
                SELECT token, count(*) AS n FROM (
                    SELECT unnest(string_split({_NORM}, ' ')) AS token FROM documents
                ) GROUP BY 1 ORDER BY n DESC, token LIMIT 100
            ),
            ranked AS (
                SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rank FROM freqs
            )
            SELECT count(*) AS n_ranks,
                   round(regr_slope(log10(CAST(n AS DOUBLE)),
                                    log10(CAST(rank AS DOUBLE))), 6) AS zipf_slope,
                   round(regr_intercept(log10(CAST(n AS DOUBLE)),
                                        log10(CAST(rank AS DOUBLE))), 6) AS zipf_intercept,
                   round(regr_r2(log10(CAST(n AS DOUBLE)),
                                 log10(CAST(rank AS DOUBLE))), 6) AS zipf_r2
            FROM ranked
        """,
        "events_transition_matrix": """
            WITH pairs AS (
                SELECT event_type,
                       lead(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
                FROM events
            ),
            counts AS (
                SELECT event_type, next_type, count(*) AS n_transitions
                FROM pairs WHERE next_type IS NOT NULL GROUP BY 1, 2
            )
            SELECT event_type, next_type, n_transitions,
                   round(CAST(n_transitions AS DOUBLE)
                         / sum(n_transitions) OVER (PARTITION BY event_type), 6) AS prob
            FROM counts
        """,
        "pipeline_snapshot_diff": f"""
            WITH old AS (
                SELECT doc_id, md5({_NORM}) AS old_fp
                FROM documents WHERE doc_id < 450
            ),
            new AS (
                SELECT doc_id,
                       md5(trim(regexp_replace(lower(
                           CASE WHEN doc_id % 37 = 0 THEN text || ' edited'
                                ELSE text END), '\\s+', ' ', 'g'))) AS new_fp
                FROM documents WHERE doc_id >= 20
            )
            SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.old_fp IS NULL THEN 'added'
                        WHEN n.new_fp IS NULL THEN 'removed'
                        WHEN o.old_fp != n.new_fp THEN 'changed'
                        ELSE 'unchanged' END AS status,
                   o.old_fp, n.new_fp
            FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
        """,
        "pipeline_global_shuffle": """
            WITH d AS (
                SELECT doc_id, md5(doc_id || ':shuffle-v1') AS shuffle_key
                FROM documents
            )
            SELECT doc_id, shuffle_key,
                   substring(shuffle_key, 1, 2) AS shard,
                   CAST(row_number() OVER (ORDER BY shuffle_key, doc_id)
                        AS BIGINT) AS shuffle_rank
            FROM d
        """,
        "pipeline_train_split": f"""
            WITH decided AS (
                SELECT source,
                       CASE WHEN substring(md5(concat_ws(':', CAST(doc_id AS VARCHAR), 'split')), 1, 8)
                                 < 'e6666666' THEN 'train'
                            WHEN substring(md5(concat_ws(':', CAST(doc_id AS VARCHAR), 'split')), 1, 8)
                                 < 'f3333333' THEN 'val'
                            ELSE 'test' END AS split,
                       CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS n_tokens
                FROM documents
            ),
            agg AS (
                SELECT source, split, count(*) AS n_docs,
                       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
                FROM decided GROUP BY 1, 2
            )
            SELECT source, split, n_docs, n_tokens,
                   round(CAST(n_docs AS DOUBLE)
                         / sum(n_docs) OVER (PARTITION BY source), 6) AS realized_fraction
            FROM agg ORDER BY 1, 2
        """,
        "dedup_cross_source": f"""
            WITH docs AS (
                SELECT doc_id, source, {_NORM} AS norm FROM documents WHERE doc_id < 100
            ),
            toks AS (
                SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS token FROM docs
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT doc_a, doc_b,
                       round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
                FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= 0.8
            ),
            labeled AS (
                SELECT p.doc_a, p.doc_b, p.jaccard,
                       least(da.source, db.source) AS source_a,
                       greatest(da.source, db.source) AS source_b
                FROM pairs p
                JOIN docs da ON p.doc_a = da.doc_id
                JOIN docs db ON p.doc_b = db.doc_id
            ),
            nd AS (
                SELECT source_a, source_b, count(*) AS n_cross_docs FROM (
                    SELECT DISTINCT source_a, source_b, doc_id FROM (
                        SELECT source_a, source_b, doc_a AS doc_id FROM labeled
                        UNION ALL
                        SELECT source_a, source_b, doc_b AS doc_id FROM labeled
                    )
                ) GROUP BY 1, 2
            )
            SELECT l.source_a, l.source_b, count(*) AS n_pairs, nd.n_cross_docs,
                   round(sum(l.jaccard), 6) AS sum_jaccard
            FROM labeled l JOIN nd USING (source_a, source_b)
            GROUP BY 1, 2, nd.n_cross_docs
        """,
        "text_encoding_quality": r"""
            WITH injected AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 15 = 0
                            THEN t2 || ' log' || chr(7) || chr(27) || 'end'
                            ELSE t2 END AS text
                FROM (
                    SELECT doc_id,
                           CASE WHEN doc_id % 9 = 0
                                THEN t1 || ' ' || repeat(chr(65533), doc_id % 3 + 1)
                                ELSE t1 END AS t2
                    FROM (
                        SELECT doc_id,
                               CASE WHEN doc_id % 6 = 0
                                    THEN text || ' caf' || chr(195) || chr(169)
                                         || ' d' || chr(195) || chr(169) || 'j'
                                         || chr(195) || chr(160)
                                    ELSE text END AS t1
                        FROM documents
                    )
                )
            ),
            scored AS (
                SELECT doc_id,
                       len(text) AS n_chars,
                       CAST(len(text) - len(replace(text, chr(65533), '')) AS INTEGER) AS n_replacement,
                       CAST(len(regexp_extract_all(text,
                            '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS INTEGER) AS n_control,
                       CAST(len(text) - len(replace(text, chr(195), '')) AS INTEGER) AS n_mojibake
                FROM injected
            )
            SELECT *, (n_replacement > 0 OR n_control > 0
                       OR CAST(n_mojibake AS DOUBLE) / greatest(n_chars, 1) > 0.002) AS is_suspect
            FROM scored
        """,
        # r16 rows-only -> oracle conversion: the Rabin-Karp rolling hash
        # at step i covers exactly the trailing min(i+1, 16) bytes mod
        # 2^61-1, so it has a CLOSED FORM — h_j = Σ_k byte[j-k]·257^k
        # (k = 0..15, powers precomputed as Python-int literals) — no
        # per-byte fold needed; the sum peaks at 16·255·2^61 ≈ 2^73,
        # exact in HUGEINT. Boundary selection (first j with length >= 32
        # and h ≡ 0 mod 64, else the length-512 cap, else the tail) is
        # the only sequential part, replayed at CHUNK grain by a
        # recursive CTE (depth <= ceil(max_doc_len/min_chunk) ~ 18).
        # Corpus is verified all-ASCII (strlen == length at all 3 SFs),
        # so char positions ARE byte positions and DuckDB md5(substr)
        # equals the kernel's hashlib.md5 over the byte slice; the
        # kernel itself stays byte-correct on arbitrary UTF-8.
        # MATERIALIZED pins the flag pipeline to one evaluation — the
        # recursive part would otherwise re-run it per iteration
        # (56 s -> 4 s at sf0.1, measured).
        "text_chunk_rolling_hash": """
            WITH RECURSIVE pows(k, w) AS (VALUES """
        + ", ".join(f"({k}, {pow(257, k, (1 << 61) - 1)})" for k in range(16))
        + """),
            bts AS (
                SELECT doc_id,
                       CAST(unnest(range(1, strlen(text) + 1)) AS INT) AS j,
                       text
                FROM documents
            ),
            byts AS MATERIALIZED (
                SELECT doc_id, j, unicode(substr(text, j, 1)) AS b FROM bts
            ),
            hs AS MATERIALIZED (
                SELECT p.doc_id, p.j,
                       (sum(CAST(b2.b AS HUGEINT) * pw.w)
                        % 2305843009213693951) % 64 = 0 AS flag
                FROM byts p
                JOIN pows pw ON pw.k <= 15
                JOIN byts b2 ON b2.doc_id = p.doc_id AND b2.j = p.j - pw.k
                GROUP BY p.doc_id, p.j
            ),
            fl AS MATERIALIZED (
                SELECT doc_id, list(flag ORDER BY j) AS flags,
                       CAST(max(j) AS BIGINT) AS n
                FROM hs GROUP BY doc_id
            ),
            chunks AS (
                SELECT f.doc_id, CAST(0 AS BIGINT) AS chunk_idx,
                       CAST(0 AS BIGINT) AS strt,
                       COALESCE(
                           list_filter(range(CAST(32 AS BIGINT),
                                             least(CAST(511 AS BIGINT), f.n) + 1),
                                       j -> f.flags[j])[1],
                           least(CAST(512 AS BIGINT), f.n)) AS endp
                FROM fl f
                UNION ALL
                SELECT c.doc_id, c.chunk_idx + 1, c.endp,
                       COALESCE(
                           list_filter(range(c.endp + 32,
                                             least(c.endp + 511, f.n) + 1),
                                       j -> f.flags[j])[1],
                           least(c.endp + 512, f.n)) AS endp
                FROM chunks c JOIN fl f ON f.doc_id = c.doc_id
                WHERE c.endp < f.n
            )
            SELECT c.doc_id, c.chunk_idx,
                   substr(d.text, CAST(c.strt + 1 AS INT),
                          CAST(c.endp - c.strt AS INT)) AS chunk_text,
                   md5(substr(d.text, CAST(c.strt + 1 AS INT),
                              CAST(c.endp - c.strt AS INT))) AS chunk_hash
            FROM chunks c JOIN documents d USING (doc_id)
        """,
        "text_segment_dedup": f"""
            WITH toked AS (
                SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
            ),
            segs AS (
                SELECT doc_id, i AS seg_id,
                       array_to_string(t[(i*8+1):(i*8+8)], ' ') AS seg,
                       len(t[(i*8+1):(i*8+8)]) AS seg_n_tokens,
                       doc_id * 1000000000 + i AS occ_key
                FROM toked,
                     unnest(generate_series(0,
                         CAST(ceil(len(t) / 8.0) AS INT) - 1)) AS g(i)
            ),
            groups AS (
                SELECT seg, count(*) AS n_occ, min(occ_key) AS keeper_key
                FROM segs GROUP BY 1
            ),
            flagged AS (
                SELECT s.*, (g.n_occ >= 2 AND s.occ_key != g.keeper_key) AS removed
                FROM segs s JOIN groups g USING (seg)
            )
            SELECT doc_id,
                   CAST(count(*) AS INT) AS n_segments,
                   CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS INT) AS n_removed,
                   CAST(sum(seg_n_tokens) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN NOT removed THEN seg_n_tokens ELSE 0 END)
                        AS BIGINT) AS n_tokens_kept,
                   CASE WHEN sum(CASE WHEN NOT removed THEN seg_n_tokens ELSE 0 END) > 0
                        THEN md5(string_agg(md5(seg), ' ' ORDER BY seg_id)
                                 FILTER (WHERE NOT removed))
                   END AS kept_fingerprint
            FROM flagged GROUP BY doc_id
        """,
        "text_span_coverage": f"""
            WITH toked AS (
                SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
            ),
            grams AS (
                SELECT doc_id, i, array_to_string(t[i:i+7], ' ') AS g
                FROM toked, unnest(generate_series(1, len(t) - 7)) AS s(i)
                WHERE len(t) >= 8
            ),
            dup AS (
                SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
            ),
            starts AS (
                SELECT doc_id, i,
                       least(coalesce(
                           lead(i) OVER (PARTITION BY doc_id ORDER BY i) - i, 8), 8)
                       AS cov
                FROM grams JOIN dup USING (g)
            ),
            cov AS (
                SELECT doc_id, CAST(count(*) AS INT) AS n_dup_grams,
                       CAST(sum(cov) AS BIGINT) AS covered_tokens
                FROM starts GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(len(t) AS INT) AS n_tokens,
                   CAST(greatest(len(t) - 7, 0) AS INT) AS n_grams,
                   coalesce(n_dup_grams, 0) AS n_dup_grams,
                   CAST(coalesce(covered_tokens, 0) AS BIGINT) AS covered_tokens,
                   round(CAST(coalesce(covered_tokens, 0) AS DOUBLE) / len(t), 6)
                       AS dup_frac
            FROM toked d LEFT JOIN cov USING (doc_id)
        """,
        "text_feature_hashing": f"""
            SELECT doc_id,
                   CAST('0x' || substring(md5(token), 1, 8) AS BIGINT) % 4096
                       AS bucket,
                   CAST(count(*) AS BIGINT) AS weight
            FROM (
                SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token
                FROM documents
            )
            WHERE length(token) > 0
            GROUP BY 1, 2
        """,
        "text_span_corruption": f"""
            WITH base AS (
                SELECT doc_id, len(string_split({_NORM}, ' ')) AS n_tokens
                FROM documents
            ),
            pos AS (
                SELECT b.doc_id, b.n_tokens, g.p
                FROM base b,
                     unnest(generate_series(1, greatest(b.n_tokens, 1))) AS g(p)
                WHERE CAST(('0x' || substring(
                          md5(b.doc_id || ':' || g.p), 1, 8)) AS BIGINT) % 1000 < 50
            ),
            covs AS (
                SELECT doc_id, p,
                       least(
                           least(coalesce(
                               lead(p) OVER (PARTITION BY doc_id ORDER BY p) - p,
                               3), 3),
                           n_tokens - p + 1) AS cov
                FROM pos
            ),
            spans AS (
                SELECT doc_id, p, cov,
                       CASE WHEN coalesce(
                                (p - lag(p) OVER (PARTITION BY doc_id ORDER BY p))
                                > lag(cov) OVER (PARTITION BY doc_id ORDER BY p),
                                TRUE)
                            THEN 1 ELSE 0 END AS new_span
                FROM covs
            ),
            per_doc AS (
                SELECT doc_id,
                       CAST(sum(new_span) AS INT) AS n_spans,
                       CAST(sum(cov) AS BIGINT) AS n_masked,
                       md5(string_agg(p || ':' || cov, ',' ORDER BY p))
                           AS plan_fingerprint
                FROM spans GROUP BY 1
            )
            SELECT b.doc_id,
                   CAST(b.n_tokens AS INT) AS n_tokens,
                   coalesce(n_spans, 0) AS n_spans,
                   CAST(coalesce(n_masked, 0) AS BIGINT) AS n_masked,
                   round(CAST(coalesce(n_masked, 0) AS DOUBLE) / b.n_tokens, 6)
                       AS masked_frac,
                   plan_fingerprint
            FROM base b LEFT JOIN per_doc USING (doc_id)
        """,
        "text_pii_scrub": r"""
            WITH injected AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 13 = 0
                            THEN t2 || ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
                                 || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) || ' logged'
                            ELSE t2 END AS text
                FROM (
                    SELECT doc_id,
                           CASE WHEN doc_id % 11 = 0
                                THEN t1 || ' call +1-555-'
                                     || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                                ELSE t1 END AS t2
                    FROM (
                        SELECT doc_id,
                               CASE WHEN doc_id % 7 = 0
                                    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                                         || '@example.com today'
                                    ELSE text END AS t1
                        FROM documents
                    )
                )
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INTEGER) AS n_emails,
                   CAST(len(regexp_extract_all(text,
                        '\+\d{1,2}-\d{3}-\d{4}')) AS INTEGER) AS n_phones,
                   CAST(len(regexp_extract_all(text,
                        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ips,
                   md5(regexp_replace(regexp_replace(regexp_replace(text,
                        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                        '\+\d{1,2}-\d{3}-\d{4}', '<PHONE>', 'g'),
                        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS masked_fp,
                   CAST(len(regexp_extract_all(text,
                        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
                        + len(regexp_extract_all(text, '\+\d{1,2}-\d{3}-\d{4}'))
                        + len(regexp_extract_all(text,
                          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS pii_total
            FROM injected
        """,
        "pipeline_mixture_build": f"""
            WITH sampled AS (
                SELECT doc_id, source, {_NORM} AS norm
                FROM documents
                WHERE substring(md5(concat_ws(':', CAST(doc_id AS VARCHAR), source)), 1, 8)
                      <= CASE source WHEN 'src0' THEN 'ffffffff' WHEN 'src1' THEN '3fffffff'
                         WHEN 'src2' THEN '' ELSE '7fffffff' END
            ),
            canonical AS (
                SELECT min(doc_id) AS doc_id FROM sampled GROUP BY md5(norm)
            ),
            surv AS (
                SELECT s.doc_id, s.source,
                       CAST(len(string_split(s.norm, ' ')) AS BIGINT) AS n_tokens,
                       s.doc_id % 8 AS shard_id,
                       CASE s.source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 600
                            ELSE 1500 END AS budget_tokens
                FROM sampled s JOIN canonical c ON s.doc_id = c.doc_id
            ),
            cum AS (
                SELECT *, coalesce(sum(n_tokens) OVER (
                           PARTITION BY source ORDER BY shard_id, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
                FROM surv
            ),
            kept AS (SELECT * FROM cum WHERE cum_before + n_tokens <= budget_tokens),
            packed AS (
                SELECT source, shard_id,
                       CAST(floor(coalesce(sum(n_tokens) OVER (
                            PARTITION BY source, shard_id ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                            / 512) AS BIGINT) AS bin_id
                FROM kept
            ),
            spine AS (
                SELECT source,
                       CAST(CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.25
                            WHEN 'src2' THEN 0.0 ELSE 0.5 END AS DOUBLE) AS rate,
                       CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 600
                            ELSE 1500 END AS budget_tokens,
                       count(*) AS n_docs
                FROM documents GROUP BY 1
            ),
            a_samp AS (SELECT source, count(*) AS n_sampled FROM sampled GROUP BY 1),
            a_surv AS (SELECT source, count(*) AS n_deduped FROM surv GROUP BY 1),
            a_kept AS (
                SELECT source, count(*) AS n_kept,
                       CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
                FROM kept GROUP BY 1
            ),
            a_bins AS (
                SELECT source, count(*) AS n_bins
                FROM (SELECT DISTINCT source, shard_id, bin_id FROM packed) GROUP BY 1
            )
            SELECT sp.source, sp.rate, sp.budget_tokens, sp.n_docs,
                   coalesce(n_sampled, 0) AS n_sampled,
                   coalesce(n_deduped, 0) AS n_deduped,
                   coalesce(n_kept, 0) AS n_kept,
                   coalesce(tokens_kept, 0) AS tokens_kept,
                   coalesce(n_bins, 0) AS n_bins
            FROM spine sp
            LEFT JOIN a_samp USING (source) LEFT JOIN a_surv USING (source)
            LEFT JOIN a_kept USING (source) LEFT JOIN a_bins USING (source)
            ORDER BY 1
        """,
        "pipeline_weighted_sample": """
            WITH decided AS (
                SELECT source,
                       CAST(CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.25
                            WHEN 'src2' THEN 0.0 ELSE 0.5 END AS DOUBLE) AS rate,
                       (substring(md5(concat_ws(':', CAST(doc_id AS VARCHAR), source)), 1, 8)
                        <= CASE source WHEN 'src0' THEN 'ffffffff' WHEN 'src1' THEN '3fffffff'
                           WHEN 'src2' THEN '' ELSE '7fffffff' END) AS kept
                FROM documents
            )
            SELECT source, rate, count(*) AS n_docs,
                   CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   round(avg(CAST(CASE WHEN kept THEN 1 ELSE 0 END AS DOUBLE)), 6)
                       AS realized_rate
            FROM decided GROUP BY 1, 2 ORDER BY 1
        """,
        "events_sequence_patterns": """
            WITH seq AS (
                SELECT user_id,
                       string_agg(substring(event_type, 1, 1), ''
                                  ORDER BY ts, event_id) AS s
                FROM events GROUP BY 1
            )
            SELECT user_id,
                   CAST(length(s) AS INTEGER) AS n_events,
                   regexp_matches(s, 'c.*p') AS click_then_purchase,
                   regexp_matches(s, 'pe') AS error_right_after_purchase,
                   CAST(length(regexp_extract(s, '(c+)', 1)) AS INTEGER) AS first_click_streak
            FROM seq
        """,
        "sql_interactive": _INTERACTIVE_SQL,
        "sql_groupby_all": _GROUPBY_ALL_SQL,
        "sql_correlated_exists": _CORRELATED_SQL,
        "sql_named_window": _NAMED_WINDOW_SQL,
        "sql_lateral_topn": _LATERAL_SQL,
        "sql_recursive_spine": """
            WITH RECURSIVE months(m) AS (
                SELECT DATE '1995-01-01'
                UNION ALL
                SELECT m + INTERVAL 1 MONTH FROM months WHERE m < DATE '2001-08-01'
            ),
            rev AS (
                SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                       round(sum(o_totalprice), 2) AS revenue,
                       count(*) AS n_orders
                FROM orders GROUP BY 1
            )
            SELECT CAST(months.m AS DATE) AS month_start,
                   coalesce(rev.revenue, 0.0) AS revenue,
                   coalesce(rev.n_orders, 0) AS n_orders
            FROM months LEFT JOIN rev ON CAST(months.m AS DATE) = rev.m
        """,
        "fmt_json_scan": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price,
                   CAST(min(o_orderdate) AS DATE) AS first_order,
                   CAST(max(o_orderdate) AS DATE) AS last_order
            FROM orders GROUP BY 1, 2
            ORDER BY o_orderstatus, o_orderpriority
        """,
        "fmt_orc_scan": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders GROUP BY 1, 2
        """,
        # derives the IDENTICAL dialect-stressed value straight from
        # parquet — the Spark side round-trips it through quoted CSV, so
        # a hash match certifies every stressed byte survived the writer
        # AND the multiLine reader (formats._dialect_stressed)
        "fmt_csv_dialect_scan": """
            WITH s AS (
                SELECT lang,
                       '"' || substr(text, 1, 40) || '",' || chr(10) || 'mid'
                           || chr(13) || chr(10) || substr(text, 11, 30)
                           || chr(92) || '"tail' AS stressed
                FROM documents
            )
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(CAST('0x' || substr(md5(stressed), 1, 8)
                                 AS BIGINT)) AS BIGINT) AS fp_sum,
                   CAST(sum(length(stressed)) AS BIGINT) AS len_sum
            FROM s GROUP BY lang ORDER BY lang
        """,
        "fmt_schema_evolution": """
            SELECT CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS schema_version,
                   count(*) AS n_rows,
                   CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS null_priority_rows,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders GROUP BY 1
        """,
        "pandas_arrow_bytes": """
            SELECT doc_id,
                   CAST(strlen(text) AS BIGINT) AS n_bytes,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   strlen(text) = length(text) AS is_ascii
            FROM documents
        """,
        "dq_join_estimate": """
            WITH lc AS (
                SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS cl
                FROM events GROUP BY 1
            ),
            rc AS (
                SELECT CAST(o_custkey AS VARCHAR) AS key, count(*) AS cr
                FROM orders GROUP BY 1
            ),
            prod AS (
                SELECT key, cl * cr AS contrib FROM lc JOIN rc USING (key)
            ),
            totals AS (
                SELECT sum(contrib) AS join_rows, count(*) AS n_keys FROM prod
            ),
            top AS (SELECT key, contrib FROM prod ORDER BY contrib DESC, key LIMIT 5)
            SELECT 'top_key_rows' AS metric, key, CAST(contrib AS DOUBLE) AS value FROM top
            UNION ALL
            SELECT 'top_key_share', key, round(CAST(contrib AS DOUBLE) / join_rows, 6)
            FROM top, totals
            UNION ALL
            SELECT 'join_rows', CAST(NULL AS VARCHAR), CAST(join_rows AS DOUBLE) FROM totals
            UNION ALL
            SELECT 'n_matching_keys', CAST(NULL AS VARCHAR), CAST(n_keys AS DOUBLE) FROM totals
            UNION ALL
            SELECT 'left_rows', CAST(NULL AS VARCHAR),
                   CAST((SELECT count(*) FROM events) AS DOUBLE)
            UNION ALL
            SELECT 'right_rows', CAST(NULL AS VARCHAR),
                   CAST((SELECT count(*) FROM orders) AS DOUBLE)
        """,
        "agg_boolean_funcs": """
            SELECT o_orderpriority,
                   CAST(count(*) FILTER (WHERE o_totalprice > 100000) AS BIGINT)
                       AS n_big,
                   bool_and(o_totalprice > 0) AS all_positive,
                   bool_or(o_orderstatus = 'F') AS any_finished,
                   count(*) AS n_orders
            FROM orders GROUP BY 1
        """,
        "agg_bitmap_distinct": """
            SELECT event_type,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_users
            FROM events GROUP BY 1
        """,
        "dq_key_skew": """
            WITH counts AS (
                SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS c
                FROM events GROUP BY 1
            ),
            stats AS (
                SELECT count(*) AS n_keys, sum(c) AS n_rows, max(c) AS max_c,
                       sum(c * ln(c)) AS clogc
                FROM counts
            ),
            top AS (SELECT key, c FROM counts ORDER BY c DESC, key LIMIT 10),
            topsum AS (SELECT sum(c) AS topk_c FROM top)
            SELECT 'top_key_rows' AS metric, key, CAST(c AS DOUBLE) AS value FROM top
            UNION ALL
            SELECT 'top_key_share', key, round(CAST(c AS DOUBLE) / n_rows, 6)
            FROM top, stats
            UNION ALL
            SELECT 'n_keys', CAST(NULL AS VARCHAR), CAST(n_keys AS DOUBLE) FROM stats
            UNION ALL
            SELECT 'n_rows', CAST(NULL AS VARCHAR), CAST(n_rows AS DOUBLE) FROM stats
            UNION ALL
            SELECT 'max_share', CAST(NULL AS VARCHAR),
                   round(CAST(max_c AS DOUBLE) / n_rows, 6) FROM stats
            UNION ALL
            SELECT 'topk_share', CAST(NULL AS VARCHAR),
                   round(CAST(topk_c AS DOUBLE) / n_rows, 6) FROM stats, topsum
            UNION ALL
            SELECT 'skew_ratio_max_avg', CAST(NULL AS VARCHAR),
                   round(CAST(max_c AS DOUBLE) * n_keys / n_rows, 6) FROM stats
            UNION ALL
            SELECT 'entropy_nats', CAST(NULL AS VARCHAR),
                   round(ln(CAST(n_rows AS DOUBLE)) - clogc / n_rows, 6) FROM stats
        """,
        "dq_batch_drift": f"""
            WITH base AS (
                SELECT (doc_id >= 250) AS is_new,
                       CASE WHEN text IS NULL THEN 1 ELSE 0 END AS null_text,
                       coalesce(n_chars, 0) AS n_chars,
                       coalesce(len(string_split({_NORM}, ' ')), 0) AS n_tokens,
                       lang
                FROM documents
            ),
            scal AS (
                SELECT sum(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS old_n,
                       sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS new_n,
                       sum(CASE WHEN NOT is_new THEN null_text ELSE 0 END) AS old_nulls,
                       sum(CASE WHEN is_new THEN null_text ELSE 0 END) AS new_nulls,
                       sum(CASE WHEN NOT is_new THEN n_chars ELSE 0 END) AS old_chars,
                       sum(CASE WHEN is_new THEN n_chars ELSE 0 END) AS new_chars,
                       sum(CASE WHEN NOT is_new THEN n_tokens ELSE 0 END) AS old_toks,
                       sum(CASE WHEN is_new THEN n_tokens ELSE 0 END) AS new_toks
                FROM base
            ),
            derived AS (
                SELECT CAST(old_n AS DOUBLE) AS rc_o, CAST(new_n AS DOUBLE) AS rc_n,
                       round(CAST(old_nulls AS DOUBLE) / old_n, 6) AS nr_o,
                       round(CAST(new_nulls AS DOUBLE) / new_n, 6) AS nr_n,
                       round(CAST(old_chars AS DOUBLE) / old_n, 6) AS mc_o,
                       round(CAST(new_chars AS DOUBLE) / new_n, 6) AS mc_n,
                       round(CAST(old_toks AS DOUBLE) / old_n, 6) AS mt_o,
                       round(CAST(new_toks AS DOUBLE) / new_n, 6) AS mt_n
                FROM scal
            ),
            scal_rows AS (
                SELECT 'row_count' AS metric, rc_o AS old_value, rc_n AS new_value FROM derived
                UNION ALL SELECT 'null_text_rate', nr_o, nr_n FROM derived
                UNION ALL SELECT 'mean_n_chars', mc_o, mc_n FROM derived
                UNION ALL SELECT 'mean_n_tokens', mt_o, mt_n FROM derived
            ),
            langs AS (
                SELECT lang,
                       sum(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS o,
                       sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS n
                FROM base GROUP BY 1
            ),
            lang_row AS (
                SELECT 'lang_l1_distance' AS metric,
                       CAST(sum(CASE WHEN o > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS old_value,
                       CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS new_value,
                       round(sum(abs(CAST(o AS DOUBLE) / (SELECT old_n FROM scal)
                                     - CAST(n AS DOUBLE) / (SELECT new_n FROM scal))), 6) AS delta
                FROM langs
            )
            SELECT metric, old_value, new_value,
                   round(new_value - old_value, 6) AS delta
            FROM scal_rows
            UNION ALL SELECT * FROM lang_row
        """,
        "dq_orders_integrity": """
            WITH one_pass AS (
                SELECT
                    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderkey,
                    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
                    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_price,
                    CAST(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT) AS bad_status
                FROM orders
            ),
            dups AS (
                SELECT CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS duplicate_orderkeys
                FROM (SELECT o_orderkey, count(*) AS n FROM orders GROUP BY 1 HAVING count(*) > 1)
            ),
            orphans AS (
                SELECT count(*) AS orphan_custkeys FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
            )
            SELECT rule, n_violations, n_violations = 0 AS passed FROM (
                SELECT 'null_orderkey' AS rule, null_orderkey AS n_violations FROM one_pass
                UNION ALL SELECT 'null_custkey', null_custkey FROM one_pass
                UNION ALL SELECT 'nonpositive_price', nonpositive_price FROM one_pass
                UNION ALL SELECT 'bad_status', bad_status FROM one_pass
                UNION ALL SELECT 'duplicate_orderkeys', duplicate_orderkeys FROM dups
                UNION ALL SELECT 'orphan_custkeys', orphan_custkeys FROM orphans
            )
        """,
        "pipeline_corpus_prep": f"""
            WITH m AS (
                SELECT doc_id, {_NORM} AS norm, string_split({_NORM}, ' ') AS toks
                FROM documents
            ),
            gated AS (
                SELECT doc_id, norm, len(toks) AS n_tokens FROM m
                WHERE len(toks) >= 5 AND len(toks) <= 100000
                  AND CAST(length(norm) - len(toks) + 1 AS DOUBLE) / len(toks) BETWEEN 2.0 AND 12.0
                  AND CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE)
                      / len(toks) >= 0.0005
                  AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.1
            ),
            canonical AS (
                SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(norm)
            ),
            survivors AS (
                SELECT g.doc_id, g.n_tokens FROM gated g
                JOIN canonical c ON g.doc_id = c.doc_id
            ),
            binned AS (
                SELECT doc_id, doc_id % 8 AS shard_id, n_tokens,
                       CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY doc_id % 8
                            ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                            / 512) AS BIGINT) AS bin_id
                FROM survivors
            )
            SELECT shard_id, bin_id, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM binned GROUP BY 1, 2
        """,
        "sample_stratified": """
            WITH ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY o_orderstatus
                    ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
                ) AS rn
                FROM orders
            )
            , g AS (
                SELECT o_orderstatus,
                       count(*) AS n_sampled,
                       sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS sc,
                       round(sum(o_totalprice), 2) AS sum_price
                FROM ranked WHERE rn <= 100
                GROUP BY 1
            )
            SELECT o_orderstatus, n_sampled,
                   CAST((2 * sc * 100 + n_sampled) // (2 * n_sampled)
                        AS DOUBLE) / 10000.0 AS avg_price,
                   sum_price
            FROM g
        """,
        "tpch_priority_late": """
            SELECT o_orderpriority, count(*) AS n_late_orders
            FROM orders o
            WHERE EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
            )
            GROUP BY 1
        """,
        "tpch_product_profit": """
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INTEGER) AS order_year,
                   round(sum(l_extendedprice * (1 - l_discount)
                             - 0.5 * p_retailprice * l_quantity), 4) AS profit
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey AND contains(p_name, 'a')
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            GROUP BY 1, 2
        """,
        "tpch_waiting_supplier": """
            WITH per_os AS (
                SELECT l_orderkey, l_suppkey,
                       max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
                                THEN 1 ELSE 0 END) AS is_late
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                GROUP BY 1, 2
            ),
            per_order AS (
                SELECT l_orderkey,
                       count(DISTINCT l_suppkey) AS n_supps,
                       sum(is_late) AS n_late_supps
                FROM per_os GROUP BY 1
            )
            SELECT s_name, count(*) AS numwait
            FROM per_os
            JOIN per_order USING (l_orderkey)
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE is_late = 1 AND n_supps >= 2 AND n_late_supps = 1
            GROUP BY 1
            ORDER BY numwait DESC, s_name
            LIMIT 20
        """,
        "tpch_supplier_part_counts": """
            WITH pairs AS (
                SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
            ),
            kept AS (
                SELECT p.* FROM pairs p
                WHERE p.l_suppkey NOT IN (
                    SELECT s_suppkey FROM supplier WHERE contains(s_name, '7')
                )
            )
            SELECT p_brand,
                   substring(p_type, 1, 5) AS type_prefix,
                   p_size % 10 AS size_band,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM kept JOIN part ON l_partkey = p_partkey
            GROUP BY 1, 2, 3
        """,
        "pipeline_decontaminate": f"""
            WITH d AS (
                SELECT doc_id, source, string_split({_NORM}, ' ') AS toks FROM documents
            ),
            grams AS (
                SELECT DISTINCT doc_id,
                       unnest(list_transform(generate_series(1, len(toks) - 7),
                              i -> array_to_string(toks[i:i+7], ' '))) AS gram
                FROM d WHERE len(toks) >= 8
            ),
            bench AS (
                SELECT DISTINCT gram FROM grams WHERE doc_id IN (0, 1, 2, 3, 4)
            ),
            hits AS (
                SELECT g.doc_id, count(*) AS n
                FROM grams g JOIN bench b ON g.gram = b.gram
                GROUP BY 1
            ),
            flagged AS (
                SELECT d.doc_id, d.source, len(d.toks) AS n_tokens,
                       coalesce(h.n, 0) > 0 AS is_contaminated,
                       d.doc_id IN (0, 1, 2, 3, 4) AS is_benchmark
                FROM d LEFT JOIN hits h USING (doc_id)
            )
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum(CASE WHEN is_benchmark THEN 1 ELSE 0 END) AS BIGINT) AS n_benchmark,
                   CAST(sum(CASE WHEN is_contaminated AND NOT is_benchmark THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
                   CAST(sum(CASE WHEN NOT is_benchmark AND NOT is_contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   CAST(sum(CASE WHEN NOT is_benchmark AND NOT is_contaminated
                            THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
            FROM flagged GROUP BY 1
        """,
        "text_contamination": f"""
            WITH d AS (
                SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents
            ),
            grams AS (
                SELECT DISTINCT doc_id,
                       unnest(list_transform(generate_series(1, len(toks) - 7),
                              i -> array_to_string(toks[i:i+7], ' '))) AS gram
                FROM d WHERE len(toks) >= 8
            ),
            bench AS (
                SELECT DISTINCT gram FROM grams WHERE doc_id IN (0, 1, 2, 3, 4)
            ),
            hits AS (
                SELECT g.doc_id, count(*) AS n
                FROM grams g JOIN bench b ON g.gram = b.gram
                GROUP BY 1
            )
            SELECT doc_id,
                   coalesce(n, 0) AS n_contaminated_grams,
                   coalesce(n, 0) > 0 AS is_contaminated,
                   doc_id IN (0, 1, 2, 3, 4) AS is_benchmark
            FROM documents LEFT JOIN hits USING (doc_id)
        """,
        "text_pack_sequences": f"""
            WITH toks AS (
                SELECT doc_id, doc_id % 8 AS shard_id,
                       len(string_split({_NORM}, ' ')) AS n_tokens
                FROM documents
            ),
            binned AS (
                SELECT doc_id, shard_id, n_tokens,
                       CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY shard_id
                            ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                            / 512) AS BIGINT) AS bin_id
                FROM toks
            )
            SELECT shard_id, bin_id, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM binned GROUP BY 1, 2
        """,
        # NEW r18 (r17 verdict #7b): the BPE arc becomes oracle-backed —
        # the relational greedy-merge replay (_bpe_replay_oracle_ctes,
        # an independent mechanism from the Spark fold) certifies the
        # merge table, the per-doc subword counts, and the
        # tokenizer-aware packing built on them.
        "text_bpe_merges": f"""
            WITH {_bpe_replay_oracle_ctes()}
            SELECT rank, "left", "right", merged, pair_count FROM merges
        """,
        "text_bpe_encode": f"""
            WITH {_bpe_replay_oracle_ctes()},
            {_BPE_PERDOC_CTES}
            SELECT d.doc_id,
                   coalesce(p.n_words, 0) AS n_words,
                   CAST(coalesce(p.n_subword_tokens, 0) AS BIGINT) AS n_subword_tokens,
                   CAST(coalesce(p.n_chars, 0) AS BIGINT) AS n_chars,
                   CASE WHEN p.n_words > 0 THEN
                       round(CAST(p.n_subword_tokens AS DOUBLE) / p.n_words, 6)
                   END AS tokens_per_word
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
        """,
        "text_pack_bpe": f"""
            WITH {_bpe_replay_oracle_ctes()},
            {_BPE_PERDOC_CTES},
            enc AS (
                SELECT d.doc_id,
                       coalesce(p.n_words, 0) AS n_words,
                       coalesce(p.n_subword_tokens, 0) AS n_tokens
                FROM documents d LEFT JOIN per_doc p USING (doc_id)
            ),
            wsb AS (
                SELECT doc_id,
                       CAST(floor(coalesce(sum(n_tokens) OVER (
                            PARTITION BY doc_id % 8 ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                            / 512) AS BIGINT) AS ws_bin_id
                FROM (SELECT doc_id, len(string_split({_NORM}, ' ')) AS n_tokens
                      FROM documents)
            ),
            binned AS (
                SELECT doc_id, doc_id % 8 AS shard_id, n_tokens, n_words,
                       CAST(floor(coalesce(sum(n_tokens) OVER (
                            PARTITION BY doc_id % 8 ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                            / 512) AS BIGINT) AS bin_id
                FROM enc
            )
            SELECT b.shard_id, b.bin_id, count(*) AS n_docs,
                   CAST(sum(b.n_tokens) AS BIGINT) AS total_bpe_tokens,
                   CAST(sum(b.n_words) AS BIGINT) AS total_ws_words,
                   CAST(sum(CASE WHEN b.bin_id <> w.ws_bin_id THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_moved_vs_ws,
                   min(b.doc_id) AS first_doc, max(b.doc_id) AS last_doc
            FROM binned b JOIN wsb w USING (doc_id)
            GROUP BY 1, 2
        """,
        "text_quality_gate": f"""
            WITH t AS (
                SELECT doc_id, {_NORM} AS norm, string_split({_NORM}, ' ') AS toks
                FROM documents
            ),
            m AS (
                SELECT doc_id,
                       len(toks) AS n_tokens,
                       CAST(length(norm) - len(toks) + 1 AS DOUBLE) / len(toks) AS mean_len,
                       CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE)
                           / len(toks) AS stop_ratio,
                       CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio
                FROM t
            )
            SELECT doc_id,
                   n_tokens >= 5 AND n_tokens <= 100000 AS ok_n_tokens,
                   mean_len >= 2.0 AND mean_len <= 12.0 AS ok_mean_token_len,
                   stop_ratio >= 0.0005 AS ok_stopwords,
                   distinct_ratio >= 0.1 AS ok_repetition,
                   (n_tokens >= 5 AND n_tokens <= 100000)
                       AND (mean_len >= 2.0 AND mean_len <= 12.0)
                       AND stop_ratio >= 0.0005
                       AND distinct_ratio >= 0.1 AS keep
            FROM m
        """,
        "agg_trend_regression": """
            WITH raw AS (
                SELECT event_type,
                       epoch_us(ts) // 1000000 - 900000000 AS t,
                       CAST(trunc(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT) AS c
                FROM events
            ),
            s AS (
                SELECT event_type, count(*) AS n,
                       sum(CAST(t AS HUGEINT)) AS st,
                       sum(CAST(t AS HUGEINT) * CAST(t AS HUGEINT)) AS stt,
                       sum(c) AS sc,
                       sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS scc,
                       sum(CAST(t AS HUGEINT) * CAST(c AS HUGEINT)) AS stc
                FROM raw GROUP BY 1
            ),
            m AS (
                SELECT event_type, n, sc,
                       CAST(CAST(n AS HUGEINT) * stc
                            - st * CAST(sc AS HUGEINT) AS DOUBLE) AS dty,
                       CAST(CAST(n AS HUGEINT) * stt - st * st AS DOUBLE) AS dtt,
                       CAST(CAST(n AS HUGEINT) * scc
                            - CAST(sc AS HUGEINT) * CAST(sc AS HUGEINT)
                            AS DOUBLE) AS dcc
                FROM s
            )
            SELECT event_type, n,
                   CASE WHEN dtt > 0
                        THEN round(dty / dtt * 3600.0 / 100.0, 6) + 0.0
                        END AS slope_per_hour,
                   CAST((2 * sc * 100 + n) // (2 * n) AS DOUBLE) / 10000.0
                       AS mean_value,
                   CASE WHEN dtt > 0 AND dcc > 0
                        THEN round(dty * dty / (dtt * dcc), 6)
                        END AS r2
            FROM m
        """,
        "agg_regression_funcs": """
            WITH raw AS (
                SELECT l_returnflag,
                       CAST(l_quantity AS BIGINT) AS q,
                       CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 100
                            AS HUGEINT) AS c
                FROM lineitem
            ),
            s AS (
                SELECT l_returnflag,
                       count(*) AS nl,
                       sum(q) AS sq,
                       sum(q * q) AS sq2,
                       sum(c) AS scd,
                       sum(c * c) AS sc2d,
                       sum(c * q) AS sqcd
                FROM raw GROUP BY 1
            ),
            m AS (
                SELECT l_returnflag, nl, sq, scd,
                       CAST(nl AS DOUBLE) AS n,
                       CAST(sq AS DOUBLE) AS sqf,
                       CAST(scd AS DOUBLE) AS scf,
                       CAST(CAST(nl AS HUGEINT) * sqcd
                            - CAST(sq AS HUGEINT) * scd AS DOUBLE) AS dxy,
                       CAST(CAST(nl AS HUGEINT) * CAST(sq2 AS HUGEINT)
                            - CAST(sq AS HUGEINT) * CAST(sq AS HUGEINT)
                            AS DOUBLE) AS dxx,
                       CAST(CAST(nl AS HUGEINT) * sc2d - scd * scd
                            AS DOUBLE) AS dyy,
                       scd * 100 AS sc100
                FROM s
            )
            SELECT l_returnflag,
                   CAST(nl AS BIGINT) AS n_pairs,
                   CAST((2 * CAST(sq AS HUGEINT) * 10000 + nl) // (2 * nl)
                        AS DOUBLE) / 10000.0 AS avg_qty,
                   CAST((2 * sc100 + nl) // (2 * nl) AS DOUBLE) / 10000.0
                        AS avg_price,
                   round(dxy / dxx / 100.0, 6) AS slope,
                   round(scf / 100.0 / n - (dxy / dxx / 100.0) * (sqf / n), 6)
                        AS intercept,
                   round((dxy * dxy) / (dxx * dyy), 6) AS r2,
                   round(dxy / sqrt(dxx * dyy), 6) AS pearson_r,
                   round(dxy / (n * (n - 1)) / 100.0, 6) AS covar_s,
                   round(dxy / (n * n) / 100.0, 6) AS covar_p
            FROM m ORDER BY 1
        """,
        "sim_pair_geometry": """
            WITH s(stride) AS (SELECT * FROM (VALUES (1), (7), (37))),
            e AS (SELECT vec_id, embedding FROM embeddings),
            p AS (
                SELECT stride,
                       a.embedding AS ea, b.embedding AS eb
                FROM e a
                JOIN s ON true
                JOIN e b ON b.vec_id = a.vec_id + stride
            ),
            c AS (
                SELECT stride,
                       list_sum(list_transform(list_zip(ea, eb),
                                q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(ea,
                                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(eb,
                                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                           AS cos
                FROM p
            ),
            b AS (
                SELECT stride,
                       CAST(floor(cos * 10) AS INT) AS bucket,
                       CAST(round(cos, 6) AS DECIMAL(18,6)) AS rc
                FROM c
            ),
            g AS (
                SELECT stride, bucket, count(*) AS n_pairs, sum(rc) AS src
                FROM b GROUP BY 1, 2
            ),
            t AS (SELECT stride, sum(n_pairs) AS n_total FROM g GROUP BY 1)
            SELECT stride, bucket, n_pairs,
                   round(n_pairs / CAST(n_total AS DOUBLE), 6) AS share,
                   CAST(src AS DOUBLE) / n_pairs AS mean_cos
            FROM g JOIN t USING (stride) ORDER BY stride, bucket
        """,
        # prefix-dim recall vs the full-width exact top-10: truth and
        # every prefix pass use the sim_cosine_topk discipline (6dp
        # cosine, corpus_id tie-break); recall is ONE double division
        # of exact integers — hash-safe with no rounding grid
        "sim_matryoshka_recall": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS qe FROM embeddings
                WHERE vec_id IN (0, 1, 2, 3, 4)
            ),
            widths AS (SELECT unnest([8, 16, 32]) AS pw),
            fullpairs AS (
                SELECT q.query_id, e.vec_id AS corpus_id,
                       round(
                         list_sum(list_transform(list_zip(q.qe, e.embedding),
                                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                         / (sqrt(list_sum(list_transform(q.qe,
                                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                            * sqrt(list_sum(list_transform(e.embedding,
                                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                         6) AS cosine
                FROM q, embeddings e WHERE e.vec_id <> q.query_id
            ),
            truth AS (
                SELECT query_id, corpus_id FROM (
                    SELECT *, row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, corpus_id) AS rnk
                    FROM fullpairs
                ) WHERE rnk <= 10
            ),
            prefpairs AS (
                SELECT w.pw, q.query_id, e.vec_id AS corpus_id,
                       round(
                         list_sum(list_transform(
                              list_zip(list_slice(q.qe, 1, w.pw),
                                       list_slice(e.embedding, 1, w.pw)),
                              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                         / (sqrt(list_sum(list_transform(list_slice(q.qe, 1, w.pw),
                                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                            * sqrt(list_sum(list_transform(list_slice(e.embedding, 1, w.pw),
                                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                         6) AS cosine
                FROM widths w, q, embeddings e WHERE e.vec_id <> q.query_id
            ),
            approx AS (
                SELECT pw, query_id, corpus_id FROM (
                    SELECT *, row_number() OVER (PARTITION BY pw, query_id
                            ORDER BY cosine DESC, corpus_id) AS rnk
                    FROM prefpairs
                ) WHERE rnk <= 10
            ),
            hits AS (
                SELECT a.pw, t.query_id, count(*) AS n_hits
                FROM truth t
                JOIN approx a ON a.query_id = t.query_id
                             AND a.corpus_id = t.corpus_id
                GROUP BY a.pw, t.query_id
            ),
            grid AS (
                SELECT w.pw, tq.query_id
                FROM widths w, (SELECT DISTINCT query_id FROM truth) tq
            )
            SELECT CAST(g.pw AS INTEGER) AS prefix_dims,
                   g.query_id AS query_id,
                   CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 10.0 AS recall_at_k
            FROM grid g
            LEFT JOIN hits h ON h.pw = g.pw AND h.query_id = g.query_id
            ORDER BY prefix_dims, query_id
        """,
        "sim_label_separation": """
            WITH scorable AS (
                SELECT * FROM embeddings
                WHERE embedding IS NOT NULL AND len(embedding) > 0
            ),
            e AS (
                SELECT vec_id, label,
                       generate_subscripts(embedding, 1) - 1 AS dim,
                       CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                                  * 1000000.0) AS BIGINT) AS qv
                FROM scorable
            ),
            sums AS (
                SELECT label, dim, CAST(sum(qv) AS HUGEINT) AS s
                FROM e GROUP BY 1, 2
            ),
            n_label AS (
                SELECT label, count(*) AS n_vecs FROM scorable GROUP BY 1
            ),
            norm2 AS (SELECT label, sum(s * s) AS c2 FROM sums GROUP BY 1),
            member AS (
                SELECT e.vec_id, e.label,
                       sum(CAST(e.qv AS HUGEINT) * s.s) AS dot,
                       sum(CAST(e.qv AS HUGEINT) * CAST(e.qv AS HUGEINT)) AS v2
                FROM e JOIN sums s ON s.label = e.label AND s.dim = e.dim
                GROUP BY 1, 2
            ),
            memcos AS (
                SELECT m.label,
                       CAST(floor(CAST(m.dot AS DOUBLE)
                            / sqrt(CAST(m.v2 AS DOUBLE)
                                   * CAST(n2.c2 AS DOUBLE))
                            * 1000000.0) AS BIGINT) AS cos_e6
                FROM member m JOIN norm2 n2 ON n2.label = m.label
                WHERE m.v2 > 0 AND n2.c2 > 0
            ),
            cohesion AS (
                SELECT label,
                       CAST(sum(cos_e6) AS DOUBLE) / count(*) / 1000000.0
                           AS within_cos
                FROM memcos GROUP BY 1
            ),
            pair_dot AS (
                SELECT a.label AS label_a, b.label AS label_b,
                       sum(a.s * b.s) AS dot_ab
                FROM sums a JOIN sums b
                  ON a.dim = b.dim AND a.label < b.label
                GROUP BY 1, 2
            )
            SELECT label_a, label_b,
                   CAST(ka.n_vecs AS BIGINT) AS n_a,
                   CAST(kb.n_vecs AS BIGINT) AS n_b,
                   round(CAST(dot_ab AS DOUBLE)
                         / sqrt(CAST(na.c2 AS DOUBLE) * CAST(nb.c2 AS DOUBLE)),
                         6) + 0.0 AS centroid_cos,
                   wa.within_cos AS within_a,
                   wb.within_cos AS within_b,
                   round((wa.within_cos + wb.within_cos) / 2
                         - CAST(dot_ab AS DOUBLE)
                           / sqrt(CAST(na.c2 AS DOUBLE)
                                  * CAST(nb.c2 AS DOUBLE)), 6) + 0.0
                       AS separation_margin
            FROM pair_dot
            JOIN norm2 na ON na.label = label_a
            JOIN norm2 nb ON nb.label = label_b
            JOIN cohesion wa ON wa.label = label_a
            JOIN cohesion wb ON wb.label = label_b
            JOIN n_label ka ON ka.label = label_a
            JOIN n_label kb ON kb.label = label_b
            ORDER BY label_a, label_b
        """,
        "sim_embedding_dim_profile": """
            WITH e AS (
                SELECT generate_subscripts(embedding, 1) - 1 AS dim,
                       unnest(embedding) AS v
                FROM embeddings
            ),
            q AS (
                SELECT dim, v,
                       CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT) AS qv
                FROM e
            ),
            g AS (
                SELECT dim,
                       count(*) AS n_vecs,
                       sum(qv) AS s1,
                       sum(qv * qv) AS s2,
                       CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_zero,
                       min(qv) AS mn,
                       max(qv) AS mx
                FROM q GROUP BY 1
            )
            SELECT dim,
                   n_vecs,
                   CAST(s1 AS DOUBLE) / n_vecs / 1000000.0 AS mean_v,
                   round(CAST(CAST(n_vecs AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)
                         / (CAST(n_vecs AS DOUBLE) * (CAST(n_vecs AS DOUBLE) - 1))
                         / 1000000000000.0, 6) AS var_v,
                   n_zero,
                   CAST(mn AS DOUBLE) / 1000000.0 AS min_v,
                   CAST(mx AS DOUBLE) / 1000000.0 AS max_v
            FROM g ORDER BY dim
        """,
        "events_stickiness": """
            WITH ud AS (
                SELECT DISTINCT user_id,
                       CAST(date_trunc('day', ts) AS DATE) AS day
                FROM events
            ),
            contrib AS (
                SELECT user_id, day + CAST(g AS INTEGER) AS day
                FROM ud, generate_series(0, 6) AS t(g)
            ),
            wau AS (SELECT day, count(DISTINCT user_id) AS wau
                    FROM contrib GROUP BY 1),
            dau AS (SELECT day, count(DISTINCT user_id) AS dau
                    FROM ud GROUP BY 1)
            SELECT dau.day, dau, wau,
                   round(dau / CAST(wau AS DOUBLE), 6) AS stickiness
            FROM dau JOIN wau USING (day) ORDER BY day
        """,
        "events_growth_accounting": """
            WITH uw AS (
                SELECT DISTINCT user_id,
                       CAST(date_trunc('week', ts) AS DATE) AS week
                FROM events
            ),
            st AS (
                SELECT week,
                       CASE WHEN prev_week IS NULL THEN 'new'
                            WHEN prev_week = week - 7 THEN 'retained'
                            ELSE 'resurrected' END AS state
                FROM (SELECT week,
                             lag(week) OVER (PARTITION BY user_id
                                             ORDER BY week) AS prev_week
                      FROM uw)
            ),
            counts AS (
                SELECT week,
                       CAST(sum(CASE WHEN state = 'new' THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_new,
                       CAST(sum(CASE WHEN state = 'retained' THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_retained,
                       CAST(sum(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_resurrected
                FROM st GROUP BY 1
            ),
            prev AS (SELECT week + 7 AS week,
                            n_new + n_retained + n_resurrected AS prev_active
                     FROM counts)
            SELECT c.week, n_new, n_retained, n_resurrected,
                   CAST(coalesce(prev_active, 0) - n_retained AS BIGINT)
                       AS n_churned
            FROM counts c LEFT JOIN prev USING (week)
            ORDER BY week
        """,
        "dq_cramers_v": """
            WITH p1c AS (
                SELECT o_orderpriority AS a, o_orderstatus AS b,
                       count(*) AS observed
                FROM orders GROUP BY 1, 2
            ),
            r1 AS (SELECT a, sum(observed) AS row_total FROM p1c GROUP BY 1),
            c1 AS (SELECT b, sum(observed) AS col_total FROM p1c GROUP BY 1),
            g1 AS (SELECT sum(observed) AS n_total, count(DISTINCT a) AS r,
                          count(DISTINCT b) AS c FROM p1c),
            w1 AS (
                SELECT observed,
                       CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
                           / CAST(n_total AS DOUBLE) AS e,
                       n_total, r, c
                FROM p1c JOIN r1 USING (a) JOIN c1 USING (b) CROSS JOIN g1
            ),
            s1 AS (
                SELECT n_total, r, c,
                       CAST(sum(CAST(round((observed - e) * (observed - e) / e,
                                           6) AS DECIMAL(18,6)))
                            AS DOUBLE) AS chi2
                FROM w1 GROUP BY 1, 2, 3
            ),
            p2c AS (
                SELECT o_orderpriority AS a,
                       CAST(year(o_orderdate) AS INT) AS b,
                       count(*) AS observed
                FROM orders GROUP BY 1, 2
            ),
            r2 AS (SELECT a, sum(observed) AS row_total FROM p2c GROUP BY 1),
            c2 AS (SELECT b, sum(observed) AS col_total FROM p2c GROUP BY 1),
            g2 AS (SELECT sum(observed) AS n_total, count(DISTINCT a) AS r,
                          count(DISTINCT b) AS c FROM p2c),
            w2 AS (
                SELECT observed,
                       CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
                           / CAST(n_total AS DOUBLE) AS e,
                       n_total, r, c
                FROM p2c JOIN r2 USING (a) JOIN c2 USING (b) CROSS JOIN g2
            ),
            s2 AS (
                SELECT n_total, r, c,
                       CAST(sum(CAST(round((observed - e) * (observed - e) / e,
                                           6) AS DECIMAL(18,6)))
                            AS DOUBLE) AS chi2
                FROM w2 GROUP BY 1, 2, 3
            )
            SELECT 'priority_x_status' AS pair, CAST(n_total AS BIGINT) AS n,
                   CAST(r AS BIGINT) AS r, CAST(c AS BIGINT) AS c,
                   CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
                   round(chi2, 6) AS chi2,
                   CASE WHEN least(r - 1, c - 1) > 0 THEN
                       round(sqrt(chi2 / CAST(n_total * least(r - 1, c - 1)
                                              AS DOUBLE)), 6)
                   END AS cramers_v
            FROM s1
            UNION ALL
            SELECT 'priority_x_year', CAST(n_total AS BIGINT),
                   CAST(r AS BIGINT), CAST(c AS BIGINT),
                   CAST((r - 1) * (c - 1) AS BIGINT),
                   round(chi2, 6),
                   CASE WHEN least(r - 1, c - 1) > 0 THEN
                       round(sqrt(chi2 / CAST(n_total * least(r - 1, c - 1)
                                              AS DOUBLE)), 6)
                   END
            FROM s2
            ORDER BY pair
        """,
        "dq_ljung_box": """
            WITH daily AS (
                SELECT CAST(o_orderdate AS DATE) AS day,
                       sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS x
                FROM orders GROUP BY 1
            ),
            tot AS (SELECT sum(x) AS c, count(*) AS n FROM daily),
            staged AS (
                SELECT day, n,
                       CAST(x AS HUGEINT) * n - c AS dev
                FROM daily, tot
            ),
            leads AS (
                SELECT n, dev,
                       lead(dev, 1) OVER (ORDER BY day) AS dev_1,
                       lead(dev, 2) OVER (ORDER BY day) AS dev_2,
                       lead(dev, 3) OVER (ORDER BY day) AS dev_3,
                       lead(dev, 4) OVER (ORDER BY day) AS dev_4,
                       lead(dev, 5) OVER (ORDER BY day) AS dev_5,
                       lead(dev, 6) OVER (ORDER BY day) AS dev_6,
                       lead(dev, 7) OVER (ORDER BY day) AS dev_7
                FROM staged
            ),
            agg AS (
                SELECT n, sum(dev * dev) AS den,
                       sum(dev * dev_1) AS num_1, sum(dev * dev_2) AS num_2,
                       sum(dev * dev_3) AS num_3, sum(dev * dev_4) AS num_4,
                       sum(dev * dev_5) AS num_5, sum(dev * dev_6) AS num_6,
                       sum(dev * dev_7) AS num_7
                FROM leads GROUP BY 1
            ),
            -- HUGEINT → DOUBLE routed through VARCHAR: strtod is
            -- CORRECTLY ROUNDED, matching Spark's BigDecimal.doubleValue
            -- on the decimal(38,0) side; DuckDB's native hugeint→double
            -- cast (double(upper)·2⁶⁴ + double(lower)) double-rounds and
            -- can land one ulp off the correctly-rounded value
            rhos AS (
                SELECT n,
                       CAST(CAST(num_1 AS VARCHAR) AS DOUBLE)
                           / CAST(CAST(den AS VARCHAR) AS DOUBLE) AS r1,
                       CAST(CAST(num_2 AS VARCHAR) AS DOUBLE)
                           / CAST(CAST(den AS VARCHAR) AS DOUBLE) AS r2,
                       CAST(CAST(num_3 AS VARCHAR) AS DOUBLE)
                           / CAST(CAST(den AS VARCHAR) AS DOUBLE) AS r3,
                       CAST(CAST(num_4 AS VARCHAR) AS DOUBLE)
                           / CAST(CAST(den AS VARCHAR) AS DOUBLE) AS r4,
                       CAST(CAST(num_5 AS VARCHAR) AS DOUBLE)
                           / CAST(CAST(den AS VARCHAR) AS DOUBLE) AS r5,
                       CAST(CAST(num_6 AS VARCHAR) AS DOUBLE)
                           / CAST(CAST(den AS VARCHAR) AS DOUBLE) AS r6,
                       CAST(CAST(num_7 AS VARCHAR) AS DOUBLE)
                           / CAST(CAST(den AS VARCHAR) AS DOUBLE) AS r7
                FROM agg
            )
            SELECT CAST(n AS BIGINT) AS n_days,
                   r1 AS rho_1, r2 AS rho_2, r3 AS rho_3, r4 AS rho_4,
                   r5 AS rho_5, r6 AS rho_6, r7 AS rho_7,
                   CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2) * (
                       r1 * r1 / (CAST(n AS DOUBLE) - 1)
                       + r2 * r2 / (CAST(n AS DOUBLE) - 2.0)
                       + r3 * r3 / (CAST(n AS DOUBLE) - 3.0)
                       + r4 * r4 / (CAST(n AS DOUBLE) - 4.0)
                       + r5 * r5 / (CAST(n AS DOUBLE) - 5.0)
                       + r6 * r6 / (CAST(n AS DOUBLE) - 6.0)
                       + r7 * r7 / (CAST(n AS DOUBLE) - 7.0)
                   ) AS q_stat
            FROM rhos
        """,
        "dq_page_hinkley": """
            WITH daily AS (
                SELECT CAST(o_orderdate AS DATE) AS day,
                       sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS x
                FROM orders GROUP BY 1
            ),
            tot AS (SELECT sum(x) AS c_total, count(*) AS nd FROM daily),
            cum AS (
                SELECT day, c_total, nd,
                       sum(x) OVER (ORDER BY day
                                    ROWS UNBOUNDED PRECEDING) AS s_cum,
                       row_number() OVER (ORDER BY day) AS t
                FROM daily, tot
            ),
            m AS (
                SELECT day, c_total, nd,
                       s_cum * nd - t * c_total AS m_scaled
                FROM cum
            ),
            ph AS (
                SELECT day, c_total, nd,
                       m_scaled - min(m_scaled) OVER (ORDER BY day
                           ROWS UNBOUNDED PRECEDING) AS ph_inc,
                       max(m_scaled) OVER (ORDER BY day
                           ROWS UNBOUNDED PRECEDING) - m_scaled AS ph_dec
                FROM m
            )
            SELECT CAST(date_trunc('month', day) AS DATE) AS month,
                   CAST(count(*) AS BIGINT) AS n_days,
                   CAST(max(ph_inc) AS DOUBLE)
                       / CAST(first(nd) AS DOUBLE) AS ph_inc_max,
                   CAST(max(ph_dec) AS DOUBLE)
                       / CAST(first(nd) AS DOUBLE) AS ph_dec_max,
                   CAST(sum(CASE WHEN ph_inc > 30 * c_total THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_alarm_inc,
                   CAST(sum(CASE WHEN ph_dec > 30 * c_total THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_alarm_dec
            FROM ph GROUP BY 1 ORDER BY 1
        """,
        "dq_control_chart": """
            WITH daily AS (
                SELECT CAST(o_orderdate AS DATE) AS day,
                       sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS x
                FROM orders GROUP BY 1
            ),
            mrt AS (
                SELECT day, x,
                       abs(x - lag(x) OVER (ORDER BY day)) AS mr
                FROM daily
            ),
            tot AS (
                SELECT sum(x) AS c, count(*) AS nd,
                       sum(mr) AS mr_c, count(mr) AS n_mr
                FROM mrt
            ),
            j AS (SELECT day, x, c, nd, mr_c, n_mr FROM mrt, tot)
            SELECT CAST(date_trunc('month', day) AS DATE) AS month,
                   CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(CASE WHEN (CAST(x AS HUGEINT) * nd - c) * 100 * n_mr
                                      > 266 * CAST(mr_c AS HUGEINT) * nd
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_above_ucl,
                   CAST(sum(CASE WHEN -((CAST(x AS HUGEINT) * nd - c) * 100 * n_mr)
                                      > 266 * CAST(mr_c AS HUGEINT) * nd
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_below_lcl,
                   CAST(first(c) AS DOUBLE) / CAST(first(nd) AS DOUBLE)
                       AS center_cents,
                   CAST(first(mr_c) AS DOUBLE) / CAST(first(n_mr) AS DOUBLE)
                       AS mrbar_cents
            FROM j GROUP BY 1 ORDER BY 1
        """,
        "dq_chi_squared": """
            WITH cells AS (
                SELECT event_type,
                       CAST(hour(ts) // 6 AS INT) AS day_quarter,
                       count(*) AS observed
                FROM events GROUP BY 1, 2
            ),
            row_m AS (SELECT event_type, sum(observed) AS row_total
                      FROM cells GROUP BY 1),
            col_m AS (SELECT day_quarter, sum(observed) AS col_total
                      FROM cells GROUP BY 1),
            grand AS (SELECT sum(observed) AS n_total FROM cells),
            wc AS (
                SELECT c.event_type, c.day_quarter, c.observed,
                       CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
                           / CAST(n_total AS DOUBLE) AS e
                FROM cells c
                JOIN row_m USING (event_type)
                JOIN col_m USING (day_quarter)
                CROSS JOIN grand
            ),
            wc2 AS (
                SELECT event_type, day_quarter, observed,
                       round(e, 6) AS expected,
                       round((observed - e) * (observed - e) / e, 6)
                           AS chi2_contrib
                FROM wc
            ),
            tot AS (
                SELECT CAST(sum(CAST(chi2_contrib AS DECIMAL(18,6)))
                            AS DOUBLE) AS chi2_stat
                FROM wc2
            )
            SELECT event_type, day_quarter, observed, expected,
                   chi2_contrib, chi2_stat
            FROM wc2 CROSS JOIN tot ORDER BY 1, 2
        """,
        "dq_completeness_profile": """
            WITH w AS (
                SELECT count(*) AS n_rows,
                       count(o_orderkey) AS f1, count(DISTINCT o_orderkey) AS d1,
                       count(o_custkey) AS f2, count(DISTINCT o_custkey) AS d2,
                       count(o_orderstatus) AS f3, count(DISTINCT o_orderstatus) AS d3,
                       count(o_totalprice) AS f4, count(DISTINCT o_totalprice) AS d4,
                       count(o_orderdate) AS f5, count(DISTINCT o_orderdate) AS d5,
                       count(o_orderpriority) AS f6, count(DISTINCT o_orderpriority) AS d6
                FROM orders
            ),
            lng AS (
                SELECT 'o_orderkey' AS column_name, n_rows, f1 AS n_filled, d1 AS n_distinct FROM w
                UNION ALL SELECT 'o_custkey', n_rows, f2, d2 FROM w
                UNION ALL SELECT 'o_orderstatus', n_rows, f3, d3 FROM w
                UNION ALL SELECT 'o_totalprice', n_rows, f4, d4 FROM w
                UNION ALL SELECT 'o_orderdate', n_rows, f5, d5 FROM w
                UNION ALL SELECT 'o_orderpriority', n_rows, f6, d6 FROM w
            )
            SELECT column_name, n_rows, n_filled, n_distinct,
                   round((n_rows - n_filled) / CAST(n_rows AS DOUBLE), 6)
                       AS null_share
            FROM lng ORDER BY column_name
        """,
        "tpch_seasonal_index": """
            WITH monthly AS (
                SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
                       sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS month_cents
                FROM orders GROUP BY 1, 2
            ),
            pm AS (
                SELECT m, count(*) AS n_years, sum(month_cents) AS sum_cents
                FROM monthly GROUP BY 1
            ),
            ov AS (SELECT sum(sum_cents) AS total_cents,
                          sum(n_years) AS n_months FROM pm)
            SELECT m AS month_of_year,
                   n_years,
                   CAST((2 * sum_cents + n_years) // (2 * n_years) AS DOUBLE)
                       / 100.0 AS avg_month_revenue,
                   round(CAST(sum_cents AS DOUBLE) / n_years
                         / (CAST(total_cents AS DOUBLE) / n_months), 6)
                       AS seasonal_index
            FROM pm CROSS JOIN ov ORDER BY month_of_year
        """,
        "dedup_lsh_scurve": """
            WITH grid AS (
                SELECT CAST(g AS DOUBLE) / 20.0 AS j
                FROM generate_series(1, 19) t(g)
            ),
            cfg AS (SELECT * FROM (VALUES (2, 8), (4, 4), (8, 2)) AS c(b, r))
            SELECT b AS bands, r AS rows_per_band,
                   round(j, 2) AS jaccard,
                   round(1 - pow(1 - pow(j, r), b), 6) AS p_candidate
            FROM grid CROSS JOIN cfg
            ORDER BY bands, jaccard
        """,
        "tpch_basket_affinity": """
            WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
            pc AS (SELECT l_partkey, count(*) AS cnt FROM items GROUP BY 1),
            pairs AS (
                SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                       count(*) AS n_together
                FROM items a JOIN items b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2 HAVING count(*) >= 3
            )
            SELECT part_a, part_b, n_together,
                   ca.cnt AS cnt_a, cb.cnt AS cnt_b,
                   round(n_together / CAST(n_orders AS DOUBLE), 6) AS support,
                   round(CAST(n_together AS DOUBLE) * CAST(n_orders AS DOUBLE)
                         / ca.cnt / cb.cnt, 6) AS lift
            FROM pairs
            JOIN pc ca ON part_a = ca.l_partkey
            JOIN pc cb ON part_b = cb.l_partkey
            CROSS JOIN tot
            ORDER BY lift DESC, part_a, part_b LIMIT 100
        """,
        "dq_benford": """
            WITH c AS (
                SELECT CAST(floor(o_totalprice
                           / pow(10.0, floor(log10(o_totalprice)))) AS INTEGER)
                           AS digit,
                       count(*) AS n
                FROM orders WHERE o_totalprice > 0 GROUP BY 1
            ), t AS (SELECT sum(n) AS n_total FROM c)
            SELECT digit, n,
                   round(n / n_total, 6) AS share,
                   round(log10(1 + 1.0 / digit), 6) AS benford_share,
                   round(n / n_total - log10(1 + 1.0 / digit), 6) AS deviation
            FROM c CROSS JOIN t ORDER BY digit
        """,
        "window_moving_median": """
            WITH f AS (
                SELECT user_id, event_id,
                       round(quantile_cont(value, 0.5) OVER w, 6) AS med_11,
                       round(quantile_cont(value, 0.25) OVER w, 6) AS p25_11,
                       round(quantile_cont(value, 0.75) OVER w, 6) AS p75_11,
                       count(*) OVER w AS n_in_frame
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)
            )
            SELECT * FROM f WHERE n_in_frame >= 3
        """,
        "events_streaks": """
            WITH days AS (
                SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
            ), runs AS (
                SELECT user_id,
                       day - CAST(row_number() OVER (
                           PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
                FROM days
            ), streaks AS (
                SELECT user_id, grp, count(*) AS streak_len
                FROM runs GROUP BY 1, 2
            )
            SELECT user_id,
                   CAST(sum(streak_len) AS BIGINT) AS n_active_days,
                   CAST(max(streak_len) AS INTEGER) AS longest_streak,
                   CAST(count(*) AS INTEGER) AS n_streaks
            FROM streaks GROUP BY 1 ORDER BY 1
        """,
        "agg_mad_outliers": """
            WITH med AS (
                SELECT event_type, median(value) AS median_value
                FROM events GROUP BY 1
            ),
            dev AS (
                SELECT e.event_type, e.value, m.median_value,
                       abs(e.value - m.median_value) AS abs_dev
                FROM events e JOIN med m USING (event_type)
            ),
            mad AS (
                SELECT event_type, any_value(median_value) AS median_value,
                       median(abs_dev) AS mad
                FROM dev GROUP BY 1
            )
            SELECT d.event_type,
                   count(*) AS n_events,
                   round(any_value(m.median_value), 6) AS median_value,
                   round(any_value(m.mad), 6) AS mad,
                   CAST(sum(CASE WHEN d.abs_dev > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM dev d JOIN mad m ON d.event_type = m.event_type
            GROUP BY 1
        """,
        "sim_quantize_int8": """
            WITH v AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
                FROM embeddings
            ),
            s AS (
                SELECT vec_id, ve,
                       list_max(list_transform(ve, x -> abs(x))) AS absmax
                FROM v
            ),
            q AS (
                SELECT vec_id, ve, absmax, absmax / 127.0 AS scale,
                       list_transform(ve, x -> CAST(round(x / (absmax / 127.0)) AS INTEGER)) AS qv
                FROM s
            )
            SELECT vec_id,
                   round(absmax, 6) AS abs_max,
                   round(scale, 6) AS scale,
                   round(list_max(list_transform(list_zip(ve, qv),
                         p -> abs(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * scale))), 6) AS max_recon_err,
                   CAST(len(list_filter(qv, x -> x = 0)) AS INTEGER) AS n_zero_codes
            FROM q
        """,
        "sim_quantize_dim_minmax": """
            WITH dims AS (
                SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
                FROM embeddings,
                     unnest(generate_series(1, len(embedding))) AS g(i)
            ),
            stats AS (
                SELECT pos, min(v) AS d_min, max(v) AS d_max FROM dims GROUP BY 1
            ),
            qd AS (
                SELECT vec_id, v, d_min, d_max,
                       CASE WHEN d_max > d_min THEN
                           greatest(0.0, least(255.0,
                               floor((v - d_min) / ((d_max - d_min) / 255.0) + 0.5)))
                       ELSE 0.0 END AS q
                FROM dims JOIN stats USING (pos)
            ),
            ed AS (
                SELECT vec_id, q,
                       CASE WHEN d_max > d_min THEN
                           v - (d_min + q * ((d_max - d_min) / 255.0))
                       ELSE 0.0 END AS err
                FROM qd
            )
            SELECT vec_id, CAST(count(*) AS BIGINT) AS dim,
                   round(sqrt(sum(err * err)), 6) AS l2_err,
                   round(max(abs(err)), 6) AS linf_err,
                   round(avg(q), 6) AS mean_q
            FROM ed GROUP BY 1
        """,
        "pandas_grouped_zscore": """
            SELECT doc_id, lang,
                   round((n_chars - avg(n_chars) OVER (PARTITION BY lang))
                         / stddev_samp(n_chars) OVER (PARTITION BY lang), 4) AS z_chars
            FROM documents
        """,
        "pandas_scalar_logistic": """
            SELECT doc_id,
                   round(1.0 / (1.0 + exp(-((n_chars - 250.0) / 100.0))), 6) AS quality_sigmoid
            FROM documents
        """,
        "pandas_udaf_geomean": """
            SELECT o_orderpriority,
                   round(exp(avg(ln(o_totalprice))), 4) AS geo_mean_price
            FROM orders GROUP BY 1
        """,
        "udtf_top_tokens": f"""
            WITH d AS (
                SELECT doc_id, string_split({_NORM}, ' ') AS toks
                FROM documents WHERE doc_id < 50
            ),
            e AS (SELECT doc_id, unnest(toks) AS token FROM d),
            c AS (SELECT doc_id, token, count(*) AS n FROM e GROUP BY 1, 2)
            SELECT doc_id, token, n, CAST(rank AS INTEGER) AS rank FROM (
                SELECT *, row_number() OVER (PARTITION BY doc_id
                           ORDER BY n DESC, token) AS rank
                FROM c
            ) WHERE rank <= 3
        """,
        "mm_decode_metadata": """
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
                   CAST(octet_length(encode(text)) % 640 + 16 AS INTEGER) AS width,
                   CAST(octet_length(encode(text)) % 480 + 16 AS INTEGER) AS height,
                   CAST(octet_length(encode(text)) % 3 + 1 AS INTEGER) AS channels,
                   'fakeimg' AS format
            FROM documents
        """,
        "mm_payload_profile": """
            WITH g AS (
                SELECT source,
                       count(*) AS n_assets,
                       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
                       CAST(max(octet_length(encode(text))) AS INTEGER) AS max_bytes
                FROM documents GROUP BY 1
            )
            SELECT source, n_assets, total_bytes,
                   CAST((2 * total_bytes * 10000 + n_assets) // (2 * n_assets)
                        AS DOUBLE) / 10000.0 AS avg_bytes,
                   max_bytes
            FROM g
        """,
        "mm_audio_metadata": """
            SELECT doc_id,
                   'wav' AS format,
                   CAST(1 AS INTEGER) AS n_channels,
                   CAST(8000 AS INTEGER) AS sample_rate,
                   CAST(16 AS INTEGER) AS bits_per_sample,
                   CAST(2000 + n_chars % 100 AS BIGINT) AS n_samples,
                   CAST(2000 + n_chars % 100 AS DOUBLE) / 8000 AS duration_s
            FROM documents
        """,
        "mm_video_metadata": """
            SELECT doc_id,
                   'mp4' AS format,
                   'isom' AS brand,
                   CAST(600 AS INTEGER) AS timescale,
                   CAST((5 + doc_id % 20) * 600 AS BIGINT) AS duration_ticks,
                   CAST(5 + doc_id % 20 AS DOUBLE) AS duration_s,
                   CAST(1 + doc_id % 2 AS INTEGER) AS n_tracks
            FROM documents
        """,
        "mm_decode_real_headers": """
            SELECT doc_id,
                   CAST(n_chars % 600 + 1 AS INTEGER) AS width,
                   CAST(doc_id % 400 + 1 AS INTEGER) AS height,
                   'gif' AS format
            FROM documents
        """,
        "mm_resize_metadata": """
            WITH g AS (
                SELECT doc_id,
                       octet_length(encode(text)) % 640 + 16 AS w,
                       octet_length(encode(text)) % 480 + 16 AS h
                FROM documents
            ),
            s AS (
                SELECT doc_id, w, h,
                       least(least(64.0 / w, 64.0 / h), 1.0) AS scale
                FROM g
            )
            SELECT doc_id,
                   CAST(w AS INTEGER) AS orig_w,
                   CAST(h AS INTEGER) AS orig_h,
                   CAST(greatest(CAST(floor(w * scale) AS BIGINT), 1) AS INTEGER) AS new_w,
                   CAST(greatest(CAST(floor(h * scale) AS BIGINT), 1) AS INTEGER) AS new_h
            FROM s
        """,
        "mm_frame_sample": """
            WITH v AS (
                SELECT doc_id,
                       octet_length(encode(text)) % 100 + 1 AS total_frames
                FROM documents
            ),
            p AS (
                SELECT doc_id, total_frames,
                       greatest(total_frames // 4, 1) AS step
                FROM v
            ),
            e AS (
                SELECT doc_id, total_frames,
                       unnest(generate_series(0, total_frames - 1, step)) AS idx
                FROM p
            )
            SELECT doc_id, CAST(idx AS INTEGER) AS frame_idx,
                   CAST(total_frames AS INTEGER) AS total_frames
            FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS rn FROM e)
            WHERE rn <= 4
        """,
        "tpch_shipping_priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority, revenue FROM (
                SELECT l_orderkey, o_orderdate, o_orderpriority,
                       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                WHERE l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
                  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
                  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
                GROUP BY 1, 2, 3
            ) ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        "tpch_local_supplier_volume": """
            SELECT n_name AS nation,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY 1
        """,
        "tpch_returned_items": """
            SELECT c_custkey, c_name, c_mktsegment, lost_revenue FROM (
                SELECT c_custkey, c_name, c_mktsegment,
                       round(sum(l_extendedprice * (1 - l_discount)), 2) AS lost_revenue
                FROM lineitem
                JOIN orders   ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                WHERE l_returnflag = 'R'
                GROUP BY 1, 2, 3
            ) ORDER BY lost_revenue DESC, c_custkey LIMIT 20
        """,
        "tpch_big_spenders": """
            WITH totals AS (
                SELECT o_custkey, sum(o_totalprice) AS spend FROM orders GROUP BY 1
            ),
            a AS (SELECT avg(spend) AS avg_spend FROM totals)
            SELECT c_mktsegment,
                   count(*) AS n_big_spenders,
                   round(sum(spend), 2) AS total_spend
            FROM totals, a
            JOIN customer ON o_custkey = c_custkey
            WHERE spend > 2 * avg_spend
            GROUP BY 1
        """,
        "tpch_forecast_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "tpch_promo_revenue": """
            SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                          THEN l_extendedprice * (1 - l_discount)
                                          ELSE 0.0 END)
                         / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_pct,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1997-06-01'
              AND l_shipdate <  TIMESTAMP '1997-07-01'
        """,
        "tpch_min_cost_supplier": """
            WITH eur AS (
                SELECT s_suppkey, s_name, n_name
                FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'EUROPE'
            ),
            ps AS (
                SELECT p_partkey, p_brand, s_suppkey, s_name, n_name,
                       ((p_partkey * 31 + s_suppkey * 17) % 10000) / 100.0
                           AS supplycost
                FROM (SELECT p_partkey, p_brand FROM part
                      WHERE p_type LIKE '%STANDARD%') p
                JOIN eur ON (p_partkey + s_suppkey) % 4 = 0
            ),
            mins AS (
                SELECT p_partkey, min(supplycost) AS min_cost
                FROM ps GROUP BY 1
            )
            SELECT ps.p_partkey, p_brand, s_name, n_name AS nation,
                   round(min_cost, 2) AS supplycost
            FROM ps JOIN mins ON ps.p_partkey = mins.p_partkey
                 AND ps.supplycost = mins.min_cost
        """,
        "tpch_top_supplier": """
            WITH rev AS (
                SELECT l_suppkey,
                       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l_shipdate <  TIMESTAMP '1997-04-01'
                GROUP BY 1
            )
            SELECT s_suppkey AS suppkey, s_name, total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        """,
        "tpch_large_orders": """
            WITH big AS (
                SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
                FROM lineitem GROUP BY 1
                HAVING round(sum(l_quantity), 2) > 200.0
            )
            SELECT c_custkey, c_name, o_orderkey, o_orderdate,
                   round(o_totalprice, 2) AS totalprice, total_qty
            FROM big
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY totalprice DESC, o_orderkey LIMIT 50
        """,
        "tpch_volume_shipping": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS INTEGER) AS ship_year,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE n1.n_name <> n2.n_name
            GROUP BY 1, 2, 3
        """,
        "tpch_small_qty_revenue": """
            WITH li AS (
                SELECT l.* FROM lineitem l
                WHERE EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#1')
            ),
            a AS (SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_cut FROM li GROUP BY 1)
            SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
                   count(*) AS n_items
            FROM li JOIN a USING (l_partkey)
            WHERE l_quantity < qty_cut
        """,
        "dedup_embedding_cosine": """
            WITH v AS (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
                FROM embeddings
            ),
            n AS (
                SELECT vec_id, ve,
                       sqrt(list_sum(list_transform(ve, x -> x * x))) AS nrm
                FROM v
            )
            SELECT vec_a, vec_b, cosine FROM (
                SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                       round(list_sum(list_transform(list_zip(a.ve, b.ve),
                             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                             / (a.nrm * b.nrm), 6) AS cosine
                FROM n a JOIN n b ON a.vec_id < b.vec_id
            ) WHERE cosine >= 0.4
        """,
        "dedup_cosine_sweep": """
            WITH v AS (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
                FROM embeddings
            ),
            n AS (
                SELECT vec_id, ve,
                       sqrt(list_sum(list_transform(ve, x -> x * x))) AS nrm
                FROM v
            ),
            pairs AS (
                SELECT cosine FROM (
                    SELECT round(list_sum(list_transform(list_zip(a.ve, b.ve),
                                 p -> CAST(p[1] AS DOUBLE)
                                      * CAST(p[2] AS DOUBLE)))
                                 / (a.nrm * b.nrm), 6) AS cosine
                    FROM n a JOIN n b ON a.vec_id < b.vec_id
                ) WHERE cosine >= 0.4
            ),
            grid AS (
                SELECT CAST(40 + 5 * g AS INTEGER) AS threshold_pct
                FROM generate_series(0, 6) AS t(g)
            ),
            counts AS (
                SELECT threshold_pct,
                       CAST(sum(CASE WHEN cosine >= threshold_pct / 100.0
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
                FROM pairs CROSS JOIN grid
                GROUP BY 1
            )
            SELECT g.threshold_pct,
                   CAST(coalesce(c.n_pairs, 0) AS BIGINT) AS n_pairs
            FROM grid g LEFT JOIN counts c USING (threshold_pct)
            ORDER BY 1
        """,
        "pivot_status_by_priority": """
            SELECT o_orderpriority,
                   count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
                   count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
                   count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
            FROM orders GROUP BY 1
        """,
        "unpivot_order_measures": """
            WITH g AS (
                SELECT o_orderpriority,
                       round(min(o_totalprice), 2) AS min_price,
                       round(max(o_totalprice), 2) AS max_price,
                       sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS sc,
                       count(*) AS n
                FROM orders GROUP BY 1
            ),
            wide AS (
                SELECT o_orderpriority, min_price, max_price,
                       CAST((2 * sc + n) // (2 * n) AS DOUBLE) / 100.0 AS avg_price
                FROM g
            )
            SELECT o_orderpriority, 'min_price' AS measure, min_price AS value FROM wide
            UNION ALL
            SELECT o_orderpriority, 'max_price', max_price FROM wide
            UNION ALL
            SELECT o_orderpriority, 'avg_price', avg_price FROM wide
        """,
        "sample_deterministic": """
            WITH g AS (
                SELECT o_orderstatus,
                       count(*) AS n_sampled,
                       sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS sc
                FROM orders WHERE o_orderkey % 10 = 0 GROUP BY 1
            )
            SELECT o_orderstatus, n_sampled,
                   CAST((2 * sc * 100 + n_sampled) // (2 * n_sampled)
                        AS DOUBLE) / 10000.0 AS avg_price
            FROM g
        """,
        "agg_exact_percentiles": """
            SELECT o_orderpriority,
                   round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
                   round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price
            FROM orders GROUP BY 1
        """,
        "semantic_ohlcv_daily": """
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   event_type AS symbol,
                   count(*) AS n,
                   round(sum(value), 4) AS value_sum,
                   ((CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) * 200 + count(*))
                    // (2 * count(*))) / 10000.0 AS value_avg,
                   round(min(value), 4) AS value_min,
                   round(max(value), 4) AS value_max
            FROM events GROUP BY 1, 2
        """,
        "events_interpolate_hourly": """
            WITH hourly AS (
                SELECT event_type AS series,
                       CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
                       count(*) AS n,
                       sum(CAST(round(value * 100) AS BIGINT)) AS sum_cents
                FROM events GROUP BY 1, 2
            ),
            obs AS (
                SELECT series, hour,
                       (sum_cents * 200 + n) // (2 * n) AS avg_e4
                FROM hourly
            ),
            spine AS (
                SELECT series,
                       unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
                FROM (SELECT series, min(hour) AS h0, max(hour) AS h1
                      FROM obs GROUP BY 1)
            ),
            grid AS (
                SELECT s.series, s.hour, o.avg_e4
                FROM spine s LEFT JOIN obs o USING (series, hour)
            ),
            filled AS (
                SELECT series, hour, avg_e4,
                       last_value(avg_e4 IGNORE NULLS) OVER back AS pv,
                       last_value(CASE WHEN avg_e4 IS NOT NULL THEN hour END IGNORE NULLS)
                           OVER back AS ph,
                       first_value(avg_e4 IGNORE NULLS) OVER fwd AS nv,
                       first_value(CASE WHEN avg_e4 IS NOT NULL THEN hour END IGNORE NULLS)
                           OVER fwd AS nh
                FROM grid
                WINDOW back AS (PARTITION BY series ORDER BY hour
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       fwd AS (PARTITION BY series ORDER BY hour
                               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT series, hour, (avg_e4 IS NOT NULL) AS observed,
                   CAST(CASE WHEN avg_e4 IS NOT NULL THEN avg_e4 * 100
                             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                                 ((pv * CAST(epoch(nh) - epoch(hour) AS BIGINT)
                                   + nv * CAST(epoch(hour) - epoch(ph) AS BIGINT)) * 200
                                  + CAST(epoch(nh) - epoch(ph) AS BIGINT))
                                 // (2 * CAST(epoch(nh) - epoch(ph) AS BIGINT))
                        END AS BIGINT) / 1000000.0 AS value
            FROM filled
        """,
        "semantic_cube_request": """
            SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month,
                   event_type AS symbol,
                   user_id % 10 AS cohort,
                   count(*) AS n_events,
                   round(sum(value), 4) AS value_sum,
                   round(min(value), 4) AS value_min,
                   round(max(value), 4) AS value_max
            FROM events GROUP BY 1, 2, 3
        """,
        "semantic_prediction_join": """
            WITH daily AS (
                SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                       event_type AS symbol,
                       (CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) * 200 + count(*))
                           // (2 * count(*)) AS avg_e4
                FROM events GROUP BY 1, 2
            ),
            pred AS (
                SELECT day + INTERVAL 1 DAY AS day, symbol, avg_e4 AS pred_e4
                FROM daily
            )
            SELECT d.day, d.symbol,
                   d.avg_e4 / 10000.0 AS value_avg,
                   p.pred_e4 / 10000.0 AS value_predicted,
                   (d.avg_e4 - p.pred_e4) / 10000.0 AS prediction_error
            FROM daily d LEFT JOIN pred p ON d.day = p.day AND d.symbol = p.symbol
        """,
        "events_tumbling": _TUMBLING_ORACLE,
        "events_sliding": _SLIDING_ORACLE,
        "streaming_sliding": _SLIDING_ORACLE,
        "events_sessionize": """
            WITH lagged AS (
                SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
                FROM events
            ),
            flagged AS (
                SELECT *, CASE WHEN prev_ts IS NULL THEN 1
                               WHEN epoch(ts) - epoch(prev_ts) > 1800 THEN 1
                               ELSE 0 END AS new_s
                FROM lagged
            ),
            sess AS (
                SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
                FROM flagged
            )
            SELECT user_id, session_seq,
                   count(*) AS n_events,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   round(sum(value), 2) AS session_value
            FROM sess GROUP BY 1, 2
        """,
        "streaming_tumbling": _TUMBLING_ORACLE,
        # r16 rows-only -> oracle conversion: the append-mode tail is
        # DETERMINISTIC under this harness (single-file source -> one
        # data micro-batch, then the no-data batch advances the
        # watermark to its final value), so the withheld set replays
        # exactly. Final watermark = ms-TRUNCATED max event time minus
        # the delay (probed empirically r16: a max ts of
        # 14:00:00.000999 does NOT lift the watermark past 12:00); a
        # 60-min window EMITS iff epoch_ms(window end) <= watermark
        # (end == wm emits; wm = end - 1ms does not — both probed).
        # Level-2 needs no separate filter derivation: an emitted w2
        # has end <= wm, so every level-1 child (end <= w2 end) was
        # appended in the same batch.
        "streaming_two_level_agg": """
            WITH lvl1 AS (
                SELECT date_trunc('hour', ts)
                       + to_minutes(CAST(floor(minute(ts)/10)*10 AS BIGINT))
                         AS w1s,
                       event_type, count(*) AS n
                FROM events GROUP BY 1, 2
            ),
            w2 AS (
                SELECT date_trunc('hour', w1s) AS win_start, event_type,
                       max(n) AS max_10min_n,
                       CAST(sum(n) AS BIGINT) AS total_n
                FROM lvl1 GROUP BY 1, 2
            )
            SELECT win_start, event_type, max_10min_n, total_n
            FROM w2, (SELECT (epoch_us(max(ts)) // 1000) * 1000
                             - 3600000000 AS wm_us
                      FROM events) wm
            WHERE epoch_us(win_start) + 3600000000 <= wm.wm_us
        """,
        # NEW r18: join→window chained stateful — matched pairs replay
        # as the batch interval join (match-time emission, single data
        # batch); the downstream window emits iff win_end < the join
        # OUTPUT watermark, i.e. the global watermark (min side maxima,
        # ms-truncated, − 2 h) further delayed by the join's 60-min
        # interval bound. STRICT (<): probed empirically at the exact
        # boundary (withheld) and 1 ms under (emits).
        "streaming_join_window": """
            WITH clicks AS (
                SELECT event_id AS click_id, user_id, ts AS click_ts
                FROM events WHERE event_type = 'click'
            ),
            purchases AS (
                SELECT event_id AS purchase_id, user_id AS p_user,
                       ts AS purchase_ts
                FROM events WHERE event_type = 'purchase'
            ),
            wm AS (
                SELECT CASE WHEN cm IS NULL OR pm IS NULL THEN NULL
                            ELSE least(cm, pm) - 7200000000 - 3600000000
                       END AS jwm_us
                FROM (SELECT
                    (SELECT (epoch_us(max(click_ts)) // 1000) * 1000
                     FROM clicks) AS cm,
                    (SELECT (epoch_us(max(purchase_ts)) // 1000) * 1000
                     FROM purchases) AS pm)
            ),
            matched AS (
                SELECT p.purchase_ts, p.p_user AS user_id
                FROM clicks c JOIN purchases p
                  ON c.user_id = p.p_user
                 AND p.purchase_ts > c.click_ts
                 AND epoch_us(p.purchase_ts)
                     <= epoch_us(c.click_ts) + 3600000000
            ),
            win AS (
                SELECT date_trunc('hour', purchase_ts)
                       + to_minutes(CAST(floor(minute(purchase_ts)/30)*30
                                         AS BIGINT)) AS win_start,
                       CAST(user_id % 4 AS BIGINT) AS user_bucket,
                       CAST(count(*) AS BIGINT) AS n_matches
                FROM matched GROUP BY 1, 2
            )
            SELECT win_start, user_bucket, n_matches
            FROM win, wm
            WHERE epoch_us(win_start) + 1800000000 < wm.jwm_us
        """,
        # NEW r16: full-outer completes the join-mode matrix — both
        # sides' unmatched rows replay under the same final watermark,
        # left STRICT at click_ts + interval (as in the left-outer
        # oracle below), right INCLUSIVE at purchase_ts (a click at
        # exactly the watermark cannot match: the join needs
        # click_ts < purchase_ts; probed empirically at == wm and
        # wm+1min).
        "streaming_full_outer_join": """
            WITH clicks AS (
                SELECT event_id AS click_id, user_id, ts AS click_ts
                FROM events WHERE event_type = 'click'
            ),
            purchases AS (
                SELECT event_id AS purchase_id, user_id AS p_user,
                       ts AS purchase_ts
                FROM events WHERE event_type = 'purchase'
            ),
            wm AS (
                SELECT CASE WHEN cm IS NULL OR pm IS NULL THEN NULL
                            ELSE least(cm, pm) - 7200000000 END AS wm_us
                FROM (SELECT
                    (SELECT (epoch_us(max(click_ts)) // 1000) * 1000
                     FROM clicks) AS cm,
                    (SELECT (epoch_us(max(purchase_ts)) // 1000) * 1000
                     FROM purchases) AS pm)
            )
            SELECT c.click_id, c.user_id, c.click_ts, p.purchase_id,
                   p.purchase_ts
            FROM clicks c JOIN purchases p
              ON c.user_id = p.p_user
             AND p.purchase_ts > c.click_ts
             AND epoch_us(p.purchase_ts)
                 <= epoch_us(c.click_ts) + 3600000000
            UNION ALL
            SELECT c.click_id, c.user_id, c.click_ts,
                   CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP)
            FROM clicks c, wm
            WHERE epoch_us(c.click_ts) + 3600000000 < wm.wm_us
              AND NOT EXISTS (
                  SELECT 1 FROM purchases p
                  WHERE p.p_user = c.user_id
                    AND p.purchase_ts > c.click_ts
                    AND epoch_us(p.purchase_ts)
                        <= epoch_us(c.click_ts) + 3600000000)
            UNION ALL
            SELECT CAST(NULL AS BIGINT), p.p_user AS user_id,
                   CAST(NULL AS TIMESTAMP), p.purchase_id, p.purchase_ts
            FROM purchases p, wm
            WHERE epoch_us(p.purchase_ts) <= wm.wm_us
              AND NOT EXISTS (
                  SELECT 1 FROM clicks c
                  WHERE c.user_id = p.p_user
                    AND p.purchase_ts > c.click_ts
                    AND epoch_us(p.purchase_ts)
                        <= epoch_us(c.click_ts) + 3600000000)
        """,
        # NEW r17: matrix symmetry — the right-outer oracle is the
        # full-outer oracle's matched + right-unmatched branches with
        # the purchase-side projection; the INCLUSIVE purchase_ts <= wm
        # eviction bound was probed empirically in r16 (full-outer, at
        # == wm and wm + 1min) and is unchanged here.
        "streaming_right_outer_join": """
            WITH clicks AS (
                SELECT event_id AS click_id, user_id, ts AS click_ts
                FROM events WHERE event_type = 'click'
            ),
            purchases AS (
                SELECT event_id AS purchase_id, user_id AS p_user,
                       ts AS purchase_ts
                FROM events WHERE event_type = 'purchase'
            ),
            wm AS (
                SELECT CASE WHEN cm IS NULL OR pm IS NULL THEN NULL
                            ELSE least(cm, pm) - 7200000000 END AS wm_us
                FROM (SELECT
                    (SELECT (epoch_us(max(click_ts)) // 1000) * 1000
                     FROM clicks) AS cm,
                    (SELECT (epoch_us(max(purchase_ts)) // 1000) * 1000
                     FROM purchases) AS pm)
            )
            SELECT p.purchase_id, p.p_user AS user_id, p.purchase_ts,
                   c.click_id, c.click_ts, TRUE AS attributed
            FROM clicks c JOIN purchases p
              ON c.user_id = p.p_user
             AND p.purchase_ts > c.click_ts
             AND epoch_us(p.purchase_ts)
                 <= epoch_us(c.click_ts) + 3600000000
            UNION ALL
            SELECT p.purchase_id, p.p_user AS user_id, p.purchase_ts,
                   CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
                   FALSE AS attributed
            FROM purchases p, wm
            WHERE epoch_us(p.purchase_ts) <= wm.wm_us
              AND NOT EXISTS (
                  SELECT 1 FROM clicks c
                  WHERE c.user_id = p.p_user
                    AND p.purchase_ts > c.click_ts
                    AND epoch_us(p.purchase_ts)
                        <= epoch_us(c.click_ts) + 3600000000)
        """,
        # r16 rows-only -> oracle conversion, same determinism argument
        # as streaming_two_level_agg: matched pairs emit in the data
        # batch (nothing is late inside one batch); an UNMATCHED click
        # emits iff its join-state expired under the FINAL watermark =
        # min(side maxima, each ms-truncated) - 2h delay, with the
        # eviction bound STRICT (a click whose last possible match time
        # equals the watermark stays in state — probed empirically r16
        # at the exact boundary and at +500us).
        "streaming_outer_join": """
            WITH clicks AS (
                SELECT event_id AS click_id, user_id, ts AS click_ts
                FROM events WHERE event_type = 'click'
            ),
            purchases AS (
                SELECT event_id AS purchase_id, user_id AS p_user,
                       ts AS purchase_ts
                FROM events WHERE event_type = 'purchase'
            ),
            wm AS (
                -- both sides must be non-empty: least() IGNORES a NULL
                -- max, but Spark's global watermark is the MIN over
                -- both watermark nodes and stays at epoch 0 while one
                -- side has never carried data — NULL here keeps the
                -- unmatched branch empty, matching the stream
                SELECT CASE WHEN cm IS NULL OR pm IS NULL THEN NULL
                            ELSE least(cm, pm) - 7200000000 END AS wm_us
                FROM (SELECT
                    (SELECT (epoch_us(max(click_ts)) // 1000) * 1000
                     FROM clicks) AS cm,
                    (SELECT (epoch_us(max(purchase_ts)) // 1000) * 1000
                     FROM purchases) AS pm)
            )
            SELECT c.click_id, c.user_id, c.click_ts, p.purchase_id,
                   TRUE AS converted
            FROM clicks c JOIN purchases p
              ON c.user_id = p.p_user
             AND p.purchase_ts > c.click_ts
             AND epoch_us(p.purchase_ts)
                 <= epoch_us(c.click_ts) + 3600000000
            UNION ALL
            SELECT c.click_id, c.user_id, c.click_ts,
                   CAST(NULL AS BIGINT) AS purchase_id, FALSE AS converted
            FROM clicks c, wm
            WHERE epoch_us(c.click_ts) + 3600000000 < wm.wm_us
              AND NOT EXISTS (
                  SELECT 1 FROM purchases p
                  WHERE p.p_user = c.user_id
                    AND p.purchase_ts > c.click_ts
                    AND epoch_us(p.purchase_ts)
                        <= epoch_us(c.click_ts) + 3600000000)
        """,
        # r16 rows-only -> oracle conversion: the applyInPandasWithState
        # expanding z-score fold is DETERMINISTIC under this harness
        # (single-file source -> ONE data micro-batch, rows sorted
        # (ts, event_id) inside the kernel), so a recursive CTE carrying
        # the exact state tuple (n, Σx, Σx², Σcents, Σcents²) replays it
        # step-for-step: same left-fold double additions in the same
        # order, the same exact-integer constant-baseline test
        # (Cauchy-Schwarz equality on cent sums, ±inf on a jump), the
        # same (s2 - n·mean·mean)/(n-1) op shape. cents mirrors the
        # kernel's Decimal(repr(v)).quantize(1e-6, HALF_UP)·100 →
        # int() TRUNCATION: the trunc() is load-bearing — a bare
        # CAST(decimal AS BIGINT) ROUNDS in DuckDB (2.005 → 201) while
        # both the kernel's int() and Spark's decimal→long cast
        # truncate (→ 200), so without it an off-cent-grid value flips
        # the exact constant-baseline test (r16 review-pass find,
        # reproduced; fixed across the whole oracle class — the
        # batch-twin events_anomaly_zscore, agg_trend_regression and
        # dq_cuped carried the same latent seam). Outputs are the raw fold
        # doubles — the kernel stopped rounding in r16 precisely so no
        # Python-round(banker's) vs SQL-round(half-up) seam exists.
        "streaming_anomaly": """
            WITH RECURSIVE ev AS (
                SELECT user_id, event_id, value,
                       CAST(trunc(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT) AS cents,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS i
                FROM events
            ),
            steps AS (
                SELECT user_id, i, event_id, value,
                       FALSE AS flagged,
                       CAST(NULL AS DOUBLE) AS base_mean,
                       CAST(NULL AS DOUBLE) AS z,
                       CAST(1 AS BIGINT) AS n,
                       value AS s1, value * value AS s2,
                       cents AS s1c, cents * cents AS s2c
                FROM ev WHERE i = 1
                UNION ALL
                SELECT u.user_id, u.i, u.event_id, u.value,
                       u.zval IS NOT NULL
                           AND abs(u.zval) >= CAST(3.0 AS DOUBLE) AS flagged,
                       CASE WHEN u.zval IS NOT NULL
                                 AND abs(u.zval) >= CAST(3.0 AS DOUBLE)
                            THEN u.mean END AS base_mean,
                       CASE WHEN u.zval IS NOT NULL
                                 AND abs(u.zval) >= CAST(3.0 AS DOUBLE)
                            THEN u.zval END AS z,
                       u.n + 1,
                       u.s1 + u.value, u.s2 + u.value * u.value,
                       u.s1c + u.cents, u.s2c + u.cents * u.cents
                FROM (
                    SELECT v.*,
                           CASE WHEN v.n >= 8 AND v.const_base
                                     AND v.cents * v.n <> v.s1c
                                THEN CASE WHEN v.cents * v.n > v.s1c
                                          THEN CAST('infinity' AS DOUBLE)
                                          ELSE CAST('-infinity' AS DOUBLE) END
                                WHEN v.n >= 8 AND NOT v.const_base
                                     AND v.var > CAST(0.0 AS DOUBLE)
                                THEN (v.value - v.mean) / sqrt(v.var)
                           END AS zval
                    FROM (
                        SELECT m.*,
                               CASE WHEN m.n >= 8 AND NOT m.const_base
                                    THEN (m.s2 - CAST(m.n AS DOUBLE)
                                                 * m.mean * m.mean)
                                         / CAST(m.n - 1 AS DOUBLE) END AS var
                        FROM (
                            SELECT s.n, s.s1, s.s2, s.s1c, s.s2c,
                                   e.user_id, e.i, e.event_id, e.value,
                                   e.cents,
                                   s.s1 / CAST(s.n AS DOUBLE) AS mean,
                                   s.s2c * s.n = s.s1c * s.s1c AS const_base
                            FROM steps s JOIN ev e
                              ON e.user_id = s.user_id AND e.i = s.i + 1
                        ) m
                    ) v
                ) u
            )
            SELECT user_id, event_id, value, base_mean, z
            FROM steps WHERE flagged
        """,
        "streaming_trending": """
            WITH counts AS (
                SELECT date_trunc('hour', ts) AS win_start, event_type,
                       count(*) AS n_events
                FROM events GROUP BY 1, 2
            ),
            ranked AS (
                SELECT win_start, event_type, n_events,
                       CAST(row_number() OVER (
                           PARTITION BY win_start
                           ORDER BY n_events DESC, event_type) AS INT) AS rank
                FROM counts
            )
            SELECT * FROM ranked WHERE rank <= 3
        """,
        "events_salted_agg": """
            SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1
        """,
        "events_funnel": """
            WITH first_click AS (
                SELECT user_id, min(ts) AS first_click_ts
                FROM events WHERE event_type = 'click' GROUP BY 1
            ),
            converted AS (
                SELECT DISTINCT f.user_id FROM first_click f
                JOIN events p ON p.user_id = f.user_id
                 AND p.event_type = 'purchase'
                 AND p.ts >= f.first_click_ts
                 AND epoch(p.ts) - epoch(f.first_click_ts) <= 3600
            )
            SELECT (SELECT count(*) FROM first_click) AS n_clicked,
                   (SELECT count(*) FROM converted) AS n_converted,
                   round(CAST((SELECT count(*) FROM converted) AS DOUBLE)
                         / (SELECT count(*) FROM first_click), 6) AS conversion_rate
        """,
        "events_retention": """
            WITH user_days AS (
                SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
                FROM events
            ),
            cohorts AS (
                SELECT user_id, min(day) AS cohort_day FROM user_days GROUP BY 1
            )
            SELECT c.cohort_day,
                   CAST(date_diff('day', CAST(c.cohort_day AS DATE), CAST(u.day AS DATE)) AS INTEGER)
                       AS day_offset,
                   count(DISTINCT u.user_id) AS n_active
            FROM user_days u JOIN cohorts c ON u.user_id = c.user_id
            GROUP BY 1, 2
        """,
        "window_distribution": """
            SELECT o_orderkey, o_custkey,
                   round(percent_rank() OVER w, 6) AS pct_rank,
                   round(cume_dist() OVER w, 6) AS cume,
                   first_value(o_orderkey) OVER wf AS cheapest_key,
                   last_value(o_orderkey) OVER wf AS priciest_key,
                   nth_value(o_orderkey, 2) OVER wf AS second_cheapest_key
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
                   wf AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            """,
        "agg_collect_sorted": """
            SELECT o_orderpriority,
                   array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses,
                   CAST(len(list_distinct(list(o_custkey))) AS INTEGER) AS n_customers
            FROM orders GROUP BY 1
        """,
        "streaming_sessionize": """
            WITH lagged AS (
                SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
                FROM events
            ),
            flagged AS (
                SELECT *, CASE WHEN prev_ts IS NULL THEN 1
                               WHEN epoch(ts) - epoch(prev_ts) > 1800 THEN 1
                               ELSE 0 END AS new_s
                FROM lagged
            ),
            sess AS (
                SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
                FROM flagged
            )
            SELECT user_id,
                   count(*) AS n_events,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   round(sum(value), 2) AS session_value
            FROM sess GROUP BY user_id, session_seq
        """,
        # NEW r15: dynamic-gap session_window emulation. Each event
        # carries its own gap (error -> 10 min, else 30 min); the
        # engine merges intervals [ts, ts+gap] INCLUSIVE of the end
        # (probed empirically: an event landing exactly on the current
        # session end MERGES), so a new session starts only where
        # ts > the RUNNING MAX of preceding event ends — the same
        # strict-inequality convention as the fixed-gap sessionize
        # oracle (diff > gap). session_end is the max end within the
        # session. All interval arithmetic in exact epoch MICROSECONDS
        # (BIGINT — epoch() doubles sit at the edge of microsecond
        # precision at 2024 epochs).
        "streaming_session_dynamic_gap": """
            WITH g AS (
                SELECT user_id, value, event_id,
                       epoch_us(ts) AS ts_us,
                       CASE WHEN event_type = 'error' THEN 600000000
                            ELSE 1800000000 END AS gap_us
                FROM events
            ),
            lagged AS (
                SELECT *, max(ts_us + gap_us) OVER (
                            PARTITION BY user_id ORDER BY ts_us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS prev_end_us
                FROM g
            ),
            flagged AS (
                SELECT *, CASE WHEN prev_end_us IS NULL
                                 OR ts_us > prev_end_us THEN 1
                               ELSE 0 END AS new_s
                FROM lagged
            ),
            sess AS (
                SELECT *, sum(new_s) OVER (
                            PARTITION BY user_id ORDER BY ts_us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS session_seq
                FROM flagged
            )
            SELECT user_id,
                   make_timestamp(min(ts_us)) AS session_start,
                   make_timestamp(max(ts_us + gap_us)) AS session_end,
                   count(*) AS n_events,
                   round(sum(value), 2) AS session_value
            FROM sess GROUP BY user_id, session_seq
        """,
        "streaming_stateful_counter": """
            SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
            FROM events GROUP BY 1
        """,
        "streaming_dedup": """
            SELECT DISTINCT user_id, event_type FROM events
        """,
        "streaming_foreachbatch_upsert": """
            SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
            FROM events GROUP BY 1
        """,
        "profile_orders": """
            SELECT 'o_orderkey' AS "column",
                   round(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE), 6) AS null_frac,
                   count(DISTINCT o_orderkey) AS n_distinct,
                   CAST(min(o_orderkey) AS VARCHAR) AS min_value,
                   CAST(max(o_orderkey) AS VARCHAR) AS max_value
            FROM orders
            UNION ALL
            SELECT 'o_custkey',
                   round(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE), 6),
                   count(DISTINCT o_custkey),
                   CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus',
                   round(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE), 6),
                   count(DISTINCT o_orderstatus),
                   CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
            FROM orders
            UNION ALL
            SELECT 'o_totalprice',
                   round(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE), 6),
                   count(DISTINCT o_totalprice),
                   CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
            FROM orders
        """,
        "streaming_stream_join": """
            SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
            FROM events c JOIN events p
              ON p.user_id = c.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND p.ts > c.ts
             AND p.ts <= c.ts + INTERVAL 60 MINUTES
        """,
        "streaming_semi_join": """
            SELECT c.event_id AS click_id, c.user_id,
                   CAST(c.ts AS TIMESTAMP) AS click_ts
            FROM events c
            WHERE c.event_type = 'click' AND EXISTS (
                SELECT 1 FROM events p
                WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
                  AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 60 MINUTES
            )
        """,
        "streaming_static_enrich": """
            SELECT c_mktsegment, event_type,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events JOIN customer ON user_id = c_custkey
            GROUP BY 1, 2
        """,
        "merge_upsert": """
            WITH base AS (
                SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
                FROM orders
            ),
            corrections AS (
                SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
                       round(o_totalprice * 1.1, 2) AS o_totalprice,
                       o_orderdate, o_orderpriority
                FROM orders WHERE o_orderkey % 100 = 0
            ),
            source AS (
                SELECT * FROM corrections
                UNION ALL
                SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
                       o_orderdate, o_orderpriority
                FROM corrections
            ),
            merged AS (
                SELECT b.* FROM base b
                WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = b.o_orderkey)
                UNION ALL
                SELECT * FROM source
            )
            SELECT o_orderstatus, count(*) AS n_rows,
                   round(sum(o_totalprice), 2) AS sum_price
            FROM merged GROUP BY 1
        """,
        "scd2_versions": """
            WITH current AS (
                SELECT c_custkey, c_mktsegment, DATE '2020-01-01' AS effective_from
                FROM customer
            ),
            updates AS (
                SELECT c_custkey, 'WHOLESALE' AS c_mktsegment, DATE '2021-01-01' AS effective_from
                FROM customer WHERE c_custkey % 10 = 0
            ),
            history AS (
                SELECT * FROM current
                UNION ALL
                SELECT u.* FROM updates u
                LEFT JOIN current c ON u.c_custkey = c.c_custkey
                WHERE c.c_custkey IS NULL OR u.c_mktsegment IS DISTINCT FROM c.c_mktsegment
            )
            SELECT c_custkey, c_mktsegment, effective_from,
                   lead(effective_from, 1) OVER (PARTITION BY c_custkey ORDER BY effective_from) AS valid_to,
                   lead(effective_from, 1) OVER (PARTITION BY c_custkey ORDER BY effective_from) IS NULL AS is_current
            FROM history
        """,
        # ---- round-9 additions ----
        "agg_mode_family": """
            WITH counts AS (
                SELECT l_returnflag, l_quantity, count(*) AS n
                FROM lineitem GROUP BY 1, 2
            ),
            ranked AS (
                SELECT l_returnflag, l_quantity, n,
                       row_number() OVER (PARTITION BY l_returnflag
                                          ORDER BY n DESC, l_quantity ASC) AS rn,
                       sum(n) OVER (PARTITION BY l_returnflag) AS total,
                       count(*) OVER (PARTITION BY l_returnflag) AS n_distinct
                FROM counts
            )
            SELECT l_returnflag,
                   l_quantity AS mode_qty,
                   CAST(n AS BIGINT) AS mode_n,
                   CAST(n_distinct AS BIGINT) AS n_distinct_qty,
                   round(CAST(n AS DOUBLE) / total, 6) AS mode_share
            FROM ranked WHERE rn = 1
        """,
        "events_interarrival": """
            WITH gaps AS (
                SELECT event_type,
                       epoch_us(ts) - lag(epoch_us(ts)) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
                FROM events
            )
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_gaps,
                   CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
                   round(quantile_cont(gap_us, 0.5) / 1000000.0, 6) AS p50_gap_s,
                   round(quantile_cont(gap_us, 0.9) / 1000000.0, 6) AS p90_gap_s,
                   CAST(min(gap_us) AS BIGINT) AS min_gap_us,
                   CAST(max(gap_us) AS BIGINT) AS max_gap_us
            FROM gaps WHERE gap_us IS NOT NULL
            GROUP BY 1
        """,
        "tpch_part_promotion": """
            WITH sups AS (
                SELECT s_suppkey FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                WHERE n_nationkey % 5 = 2
            ),
            ps AS (
                SELECT p_partkey, s_suppkey,
                       (p_partkey * 7 + s_suppkey * 3) % 1000 + 1 AS availqty
                FROM part, sups
                WHERE (p_partkey + s_suppkey) % 4 = 0
            ),
            shipped AS (
                SELECT l_partkey AS p_partkey, l_suppkey AS s_suppkey,
                       sum(l_quantity) AS shipped_qty
                FROM lineitem
                WHERE l_shipdate >= '1995-01-01' AND l_shipdate < '1996-01-01'
                GROUP BY 1, 2
            )
            SELECT s_suppkey,
                   CAST(count(*) AS BIGINT) AS n_excess_parts,
                   CAST(sum(availqty) AS BIGINT) AS total_excess_avail
            FROM ps JOIN shipped USING (p_partkey, s_suppkey)
            WHERE availqty > 0.5 * shipped_qty
            GROUP BY 1
        """,
        "events_peak_concurrency": """
            WITH deltas AS (
                SELECT event_type, ts AS t, 1 AS delta FROM events
                UNION ALL
                SELECT event_type, ts + INTERVAL 5 MINUTE AS t, -1 AS delta FROM events
            ),
            running AS (
                SELECT event_type, t,
                       sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open_now
                FROM deltas
            ),
            peaks AS (SELECT event_type, max(open_now) AS peak FROM running GROUP BY 1)
            SELECT r.event_type,
                   min(r.t) AS peak_at,
                   CAST(min(p.peak) AS BIGINT) AS peak_concurrency
            FROM running r
            JOIN peaks p ON r.event_type = p.event_type AND r.open_now = p.peak
            GROUP BY 1
        """,
        "pipeline_shard_manifest": """
            WITH s AS (
                SELECT CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                            AS BIGINT) % 8 AS shard,
                       CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|'
                            || coalesce(text, '')), 1, 15) AS BIGINT) AS h,
                       doc_id, n_chars
                FROM documents
            )
            SELECT shard,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS n_chars,
                   bit_xor(h) AS content_fingerprint,
                   min(doc_id) AS min_doc_id,
                   max(doc_id) AS max_doc_id
            FROM s GROUP BY 1
        """,
        "text_rake_keywords": f"""
            WITH lists AS (
                SELECT doc_id, string_split({_NORM}, ' ') AS l FROM documents
            ),
            toks AS (
                SELECT doc_id, i AS pos, l[i] AS token
                FROM lists, LATERAL unnest(generate_series(1, len(l))) AS g(i)
                WHERE length(l[i]) > 0
            ),
            rn1 AS (
                SELECT doc_id, pos, token,
                       token IN ('the','a','and','of','to','in','is') AS is_stop,
                       row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
                FROM toks
            ),
            isl AS (
                SELECT doc_id, pos, token,
                       rn - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
                FROM rn1 WHERE NOT is_stop
            ),
            phrases AS (
                SELECT doc_id, island,
                       string_agg(token, ' ' ORDER BY pos) AS phrase,
                       count(*) AS phrase_len
                FROM isl GROUP BY 1, 2
            ),
            pw AS (
                SELECT phrase, phrase_len, unnest(string_split(phrase, ' ')) AS word
                FROM phrases
            ),
            ws AS (SELECT word, count(*) AS freq, sum(phrase_len) AS deg FROM pw GROUP BY 1),
            scored AS (
                SELECT phrase, sum(deg / freq) AS raw_score
                FROM pw JOIN ws USING (word) GROUP BY 1
            ),
            counts AS (SELECT phrase, count(*) AS n_occurrences FROM phrases GROUP BY 1),
            outp AS (
                SELECT phrase,
                       CAST(n_occurrences AS BIGINT) AS n_occurrences,
                       round(raw_score / n_occurrences, 4) AS rake_score
                FROM scored JOIN counts USING (phrase)
            )
            SELECT CAST(row_number() OVER (ORDER BY rake_score DESC, phrase) AS INT) AS rank,
                   phrase, n_occurrences, rake_score
            FROM outp ORDER BY rake_score DESC, phrase LIMIT 25
        """,
        "events_cumulative_users": """
            WITH firsts AS (
                SELECT user_id, min(date_trunc('day', ts)) AS first_day
                FROM events GROUP BY 1
            ),
            newu AS (
                SELECT first_day, count(*) AS new_users FROM firsts GROUP BY 1
            ),
            days AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events)
            SELECT day,
                   CAST(coalesce(new_users, 0) AS BIGINT) AS new_users,
                   CAST(sum(coalesce(new_users, 0)) OVER (
                        ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cumulative_users
            FROM days LEFT JOIN newu ON day = first_day
        """,
        "agg_gini_spend": """
            WITH spend AS (
                SELECT o_orderpriority, o_custkey, sum(o_totalprice) AS x
                FROM orders GROUP BY 1, 2
            ),
            ranked AS (
                SELECT o_orderpriority, x,
                       row_number() OVER (PARTITION BY o_orderpriority
                                          ORDER BY x, o_custkey) AS i
                FROM spend
            )
            SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n_customers,
                   round(sum(x), 2) AS total_spend,
                   round(2 * sum(i * x) / (count(*) * sum(x))
                         - (count(*) + 1.0) / count(*), 6) AS gini
            FROM ranked GROUP BY 1
        """,
        "dedup_rate_by_source": f"""
            WITH fp AS (
                SELECT source, md5({_NORM}) AS fingerprint, n_chars FROM documents
            ),
            per_fp AS (
                SELECT source, fingerprint, count(*) AS n_copies,
                       sum(n_chars) AS chars_all, min(n_chars) AS chars_keep
                FROM fp GROUP BY 1, 2
            )
            SELECT source,
                   CAST(sum(n_copies) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_unique,
                   round(1 - CAST(count(*) AS DOUBLE) / sum(n_copies), 6) AS dup_rate,
                   CAST(sum(chars_all) - sum(chars_keep) AS BIGINT)
                       AS chars_freed_if_deduped
            FROM per_fp GROUP BY 1
        """,
        "agg_higher_moments": """
            WITH raw AS (
                SELECT l_returnflag,
                       CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 100
                            AS HUGEINT) AS c
                FROM lineitem
            ),
            s AS (
                SELECT l_returnflag,
                       count(*) AS nl,
                       sum(c) AS s1d,
                       sum(c * c) AS s2d,
                       sum(c * c * c) AS s3d,
                       sum(c * c * c * c) AS s4d
                FROM raw GROUP BY 1
            ),
            d AS (
                SELECT l_returnflag, nl, s1d,
                       CAST(nl AS DOUBLE) AS n,
                       CAST(s1d AS DOUBLE) AS s1, CAST(s2d AS DOUBLE) AS s2,
                       CAST(s3d AS DOUBLE) AS s3, CAST(s4d AS DOUBLE) AS s4
                FROM s
            ),
            m AS (
                SELECT l_returnflag, nl, s1d, n,
                       s1 / n AS mean,
                       s2 / n - (s1 / n) * (s1 / n) AS m2,
                       s3 / n - 3 * (s1 / n) * s2 / n + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
                       s4 / n - 4 * (s1 / n) * s3 / n + 6 * (s1 / n) * (s1 / n) * s2 / n
                           - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
                FROM d
            ),
            g AS (
                SELECT l_returnflag, nl, s1d, n, mean, m2,
                       CASE WHEN m2 > 0 THEN m3 / pow(m2, 1.5) END AS g1,
                       CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3 END AS g2
                FROM m
            )
            SELECT l_returnflag,
                   nl AS n_rows,
                   CAST((2 * s1d + nl) // (2 * nl) AS DOUBLE) / 100.0
                       AS mean_price,
                   CASE WHEN m2 >= 0 THEN round(sqrt(m2) / 100.0, 6) END
                       AS stddev_pop,
                   round(g1, 4) AS skew_pop,
                   CASE WHEN m2 > 0 AND n > 2 THEN
                       round(g1 * sqrt(n * (n - 1)) / (n - 2), 4)
                   END AS skew_samp,
                   round(g2, 4) AS kurt_excess_pop,
                   CASE WHEN m2 > 0 AND n > 3 THEN
                       round(((n + 1) * g2 + 6) * (n - 1)
                             / ((n - 2) * (n - 3)), 4)
                   END AS kurt_excess_samp
            FROM g
        """,
        "agg_weighted_median": """
            WITH wv AS (
                SELECT l_linestatus, l_extendedprice, sum(l_quantity) AS w
                FROM lineitem GROUP BY 1, 2
            ),
            c AS (
                SELECT l_linestatus, l_extendedprice, w,
                       sum(w) OVER (PARTITION BY l_linestatus ORDER BY l_extendedprice
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                       sum(w) OVER (PARTITION BY l_linestatus) AS tw
                FROM wv
            )
            SELECT l_linestatus,
                   round(min(tw), 1) AS total_weight,
                   round(min(CASE WHEN cw >= 0.25 * tw THEN l_extendedprice END), 2) AS w_p25,
                   round(min(CASE WHEN cw >= 0.5 * tw THEN l_extendedprice END), 2) AS w_median,
                   round(min(CASE WHEN cw >= 0.75 * tw THEN l_extendedprice END), 2) AS w_p75
            FROM c GROUP BY 1
        """,
        "events_anomaly_zscore": """
            WITH s AS (
                SELECT user_id, event_id, event_type, value,
                       CAST(trunc(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT) AS cents,
                       count(value) OVER w AS n_prior,
                       CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s1,
                       CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) OVER w
                            AS DOUBLE) AS s2,
                       CAST(sum(CAST(trunc(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT)) OVER w
                            AS BIGINT) AS s1c,
                       CAST(sum(CAST(trunc(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT)
                                * CAST(trunc(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT)) OVER w
                            AS BIGINT) AS s2c
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
            ),
            m AS (
                SELECT user_id, event_id, event_type, value, n_prior,
                       s1 / n_prior AS mean,
                       (s2 - n_prior * (s1 / n_prior) * (s1 / n_prior)) / (n_prior - 1) AS var,
                       s2c * n_prior = s1c * s1c AS const_base,
                       s2c * n_prior = s1c * s1c
                           AND cents * n_prior <> s1c AS const_jump
                FROM s
            ),
            zc AS (
                SELECT user_id, event_id, event_type, value, n_prior, const_jump,
                       round(mean, 6) AS base_mean,
                       CASE WHEN NOT const_base AND var > 0
                            THEN round((value - mean) / sqrt(var), 4) END AS z
                FROM m
            )
            SELECT user_id, event_id, event_type, value, base_mean, z
            FROM zc
            WHERE n_prior >= 8 AND (
                  (z IS NOT NULL AND abs(z) >= 3.0)
                  OR const_jump)
        """,
        "events_multigrain_rollup": """
            SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL'
                        ELSE event_type END AS event_type,
                   day, hour,
                   CASE WHEN GROUPING(hour) = 0 THEN 'hour'
                        WHEN GROUPING(day) = 0 THEN 'day'
                        WHEN GROUPING(event_type) = 0 THEN 'type'
                        ELSE 'total' END AS grain,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM (
                SELECT event_type,
                       date_trunc('day', ts) AS day,
                       date_trunc('hour', ts) AS hour,
                       value
                FROM events
            )
            GROUP BY ROLLUP(event_type, day, hour)
        """,
        "scalar_ip_funcs": """
            WITH base AS (
                SELECT event_id,
                       CAST(event_id % 224 AS VARCHAR) || '.' ||
                       CAST(user_id % 256 AS VARCHAR) || '.' ||
                       CAST((event_id * 7) % 256 AS VARCHAR) || '.' ||
                       CAST((user_id * 13 + event_id) % 256 AS VARCHAR) AS ip
                FROM events
            ),
            p AS (SELECT event_id, ip, string_split(ip, '.') AS o FROM base)
            SELECT event_id, ip,
                   CAST(o[1] AS BIGINT) AS octet1,
                   CAST(o[1] AS BIGINT) * 16777216 + CAST(o[2] AS BIGINT) * 65536
                       + CAST(o[3] AS BIGINT) * 256 + CAST(o[4] AS BIGINT) AS ip_int,
                   o[1] || '.' || o[2] AS prefix16,
                   (CAST(o[1] AS BIGINT) = 10)
                       OR (CAST(o[1] AS BIGINT) = 172 AND CAST(o[2] AS BIGINT) BETWEEN 16 AND 31)
                       OR (CAST(o[1] AS BIGINT) = 192 AND CAST(o[2] AS BIGINT) = 168) AS is_private,
                   o[4] || '.' || o[3] || '.' || o[2] || '.' || o[1] AS ptr_octets
            FROM p
        """,
        "graph_degree_profile": f"""
            WITH docs AS (
                SELECT doc_id, {_NORM} AS norm FROM documents WHERE doc_id < 100
            ),
            toks AS (
                SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS token FROM docs
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT doc_a, doc_b
                FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= 0.8
            ),
            deg AS (
                SELECT doc_id, count(*) AS degree
                FROM (SELECT doc_a AS doc_id FROM pairs
                      UNION ALL SELECT doc_b FROM pairs)
                GROUP BY 1
            ),
            hist AS (SELECT degree, count(*) AS n_docs FROM deg GROUP BY 1),
            total AS (SELECT sum(n_docs) AS n_nodes FROM hist)
            SELECT degree, n_docs,
                   round(CAST(n_docs AS DOUBLE) / n_nodes, 6) AS doc_share
            FROM hist, total
        """,
        # NEW r16: all-pairs BFS over the bounded pair feed as a
        # recursive CTE — UNION dedups (src, node, dist) tuples, the
        # dist < 100 cap bounds cycle walks (V <= 100 by construction,
        # so every true distance is <= 99), min() per pair recovers the
        # BFS distance. Exact integers until the single closeness
        # division (round 6, HALF_UP on both engines).
        # NEW r17: betweenness — σ recomputed INDEPENDENTLY of the
        # Spark DP over the per-source shortest-path DAG; r18 (r17
        # ADVICE) replaced the one-row-per-path enumeration (exponential
        # on braided components) with a per-LEVEL aggregated frontier —
        # still independent of the Spark side: the DAG here is derived
        # from the recursive-CTE BFS, not the Spark fixpoint, and the
        # third-algorithm pytest (pure-python Brandes) covers the shared
        # recurrence shape. The pair-sum is the Freeman 1977 definition
        # as one triple join, halved for the undirected double count,
        # 6dp absorption on the sum.
        "graph_betweenness": f"""
            WITH RECURSIVE {_PAIR_FEED_CTES},
            gnodes AS (SELECT DISTINCT s AS id FROM edges0),
            walk AS (
                SELECT id AS src, id AS node, 0 AS dist FROM gnodes
                UNION
                SELECT w.src, e.d AS node, w.dist + 1
                FROM walk w JOIN edges0 e ON e.s = w.node
                WHERE w.dist < 100
            ),
            sp AS (
                SELECT src, node, min(dist) AS dist FROM walk GROUP BY 1, 2
            ),
            dag AS (
                SELECT su.src, e.s AS u, e.d AS v
                FROM edges0 e
                JOIN sp su ON su.node = e.s
                JOIN sp sv ON sv.src = su.src AND sv.node = e.d
                          AND sv.dist = su.dist + 1
            ),
            sig AS (
                -- per-level sigma DP (r18, r17 ADVICE): sigma(src, v) =
                -- sum of predecessor sigmas, one aggregated frontier per
                -- BFS level (DuckDB's recursive working table holds only
                -- the previous iteration, and dag edges strictly
                -- increase the level, so each (src, node) is produced in
                -- exactly one iteration with all contributions grouped).
                -- Polynomial — O(V^2) rows per component — where the
                -- former one-row-per-path enumeration was exponential on
                -- braided components (2^30 rows at ~60 nodes); sigma
                -- itself stays <= ~3^(V/3) < 2^63 under the 100-node cap.
                SELECT id AS src, id AS node, CAST(1 AS BIGINT) AS sigma
                FROM gnodes
                UNION ALL
                SELECT l.src, d.v AS node, CAST(sum(l.sigma) AS BIGINT)
                FROM sig l JOIN dag d ON d.src = l.src AND d.u = l.node
                GROUP BY 1, 2
            ),
            spp AS (
                SELECT sp.src, sp.node, sp.dist, sig.sigma
                FROM sp JOIN sig USING (src, node)
            ),
            mids AS (
                SELECT sv.node AS v,
                       CAST(count(*) AS BIGINT) AS n_mid_pairs,
                       round(sum(CAST(sv.sigma AS DOUBLE)
                                 * CAST(vt.sigma AS DOUBLE)
                                 / CAST(st.sigma AS DOUBLE)) / 2.0, 6)
                           AS betweenness
                FROM spp sv
                JOIN spp vt ON vt.src = sv.node
                JOIN spp st ON st.src = sv.src AND st.node = vt.node
                WHERE sv.src <> sv.node AND sv.node <> vt.node
                  AND sv.src <> vt.node
                  AND sv.dist + vt.dist = st.dist
                GROUP BY 1
            )
            SELECT g.id AS doc_id,
                   coalesce(m.n_mid_pairs, 0) AS n_mid_pairs,
                   coalesce(m.betweenness, 0.0) AS betweenness
            FROM gnodes g LEFT JOIN mids m ON m.v = g.id
        """,
        # NEW r18: fixed-depth integer HITS — alternating-walk counts
        # over the doc_a -> doc_b oriented pair feed (k = 3 double
        # steps as chained CTEs; exact BIGINTs, one final division per
        # score). Orientation: dedges is pairs AS-IS, not the
        # symmetrized edges0 the undirected diagnostics use.
        "graph_hits": f"""
            WITH {_PAIR_FEED_CTES},
            dedges AS (SELECT doc_a AS s, doc_b AS d FROM pairs),
            gnodes AS (SELECT DISTINCT s AS id FROM edges0),
            h0 AS (SELECT id, CAST(1 AS BIGINT) AS w FROM gnodes),
            a1 AS (
                SELECT g.id, CAST(coalesce(sum(h.w), 0) AS BIGINT) AS w
                FROM gnodes g
                LEFT JOIN dedges e ON e.d = g.id
                LEFT JOIN h0 h ON h.id = e.s
                GROUP BY g.id
            ),
            h1 AS (
                SELECT g.id, CAST(coalesce(sum(a.w), 0) AS BIGINT) AS w
                FROM gnodes g
                LEFT JOIN dedges e ON e.s = g.id
                LEFT JOIN a1 a ON a.id = e.d
                GROUP BY g.id
            ),
            a2 AS (
                SELECT g.id, CAST(coalesce(sum(h.w), 0) AS BIGINT) AS w
                FROM gnodes g
                LEFT JOIN dedges e ON e.d = g.id
                LEFT JOIN h1 h ON h.id = e.s
                GROUP BY g.id
            ),
            h2 AS (
                SELECT g.id, CAST(coalesce(sum(a.w), 0) AS BIGINT) AS w
                FROM gnodes g
                LEFT JOIN dedges e ON e.s = g.id
                LEFT JOIN a2 a ON a.id = e.d
                GROUP BY g.id
            ),
            a3 AS (
                SELECT g.id, CAST(coalesce(sum(h.w), 0) AS BIGINT) AS w
                FROM gnodes g
                LEFT JOIN dedges e ON e.d = g.id
                LEFT JOIN h2 h ON h.id = e.s
                GROUP BY g.id
            ),
            h3 AS (
                SELECT g.id, CAST(coalesce(sum(a.w), 0) AS BIGINT) AS w
                FROM gnodes g
                LEFT JOIN dedges e ON e.s = g.id
                LEFT JOIN a3 a ON a.id = e.d
                GROUP BY g.id
            ),
            mx AS (
                SELECT max(h3.w) AS hmax, max(a3.w) AS amax
                FROM h3 JOIN a3 USING (id)
            )
            SELECT g.id AS doc_id,
                   h3.w AS hub_walks,
                   a3.w AS auth_walks,
                   CASE WHEN mx.hmax > 0
                        THEN round(CAST(h3.w AS DOUBLE) / mx.hmax, 6)
                   END AS hub_score,
                   CASE WHEN mx.amax > 0
                        THEN round(CAST(a3.w AS DOUBLE) / mx.amax, 6)
                   END AS auth_score
            FROM gnodes g
            JOIN h3 ON h3.id = g.id
            JOIN a3 ON a3.id = g.id
            CROSS JOIN mx
        """,
        "graph_closeness": f"""
            WITH RECURSIVE {_PAIR_FEED_CTES},
            gnodes AS (SELECT DISTINCT s AS id FROM edges0),
            walk AS (
                SELECT id AS src, id AS node, 0 AS dist FROM gnodes
                UNION
                SELECT w.src, e.d AS node, w.dist + 1
                FROM walk w JOIN edges0 e ON e.s = w.node
                WHERE w.dist < 100
            ),
            sp AS (
                SELECT src, node, min(dist) AS dist FROM walk GROUP BY 1, 2
            )
            SELECT src AS doc_id,
                   count(*) AS n_reachable,
                   CAST(max(dist) AS BIGINT) AS eccentricity,
                   CAST(sum(dist) AS BIGINT) AS sum_dist,
                   CASE WHEN sum(dist) > 0 THEN
                       round(CAST(count(*) - 1 AS DOUBLE)
                             / CAST(sum(dist) AS DOUBLE), 6)
                   END AS closeness
            FROM sp GROUP BY src
        """,
        "graph_assortativity": f"""
            WITH docs AS (
                SELECT doc_id, {_NORM} AS norm FROM documents WHERE doc_id < 100
            ),
            toks AS (
                SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS token FROM docs
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT doc_a, doc_b
                FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= 0.8
            ),
            edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs
            ),
            deg AS (
                SELECT src, CAST(count(*) AS BIGINT) AS deg
                FROM edges GROUP BY 1
            ),
            m AS (
                SELECT count(*) AS n,
                       sum(CAST(dx.deg AS HUGEINT)) AS sx,
                       sum(CAST(dx.deg AS HUGEINT)
                           * CAST(dy.deg AS HUGEINT)) AS sxy,
                       sum(CAST(dx.deg AS HUGEINT)
                           * CAST(dx.deg AS HUGEINT)) AS sxx
                FROM edges e
                JOIN deg dx ON dx.src = e.src
                JOIN deg dy ON dy.src = e.dst
            )
            SELECT CAST(n // 2 AS BIGINT) AS n_edges,
                   CASE WHEN n > 0 THEN
                       CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                       END AS mean_edge_degree,
                   CASE WHEN CAST(n AS HUGEINT) * sxx - sx * sx > 0 THEN
                       round(CAST(CAST(n AS HUGEINT) * sxy - sx * sx AS DOUBLE)
                             / CAST(CAST(n AS HUGEINT) * sxx - sx * sx
                                    AS DOUBLE), 6) + 0.0
                       END AS assortativity
            FROM m
        """,
        "graph_triangles": f"""
            WITH docs AS (
                SELECT doc_id, {_NORM} AS norm FROM documents WHERE doc_id < 100
            ),
            toks AS (
                SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS token FROM docs
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT doc_a, doc_b
                FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= 0.8
            ),
            deg AS (
                SELECT doc_id, count(*) AS degree
                FROM (SELECT doc_a AS doc_id FROM pairs
                      UNION ALL SELECT doc_b FROM pairs)
                GROUP BY 1
            ),
            tri AS (
                SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
                FROM pairs e1
                JOIN pairs e2 ON e2.doc_a = e1.doc_b
                JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
            ),
            per_node AS (
                SELECT doc_id, count(*) AS triangles
                FROM (SELECT a AS doc_id FROM tri
                      UNION ALL SELECT b FROM tri
                      UNION ALL SELECT c FROM tri)
                GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(d.degree AS BIGINT) AS degree,
                   CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles,
                   CASE WHEN d.degree > 1
                        THEN round(2.0 * coalesce(p.triangles, 0)
                                   / (d.degree * (d.degree - 1)), 6)
                        ELSE 0.0 END AS clustering
            FROM deg d LEFT JOIN per_node p ON p.doc_id = d.doc_id
        """,
        "dedup_cluster_purity": f"""
            WITH RECURSIVE docs AS (
                SELECT doc_id, {_NORM} AS norm FROM documents WHERE doc_id < 100
            ),
            toks AS (
                SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS token FROM docs
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT doc_a, doc_b FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= 0.8
            ),
            edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL
                SELECT doc_b, doc_a FROM pairs
            ),
            reach AS (
                SELECT doc_id AS node, doc_id AS reached FROM docs
                UNION
                SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.reached
            ),
            comp AS (
                SELECT node AS doc_id, min(reached) AS component_id
                FROM reach GROUP BY node
            ),
            members AS (
                SELECT c.component_id, d.source
                FROM comp c JOIN documents d ON d.doc_id = c.doc_id
            ),
            by_source AS (
                SELECT component_id, source, count(*) AS n_from_source
                FROM members GROUP BY 1, 2
            ),
            totals AS (
                SELECT component_id,
                       CAST(sum(n_from_source) AS BIGINT) AS n_members,
                       CAST(count(*) AS BIGINT) AS n_sources
                FROM by_source GROUP BY 1
            ),
            maj AS (
                SELECT component_id, source AS majority_source,
                       CAST(n_from_source AS BIGINT) AS majority_count,
                       row_number() OVER (PARTITION BY component_id
                                          ORDER BY n_from_source DESC, source ASC) AS rn
                FROM by_source
            )
            SELECT t.component_id, t.n_members, t.n_sources,
                   m.majority_source, m.majority_count
            FROM totals t
            JOIN maj m ON m.component_id = t.component_id AND m.rn = 1
            WHERE t.n_members > 1
        """,
        "tpch_yoy_growth": """
            WITH monthly AS (
                SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                     AS DECIMAL(38,0))) AS BIGINT) AS revenue_cents
                FROM orders GROUP BY 1
            ),
            keyed AS (
                SELECT month, revenue_cents,
                       year(month) * 12 + month(month) AS mkey
                FROM monthly
            )
            SELECT m.month, m.revenue_cents,
                   p.revenue_cents AS prev_year_cents,
                   (10000 * m.revenue_cents) // p.revenue_cents AS growth_bps
            FROM keyed m JOIN keyed p ON m.mkey = p.mkey + 12
        """,
        "lake_zorder_layout": _zorder_oracle_sql(),
        "lake_zorder_skipping": _zorder_skipping_oracle_sql(),
        "lake_hilbert_skipping": _hilbert_skipping_oracle_sql(),
        # NEW r16: statistics-based file pruning quantified — equal-width
        # file ids, envelopes, predicate bounds and hit tests are exact
        # integer arithmetic (epoch_us == Spark unix_micros, both
        # nanos-truncating; // == Spark div); the single skip-rate
        # division rounds half-up on both engines.
        "lake_skipping_report": """
            WITH b AS (
                SELECT min(epoch_us(ts)) AS min_e, max(epoch_us(ts)) AS max_e,
                       min(user_id) AS min_u, max(user_id) AS max_u
                FROM events
            ),
            keyed AS (
                SELECT epoch_us(ts) AS e, user_id AS u,
                       least(63, (epoch_us(ts) - min_e) * 64
                                 // (max_e - min_e + 1)) AS f_ts,
                       least(63, (user_id - min_u) * 64
                                 // (max_u - min_u + 1)) AS f_user
                FROM events, b
            ),
            env AS (
                SELECT layout, file_id,
                       min(e) AS f_emin, max(e) AS f_emax,
                       min(u) AS f_umin, max(u) AS f_umax
                FROM (
                    SELECT 'by_ts' AS layout, f_ts AS file_id, e, u FROM keyed
                    UNION ALL
                    SELECT 'by_user', f_user, e, u FROM keyed
                ) GROUP BY 1, 2
            ),
            preds AS (
                SELECT 'ts_' || CAST(k AS VARCHAR) AS pred, 'ts' AS family,
                       min_e + CAST(k AS BIGINT) * (max_e - min_e + 1) // 4 AS lo,
                       min_e + CAST(k AS BIGINT) * (max_e - min_e + 1) // 4
                           + (max_e - min_e + 1) // 16 AS hi
                FROM b, (SELECT unnest(range(0, 4)) AS k)
                UNION ALL
                SELECT 'user_' || CAST(k AS VARCHAR), 'user',
                       min_u + CAST(k AS BIGINT) * (max_u - min_u + 1) // 4,
                       min_u + CAST(k AS BIGINT) * (max_u - min_u + 1) // 4
                           + (max_u - min_u + 1) // 16
                FROM b, (SELECT unnest(range(0, 4)) AS k)
            ),
            hits AS (
                SELECT e.layout, p.pred, count(*) AS files_hit
                FROM env e, preds p
                WHERE CASE WHEN p.family = 'ts'
                           THEN e.f_emin < p.hi AND e.f_emax >= p.lo
                           ELSE e.f_umin < p.hi AND e.f_umax >= p.lo END
                GROUP BY 1, 2
            ),
            nf AS (SELECT layout, count(*) AS n_files FROM env GROUP BY 1),
            rs AS (
                SELECT p.pred, count(*) AS rows_selected
                FROM keyed k2, preds p
                WHERE CASE WHEN p.family = 'ts'
                           THEN k2.e >= p.lo AND k2.e < p.hi
                           ELSE k2.u >= p.lo AND k2.u < p.hi END
                GROUP BY 1
            )
            SELECT g.layout, g.pred, nf.n_files,
                   coalesce(h.files_hit, 0) AS files_hit,
                   round(CAST(nf.n_files - coalesce(h.files_hit, 0) AS DOUBLE)
                         / CAST(nf.n_files AS DOUBLE), 6) AS skip_rate,
                   coalesce(rs.rows_selected, 0) AS rows_selected
            FROM (SELECT nf.layout, preds.pred FROM nf, preds) g
            JOIN nf ON nf.layout = g.layout
            LEFT JOIN hits h ON h.layout = g.layout AND h.pred = g.pred
            LEFT JOIN rs ON rs.pred = g.pred
        """,
        "dedup_shingle_sweep": _shingle_sweep_oracle_sql(),
        # NEW r17: DSIR importance weights (Xie et al. 2023) — exact
        # integer bucket counts via the portable md5 idiom, same-shape
        # log-ratios, per-doc sum at 6dp (avg-absorption discipline),
        # top-k by (rounded weight DESC, doc_id) on both engines.
        # r18 (r17 ADVICE): the model knobs interpolate the SAME module
        # constants the Spark defaults read (llm_pipeline.DSIR_*), so a
        # default change cannot desync the oracle undetected.
        "pipeline_dsir_weights": f"""
            WITH lists AS (
                SELECT doc_id, lang, string_split({_NORM}, ' ') AS l
                FROM documents
            ),
            grams AS (
                SELECT doc_id, lang,
                       CAST('0x' || substring(md5(l[i] || ' ' || l[i + 1]), 1, 8)
                            AS BIGINT) % {llm_pipeline.DSIR_N_BUCKETS} AS bucket
                FROM lists,
                     LATERAL unnest(generate_series(1, len(l) - 1)) AS g(i)
            ),
            raw_counts AS (
                SELECT bucket, count(*) AS c_raw FROM grams GROUP BY 1
            ),
            tgt_counts AS (
                SELECT bucket, count(*) AS c_tgt FROM grams
                WHERE lang = '{llm_pipeline.DSIR_TARGET_LANG}' GROUP BY 1
            ),
            totals AS (
                SELECT count(*) AS raw_total,
                       sum(CASE WHEN lang = '{llm_pipeline.DSIR_TARGET_LANG}'
                                THEN 1 ELSE 0 END) AS tgt_total
                FROM grams
            ),
            ratio AS (
                SELECT bucket,
                       log10(CAST(coalesce(c_tgt, 0) + 1 AS DOUBLE)
                             / CAST(tgt_total + {llm_pipeline.DSIR_N_BUCKETS} AS DOUBLE))
                       - log10(CAST(c_raw + 1 AS DOUBLE)
                               / CAST(raw_total + {llm_pipeline.DSIR_N_BUCKETS} AS DOUBLE)) AS lr
                FROM raw_counts LEFT JOIN tgt_counts USING (bucket)
                CROSS JOIN totals
            ),
            scored AS (
                SELECT doc_id, count(*) AS n_bigrams,
                       round(sum(lr), 6) AS log10_weight
                FROM grams JOIN ratio USING (bucket) GROUP BY 1
            ),
            weights AS (
                SELECT d.doc_id,
                       coalesce(s.n_bigrams, 0) AS n_bigrams,
                       coalesce(s.log10_weight, 0.0) AS log10_weight
                FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
            ),
            topk AS (
                SELECT doc_id FROM weights
                ORDER BY log10_weight DESC, doc_id LIMIT {llm_pipeline.DSIR_TOP_K}
            )
            SELECT w.doc_id, w.n_bigrams, w.log10_weight,
                   (t.doc_id IS NOT NULL) AS selected
            FROM weights w LEFT JOIN topk t ON w.doc_id = t.doc_id
        """,
        "pipeline_leakage_split": _leakage_split_oracle_sql(),
        "pipeline_dataset_card": f"""
            WITH per_doc AS (
                SELECT doc_id, source, lang,
                       len(string_split({_NORM}, ' ')) AS n_tokens,
                       length(text) AS n_chars,
                       md5({_NORM}) AS fp
                FROM documents
            ),
            dupg AS (SELECT fp, count(*) AS k FROM per_doc GROUP BY 1),
            dup AS (
                SELECT coalesce(sum(CASE WHEN k > 1 THEN k - 1 END), 0)
                           AS n_dup_docs,
                       count(*) AS n_unique_fp
                FROM dupg
            ),
            scal AS (
                SELECT count(*) AS n_docs,
                       count(DISTINCT source) AS n_sources,
                       count(DISTINCT lang) AS n_langs,
                       sum(n_tokens) AS n_tokens_total,
                       sum(n_chars) AS n_chars_total,
                       round(quantile_cont(n_tokens, 0.5), 6) AS median_tokens,
                       round(quantile_cont(n_tokens, 0.95), 6) AS p95_tokens,
                       sum(CASE WHEN n_tokens < 50 THEN 1 ELSE 0 END) AS n_short
                FROM per_doc
            ),
            w AS (SELECT * FROM scal, dup)
            SELECT metric, value FROM (
                SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM w
                UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM w
                UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM w
                UNION ALL SELECT 'n_tokens_total', CAST(n_tokens_total AS DOUBLE) FROM w
                UNION ALL SELECT 'n_chars_total', CAST(n_chars_total AS DOUBLE) FROM w
                UNION ALL SELECT 'median_tokens', median_tokens FROM w
                UNION ALL SELECT 'p95_tokens', p95_tokens FROM w
                UNION ALL SELECT 'exact_dup_docs', CAST(n_dup_docs AS DOUBLE) FROM w
                UNION ALL SELECT 'short_doc_bps',
                    CAST((10000 * n_short) // n_docs AS DOUBLE) FROM w
                UNION ALL SELECT 'unique_fingerprints', CAST(n_unique_fp AS DOUBLE) FROM w
            ) ORDER BY metric
        """,
        "pipeline_dedup_funnel": f"""
            WITH RECURSIVE docs AS (
                SELECT doc_id, {_NORM} AS norm
                FROM documents WHERE doc_id < 100
            ),
            ex AS (
                SELECT md5(norm) AS h, min(doc_id) AS doc_id
                FROM docs GROUP BY 1
            ),
            surv AS (
                SELECT d.doc_id, d.norm FROM docs d
                JOIN ex ON ex.doc_id = d.doc_id
            ),
            toks AS (
                SELECT DISTINCT doc_id,
                       unnest(string_split(norm, ' ')) AS token
                FROM surv
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       count(*) AS n_common
                FROM toks a JOIN toks b
                  ON a.token = b.token AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT doc_a, doc_b FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE round(CAST(n_common AS DOUBLE)
                            / (sa.n + sb.n - n_common), 6) >= 0.8
            ),
            edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                      UNION ALL SELECT doc_b, doc_a FROM pairs),
            reach AS (
                SELECT doc_id AS node, doc_id AS reached FROM surv
                UNION
                SELECT r.node, e.dst FROM reach r
                JOIN edges e ON e.src = r.reached
            ),
            comp AS (SELECT node, min(reached) AS cid FROM reach GROUP BY 1),
            ns AS (
                SELECT (SELECT count(*) FROM docs) AS n_in,
                       (SELECT count(*) FROM ex) AS n_exact,
                       (SELECT count(DISTINCT cid) FROM comp) AS n_near
            )
            SELECT '1_exact' AS stage,
                   CAST(n_in AS BIGINT) AS docs_in,
                   CAST(n_exact AS BIGINT) AS docs_out,
                   CAST(n_in - n_exact AS BIGINT) AS removed,
                   CAST((10000 * (n_in - n_exact)) // n_in AS BIGINT)
                       AS removed_bps
            FROM ns
            UNION ALL
            SELECT '2_neardup',
                   CAST(n_exact AS BIGINT),
                   CAST(n_near AS BIGINT),
                   CAST(n_exact - n_near AS BIGINT),
                   CAST((10000 * (n_exact - n_near)) // n_exact AS BIGINT)
            FROM ns
        """,
        "events_latency_trend": """
            WITH rounded AS (
                SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                       round(value, 6) AS v
                FROM events
            )
            SELECT day,
                   count(*) AS n_events,
                   round(quantile_cont(v, 0.5), 6) AS p50,
                   round(quantile_cont(v, 0.95), 6) AS p95,
                   round(quantile_cont(v, 0.99), 6) AS p99
            FROM rounded GROUP BY 1 ORDER BY 1
        """,
        "events_slo_burn": """
            WITH daily AS (
                SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                       CAST(count(*) AS BIGINT) AS n_total,
                       CAST(sum(CASE WHEN event_type = 'error' THEN 1
                                     ELSE 0 END) AS BIGINT) AS n_errors
                FROM events GROUP BY 1
            ),
            cum AS (
                SELECT day, n_total, n_errors,
                       (10000 * n_errors) // n_total AS err_bps,
                       CAST(sum(n_errors) OVER (ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_errors,
                       CAST(sum(n_total) OVER (ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_total
                FROM daily
            )
            SELECT day, n_total, n_errors, err_bps, cum_errors, cum_total,
                   (10000 * cum_errors) // cum_total AS cum_err_bps,
                   CAST((10000 * 10000 * CAST(cum_errors AS HUGEINT))
                        // (CAST(cum_total AS HUGEINT) * 100) AS BIGINT)
                       AS budget_burn_bps
            FROM cum ORDER BY day
        """,
        "tpch_return_rates": """
            WITH g AS (
                SELECT p_brand,
                       count(*) AS n_lines,
                       CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_returned,
                       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                                     * 100 AS DECIMAL(38,0))) AS BIGINT)
                           AS billed_cents,
                       CAST(sum(CASE WHEN l_returnflag = 'R'
                                     THEN CAST(CAST(l_extendedprice
                                               AS DECIMAL(18,2)) * 100
                                               AS DECIMAL(38,0))
                                     ELSE 0 END) AS BIGINT) AS returned_cents
                FROM lineitem JOIN part ON l_partkey = p_partkey
                GROUP BY 1
            )
            SELECT p_brand, n_lines, n_returned,
                   (10000 * n_returned) // n_lines AS return_rate_bps,
                   billed_cents, returned_cents,
                   (10000 * returned_cents) // billed_cents
                       AS returned_value_bps
            FROM g ORDER BY 1
        """,
        "text_simpson_diversity": f"""
            WITH toks AS (
                SELECT source, unnest(string_split({_NORM}, ' ')) AS token
                FROM documents
            ),
            per_type AS (
                SELECT source, token, count(*) AS n_i
                FROM toks GROUP BY 1, 2
            ),
            g AS (
                SELECT source,
                       CAST(sum(n_i) AS BIGINT) AS n_tokens,
                       CAST(count(*) AS BIGINT) AS n_types,
                       sum(n_i * (n_i - 1)) AS num
                FROM per_type GROUP BY 1
            )
            SELECT source, n_tokens, n_types,
                   CAST(num AS DOUBLE)
                       / CAST(n_tokens * (n_tokens - 1) AS DOUBLE)
                       AS simpson_lambda,
                   1.0 - CAST(num AS DOUBLE)
                       / CAST(n_tokens * (n_tokens - 1) AS DOUBLE)
                       AS gini_simpson
            FROM g ORDER BY source
        """,
        "text_ngram_novelty": f"""
            WITH toked AS (
                SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
            ),
            grams AS (
                SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS gram
                FROM toked, unnest(generate_series(1, len(t) - 2)) AS g(i)
                WHERE len(t) >= 3
            ),
            first_occ AS (
                SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY 1
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_novel,
                   CAST((10000 * sum(CASE WHEN first_doc = doc_id
                                          THEN 1 ELSE 0 END)) // count(*)
                        AS BIGINT) AS novelty_bps
            FROM grams JOIN first_occ USING (gram)
            WHERE doc_id < 200
            GROUP BY 1 ORDER BY 1
        """,
        "text_heaps_curve": f"""
            WITH first_seen AS (
                SELECT token, min(doc_id) AS first_doc FROM (
                    SELECT DISTINCT doc_id,
                           unnest(string_split({_NORM}, ' ')) AS token
                    FROM documents
                ) GROUP BY 1
            ),
            doc_tokens AS (
                SELECT doc_id, len(string_split({_NORM}, ' ')) AS n_tok
                FROM documents
            ),
            grid AS (
                SELECT unnest([50, 100, 200, 350, 500]) AS n_docs
            ),
            vocab AS (
                SELECT n_docs,
                       sum(CASE WHEN first_doc < n_docs THEN 1 ELSE 0 END)
                           AS vocab_size
                FROM first_seen, grid GROUP BY 1
            ),
            mass AS (
                SELECT n_docs,
                       coalesce(sum(CASE WHEN doc_id < n_docs
                                         THEN n_tok END), 0) AS token_mass
                FROM doc_tokens, grid GROUP BY 1
            ),
            lagged AS (
                SELECT vocab.n_docs AS n_docs, vocab_size, token_mass,
                       lag(vocab_size) OVER (ORDER BY vocab.n_docs) AS pv,
                       lag(token_mass) OVER (ORDER BY vocab.n_docs) AS pm
                FROM vocab JOIN mass USING (n_docs)
            )
            SELECT CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(vocab_size AS BIGINT) AS vocab_size,
                   CAST(token_mass AS BIGINT) AS token_mass,
                   CASE WHEN pv IS NOT NULL AND pv > 0 AND pm > 0
                             AND token_mass > pm
                        THEN round(ln(CAST(vocab_size AS DOUBLE)
                                      / CAST(pv AS DOUBLE))
                                   / ln(CAST(token_mass AS DOUBLE)
                                        / CAST(pm AS DOUBLE)), 6) + 0.0
                        END AS local_beta
            FROM lagged ORDER BY n_docs
        """,
        "text_js_divergence": f"""
            WITH tok2 AS (
                SELECT source, token FROM (
                    SELECT source, unnest(string_split({_NORM}, ' ')) AS token
                    FROM documents
                ) WHERE length(token) > 0
            ),
            counts AS (
                SELECT source, token, count(*) AS c FROM tok2 GROUP BY 1, 2
            ),
            totals AS (SELECT source, sum(c) AS n FROM counts GROUP BY 1),
            shared AS (
                SELECT a.source AS src_a, b.source AS src_b,
                       a.c AS c_a, b.c AS c_b, na.n AS n_a, nb.n AS n_b
                FROM counts a
                JOIN counts b ON a.token = b.token AND a.source < b.source
                JOIN totals na ON na.source = a.source
                JOIN totals nb ON nb.source = b.source
            ),
            terms AS (
                SELECT src_a, src_b, c_a, c_b, n_a, n_b,
                       CAST(round(0.5 * (
                           (CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                           * ln(2.0 * (CAST(c_a AS DOUBLE)
                                       / CAST(n_a AS DOUBLE))
                                / ((CAST(c_a AS DOUBLE)
                                    / CAST(n_a AS DOUBLE))
                                   + (CAST(c_b AS DOUBLE)
                                      / CAST(n_b AS DOUBLE))))
                           + (CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                           * ln(2.0 * (CAST(c_b AS DOUBLE)
                                       / CAST(n_b AS DOUBLE))
                                / ((CAST(c_a AS DOUBLE)
                                    / CAST(n_a AS DOUBLE))
                                   + (CAST(c_b AS DOUBLE)
                                      / CAST(n_b AS DOUBLE))))
                       ), 12) AS DECIMAL(28,12)) AS term
                FROM shared
            ),
            shared_agg AS (
                SELECT src_a, src_b,
                       sum(term) AS shared_sum,
                       sum(c_a) AS shared_ca,
                       sum(c_b) AS shared_cb,
                       count(*) AS n_shared_tokens
                FROM terms GROUP BY 1, 2
            ),
            universe AS (
                SELECT a.source AS src_a, b.source AS src_b,
                       a.n AS n_a, b.n AS n_b
                FROM totals a, totals b
                WHERE a.source < b.source
            ),
            per_pair AS (
                SELECT u.src_a, u.src_b,
                       coalesce(shared_sum,
                                CAST(0 AS DECIMAL(28,12))) AS shared_sum,
                       coalesce(shared_ca, 0) AS shared_ca,
                       coalesce(shared_cb, 0) AS shared_cb,
                       coalesce(n_shared_tokens, 0) AS n_shared_tokens,
                       u.n_a, u.n_b
                FROM universe u
                LEFT JOIN shared_agg s
                  ON s.src_a = u.src_a AND s.src_b = u.src_b
            )
            SELECT src_a, src_b,
                   CAST(n_shared_tokens AS BIGINT) AS n_shared_tokens,
                   round(CAST(shared_sum AS DOUBLE)
                         + 0.5 * (CAST(n_a - shared_ca AS DOUBLE)
                                  / CAST(n_a AS DOUBLE))
                               * 0.6931471805599453
                         + 0.5 * (CAST(n_b - shared_cb AS DOUBLE)
                                  / CAST(n_b AS DOUBLE))
                               * 0.6931471805599453, 6) + 0.0 AS js_nats,
                   round((CAST(shared_sum AS DOUBLE)
                          + 0.5 * (CAST(n_a - shared_ca AS DOUBLE)
                                   / CAST(n_a AS DOUBLE))
                                * 0.6931471805599453
                          + 0.5 * (CAST(n_b - shared_cb AS DOUBLE)
                                   / CAST(n_b AS DOUBLE))
                                * 0.6931471805599453)
                         / 0.6931471805599453, 6) + 0.0 AS js_normalized
            FROM per_pair ORDER BY 1, 2
        """,
        "pipeline_temperature_mix": f"""
            WITH counts AS (
                SELECT source,
                       CAST(sum(len(string_split({_NORM}, ' '))) AS BIGINT)
                           AS n_tokens
                FROM documents GROUP BY 1
            ),
            taus AS (
                SELECT unnest(['tau_0.25', 'tau_0.50', 'tau_1.00']) AS tau
            ),
            weighted AS (
                SELECT tau, source, n_tokens,
                       CAST(floor(CASE tau
                           WHEN 'tau_0.25'
                               THEN sqrt(sqrt(CAST(n_tokens AS DOUBLE)))
                           WHEN 'tau_0.50'
                               THEN sqrt(CAST(n_tokens AS DOUBLE))
                           ELSE CAST(n_tokens AS DOUBLE) END
                           * 1000000.0) AS HUGEINT) AS wq
                FROM counts, taus
            ),
            quota AS (
                SELECT tau, source, n_tokens,
                       CAST(wq AS BIGINT) AS weight_e6,
                       (CAST(1000000 AS HUGEINT) * wq)
                           // sum(wq) OVER (PARTITION BY tau) AS base,
                       (CAST(1000000 AS HUGEINT) * wq)
                           % sum(wq) OVER (PARTITION BY tau) AS rem
                FROM weighted
            ),
            ranked AS (
                SELECT tau, source, n_tokens, weight_e6, base,
                       row_number() OVER (PARTITION BY tau
                                          ORDER BY rem DESC, source) AS rk,
                       1000000 - sum(base) OVER (PARTITION BY tau) AS leftover
                FROM quota
            )
            SELECT tau, source, n_tokens, weight_e6,
                   CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                        AS BIGINT) AS alloc_tokens
            FROM ranked ORDER BY tau, source
        """,
        "pipeline_quality_sweep": f"""
            WITH graded AS (
                SELECT (10000 * len(list_filter(string_split({_NORM}, ' '),
                           t -> t IN ('the','a','and','of','to','in','is'))))
                       // len(string_split({_NORM}, ' ')) AS stop_bps,
                       CAST(len(string_split({_NORM}, ' ')) AS BIGINT)
                           AS n_tokens
                FROM documents
            ),
            grid AS (
                SELECT unnest([500, 1000, 1500, 2000, 3000]) AS cutoff_bps
            )
            SELECT CAST(cutoff_bps AS BIGINT) AS cutoff_bps,
                   CAST(sum(CASE WHEN stop_bps >= cutoff_bps
                                 THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
                   (10000 * CAST(sum(CASE WHEN stop_bps >= cutoff_bps
                                          THEN 1 ELSE 0 END) AS BIGINT))
                       // count(*) AS docs_share_bps,
                   CAST(coalesce(sum(CASE WHEN stop_bps >= cutoff_bps
                                          THEN n_tokens END), 0) AS BIGINT)
                       AS tokens_kept,
                   (10000 * CAST(coalesce(sum(CASE WHEN stop_bps >= cutoff_bps
                                               THEN n_tokens END), 0)
                                 AS BIGINT))
                       // CAST(sum(n_tokens) AS BIGINT) AS tokens_share_bps
            FROM graded, grid
            GROUP BY cutoff_bps ORDER BY cutoff_bps
        """,
        "text_quality_by_source": f"""
            WITH graded AS (
                SELECT source,
                       len(string_split({_NORM}, ' ')) AS n_tokens_c,
                       len(list_filter(string_split({_NORM}, ' '),
                           t -> t IN ('the','a','and','of','to','in','is')))
                           AS n_stop_c,
                       length(regexp_replace({_NORM}, '[^a-z]', '', 'g'))
                           AS n_alpha_c,
                       length({_NORM}) AS n_chars_c
                FROM documents
            )
            SELECT source,
                   CAST((10 * n_stop_c) // n_tokens_c AS INTEGER) AS stop_band,
                   count(*) AS n_docs,
                   CAST(sum(n_tokens_c) AS BIGINT) AS total_tokens,
                   (10000 * CAST(sum(n_alpha_c) AS BIGINT))
                       // CAST(sum(n_chars_c) AS BIGINT) AS alpha_bps
            FROM graded GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "tpch_order_aging": """
            WITH book_end AS (SELECT max(o_orderdate) AS end_d FROM orders)
            SELECT o_orderstatus,
                   CAST((CAST(end_d AS DATE) - CAST(o_orderdate AS DATE))
                        // 365 AS INTEGER) AS age_years,
                   count(*) AS n_orders,
                   CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                 AS DECIMAL(38,0))) AS BIGINT) AS value_cents
            FROM orders CROSS JOIN book_end
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        # NEW r16: the Wilson interval reuses tpch._WILSON_SQL verbatim —
        # the ONE string both engines parse (identical tree, identical
        # IEEE op order); only the integer base differs per engine.
        "tpch_return_rate_ci": f"""
            WITH base AS (
                SELECT p_brand AS brand,
                       CAST(count(*) AS BIGINT) AS n_lines,
                       CAST(sum(CASE WHEN l_returnflag = 'R'
                                     THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_returned
                FROM lineitem JOIN part ON l_partkey = p_partkey
                GROUP BY 1
            )
            SELECT brand, n_lines, n_returned,
                   {tpch._WILSON_SQL["p"]} AS return_rate,
                   {tpch._WILSON_SQL["center"]}
                       - {tpch._WILSON_SQL["half"]} AS wilson_lo,
                   {tpch._WILSON_SQL["center"]}
                       + {tpch._WILSON_SQL["half"]} AS wilson_hi
            FROM base
        """,
        # NEW r16: 2DS/H is ONE exact-integer-ratio double and IEEE sqrt
        # is correctly rounded on both engines (no libm drift class) —
        # outputs publish unrounded.
        # r17 ADVICE: cost parameters interpolated from the SAME
        # module constants the Spark function defaults to (_WILSON_SQL
        # pattern) — formula correctness carried by the independent
        # hand-computed test, not by this sharing.
        "tpch_eoq": f"""
            WITH base AS (
                SELECT p_brand AS brand,
                       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                           AS total_qty
                FROM lineitem JOIN part ON l_partkey = p_partkey
                GROUP BY 1
            )
            SELECT brand, total_qty,
                   sqrt(CAST(2 * total_qty * {tpch.EOQ_ORDER_COST} AS DOUBLE)
                        / CAST({tpch.EOQ_HOLDING_COST} AS DOUBLE)) AS eoq_qty,
                   CAST(total_qty AS DOUBLE)
                       / (sqrt(CAST(2 * total_qty * {tpch.EOQ_ORDER_COST} AS DOUBLE)
                               / CAST({tpch.EOQ_HOLDING_COST} AS DOUBLE))) AS orders_per_horizon
            FROM base
        """,
        # NEW r16: newsvendor order-up-to level — the exact order
        # statistic k = ceil(3n/4) via row_number (interpolating
        # percentile kernels differ cross-engine in op order; an order
        # statistic cannot); integers until the two divisions.
        # r17 ADVICE: critical ratio interpolated from tpch.NEWSVENDOR_CR
        # (the constants the Spark function defaults to); k = ceil(cr*n)
        # = (num*n + den - 1) // den in exact integer arithmetic.
        "tpch_newsvendor_stock": f"""
            WITH monthly AS (
                SELECT p_brand AS brand,
                       date_trunc('month', l_shipdate) AS month,
                       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
                FROM lineitem JOIN part ON l_partkey = p_partkey
                GROUP BY 1, 2
            ),
            ranked AS (
                SELECT brand, q,
                       row_number() OVER (PARTITION BY brand
                                          ORDER BY q, month) AS rn,
                       CAST(count(*) OVER (PARTITION BY brand) AS BIGINT)
                           AS n_months,
                       CAST(sum(q) OVER (PARTITION BY brand) AS BIGINT)
                           AS total_qty
                FROM monthly
            )
            SELECT brand, n_months, total_qty,
                   round(CAST(total_qty AS DOUBLE)
                         / CAST(n_months AS DOUBLE), 6) AS mean_monthly_qty,
                   q AS stock_target_qty,
                   round(CAST(q AS DOUBLE)
                         - CAST(total_qty AS DOUBLE)
                           / CAST(n_months AS DOUBLE), 6) AS safety_stock_qty
            FROM ranked
            WHERE rn = ({tpch.NEWSVENDOR_CR[0]} * n_months
                        + {tpch.NEWSVENDOR_CR[1] - 1}) // {tpch.NEWSVENDOR_CR[1]}
        """,
        # NEW r16: Croston two-state recursion replayed by a recursive
        # CTE (the kalman shape — seed at k=2 from the k=1 init, join
        # k = s.k + 1). Monthly demand = exact integer quantity sums;
        # month indexes are exact integers off the global min-month
        # anchor (date_diff('month') on month-truncated timestamps ==
        # Spark months_between, both integral); (1 − α) is COMPUTED
        # (CAST(1.0) − CAST(0.2)) matching the Python one_a = 1.0 − 0.2
        # — the r15 ADVICE ulp discipline; all outputs unrounded.
        "tpch_croston_demand": f"""
            WITH RECURSIVE monthly AS (
                SELECT l_partkey AS p_partkey,
                       date_trunc('month', l_shipdate) AS month,
                       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
                FROM lineitem GROUP BY 1, 2
            ),
            anchored AS (
                SELECT m.*,
                       CAST(date_diff('month',
                                      (SELECT min(month) FROM monthly),
                                      m.month) AS BIGINT) AS idx
                FROM monthly m
            ),
            indexed AS (
                SELECT *, row_number() OVER (PARTITION BY p_partkey
                                             ORDER BY idx) AS k
                FROM anchored
            ),
            init AS (
                SELECT p_partkey, CAST(q AS DOUBLE) AS level,
                       CAST(idx + 1 AS DOUBLE) AS itv, idx
                FROM indexed WHERE k = 1
            ),
            steps AS (
                SELECT n.p_partkey, n.k, n.month,
                       n.idx - i.idx AS gap_months,
                       n.q AS demand_qty,
                       i.level / i.itv AS rate_forecast,
                       CAST({tpch.CROSTON_ALPHA} AS DOUBLE) * CAST(n.q AS DOUBLE)
                         + (CAST(1.0 AS DOUBLE) - CAST({tpch.CROSTON_ALPHA} AS DOUBLE))
                           * i.level AS level,
                       CAST({tpch.CROSTON_ALPHA} AS DOUBLE) * CAST(n.idx - i.idx AS DOUBLE)
                         + (CAST(1.0 AS DOUBLE) - CAST({tpch.CROSTON_ALPHA} AS DOUBLE))
                           * i.itv AS itv,
                       n.idx
                FROM indexed n JOIN init i
                  ON n.p_partkey = i.p_partkey AND n.k = 2
                UNION ALL
                SELECT n.p_partkey, n.k, n.month,
                       n.idx - s.idx,
                       n.q,
                       s.level / s.itv,
                       CAST({tpch.CROSTON_ALPHA} AS DOUBLE) * CAST(n.q AS DOUBLE)
                         + (CAST(1.0 AS DOUBLE) - CAST({tpch.CROSTON_ALPHA} AS DOUBLE))
                           * s.level,
                       CAST({tpch.CROSTON_ALPHA} AS DOUBLE) * CAST(n.idx - s.idx AS DOUBLE)
                         + (CAST(1.0 AS DOUBLE) - CAST({tpch.CROSTON_ALPHA} AS DOUBLE))
                           * s.itv,
                       n.idx
                FROM steps s JOIN indexed n
                  ON n.p_partkey = s.p_partkey AND n.k = s.k + 1
            )
            SELECT p_partkey, month, CAST(gap_months AS BIGINT) AS gap_months,
                   demand_qty, rate_forecast, level,
                   itv AS smoothed_interval
            FROM steps
        """,
        "tpch_demand_xyz": """
            WITH monthly AS (
                SELECT p_brand AS brand,
                       date_trunc('month', l_shipdate) AS month,
                       sum(CAST(l_quantity AS BIGINT)) AS q
                FROM lineitem JOIN part ON l_partkey = p_partkey
                GROUP BY 1, 2
            ),
            g AS (
                SELECT brand, count(*) AS n,
                       sum(CAST(q AS HUGEINT)) AS sq,
                       sum(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS sqq
                FROM monthly GROUP BY 1
            )
            SELECT brand,
                   CAST(n AS BIGINT) AS n_months,
                   CAST(sq AS BIGINT) AS total_qty,
                   round(sqrt(CAST(CAST(n AS HUGEINT) * sqq - sq * sq
                                   AS DOUBLE)
                              / (CAST(n AS DOUBLE)
                                 * (CAST(n AS DOUBLE) - 1)))
                         / (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                       + 0.0 AS demand_cv,
                   CASE WHEN 4 * (CAST(n AS HUGEINT)
                                  * (CAST(n AS HUGEINT) * sqq - sq * sq))
                             < (CAST(n AS HUGEINT) - 1) * sq * sq THEN 'X'
                        WHEN CAST(n AS HUGEINT)
                             * (CAST(n AS HUGEINT) * sqq - sq * sq)
                             < (CAST(n AS HUGEINT) - 1) * sq * sq THEN 'Y'
                        ELSE 'Z' END AS xyz_class
            FROM g WHERE n > 1 ORDER BY brand
        """,
        "tpch_supplier_hhi": """
            WITH sup AS (
                SELECT p_brand AS brand, l_suppkey,
                       sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                                AS DECIMAL(38,0))) AS sup_cents
                FROM lineitem JOIN part ON l_partkey = p_partkey
                GROUP BY 1, 2
            ),
            shared AS (
                SELECT brand, l_suppkey,
                       CAST((10000 * CAST(sup_cents AS HUGEINT))
                            // CAST(sum(sup_cents)
                                    OVER (PARTITION BY brand) AS HUGEINT)
                            AS BIGINT) AS share_bps
                FROM sup
            )
            SELECT brand,
                   CAST(count(*) AS BIGINT) AS n_suppliers,
                   CAST(sum(share_bps * share_bps) // 10000 AS BIGINT)
                       AS hhi_points,
                   CAST(max(share_bps) AS BIGINT) AS top_share_bps,
                   CASE WHEN sum(share_bps * share_bps) // 10000 >= 2500
                            THEN 'high'
                        WHEN sum(share_bps * share_bps) // 10000 >= 1500
                            THEN 'moderate'
                        ELSE 'unconcentrated' END AS concentration
            FROM shared GROUP BY 1 ORDER BY 1
        """,
        "tpch_realized_margin": """
            SELECT p_brand,
                   count(*) AS n_lines,
                   CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                                 AS DECIMAL(38,0))) AS BIGINT) AS billed_cents,
                   CAST(sum(CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100
                                 AS DECIMAL(38,0))
                            * CAST(l_quantity AS DECIMAL(18,0))) AS BIGINT)
                       AS retail_cents,
                   (10000 * CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                                          * 100 AS DECIMAL(38,0))) AS BIGINT))
                       // CAST(sum(CAST(CAST(p_retailprice AS DECIMAL(18,2))
                                        * 100 AS DECIMAL(38,0))
                                  * CAST(l_quantity AS DECIMAL(18,0)))
                               AS BIGINT) AS realized_bps
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1 ORDER BY 1
        """,
        "join_full_outer": """
            WITH header AS (
                SELECT o_orderkey,
                       CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                 AS DECIMAL(38,0)) AS BIGINT) AS header_cents
                FROM orders
            ),
            lines AS (
                SELECT l_orderkey AS o_orderkey,
                       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                                     * 100 AS DECIMAL(38,0))) AS BIGINT)
                           AS line_cents
                FROM lineitem GROUP BY 1
            ),
            joined AS (
                SELECT CASE WHEN header_cents IS NULL THEN 'lines_only'
                            WHEN line_cents IS NULL THEN 'header_only'
                            ELSE 'both' END AS klass,
                       coalesce(header_cents, 0) AS hc,
                       coalesce(line_cents, 0) AS lc
                FROM header FULL OUTER JOIN lines USING (o_orderkey)
            )
            SELECT klass,
                   count(*) AS n_orders,
                   CAST(sum(hc) AS BIGINT) AS header_cents,
                   CAST(sum(lc) AS BIGINT) AS line_cents,
                   CAST(sum(abs(hc - lc)) AS BIGINT) AS abs_delta_cents
            FROM joined GROUP BY 1 ORDER BY 1
        """,
        "events_seasonal_anomaly": """
            WITH daily AS (
                SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                       CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY 1
            ),
            dw AS (SELECT day, n, CAST(isodow(day) AS INTEGER) AS dow
                   FROM daily),
            st AS (
                SELECT dow, CAST(count(*) AS BIGINT) AS nd,
                       CAST(sum(n) AS BIGINT) AS s1,
                       CAST(sum(n * n) AS BIGINT) AS s2
                FROM dw GROUP BY 1
            )
            SELECT day, dow, n AS n_events, nd AS n_days_same_dow,
                   CAST((2 * s1 * 100 + nd) // (2 * nd) AS DOUBLE) / 100.0
                       AS dow_mean,
                   CASE WHEN nd * n > s1 THEN 'high' ELSE 'low' END
                       AS direction
            FROM dw JOIN st USING (dow)
            WHERE (CAST(nd AS HUGEINT) * n - s1)
                      * (CAST(nd AS HUGEINT) * n - s1)
                  > (CAST(nd AS HUGEINT) * s2
                     - CAST(s1 AS HUGEINT) * s1)
            ORDER BY day
        """,
        "events_session_depth": """
            WITH lagged AS (
                SELECT user_id, ts, event_id,
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_ts
                FROM events
            ),
            flagged AS (
                SELECT *, CASE WHEN prev_ts IS NULL THEN 1
                               WHEN epoch(ts) - epoch(prev_ts) > 1800 THEN 1
                               ELSE 0 END AS new_s
                FROM lagged
            ),
            sess AS (
                SELECT user_id,
                       CAST(sum(new_s) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id
                                             ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS BIGINT)
                           AS session_seq
                FROM flagged
            ),
            depths AS (
                SELECT CAST(count(*) AS BIGINT) AS depth
                FROM sess GROUP BY user_id, session_seq
            ),
            hist AS (
                SELECT depth, CAST(count(*) AS BIGINT) AS n_sessions
                FROM depths GROUP BY 1
            ),
            tot AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS total FROM hist)
            SELECT depth, n_sessions,
                   (10000 * n_sessions) // total AS share_bps
            FROM hist CROSS JOIN tot ORDER BY depth
        """,
        "events_path_trigrams": """
            WITH seq AS (
                SELECT lag(event_type, 2) OVER w AS e1,
                       lag(event_type, 1) OVER w AS e2,
                       event_type AS e3
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT e1 || ' > ' || e2 || ' > ' || e3 AS path,
                   CAST(count(*) AS BIGINT) AS n_paths
            FROM seq
            WHERE e1 IS NOT NULL AND e2 IS NOT NULL
            GROUP BY 1
            ORDER BY n_paths DESC, path
            LIMIT 20
        """,
        "scd2_asof_snapshot": """
            WITH current_v AS (
                SELECT c_custkey, c_mktsegment,
                       DATE '2020-01-01' AS effective_from
                FROM customer
            ),
            updates AS (
                SELECT c_custkey, 'WHOLESALE' AS c_mktsegment,
                       DATE '2021-01-01' AS effective_from
                FROM customer WHERE c_custkey % 10 = 0
            ),
            changed AS (
                SELECT u.* FROM updates u
                JOIN current_v c ON u.c_custkey = c.c_custkey
                WHERE u.c_mktsegment IS DISTINCT FROM c.c_mktsegment
            ),
            history AS (
                SELECT * FROM current_v UNION ALL SELECT * FROM changed
            ),
            versioned AS (
                SELECT *, lead(effective_from)
                              OVER (PARTITION BY c_custkey
                                    ORDER BY effective_from) AS valid_to
                FROM history
            ),
            snaps AS (
                SELECT DATE '2020-06-01' AS asof_date, c_mktsegment
                FROM versioned
                WHERE effective_from <= DATE '2020-06-01'
                  AND (valid_to IS NULL OR valid_to > DATE '2020-06-01')
                UNION ALL
                SELECT DATE '2021-06-01', c_mktsegment
                FROM versioned
                WHERE effective_from <= DATE '2021-06-01'
                  AND (valid_to IS NULL OR valid_to > DATE '2021-06-01')
            )
            SELECT asof_date, c_mktsegment,
                   CAST(count(*) AS BIGINT) AS n_customers
            FROM snaps GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "tpch_lead_time": """
            WITH last_ship AS (
                SELECT l_orderkey AS o_orderkey,
                       max(CAST(l_shipdate AS DATE)) AS last_ship
                FROM lineitem GROUP BY 1
            ),
            lead_t AS (
                SELECT o_orderpriority,
                       CAST(last_ship - CAST(o_orderdate AS DATE) AS BIGINT)
                           AS days
                FROM orders JOIN last_ship USING (o_orderkey)
            )
            SELECT o_orderpriority,
                   count(*) AS n_orders,
                   CAST((2 * sum(days) * 100 + count(*))
                        // (2 * count(*)) AS DOUBLE) / 100.0 AS mean_days,
                   round(quantile_cont(days, 0.5), 6) AS p50_days,
                   round(quantile_cont(days, 0.9), 6) AS p90_days,
                   round(quantile_cont(days, 0.99), 6) AS p99_days
            FROM lead_t GROUP BY 1 ORDER BY 1
        """,
        "dedup_url_canonical": """
            WITH variants AS (
                SELECT unnest([
                    'HTTPS://Shop.Example.COM:443/orders/' || o_orderkey
                        || '/?utm_source=mail&status=' || lower(o_orderstatus)
                        || '&priority=' || substr(o_orderpriority, 1, 1)
                        || '#ref',
                    'https://shop.example.com/orders/' || o_orderkey
                        || '?priority=' || substr(o_orderpriority, 1, 1)
                        || '&status=' || lower(o_orderstatus),
                    'https://shop.example.com:443/orders/' || o_orderkey
                        || '/?status=' || lower(o_orderstatus)
                        || '&priority=' || substr(o_orderpriority, 1, 1)
                        || '&utm_campaign=x'
                ]) AS url
                FROM orders
            ),
            parts AS (
                SELECT regexp_replace(url, '#.*$', '') AS u1 FROM variants
            ),
            canon AS (
                SELECT lower(regexp_extract(u1, '^([A-Za-z]+)://', 1)) || '://'
                       || CASE lower(regexp_extract(u1, '^([A-Za-z]+)://', 1))
                          WHEN 'http' THEN regexp_replace(
                              lower(regexp_extract(u1, '^[A-Za-z]+://([^/?#]+)', 1)),
                              ':80$', '')
                          WHEN 'https' THEN regexp_replace(
                              lower(regexp_extract(u1, '^[A-Za-z]+://([^/?#]+)', 1)),
                              ':443$', '')
                          ELSE lower(regexp_extract(u1, '^[A-Za-z]+://([^/?#]+)', 1))
                          END
                       || regexp_replace(
                              regexp_extract(u1, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
                              '/+$', '')
                       || CASE WHEN qs = '' THEN '' ELSE '?' || qs END
                           AS canonical
                FROM (
                    SELECT u1,
                           array_to_string(
                               list_sort(list_filter(
                                   string_split(regexp_extract(u1, '\\?([^#]*)', 1),
                                                '&'),
                                   x -> x <> '' AND x NOT LIKE 'utm\\_%' ESCAPE '\\')),
                               '&') AS qs
                    FROM parts
                )
            ),
            groups AS (
                SELECT canonical, CAST(count(*) AS BIGINT) AS group_size
                FROM canon GROUP BY 1
            )
            SELECT group_size,
                   CAST(count(*) AS BIGINT) AS n_groups,
                   min(canonical) AS first_url,
                   max(canonical) AS last_url
            FROM groups GROUP BY 1 ORDER BY 1
        """,
        "pipeline_weighted_reservoir": f"""
            WITH keyed AS (
                SELECT doc_id, source,
                       CAST(len(string_split({_NORM}, ' ')) AS BIGINT)
                           AS n_tokens,
                       CAST('0x' || substr(md5(concat_ws(':', doc_id, source)),
                                           1, 8) AS BIGINT) AS h
                FROM documents
            )
            SELECT doc_id, source, n_tokens,
                   round(ln((h + 0.5) / 4294967296.0) / n_tokens, 12) + 0.0
                       AS es_key
            FROM keyed
            ORDER BY es_key DESC, doc_id
            LIMIT 100
        """,
        "dedup_entity_clusters": """
            WITH RECURSIVE names AS (
                SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_rows
                FROM part GROUP BY 1
            ),
            pairs AS (
                SELECT a.name AS name_a, b.name AS name_b
                FROM names a JOIN names b
                  ON substr(a.name, 1, 1) = substr(b.name, 1, 1)
                     AND a.name < b.name
                WHERE levenshtein(a.name, b.name) <= 4
            ),
            edges AS (SELECT name_a AS src, name_b AS dst FROM pairs
                      UNION ALL SELECT name_b, name_a FROM pairs),
            touched AS (SELECT DISTINCT src AS name FROM edges),
            reach AS (
                SELECT name AS node, name AS reached FROM touched
                UNION
                SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.reached
            ),
            comp AS (SELECT node AS name, min(reached) AS entity_id
                     FROM reach GROUP BY 1),
            labeled AS (
                SELECT c.entity_id, n.name, n.n_rows,
                       row_number() OVER (PARTITION BY c.entity_id
                                          ORDER BY n.n_rows DESC, n.name) AS rk
                FROM comp c JOIN names n USING (name)
            )
            SELECT entity_id,
                   count(*) AS n_variants,
                   CAST(sum(n_rows) AS BIGINT) AS total_rows,
                   max(CASE WHEN rk = 1 THEN name END) AS modal_name,
                   CAST(max(CASE WHEN rk = 1 THEN n_rows END) AS BIGINT)
                       AS modal_rows
            FROM labeled GROUP BY 1
            HAVING count(*) >= 2
            ORDER BY 1
        """,
        "events_autocorrelation": """
            WITH RECURSIVE daily AS (
                SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                       CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY 1
            ),
            bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
            -- generate_series only takes constants in DuckDB, and a
            -- constant cap would silently truncate long spans: recurse
            -- over the observed range instead (unbounded, exact)
            spine AS (
                SELECT d0 AS day, d1 FROM bounds
                UNION ALL
                SELECT day + 1, d1 FROM spine WHERE day < d1
            ),
            filled AS (
                SELECT s.day, coalesce(d.n, 0) AS n
                FROM spine s LEFT JOIN daily d USING (day)
            ),
            grid AS (SELECT CAST(lag_days AS INTEGER) AS lag_days
                     FROM (VALUES (1), (7)) AS t(lag_days)),
            lagged AS (
                SELECT g.lag_days, f.n AS x, f2.n AS y
                FROM filled f CROSS JOIN grid g
                JOIN filled f2 ON f2.day = f.day + g.lag_days
            ),
            sums AS (
                SELECT lag_days,
                       CAST(count(*) AS BIGINT) AS n_pairs,
                       CAST(sum(x * y) AS BIGINT) AS sxy,
                       CAST(sum(x) AS BIGINT) AS sx,
                       CAST(sum(y) AS BIGINT) AS sy,
                       CAST(sum(x * x) AS BIGINT) AS sxx,
                       CAST(sum(y * y) AS BIGINT) AS syy
                FROM lagged GROUP BY 1
            )
            SELECT lag_days, n_pairs,
                   CASE WHEN n_pairs * sxx - sx * sx > 0
                             AND n_pairs * syy - sy * sy > 0
                        THEN round(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                                   / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                                          * CAST(n_pairs * syy - sy * sy AS DOUBLE)),
                                   6) + 0.0
                   END AS autocorr
            FROM sums ORDER BY lag_days
        """,
        "mm_aspect_buckets": """
            WITH meta AS (
                SELECT CAST(octet_length(encode(text)) % 640 + 16 AS BIGINT)
                           AS width,
                       CAST(octet_length(encode(text)) % 480 + 16 AS BIGINT)
                           AS height
                FROM documents
            ),
            b AS (
                SELECT CAST((20 * width + height) // (2 * height) AS INTEGER)
                           AS ar_decile,
                       width * height AS pixels,
                       width
                FROM meta WHERE height > 0
            )
            SELECT ar_decile,
                   count(*) AS n_images,
                   CAST(sum(pixels) AS BIGINT) AS total_pixels,
                   CAST(sum(pixels) AS BIGINT) // count(*) AS px_per_image,
                   CAST(min(width) AS INTEGER) AS min_width,
                   CAST(max(width) AS INTEGER) AS max_width
            FROM b GROUP BY 1 ORDER BY 1
        """,
        "pipeline_token_budget": f"""
            WITH counts AS (
                SELECT source,
                       CAST(sum(len(string_split({_NORM}, ' '))) AS BIGINT)
                           AS n_tokens
                FROM documents GROUP BY 1
            ),
            tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM counts),
            quota AS (
                SELECT source, n_tokens,
                       (10000 * n_tokens) // total AS share_bps,
                       (1000000 * n_tokens) // total AS base,
                       (1000000 * n_tokens) % total AS rem
                FROM counts CROSS JOIN tot
            ),
            ranked AS (
                SELECT source, n_tokens, share_bps, base,
                       row_number() OVER (ORDER BY rem DESC, source) AS rk,
                       1000000 - CAST(sum(base)
                           OVER (ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND UNBOUNDED FOLLOWING) AS BIGINT)
                           AS leftover
                FROM quota
            )
            SELECT source, n_tokens, share_bps,
                   CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                        AS BIGINT) AS alloc_tokens
            FROM ranked ORDER BY source
        """,
        "dq_bootstrap_ci": """
            WITH weighted AS (
                SELECT o_orderpriority,
                       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                            AS DECIMAL(38,0)) AS cents,
                       r,
                       CASE WHEN u < 24109 THEN 0
                            WHEN u < 48218 THEN 1
                            WHEN u < 60273 THEN 2
                            WHEN u < 64291 THEN 3
                            ELSE 4 END AS w
                FROM (
                    SELECT o_orderpriority, o_totalprice,
                           rb * 8 + j AS r,
                           CAST('0x' || substr(md5(concat_ws(':', o_orderkey, rb)),
                                               j * 4 + 1, 4) AS BIGINT) AS u
                    FROM orders
                    CROSS JOIN generate_series(0, 6) AS t(rb)
                    CROSS JOIN generate_series(0, 7) AS t2(j)
                    WHERE rb * 8 + j < 50
                )
            ),
            rep AS (
                SELECT o_orderpriority,
                       (2 * CAST(sum(w * cents) AS BIGINT) + sum(w))
                           // (2 * sum(w)) AS rep_mean_cents
                FROM weighted GROUP BY o_orderpriority, r
                HAVING sum(w) > 0
            ),
            point AS (
                SELECT o_orderpriority,
                       count(*) AS n_orders,
                       CAST((2 * CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                          * 100 AS DECIMAL(38,0))) AS BIGINT)
                             + count(*))
                            // (2 * count(*)) AS BIGINT) AS mean_cents
                FROM orders GROUP BY 1
            ),
            ci AS (
                SELECT o_orderpriority,
                       count(*) AS n_replicates,
                       round(quantile_cont(rep_mean_cents, 0.025), 6)
                           AS ci_lo_cents,
                       round(quantile_cont(rep_mean_cents, 0.975), 6)
                           AS ci_hi_cents
                FROM rep GROUP BY 1
            )
            SELECT o_orderpriority, n_orders, mean_cents,
                   n_replicates, ci_lo_cents, ci_hi_cents
            FROM point JOIN ci USING (o_orderpriority)
            ORDER BY o_orderpriority
        """,
        "dq_psi_drift": """
            WITH years AS (
                SELECT min(year(o_orderdate)) AS y0,
                       max(year(o_orderdate)) AS y1
                FROM orders
            ),
            sided AS (
                SELECT (year(o_orderdate) = y0) AS is_base,
                       (year(o_orderdate) = y1) AS is_cur,
                       least(CAST(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                            * 100 AS DECIMAL(38,0)) AS BIGINT)
                                  // 5000000 AS INTEGER),
                             9) AS band
                FROM orders CROSS JOIN years
                WHERE year(o_orderdate) IN (y0, y1)
            ),
            counts AS (
                SELECT band,
                       CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END)
                            AS BIGINT) AS baseline_n,
                       CAST(sum(CASE WHEN is_cur THEN 1 ELSE 0 END)
                            AS BIGINT) AS current_n
                FROM sided GROUP BY 1
            ),
            tot AS (
                SELECT sum(baseline_n) AS bt, sum(current_n) AS ct,
                       count(*) AS nb
                FROM counts
            ),
            scored AS (
                SELECT band, baseline_n, current_n,
                       round(p, 6) AS p_baseline,
                       round(q, 6) AS q_current,
                       CAST(round((p - q) * ln(p / q), 12)
                            AS DECIMAL(18,12)) AS psi_contrib
                FROM (
                    SELECT band, baseline_n, current_n,
                           (baseline_n + 1) / (bt + nb) AS p,
                           (current_n + 1) / (ct + nb) AS q
                    FROM counts CROSS JOIN tot
                )
            )
            SELECT band, baseline_n, current_n, p_baseline, q_current,
                   CAST(psi_contrib AS DOUBLE) AS psi_contrib,
                   round(CAST(sum(psi_contrib)
                              OVER (ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND UNBOUNDED FOLLOWING) AS DOUBLE), 6)
                       AS psi_total
            FROM scored ORDER BY band
        """,
        "graph_link_prediction": f"""
            WITH docs AS (
                SELECT doc_id, {_NORM} AS norm FROM documents WHERE doc_id < 100
            ),
            toks AS (
                SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS token FROM docs
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT doc_a, doc_b
                FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= 0.8
            ),
            adj AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                    UNION ALL SELECT doc_b, doc_a FROM pairs),
            deg AS (SELECT u AS doc_id, count(*) AS degree FROM adj GROUP BY 1),
            wedges AS (
                SELECT a1.u AS a, a2.v AS b, d.degree
                FROM adj a1
                JOIN adj a2 ON a1.v = a2.u
                JOIN deg d ON d.doc_id = a1.v
                WHERE a1.u < a2.v
            ),
            cand AS (
                SELECT a, b, count(*) AS n_common,
                       sum(1000000000000 // degree) AS ra_pico
                FROM wedges GROUP BY 1, 2
            ),
            ne AS (
                SELECT * FROM cand c
                WHERE NOT EXISTS (SELECT 1 FROM pairs p
                                  WHERE p.doc_a = c.a AND p.doc_b = c.b)
            )
            SELECT a AS doc_a, b AS doc_b,
                   CAST(n_common AS BIGINT) AS n_common,
                   CAST(ra_pico AS BIGINT) AS ra_pico,
                   CAST((10000 * n_common) // (da.degree + db.degree - n_common)
                        AS BIGINT) AS jaccard_bps
            FROM ne
            JOIN deg da ON da.doc_id = a
            JOIN deg db ON db.doc_id = b
            ORDER BY 1, 2
        """,
        "events_survival_km": """
            WITH ep AS (
                SELECT user_id, event_type,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS ep
                FROM events
            ),
            wn AS (
                SELECT event_type, ep,
                       min(CASE WHEN event_type = 'purchase' THEN ep END)
                           OVER (PARTITION BY user_id ORDER BY ep
                                 RANGE BETWEEN 1 FOLLOWING
                                 AND UNBOUNDED FOLLOWING) AS next_p
                FROM ep
            ),
            g AS (SELECT max(ep) AS end_ep FROM ep),
            subjects AS (
                SELECT CASE WHEN next_p IS NOT NULL
                                 AND next_p - ep <= 72 * 3600000000
                            THEN 1 ELSE 0 END AS converted,
                       CAST(CASE WHEN next_p IS NOT NULL
                                      AND next_p - ep <= 72 * 3600000000
                                 THEN (next_p - ep) // 3600000000
                                 ELSE least(CAST(72 * 3600000000 AS BIGINT),
                                            end_ep - ep) // 3600000000
                            END AS INTEGER) AS duration_hours
                FROM wn CROSS JOIN g
                WHERE event_type = 'signup'
            ),
            grid AS (
                SELECT duration_hours,
                       CAST(sum(converted) AS BIGINT) AS n_converted,
                       CAST(sum(1 - converted) AS BIGINT) AS n_censored
                FROM subjects GROUP BY 1
            ),
            risked AS (
                SELECT *, CAST(sum(n_converted + n_censored)
                               OVER (ORDER BY duration_hours DESC
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                              AS n_risk
                FROM grid
            ),
            factored AS (
                SELECT *,
                       CASE WHEN n_converted < n_risk
                            THEN CAST(round(ln((n_risk - n_converted)
                                               / CAST(n_risk AS DOUBLE)), 12)
                                      AS DECIMAL(18,12)) END AS lf
                FROM risked
            )
            SELECT duration_hours, n_risk, n_converted, n_censored,
                   (10000 * n_converted) // n_risk AS hazard_bps,
                   CASE WHEN n_converted = n_risk THEN 0.0
                        ELSE round(exp(CAST(sum(lf)
                             OVER (ORDER BY duration_hours
                                   ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 6)
                   END AS survival
            FROM factored ORDER BY duration_hours
        """,
        "tpch_pareto_abc": """
            WITH rev AS (
                SELECT l_partkey,
                       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                                     * 100 AS DECIMAL(38,0))) AS BIGINT)
                           AS cents
                FROM lineitem GROUP BY 1
            ),
            branded AS (
                SELECT p_brand, l_partkey, cents FROM rev
                JOIN part ON p_partkey = l_partkey
            ),
            cum AS (
                SELECT p_brand, cents,
                       sum(cents) OVER (PARTITION BY p_brand
                                        ORDER BY cents DESC, l_partkey
                                        ROWS UNBOUNDED PRECEDING) AS cum_cents,
                       sum(cents) OVER (PARTITION BY p_brand) AS total_cents
                FROM branded
            ),
            classed AS (
                SELECT p_brand, cents, total_cents,
                       CASE WHEN cum_cents * 100 <= total_cents * 70 THEN 'A'
                            WHEN cum_cents * 100 <= total_cents * 90 THEN 'B'
                            ELSE 'C' END AS abc_class
                FROM cum
            )
            SELECT p_brand, abc_class,
                   count(*) AS n_parts,
                   CAST(sum(cents) AS BIGINT) AS class_cents,
                   CAST((10000 * sum(cents)) // any_value(total_cents)
                        AS BIGINT) AS share_bps
            FROM classed GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "tpch_cohort_ltv": """
            WITH first_o AS (
                SELECT o_custkey,
                       min(CAST(date_trunc('month', o_orderdate) AS DATE))
                           AS cohort_month
                FROM orders GROUP BY 1
            ),
            sizes AS (
                SELECT cohort_month, count(*) AS cohort_customers
                FROM first_o GROUP BY 1
            ),
            aged AS (
                SELECT cohort_month,
                       CAST((year(date_trunc('month', o_orderdate)) * 12
                             + month(date_trunc('month', o_orderdate)))
                            - (year(cohort_month) * 12 + month(cohort_month))
                            AS INTEGER) AS months_since,
                       o.o_custkey,
                       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                            AS DECIMAL(38,0)) AS cents
                FROM orders o JOIN first_o f ON o.o_custkey = f.o_custkey
            ),
            grid AS (
                SELECT cohort_month, months_since,
                       count(DISTINCT o_custkey) AS n_active,
                       CAST(sum(cents) AS BIGINT) AS revenue_cents
                FROM aged GROUP BY 1, 2
            ),
            cumed AS (
                SELECT cohort_month, months_since, n_active, revenue_cents,
                       CAST(sum(revenue_cents)
                            OVER (PARTITION BY cohort_month
                                  ORDER BY months_since
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
                           AS cum_cents
                FROM grid
            )
            SELECT c.cohort_month, months_since, n_active, revenue_cents,
                   cum_cents, cohort_customers,
                   cum_cents // cohort_customers AS ltv_cents_per_cust
            FROM cumed c JOIN sizes USING (cohort_month)
            ORDER BY 1, 2
        """,
        "dedup_jaccard_prefix": f"""
            WITH docs AS (
                SELECT doc_id, {_NORM} AS norm FROM documents WHERE doc_id < 100
            ),
            toks AS (
                SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS token FROM docs
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= 0.8
        """,
        "events_attribution": """
            WITH touches AS (
                SELECT user_id AS t_user, ts AS t_ts, event_id AS t_id,
                       event_type AS touch_type
                FROM events WHERE event_type IN ('click', 'view')
            ),
            purchases AS (
                SELECT event_id, user_id, ts,
                       CAST(value AS DECIMAL(18,2)) * 100 AS cents
                FROM events WHERE event_type = 'purchase'
            ),
            joined AS (
                SELECT p.event_id, p.cents,
                       coalesce(t.touch_type, 'none') AS touch_type,
                       row_number() OVER (PARTITION BY p.event_id
                                          ORDER BY t.t_ts DESC NULLS LAST,
                                                   t.t_id DESC NULLS LAST) AS rn_last,
                       row_number() OVER (PARTITION BY p.event_id
                                          ORDER BY t.t_ts ASC NULLS LAST,
                                                   t.t_id ASC NULLS LAST) AS rn_first
                FROM purchases p
                LEFT JOIN touches t
                  ON t.t_user = p.user_id
                 AND t.t_ts <= p.ts
                 AND t.t_ts >= p.ts - INTERVAL 7 DAY
            ),
            picked AS (
                SELECT 'last_touch' AS model, touch_type, cents
                FROM joined WHERE rn_last = 1
                UNION ALL
                SELECT 'first_touch', touch_type, cents
                FROM joined WHERE rn_first = 1
            )
            SELECT model, touch_type,
                   CAST(count(*) AS BIGINT) AS n_purchases,
                   CAST(sum(CAST(cents AS DECIMAL(38,0))) AS BIGINT) AS revenue_cents
            FROM picked GROUP BY 1, 2
        """,
        "dedup_entity_fuzzy": """
            WITH names AS (
                SELECT p_name AS name, count(*) AS n_rows FROM part GROUP BY 1
            )
            SELECT a.name AS name_a,
                   b.name AS name_b,
                   CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
                   CAST(a.n_rows AS BIGINT) AS rows_a,
                   CAST(b.n_rows AS BIGINT) AS rows_b
            FROM names a
            JOIN names b
              ON substr(a.name, 1, 1) = substr(b.name, 1, 1) AND a.name < b.name
            WHERE levenshtein(a.name, b.name) <= 4
        """,
        "text_phrase_search": f"""
            WITH docs AS (
                SELECT doc_id, string_split({_NORM}, ' ') AS l FROM documents
            ),
            posting AS (
                SELECT doc_id, i AS pos, l[i] AS token
                FROM docs, unnest(generate_series(1, len(l))) AS g(i)
                WHERE length(l[i]) > 0
            ),
            hits AS (
                SELECT 'hash join' AS phrase, a.doc_id, count(*) AS n_occurrences
                FROM posting a JOIN posting b
                  ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                WHERE a.token = 'hash' AND b.token = 'join'
                GROUP BY 2
                UNION ALL
                SELECT 'table scan', a.doc_id, count(*)
                FROM posting a JOIN posting b
                  ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                WHERE a.token = 'table' AND b.token = 'scan'
                GROUP BY 2
                UNION ALL
                SELECT 'batch batch batch', a.doc_id, count(*)
                FROM posting a
                JOIN posting b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                JOIN posting c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
                WHERE a.token = 'batch' AND b.token = 'batch' AND c.token = 'batch'
                GROUP BY 2
            ),
            ranked AS (
                SELECT phrase, doc_id, n_occurrences,
                       row_number() OVER (PARTITION BY phrase
                                          ORDER BY n_occurrences DESC, doc_id) AS rnk
                FROM hits
            )
            SELECT phrase, doc_id, CAST(n_occurrences AS BIGINT) AS n_occurrences
            FROM ranked WHERE rnk <= 10
        """,
        "text_cm_heavy_hitters": f"""
            WITH raw AS (
                SELECT unnest(string_split({_NORM}, ' ')) AS token FROM documents
            ),
            tok AS (SELECT token FROM raw WHERE length(token) > 0),
            sketch AS (
                SELECT seed,
                       CAST('0x' || substring(md5(CAST(seed AS VARCHAR) || ':' || token), 1, 8)
                            AS BIGINT) % 256 AS bucket,
                       count(*) AS counter
                FROM tok, (VALUES (0), (1), (2), (3)) s(seed)
                GROUP BY 1, 2
            ),
            exact AS (SELECT token, count(*) AS exact_count FROM tok GROUP BY 1),
            top AS (
                SELECT token, exact_count FROM exact
                ORDER BY exact_count DESC, token LIMIT 20
            ),
            probes AS (
                SELECT token, exact_count, seed,
                       CAST('0x' || substring(md5(CAST(seed AS VARCHAR) || ':' || token), 1, 8)
                            AS BIGINT) % 256 AS bucket
                FROM top, (VALUES (0), (1), (2), (3)) s(seed)
            )
            SELECT p.token, p.exact_count,
                   min(sk.counter) AS cm_estimate,
                   min(sk.counter) - p.exact_count AS overestimate
            FROM probes p
            JOIN sketch sk ON sk.seed = p.seed AND sk.bucket = p.bucket
            GROUP BY 1, 2
        """,
        "dq_column_diff": """
            WITH old_t AS (
                SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                       o_orderdate, o_orderpriority
                FROM orders
            ),
            new_t AS (
                SELECT o_orderkey, o_custkey, o_orderstatus,
                       CASE WHEN o_orderkey % 53 = 0
                            THEN o_totalprice + 100.0
                            ELSE o_totalprice END AS o_totalprice,
                       o_orderdate,
                       CASE WHEN o_orderkey % 61 = 0
                            THEN '9-' || o_orderpriority
                            ELSE o_orderpriority END AS o_orderpriority
                FROM orders WHERE o_orderkey % 97 <> 0
                UNION ALL
                SELECT -o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                       o_orderdate, o_orderpriority
                FROM orders WHERE o_orderkey % 101 = 0
            ),
            agg AS (
                SELECT
                    sum(CASE WHEN a.o_orderkey IS NULL THEN 1 ELSE 0 END)
                        AS added,
                    sum(CASE WHEN b.o_orderkey IS NULL THEN 1 ELSE 0 END)
                        AS removed,
                    sum(CASE WHEN a.o_orderkey IS NOT NULL
                              AND b.o_orderkey IS NOT NULL
                             THEN 1 ELSE 0 END) AS matched,
                    sum(CASE WHEN a.o_orderkey IS NOT NULL
                              AND b.o_orderkey IS NOT NULL
                              AND NOT (a.o_custkey
                                       IS NOT DISTINCT FROM b.o_custkey)
                             THEN 1 ELSE 0 END) AS chg_custkey,
                    sum(CASE WHEN a.o_orderkey IS NOT NULL
                              AND b.o_orderkey IS NOT NULL
                              AND NOT (a.o_orderstatus
                                       IS NOT DISTINCT FROM b.o_orderstatus)
                             THEN 1 ELSE 0 END) AS chg_status,
                    sum(CASE WHEN a.o_orderkey IS NOT NULL
                              AND b.o_orderkey IS NOT NULL
                              AND NOT (a.o_totalprice
                                       IS NOT DISTINCT FROM b.o_totalprice)
                             THEN 1 ELSE 0 END) AS chg_price,
                    sum(CASE WHEN a.o_orderkey IS NOT NULL
                              AND b.o_orderkey IS NOT NULL
                              AND NOT (a.o_orderdate
                                       IS NOT DISTINCT FROM b.o_orderdate)
                             THEN 1 ELSE 0 END) AS chg_date,
                    sum(CASE WHEN a.o_orderkey IS NOT NULL
                              AND b.o_orderkey IS NOT NULL
                              AND NOT (a.o_orderpriority
                                       IS NOT DISTINCT FROM b.o_orderpriority)
                             THEN 1 ELSE 0 END) AS chg_prio
                FROM old_t a FULL OUTER JOIN new_t b
                  ON a.o_orderkey = b.o_orderkey
            ),
            rows_out AS (
                SELECT 'rows_added' AS metric, added AS n, matched AS m
                FROM agg
                UNION ALL SELECT 'rows_removed', removed, matched FROM agg
                UNION ALL SELECT 'rows_matched', matched, matched FROM agg
                UNION ALL SELECT 'o_custkey', chg_custkey, matched FROM agg
                UNION ALL SELECT 'o_orderstatus', chg_status, matched FROM agg
                UNION ALL SELECT 'o_totalprice', chg_price, matched FROM agg
                UNION ALL SELECT 'o_orderdate', chg_date, matched FROM agg
                UNION ALL SELECT 'o_orderpriority', chg_prio, matched FROM agg
            )
            SELECT metric, CAST(n AS BIGINT) AS n,
                   CAST((10000 * n) // m AS BIGINT) AS share_bps
            FROM rows_out ORDER BY metric
        """,
        "events_little_law": """
            WITH lagged AS (
                SELECT *, lag(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS prev_ts
                FROM events
            ),
            flagged AS (
                SELECT *, CASE WHEN prev_ts IS NULL THEN 1
                               WHEN epoch(ts) - epoch(prev_ts) > 1800 THEN 1
                               ELSE 0 END AS new_s
                FROM lagged
            ),
            sess AS (
                SELECT *, sum(new_s) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS session_seq
                FROM flagged
            ),
            sessions AS (
                SELECT epoch_us(min(ts)) AS s_us, epoch_us(max(ts)) AS e_us
                FROM sess GROUP BY user_id, session_seq
            ),
            clipped AS (
                SELECT g AS day_idx,
                       greatest(s_us, g * 86400000000) AS cs,
                       least(e_us, (g + 1) * 86400000000) AS ce
                FROM sessions,
                     unnest(generate_series(s_us // 86400000000,
                                            e_us // 86400000000)) AS t(g)
                WHERE least(e_us, (g + 1) * 86400000000)
                      > greatest(s_us, g * 86400000000)
            ),
            totals AS (
                SELECT count(*) AS n_sessions,
                       sum(e_us - s_us) AS sum_dur_us,
                       min(s_us) AS t0, max(e_us) AS t1
                FROM sessions
            ),
            bounds AS (
                SELECT day_idx, cs AS t, 1 AS delta FROM clipped
                UNION ALL SELECT day_idx, ce, -1 FROM clipped
            ),
            running AS (
                SELECT day_idx, t,
                       sum(delta) OVER (PARTITION BY day_idx
                           ORDER BY t, delta
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS open_now,
                       lead(t) OVER (PARTITION BY day_idx
                                     ORDER BY t, delta) AS next_t
                FROM bounds
            ),
            integral AS (
                SELECT coalesce(sum(CASE WHEN next_t IS NOT NULL
                                    THEN open_now * (next_t - t) END), 0)
                           AS integral_us
                FROM running
            )
            SELECT CAST(n_sessions AS BIGINT) AS n_sessions,
                   CAST(sum_dur_us AS BIGINT) AS sum_dur_us,
                   CAST(integral_us AS BIGINT) AS integral_us,
                   CAST(integral_us - sum_dur_us AS BIGINT)
                       AS identity_violation_us,
                   CAST((2 * sum_dur_us + n_sessions) // (2 * n_sessions)
                        AS BIGINT) AS w_mean_us,
                   CAST(integral_us AS DOUBLE) / CAST(t1 - t0 AS DOUBLE)
                       AS l_avg_sessions,
                   CAST(n_sessions AS DOUBLE) / CAST(t1 - t0 AS DOUBLE)
                       * 3.6e9 AS lambda_per_hour
            FROM totals, integral
        """,
        "events_hampel_outliers": """
            WITH daily AS (
                SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                       sum(CAST(CAST(value AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS c
                FROM events GROUP BY 1
            ),
            band AS (
                SELECT a.day, a.c, b.c AS neigh_c
                FROM daily a JOIN daily b
                  ON b.day - a.day BETWEEN -3 AND 3
            ),
            med AS (
                SELECT day, c,
                       CAST(quantile_cont(neigh_c, 0.5) AS BIGINT) AS med
                FROM band GROUP BY 1, 2 HAVING count(*) = 7
            ),
            dev AS (
                SELECT band.day, med,
                       CAST(quantile_cont(abs(neigh_c - med), 0.5)
                            AS BIGINT) AS mad
                FROM band JOIN med USING (day) GROUP BY 1, 2
            )
            SELECT med.day,
                   CAST(c AS BIGINT) AS revenue_cents,
                   med.med AS window_median_cents,
                   mad AS window_mad_cents,
                   2 * abs(c - med.med) > 6 * mad AS is_outlier
            FROM med JOIN dev ON dev.day = med.day AND dev.med = med.med
            ORDER BY med.day
        """,
        "events_retention_matrix": """
            WITH user_weeks AS (
                SELECT DISTINCT user_id,
                       (CAST(date_trunc('day', ts) AS DATE)
                        - DATE '1970-01-05') // 7 AS week_idx
                FROM events
            ),
            cohorts AS (
                SELECT user_id, min(week_idx) AS cohort_idx
                FROM user_weeks GROUP BY 1
            ),
            triangle AS (
                SELECT cohort_idx, week_idx - cohort_idx AS age_weeks,
                       count(*) AS n_active
                FROM user_weeks JOIN cohorts USING (user_id)
                GROUP BY 1, 2
            ),
            sizes AS (
                SELECT cohort_idx, n_active AS cohort_size
                FROM triangle WHERE age_weeks = 0
            )
            SELECT DATE '1970-01-05' + CAST(cohort_idx * 7 AS INTEGER)
                       AS cohort_start,
                   CAST(age_weeks AS BIGINT) AS age_weeks,
                   CAST(n_active AS BIGINT) AS n_active,
                   CAST(cohort_size AS BIGINT) AS cohort_size,
                   (10000 * CAST(n_active AS BIGINT))
                       // CAST(cohort_size AS BIGINT) AS retention_bps
            FROM triangle JOIN sizes USING (cohort_idx)
            ORDER BY cohort_start, age_weeks
        """,
        "events_stl_decompose": """
            WITH daily AS (
                SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                       sum(CAST(CAST(value AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS c
                FROM events GROUP BY 1
            ),
            bounds AS (SELECT min(day) AS mn, max(day) AS mx FROM daily),
            spine AS (
                SELECT CAST(unnest(generate_series(mn, mx,
                                                   INTERVAL 1 DAY)) AS DATE)
                           AS day
                FROM bounds
            ),
            filled AS (
                SELECT s.day, coalesce(d.c, 0) AS c
                FROM spine s LEFT JOIN daily d USING (day)
            ),
            t AS (
                SELECT day, c,
                       CASE WHEN count(*) OVER w = 7
                            THEN sum(c) OVER w END AS s7,
                       (day - DATE '1970-01-05') % 7 AS wd
                FROM filled
                WINDOW w AS (ORDER BY day
                             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
            ),
            wk AS (
                SELECT wd, sum(7 * c - s7) AS s_wd, count(*) AS n_wd
                FROM t WHERE s7 IS NOT NULL GROUP BY 1
            )
            SELECT t.day,
                   CAST(t.c AS BIGINT) AS revenue_cents,
                   CAST(s7 AS DOUBLE) / 7.0 AS trend_cents,
                   CASE WHEN s7 IS NOT NULL THEN
                       CAST(s_wd AS DOUBLE) / CAST(7 * n_wd AS DOUBLE)
                       END AS seasonal_cents,
                   CASE WHEN s7 IS NOT NULL THEN
                       CAST(7 * n_wd * t.c - n_wd * s7 - s_wd AS DOUBLE)
                           / CAST(7 * n_wd AS DOUBLE)
                       END AS residual_cents
            FROM t LEFT JOIN wk USING (wd) ORDER BY day
        """,
        "join_asof_nearest": """
            WITH tagged AS (
                SELECT user_id, 0 AS kind, event_id, epoch_us(ts) AS t_us
                FROM events WHERE event_type = 'click'
                UNION ALL
                SELECT user_id, 1, event_id, epoch_us(ts)
                FROM events WHERE event_type = 'purchase'
            ),
            ann AS (
                SELECT user_id, kind, event_id, t_us,
                       last_value(CASE WHEN kind = 1 THEN t_us END
                                  IGNORE NULLS) OVER w_back AS prev_ts,
                       last_value(CASE WHEN kind = 1 THEN event_id END
                                  IGNORE NULLS) OVER w_back AS prev_id,
                       first_value(CASE WHEN kind = 1 THEN t_us END
                                   IGNORE NULLS) OVER w_fwd AS next_ts,
                       first_value(CASE WHEN kind = 1 THEN event_id END
                                   IGNORE NULLS) OVER w_fwd AS next_id
                FROM tagged
                WINDOW w_back AS (PARTITION BY user_id
                                  ORDER BY t_us, kind, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW),
                       w_fwd AS (PARTITION BY user_id
                                 ORDER BY t_us, kind, event_id
                                 ROWS BETWEEN CURRENT ROW
                                          AND UNBOUNDED FOLLOWING)
            ),
            picked AS (
                SELECT event_id, user_id, prev_id, next_id,
                       t_us - prev_ts AS d_prev,
                       next_ts - t_us AS d_next,
                       (prev_ts IS NOT NULL
                        AND t_us - prev_ts <= 1800000000) AS prev_ok,
                       (next_ts IS NOT NULL
                        AND next_ts - t_us <= 1800000000) AS next_ok
                FROM ann WHERE kind = 0
            )
            SELECT event_id AS click_id, user_id,
                   CASE WHEN prev_ok AND (NOT next_ok OR d_prev <= d_next)
                            THEN prev_id
                        WHEN next_ok THEN next_id END AS purchase_id,
                   CASE WHEN prev_ok AND (NOT next_ok OR d_prev <= d_next)
                            THEN -d_prev
                        WHEN next_ok THEN d_next END AS delta_us,
                   CASE WHEN prev_ok AND (NOT next_ok OR d_prev <= d_next)
                            THEN 'backward'
                        WHEN next_ok THEN 'forward' END AS direction
            FROM picked ORDER BY click_id
        """,
        "events_calendar_heatmap": """
            WITH cells AS (
                SELECT CAST(isodow(ts) AS INT) AS isodow,
                       CAST(hour(ts) AS INT) AS hour,
                       count(*) AS n_events,
                       count(DISTINCT user_id) AS n_users
                FROM events GROUP BY 1, 2
            ),
            tot AS (SELECT sum(n_events) AS t FROM cells)
            SELECT isodow, hour,
                   CAST(n_events AS BIGINT) AS n_events,
                   CAST(n_users AS BIGINT) AS n_users,
                   CAST((10000 * n_events) // t AS BIGINT) AS share_bps
            FROM cells, tot ORDER BY isodow, hour
        """,
        "sim_centroid_silhouette": """
            WITH scorable AS (
                SELECT * FROM embeddings
                WHERE embedding IS NOT NULL AND len(embedding) > 0
            ),
            e AS (
                SELECT vec_id, label,
                       generate_subscripts(embedding, 1) - 1 AS dim,
                       CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                                  * 1000000.0) AS BIGINT) AS qv
                FROM scorable
            ),
            sums AS (
                SELECT label, dim, CAST(sum(qv) AS HUGEINT) AS s
                FROM e GROUP BY 1, 2
            ),
            norm2 AS (SELECT label, sum(s * s) AS c2 FROM sums GROUP BY 1),
            per_cand AS (
                SELECT e.vec_id, e.label AS own_label, s.label AS cand,
                       sum(CAST(e.qv AS HUGEINT) * s.s) AS dot,
                       sum(CAST(e.qv AS HUGEINT) * CAST(e.qv AS HUGEINT)) AS v2
                FROM e JOIN sums s ON s.dim = e.dim
                GROUP BY 1, 2, 3
            ),
            cosd AS (
                SELECT vec_id, own_label, cand,
                       CAST(floor(CAST(dot AS DOUBLE)
                            / sqrt(CAST(v2 AS DOUBLE) * CAST(c2 AS DOUBLE))
                            * 1000000.0) AS BIGINT) AS cos_e6
                FROM per_cand JOIN norm2 n2 ON n2.label = per_cand.cand
                WHERE v2 > 0 AND c2 > 0
            ),
            per_vec AS (
                SELECT vec_id, own_label,
                       max(CASE WHEN cand = own_label THEN cos_e6 END)
                           AS own_e6,
                       max(CASE WHEN cand <> own_label THEN cos_e6 END)
                           AS best_other_e6
                FROM cosd GROUP BY 1, 2
                HAVING own_e6 IS NOT NULL AND best_other_e6 IS NOT NULL
            ),
            scored AS (
                SELECT own_label AS label,
                       CASE WHEN greatest(1000000 - own_e6,
                                          1000000 - best_other_e6) > 0
                            THEN CAST(floor(
                                CAST(((1000000 - best_other_e6)
                                      - (1000000 - own_e6)) * 1000000
                                     AS DOUBLE)
                                / CAST(greatest(1000000 - own_e6,
                                                1000000 - best_other_e6)
                                       AS DOUBLE)) AS BIGINT)
                            ELSE 0 END AS s_e6
                FROM per_vec
            )
            SELECT label,
                   CAST(count(*) AS BIGINT) AS n_vecs,
                   CAST(sum(CASE WHEN s_e6 > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_well_clustered,
                   CAST(sum(CASE WHEN s_e6 < 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_misfit,
                   CAST(sum(s_e6) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                       / 1000000.0 AS mean_silhouette
            FROM scored GROUP BY 1 ORDER BY 1
        """,
        "events_burstiness": """
            WITH gaps AS (
                SELECT user_id,
                       epoch_us(ts) - lag(epoch_us(ts))
                           OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS gap_us
                FROM events
            ),
            g AS (
                SELECT user_id, count(*) AS n_gaps,
                       sum(CAST(gap_us AS HUGEINT)) AS s1,
                       sum(CAST(gap_us AS HUGEINT)
                           * CAST(gap_us AS HUGEINT)) AS s2
                FROM gaps WHERE gap_us IS NOT NULL
                GROUP BY 1 HAVING count(*) >= 2
            ),
            m AS (
                SELECT user_id, n_gaps, s1,
                       CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu,
                       sqrt(CAST(CAST(n_gaps AS HUGEINT) * s2 - s1 * s1
                                 AS DOUBLE)) / CAST(n_gaps AS DOUBLE) AS sigma
                FROM g
            )
            SELECT user_id,
                   CAST(n_gaps AS BIGINT) AS n_gaps,
                   CAST((2 * s1 + n_gaps) // (2 * n_gaps) AS BIGINT)
                       AS mean_gap_us,
                   CASE WHEN s1 > 0
                        THEN round(sigma / mu, 6) + 0.0 END AS cv,
                   CASE WHEN s1 > 0
                        THEN round((sigma - mu) / (sigma + mu), 6) + 0.0
                        END AS burstiness
            FROM m ORDER BY user_id
        """,
        # NEW r16: the whole statistic is exact integer cents (running
        # MAX window, integer subtraction, total-order argmax); the one
        # final ratio divides integers, rounds 6 half-up both engines,
        # and guards the degenerate all-zero series with NULL.
        "events_max_drawdown": """
            WITH scored AS (
                SELECT event_type, ts, event_id,
                       CAST(trunc(CAST(value AS DECIMAL(18,6)) * 100)
                            AS BIGINT) AS value_cents,
                       max(CAST(trunc(CAST(value AS DECIMAL(18,6)) * 100)
                                AS BIGINT))
                           OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS peak_cents
                FROM events
            ),
            ranked AS (
                SELECT *, peak_cents - value_cents AS drawdown_cents,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY peak_cents - value_cents
                                              DESC, ts, event_id) AS rn
                FROM scored
            )
            SELECT event_type, ts AS trough_ts,
                   event_id AS trough_event_id,
                   peak_cents, value_cents AS trough_cents, drawdown_cents,
                   CASE WHEN peak_cents > 0
                        THEN round(CAST(drawdown_cents AS DOUBLE)
                                   / CAST(peak_cents AS DOUBLE), 6)
                   END AS drawdown_ratio
            FROM ranked WHERE rn = 1
        """,
        # NEW r16: hour-of-day Shannon entropy — the fold runs over the
        # HOUR-ORDERED bucket list with an explicit 0.0 init on both
        # engines (bare SUM over float terms is partial-aggregation-
        # order dependent); ln (not log2) is the proven cross-engine
        # kernel; all literals CAST(... AS DOUBLE); outputs 6dp (libm
        # ln drifts 1 ulp cross-engine — the registry log discipline).
        "events_behavior_entropy": """
            WITH hourly AS (
                SELECT user_id, CAST(hour(ts) AS INT) AS hod,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM events GROUP BY 1, 2
            ),
            g AS (
                SELECT user_id,
                       CAST(sum(cnt) AS BIGINT) AS n_events,
                       CAST(count(*) AS BIGINT) AS n_active_hours,
                       list(cnt ORDER BY hod) AS hs
                FROM hourly GROUP BY 1
            ),
            e AS (
                SELECT user_id, n_events, n_active_hours,
                       -list_reduce(
                           list_prepend(CAST(0.0 AS DOUBLE),
                               list_transform(hs, x ->
                                   (CAST(x AS DOUBLE)
                                    / CAST(n_events AS DOUBLE))
                                   * ln(CAST(x AS DOUBLE)
                                        / CAST(n_events AS DOUBLE)))),
                           (a, t) -> a + t) AS entropy_nats
                FROM g
            )
            SELECT user_id, n_events, n_active_hours,
                   round(entropy_nats, 6) + 0.0 AS entropy_nats,
                   round(entropy_nats / ln(CAST(24.0 AS DOUBLE)), 6) + 0.0
                       AS uniformity
            FROM e
        """,
        "dq_ks_test": """
            WITH bounds AS (
                SELECT min(year(o_orderdate)) AS y0,
                       max(year(o_orderdate)) AS y1
                FROM orders
            ),
            tagged AS (
                SELECT CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                            AS BIGINT) AS c,
                       CASE WHEN year(o_orderdate) = y0 THEN 1 ELSE 0 END
                           AS in1,
                       CASE WHEN year(o_orderdate) = y1 THEN 1 ELSE 0 END
                           AS in2
                FROM orders, bounds
                WHERE year(o_orderdate) = y0 OR year(o_orderdate) = y1
            ),
            per_value AS (
                SELECT c, sum(in1) AS c1, sum(in2) AS c2
                FROM tagged GROUP BY 1
            ),
            totals AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM per_value),
            cum AS (
                SELECT abs(CAST(sum(c1) OVER w AS HUGEINT) * n2
                           - CAST(sum(c2) OVER w AS HUGEINT) * n1) AS d_num,
                       n1, n2
                FROM per_value, totals
                WINDOW w AS (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND CURRENT ROW)
            ),
            agg AS (SELECT n1, n2, max(d_num) AS d_int FROM cum GROUP BY 1, 2)
            SELECT CAST(n1 AS BIGINT) AS n_first_year,
                   CAST(n2 AS BIGINT) AS n_last_year,
                   CAST(d_int AS DOUBLE)
                       / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS d_stat,
                   round(CAST(d_int AS DOUBLE)
                         / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                         * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                                / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))),
                         6) + 0.0 AS ks_lambda,
                   (CAST(d_int AS DOUBLE)
                    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                    * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                           / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))))
                       > 1.358 AS reject_at_05
            FROM agg
        """,
        "dq_theil_sen": """
            WITH daily AS (
                SELECT o_orderstatus AS status,
                       CAST(o_orderdate AS DATE) AS day,
                       sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS c
                FROM orders GROUP BY 1, 2
            ),
            slopes AS (
                SELECT a.status,
                       CAST(floor(CAST(b.c - a.c AS DOUBLE)
                                  / CAST(b.day - a.day AS DOUBLE)
                                  * 100.0) AS BIGINT) AS s_c2
                FROM daily a JOIN daily b
                  ON a.status = b.status AND a.day < b.day
            )
            SELECT status,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   quantile_cont(s_c2, 0.5) / 10000.0 AS sen_slope_per_day,
                   quantile_cont(s_c2, 0.25) / 10000.0 AS slope_q1,
                   quantile_cont(s_c2, 0.75) / 10000.0 AS slope_q3
            FROM slopes GROUP BY 1 ORDER BY 1
        """,
        # NEW r18: Wald-Wolfowitz runs test — exact x2-median order
        # statistic, integer run/alternation counts, shared IEEE z tree
        # (4dp), median-equal days dropped (standard treatment).
        # NEW r19 late wave: Brown-Forsythe/Levene variance-equality
        # screen — exact x2-medians (the runs_test order statistic),
        # integer deviation sums, one IEEE W tree; degenerate guards
        # mirrored (k >= 2, N > k, SSW > 0); the F(4, inf) 0.95 cutoff
        # 2.3719 = chi2(.95,4)/4 embedded as the same decimal (the
        # ljung-box _CHI2_95 precedent), decision only at k = 5.
        # NEW r19 late wave: Jarque-Bera normality screen — exact
        # HUGEINT power sums, one IEEE moment/JB tree, m2 > 0 branch on
        # the identical double, chi2(0.95, 2) = 5.9915 embedded as the
        # same decimal (the ljung-box precedent).
        "dq_jarque_bera": """
            WITH raw AS (
                SELECT o_orderpriority AS priority,
                       CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                            AS HUGEINT) AS c
                FROM orders
            ),
            s AS (
                SELECT priority, count(*) AS nl,
                       sum(c) AS s1, sum(c * c) AS s2,
                       sum(c * c * c) AS s3, sum(c * c * c * c) AS s4
                FROM raw GROUP BY 1
            ),
            d AS (
                SELECT priority, nl, CAST(nl AS DOUBLE) AS n,
                       CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
                       CAST(s3 AS DOUBLE) AS s3, CAST(s4 AS DOUBLE) AS s4
                FROM s
            ),
            m AS (
                SELECT priority, nl, n,
                       s2 / n - (s1 / n) * (s1 / n) AS m2,
                       s3 / n - 3 * (s1 / n) * s2 / n
                           + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
                       s4 / n - 4 * (s1 / n) * s3 / n
                           + 6 * (s1 / n) * (s1 / n) * s2 / n
                           - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)
                           AS m4
                FROM d
            ),
            g AS (
                SELECT priority, nl, n, m2,
                       CASE WHEN m2 > 0 THEN m3 / pow(m2, 1.5) END AS g1,
                       CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0 END AS g2
                FROM m
            )
            SELECT priority,
                   CAST(nl AS BIGINT) AS n_orders,
                   round(g1, 4) + 0.0 AS skew,
                   round(g2, 4) + 0.0 AS kurt_excess,
                   round(n * (g1 * g1 / 6.0 + g2 * g2 / 24.0), 4) + 0.0
                       AS jb_stat,
                   CASE WHEN m2 > 0 THEN
                       round(n * (g1 * g1 / 6.0 + g2 * g2 / 24.0), 4) + 0.0
                           >= 5.9915
                   END AS non_normal_at_05
            FROM g
            ORDER BY priority
        """,
        "dq_levene": f"""
            WITH base AS (
                SELECT o_orderpriority AS grp,
                       CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                            AS BIGINT) AS c
                FROM orders
            ),
            nd AS (SELECT grp, count(*) AS n FROM base GROUP BY 1),
            ordered AS (
                SELECT b.grp, b.c, nd.n,
                       row_number() OVER (PARTITION BY b.grp
                                          ORDER BY b.c, b.grp) AS rk
                FROM base b JOIN nd ON nd.grp = b.grp
            ),
            med2 AS (
                SELECT grp,
                       CASE WHEN count(*) = 1 THEN 2 * sum(c)
                            ELSE sum(c) END AS m2
                FROM ordered
                WHERE rk = CAST(floor((n + 1) / 2.0) AS BIGINT)
                   OR rk = CAST(floor(n / 2.0) AS BIGINT) + 1
                GROUP BY 1
            ),
            dev AS (
                SELECT b.grp,
                       CAST(abs(2 * b.c - m.m2) AS HUGEINT) AS d
                FROM base b JOIN med2 m ON m.grp = b.grp
            ),
            g AS (
                SELECT grp, count(*) AS ni, sum(d) AS si,
                       sum(d * d) AS qi
                FROM dev GROUP BY 1
            ),
            agg AS (
                SELECT CAST(count(*) AS BIGINT) AS k,
                       CAST(sum(ni) AS BIGINT) AS n_total,
                       sum(CAST(si AS DOUBLE) * CAST(si AS DOUBLE)
                           / CAST(ni AS DOUBLE)) AS ssb_part,
                       CAST(sum(si) AS DOUBLE) AS s_all,
                       CAST(sum(qi) AS DOUBLE) AS q_all
                FROM g
            ),
            stat AS (
                SELECT k, n_total, ssb_part, s_all, q_all,
                       ssb_part - s_all * s_all / CAST(n_total AS DOUBLE)
                           AS ssb,
                       q_all - ssb_part AS ssw
                FROM agg
            )
            SELECT k, n_total,
                   CASE WHEN k >= 2 AND n_total > k AND ssw > 0 THEN
                       round(((CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE))
                              / (CAST(k AS DOUBLE) - 1.0)) * (ssb / ssw),
                             4) + 0.0
                   END AS w_stat,
                   CASE WHEN k >= 2 AND n_total > k AND ssw > 0 THEN
                       round(((CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE))
                              / (CAST(k AS DOUBLE) - 1.0)) * (ssb / ssw),
                             4) + 0.0 >= ({_LEVENE_CRIT_SQL})
                   END AS unequal_at_05
            FROM stat
        """,
        "dq_runs_test": """
            WITH daily AS (
                SELECT o_orderstatus AS status,
                       CAST(o_orderdate AS DATE) AS day,
                       sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS c
                FROM orders GROUP BY 1, 2
            ),
            nd AS (SELECT status, count(*) AS n_days FROM daily GROUP BY 1),
            ordered AS (
                SELECT d.status, d.c, nd.n_days,
                       row_number() OVER (PARTITION BY d.status
                                          ORDER BY d.c) AS rk
                FROM daily d JOIN nd ON nd.status = d.status
            ),
            med2 AS (
                SELECT status,
                       CASE WHEN count(*) = 1 THEN 2 * sum(c)
                            ELSE sum(c) END AS m2
                FROM ordered
                WHERE rk = CAST(floor((n_days + 1) / 2.0) AS BIGINT)
                   OR rk = CAST(floor(n_days / 2.0) AS BIGINT) + 1
                GROUP BY 1
            ),
            signed AS (
                SELECT d.status, d.day,
                       CASE WHEN 2 * d.c > m.m2 THEN 1
                            WHEN 2 * d.c < m.m2 THEN -1 ELSE 0 END AS s
                FROM daily d JOIN med2 m ON m.status = d.status
            ),
            kept AS (SELECT * FROM signed WHERE s <> 0),
            lagged AS (
                SELECT status, s,
                       lag(s) OVER (PARTITION BY status ORDER BY day) AS prev
                FROM kept
            ),
            runs AS (
                SELECT status,
                       CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n1,
                       CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n2,
                       CAST(1 + sum(CASE WHEN prev IS NOT NULL AND s <> prev
                                         THEN 1 ELSE 0 END) AS BIGINT)
                           AS r_runs
                FROM lagged GROUP BY 1
            ),
            full_r AS (
                SELECT nd.status,
                       coalesce(r.n1, 0) AS n1,
                       coalesce(r.n2, 0) AS n2,
                       coalesce(r.r_runs, 0) AS r_runs
                FROM nd LEFT JOIN runs r ON r.status = nd.status
            ),
            scored AS (
                SELECT status, n1, n2, r_runs,
                       CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1
                            AND 2 * n1 * n2 > n1 + n2 THEN
                           round((CAST(r_runs AS DOUBLE)
                                  - (CAST(2 * n1 * n2 AS DOUBLE)
                                     / CAST(n1 + n2 AS DOUBLE) + 1.0))
                                 / sqrt(CAST(2 * n1 * n2 AS DOUBLE)
                                        * CAST(2 * n1 * n2 - (n1 + n2)
                                               AS DOUBLE)
                                        / CAST((n1 + n2) * (n1 + n2)
                                               AS DOUBLE)
                                        / CAST(n1 + n2 - 1 AS DOUBLE)),
                                 4) + 0.0
                       END AS z
                FROM full_r
            )
            SELECT status, n1, n2, r_runs, z,
                   CASE WHEN z <= -1.96 THEN 'clustered'
                        WHEN z >= 1.96 THEN 'alternating'
                        WHEN z IS NOT NULL THEN 'random'
                   END AS verdict
            FROM scored
        """,
        # NEW r18: Mann-Whitney U — midranks kept x2 (exact integers
        # under ties), tie-corrected variance bracket as an exact
        # integer, n1*n2 multiplied in doubles (BIGINT overflow past
        # test scale otherwise), z as one shared IEEE tree (4dp).
        "dq_mann_whitney": """
            WITH pooled AS (
                SELECT CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                            AS BIGINT) AS c,
                       CASE WHEN o_orderpriority = '1-URGENT'
                            THEN 1 ELSE 0 END AS ia
                FROM orders
                WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
            ),
            vals AS (
                SELECT c, sum(ia) AS na, count(*) - sum(ia) AS nb,
                       count(*) AS t
                FROM pooled GROUP BY 1
            ),
            ranked AS (
                SELECT c, na, nb, t,
                       coalesce(sum(t) OVER (ORDER BY c
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS lt
                FROM vals
            ),
            agg AS (
                SELECT CAST(sum(na) AS BIGINT) AS n1,
                       CAST(sum(nb) AS BIGINT) AS n2,
                       CAST(sum(na * (2 * lt + t + 1)) AS BIGINT) AS r1_x2,
                       CAST(sum(t * t * t - t) AS BIGINT) AS tie_cubes
                FROM ranked
            ),
            stat AS (
                SELECT n1, n2,
                       r1_x2 - n1 * (n1 + 1) AS u1_x2,
                       (n1 + n2 + 1) * (n1 + n2) * (n1 + n2 - 1)
                           - tie_cubes AS bracket
                FROM agg
            )
            SELECT '1-URGENT' AS group_a, '5-LOW' AS group_b,
                   n1, n2,
                   CAST(u1_x2 AS BIGINT) AS u1_x2,
                   CAST(2 * n1 * n2 - u1_x2 AS BIGINT) AS u2_x2,
                   CAST(bracket AS BIGINT) AS var_bracket,
                   CASE WHEN n1 > 0 AND n2 > 0 AND bracket > 0 THEN
                   round(CAST(u1_x2 - n1 * n2 AS DOUBLE)
                         / (2.0 * sqrt(CAST(n1 * n2 AS DOUBLE)
                                       * CAST(bracket AS DOUBLE)
                                       / (12.0 * CAST((n1 + n2)
                                          * (n1 + n2 - 1) AS DOUBLE)))),
                         4) + 0.0 END AS z,
                   CASE WHEN n1 > 0 AND n2 > 0 AND bracket > 0
                        AND abs(round(CAST(u1_x2 - n1 * n2 AS DOUBLE)
                         / (2.0 * sqrt(CAST(n1 * n2 AS DOUBLE)
                                       * CAST(bracket AS DOUBLE)
                                       / (12.0 * CAST((n1 + n2)
                                          * (n1 + n2 - 1) AS DOUBLE)))),
                         4) + 0.0) >= 1.96
                        THEN 'shift' ELSE 'no_shift' END AS verdict
            FROM stat
        """,
        # NEW r18: Pettitt changepoint — U_t via the W_t recursion
        # (value-grain cumulative counts -> day-ordered cumulative sum,
        # all exact integers); argmax |U_t| over t <= n-1, earliest day
        # on ties; means publish via the exact-integer HALF_UP idiom.
        "dq_pettitt_changepoint": """
            WITH daily AS (
                SELECT o_orderstatus AS status,
                       CAST(o_orderdate AS DATE) AS day,
                       sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS c
                FROM orders GROUP BY 1, 2
            ),
            nd AS (SELECT status, count(*) AS n FROM daily GROUP BY 1),
            vals AS (
                SELECT status, c, count(*) AS cnt FROM daily GROUP BY 1, 2
            ),
            cle AS (
                SELECT status, c, cnt,
                       sum(cnt) OVER (PARTITION BY status ORDER BY c
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cle
                FROM vals
            ),
            wt AS (
                SELECT d.status, d.day, nd.n,
                       (nd.n - e.cle) - (e.cle - e.cnt) AS w
                FROM daily d
                JOIN cle e ON e.status = d.status AND e.c = d.c
                JOIN nd ON nd.status = d.status
            ),
            ut AS (
                SELECT status, day, n,
                       sum(w) OVER (PARTITION BY status ORDER BY day
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS u,
                       row_number() OVER (PARTITION BY status
                                          ORDER BY day) AS t
                FROM wt
            ),
            best AS (
                SELECT status, CAST(abs(u) AS BIGINT) AS k_stat,
                       CAST(u AS BIGINT) AS u_at_cp,
                       day AS changepoint_day
                FROM (SELECT *, row_number() OVER (PARTITION BY status
                                ORDER BY abs(u) DESC, day) AS rk
                      FROM ut WHERE t < n)
                WHERE rk = 1
            ),
            seg AS (
                SELECT d.status,
                       CAST(sum(CASE WHEN d.day <= b.changepoint_day
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
                       sum(CASE WHEN d.day <= b.changepoint_day
                                THEN d.c ELSE 0 END) AS c_before,
                       CAST(sum(CASE WHEN d.day > b.changepoint_day
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
                       sum(CASE WHEN d.day > b.changepoint_day
                                THEN d.c ELSE 0 END) AS c_after
                FROM daily d JOIN best b ON b.status = d.status
                GROUP BY 1
            )
            SELECT nd.status, CAST(nd.n AS BIGINT) AS n_days,
                   coalesce(b.k_stat, 0) AS k_stat,
                   b.u_at_cp, b.changepoint_day,
                   s.n_before, s.n_after,
                   CAST((2 * s.c_before + s.n_before)
                        // (2 * s.n_before) AS DOUBLE) / 100.0 AS mean_before,
                   CAST((2 * s.c_after + s.n_after)
                        // (2 * s.n_after) AS DOUBLE) / 100.0 AS mean_after
            FROM nd
            LEFT JOIN best b ON b.status = nd.status
            LEFT JOIN seg s ON s.status = nd.status
        """,
        "dq_mann_kendall": """
            WITH daily AS (
                SELECT o_orderstatus AS status,
                       CAST(o_orderdate AS DATE) AS day,
                       sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100
                                AS BIGINT)) AS c
                FROM orders GROUP BY 1, 2
            ),
            s_stat AS (
                SELECT a.status,
                       sum(CASE WHEN b.c > a.c THEN 1
                                WHEN b.c < a.c THEN -1 ELSE 0 END) AS s
                FROM daily a JOIN daily b
                  ON a.status = b.status AND a.day < b.day
                GROUP BY 1
            ),
            n_days AS (SELECT status, count(*) AS n FROM daily GROUP BY 1),
            ties AS (
                SELECT status,
                       sum(t * (t - 1) * (2 * t + 5)) AS tie_term
                FROM (SELECT status, c, count(*) AS t FROM daily
                      GROUP BY 1, 2) g
                WHERE t > 1 GROUP BY 1
            ),
            j AS (
                -- LEFT JOIN + coalesce: single-day statuses (no day
                -- pairs) must appear as S=0 / no_trend rows, matching
                -- the engine's left-join fix (ADVICE r12)
                SELECT n_days.status, n, coalesce(s, 0) AS s,
                       n * (n - 1) * (2 * n + 5)
                           - coalesce(tie_term, 0) AS var18
                FROM n_days
                LEFT JOIN s_stat ON s_stat.status = n_days.status
                LEFT JOIN ties ON ties.status = n_days.status
            ),
            zc AS (
                SELECT status, n, s, var18,
                       CASE WHEN var18 > 0 THEN
                           round(CASE WHEN s > 0 THEN
                                     (CAST(s AS DOUBLE) - 1)
                                     / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                                 WHEN s < 0 THEN
                                     (CAST(s AS DOUBLE) + 1)
                                     / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                                 ELSE 0.0 END, 4) + 0.0 END AS z
                FROM j
            )
            SELECT status,
                   CAST(n AS BIGINT) AS n_days,
                   CAST(s AS BIGINT) AS s_stat,
                   CAST(var18 AS BIGINT) AS var_s_x18,
                   z,
                   CASE WHEN z >= 1.96 THEN 'increasing'
                        WHEN z <= -1.96 THEN 'decreasing'
                        ELSE 'no_trend' END AS trend
            FROM zc ORDER BY status
        """,
        "dq_cuped": """
            WITH mid AS (
                SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us
                FROM events
            ),
            per_user AS (
                SELECT CASE WHEN CAST('0x' || substr(
                                md5(CAST(user_id AS VARCHAR)), 1, 8)
                                AS BIGINT) % 2 = 0
                            THEN 'A' ELSE 'B' END AS arm,
                       coalesce(sum(CASE WHEN epoch_us(ts) < mid_us THEN
                           CAST(trunc(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT)
                           END), 0) AS x_c,
                       coalesce(sum(CASE WHEN epoch_us(ts) >= mid_us THEN
                           CAST(trunc(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT)
                           END), 0) AS y_c
                FROM events, mid
                GROUP BY user_id, arm
            ),
            arm_g AS (
                SELECT arm, count(*) AS n,
                       sum(CAST(x_c AS HUGEINT)) AS sx,
                       sum(CAST(y_c AS HUGEINT)) AS sy,
                       sum(CAST(x_c AS HUGEINT) * CAST(y_c AS HUGEINT)) AS sxy,
                       sum(CAST(x_c AS HUGEINT) * CAST(x_c AS HUGEINT)) AS sxx,
                       sum(CAST(y_c AS HUGEINT) * CAST(y_c AS HUGEINT)) AS syy
                FROM per_user GROUP BY 1
            ),
            pooled AS (
                SELECT sum(n) AS np, sum(sx) AS sxp, sum(sy) AS syp,
                       sum(sxy) AS sxyp, sum(sxx) AS sxxp
                FROM arm_g
            ),
            j AS (
                SELECT arm_g.*, np, sxp, syp, sxyp, sxxp,
                       CAST(CAST(np AS HUGEINT) * sxxp - sxp * sxp AS DOUBLE)
                           AS dxx_p,
                       CAST(CAST(np AS HUGEINT) * sxyp - sxp * syp AS DOUBLE)
                           AS dxy_p,
                       CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE) AS dyy,
                       CAST(n AS HUGEINT) * syy - sy * sy AS dyy_d,
                       CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS dxx,
                       CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) AS dxy
                FROM arm_g, pooled
            ),
            m AS (
                SELECT arm, n, dyy_d, dxx_p, dyy, dxx, dxy,
                       dxy_p / dxx_p AS theta,
                       CAST(sy AS DOUBLE) / n / 100.0 AS my,
                       CAST(sx AS DOUBLE) / n / 100.0 AS mx,
                       CAST(syp AS DOUBLE) / np / 100.0 AS myp,
                       CAST(sxp AS DOUBLE) / np / 100.0 AS mxp,
                       CAST(dyy AS DOUBLE) / (CAST(n AS DOUBLE)
                           * (CAST(n AS DOUBLE) - 1)) / 10000.0 AS var_y,
                       (2 * sy * 10000 + n) // (2 * n) AS mean_e6,
                       (2 * dyy_d * 100 + CAST(n AS HUGEINT) * (n - 1))
                           // (2 * CAST(n AS HUGEINT) * (n - 1)) AS var_e6
                FROM j
            )
            SELECT arm,
                   CAST(n AS BIGINT) AS n_users,
                   CAST(mean_e6 AS DOUBLE) / 1e6 AS mean_post,
                   CASE WHEN dxx_p > 0 THEN
                       round(my - theta * (mx - mxp), 6) + 0.0 END AS mean_cuped,
                   CASE WHEN dxx_p > 0 THEN round(theta, 6) + 0.0 END AS theta,
                   CAST(var_e6 AS DOUBLE) / 1e6 AS var_post,
                   CASE WHEN dxx_p > 0 THEN
                       round((dyy - 2 * theta * dxy + theta * theta * dxx)
                             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))
                             / 10000.0, 6) + 0.0 END AS var_cuped,
                   CASE WHEN dxx_p > 0 AND var_y > 0 THEN
                       round(1.0 - ((dyy - 2 * theta * dxy
                                     + theta * theta * dxx)
                                    / (CAST(n AS DOUBLE)
                                       * (CAST(n AS DOUBLE) - 1)) / 10000.0)
                                   / var_y, 6) + 0.0 END AS var_reduction
            FROM m ORDER BY arm
        """,
        "dq_ab_ttest": """
            WITH g AS (
                SELECT event_type,
                       count(*) AS n1i,
                       sum(CAST(value AS DECIMAL(18,6))) AS s1d,
                       sum(CAST(value AS DECIMAL(18,6))
                           * CAST(value AS DECIMAL(18,6))) AS q1d
                FROM events GROUP BY 1
            ),
            tot AS (SELECT sum(n1i) AS nti, sum(s1d) AS std_,
                           sum(q1d) AS qtd FROM g),
            c AS (
                SELECT event_type,
                       CAST(n1i AS BIGINT) AS n1l,
                       CAST(nti - n1i AS BIGINT) AS n2l,
                       CAST(s1d * 100 AS HUGEINT) AS s1c,
                       CAST((std_ - s1d) * 100 AS HUGEINT) AS s2c,
                       CAST(s1d AS DOUBLE) AS s1,
                       CAST(std_ - s1d AS DOUBLE) AS s2,
                       CAST(q1d AS DOUBLE) AS q1,
                       CAST(qtd - q1d AS DOUBLE) AS q2
                FROM g, tot
            ),
            m AS (
                SELECT event_type, n1l, n2l, s1c, s2c, s1, s2, q1, q2,
                       CAST(n1l AS DOUBLE) AS n1, CAST(n2l AS DOUBLE) AS n2
                FROM c
            ),
            v AS (
                SELECT *, s1 / n1 AS m1, s2 / n2 AS m2,
                       (q1 - n1 * (s1 / n1) * (s1 / n1)) / (n1 - 1) AS v1,
                       (q2 - n2 * (s2 / n2) * (s2 / n2)) / (n2 - 1) AS v2
                FROM m
            ),
            se AS (SELECT *, v1 / n1 + v2 / n2 AS se2 FROM v)
            SELECT event_type,
                   n1l AS n_group,
                   CAST((2 * s1c + n1l) // (2 * n1l) AS DOUBLE) / 100.0
                       AS mean_group,
                   CASE WHEN n2l > 0 THEN
                       CAST((2 * s2c + n2l) // (2 * n2l) AS DOUBLE) / 100.0
                   END AS mean_rest,
                   CASE WHEN n1l >= 2 AND n2l >= 2 AND se2 > 0 THEN
                       round((m1 - m2) / sqrt(se2), 4) + 0.0
                   END AS t_stat,
                   CASE WHEN n1l >= 2 AND n2l >= 2 AND se2 > 0 THEN
                       round((se2 * se2) / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                             + (v2 / n2) * (v2 / n2) / (n2 - 1)), 4)
                   END AS welch_df,
                   CASE WHEN n1l >= 2 AND n2l >= 2 AND se2 > 0 THEN
                       abs(round((m1 - m2) / sqrt(se2), 4)) >= 1.96
                   END AS nominal_sig
            FROM se
        """,
        "tpch_important_stock": """
            WITH sups AS (
                SELECT s_suppkey FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                WHERE n_nationkey % 5 = 2
            ),
            ps AS (
                SELECT p_partkey,
                       CAST(((p_partkey * 31 + s_suppkey * 17) % 10000)
                           * ((p_partkey * 7 + s_suppkey * 3) % 1000 + 1) AS BIGINT)
                           AS value_cents
                FROM part, sups
                WHERE (p_partkey + s_suppkey) % 4 = 0
            ),
            per_part AS (
                SELECT p_partkey, sum(value_cents) AS part_cents
                FROM ps GROUP BY 1
            ),
            total AS (
                SELECT sum(part_cents) AS total_cents, count(*) AS n_parts
                FROM per_part
            )
            SELECT p_partkey, round(part_cents / 100.0, 2) AS part_value
            FROM per_part, total
            WHERE part_cents * n_parts * 10 > total_cents * 12
        """,
    }
