"""Deduplication operators over the ``documents`` table.

Scale design (100 TB of text):
- exact dedup: one shuffle on a fingerprint of normalized text — never on
  the text itself (group keys stay ~16 bytes).
- MinHash + LSH banding: per-doc signature computed in a single projection
  (higher-order array functions, JVM-side, no Python); candidate pairs come
  from equi-joins on (band, band_hash) buckets — the only shuffle key — so
  cost is O(candidates), never O(n²).
- SimHash: 64-bit fingerprint per doc; near-dup candidates via banding the
  fingerprint into 16-bit chunks (hamming-LSH), verified with bit_count
  (popcount) on XOR — all integer ops in codegen.
- n-gram Jaccard: exact token-set similarity via token-inverted-index
  equi-join; bounded by restricting to a candidate window (at scale the
  MinHash pass supplies the candidates, this verifies them).
"""

from __future__ import annotations

import math
import threading
from contextlib import contextmanager

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Persisted intermediates keyed by (kind, plan-fingerprint, source-files,
#: params). Re-invocation with the same plan reuses the SAME persisted
#: DataFrame (the steady-state fast path: signatures computed once per
#: session per dataset); a call against a different source evicts that
#: source's entries first, so executor cache residency is bounded to one
#: dataset's worth instead of growing per invocation.
_plan_cache: dict[tuple, DataFrame] = {}

#: Same contract as session._TABLES_MEMO_LOCK: ``queries()`` callables
#: may run from threads, and _cached mutates the dict (sweeps, source
#: rotation, FIFO eviction) — serialize the whole check-or-build.
_plan_cache_lock = threading.Lock()


def _plan_fingerprint(df: DataFrame) -> tuple:
    """Identity of a cached intermediate: the analyzed plan's semantic
    hash (so documents.filter(...) over the same files never hits the
    full-table entry) plus the owning session's UUID (so a stopped-and-
    recreated session misses instead of returning frames bound to a dead
    session)."""
    qe = df._jdf.queryExecution()
    try:
        session_id = df.sparkSession._jsparkSession.sessionUUID()
    except Exception:
        session_id = id(df.sparkSession)
    return (qe.analyzed().semanticHash(), str(session_id))


#: Hard cap on registry entries: distinct plan fingerprints over the SAME
#: files (one per filter predicate) would otherwise accumulate persisted
#: frames without bound. 8 comfortably holds the working set (sigs +
#: shingle_sets for a full table plus a few filtered variants); beyond
#: that the oldest entry is evicted FIFO.
_PLAN_CACHE_MAX = 8


#: Observability counters for the plan-fingerprint registry (mirrors the
#: ``stats`` dict of duplicate_components): a FIFO eviction silently
#: unpersists a frame some caller may still hold — correct (it lazily
#: recomputes) but worth surfacing, so operators of a long-lived session
#: can see hit/evict churn instead of guessing.
_plan_cache_stats = {"hits": 0, "misses": 0, "evicted": 0, "dead_swept": 0, "source_rotated": 0}


def plan_cache_stats() -> dict:
    """Snapshot of the signature-registry counters (hits, misses,
    evicted = FIFO capacity evictions, dead_swept = stopped-session
    sweeps, source_rotated = different-source-table flushes)."""
    return dict(_plan_cache_stats)


def _cached(key: tuple, builder) -> DataFrame:
    with _plan_cache_lock:
        return _cached_locked(key, builder)


def _cached_locked(key: tuple, builder) -> DataFrame:
    if key not in _plan_cache:
        # eagerly drop entries bound to a stopped session — their persisted
        # blocks are already gone and the keys would never match again
        # (fingerprint includes the session UUID). A probe EXCEPTION is
        # treated as dead, but the entry may really be live (transient
        # py4j hiccup) — try unpersist before popping so a live entry's
        # blocks are released rather than leaked; harmless on a truly
        # dead session.
        for k in list(_plan_cache):
            entry = _plan_cache[k]
            try:
                dead = entry.sparkSession._jsparkSession.sparkContext().isStopped()
            except Exception:
                dead = True
            if dead:
                try:
                    entry.unpersist()
                except Exception:
                    pass
                _plan_cache.pop(k, None)
                _plan_cache_stats["dead_swept"] += 1
        src = key[2]
        for stale in [k for k in _plan_cache if k[2] != src]:
            try:
                _plan_cache.pop(stale).unpersist()
            except Exception:
                pass  # entry belonged to a stopped session
            _plan_cache_stats["source_rotated"] += 1
        while len(_plan_cache) >= _PLAN_CACHE_MAX:
            oldest = next(iter(_plan_cache))
            try:
                _plan_cache.pop(oldest).unpersist()
            except Exception:
                pass
            _plan_cache_stats["evicted"] += 1
        _plan_cache_stats["misses"] += 1
        _plan_cache[key] = builder().persist()
    else:
        _plan_cache_stats["hits"] += 1
    return _plan_cache[key]

def _file_sig(uri: str):
    """(uri, size, mtime_ns, tail) identity for registry keys: the same
    file NAME rewritten in place (same session) must MISS, not return a
    persisted frame built on the old bytes. Local file:// URIs stat the
    filesystem AND fold in the file's last 256 bytes (for parquet that is
    the footer-metadata tail — column-chunk offsets and statistics, so a
    same-size rewrite on a coarse-mtime filesystem (1 s ticks on some
    network mounts) still changes the signature; heuristic, not a full
    content hash). Remote schemes fall back to name-only identity (the
    documented immutable-input assumption — object stores are
    write-once-per-key in the landing layout this repo models)."""
    from urllib.parse import unquote, urlparse

    import os

    p = urlparse(uri)
    if p.scheme in ("file", ""):
        path = unquote(p.path) if p.scheme else uri
        try:
            st = os.stat(path)
        except OSError:
            return (uri, None, None, None)
        try:
            with open(path, "rb") as f:
                if st.st_size > 256:
                    f.seek(-256, os.SEEK_END)
                tail = f.read(256)
        except OSError:
            tail = None
        return (uri, st.st_size, st.st_mtime_ns, tail)
    return (uri, None, None, None)


def source_signature(df: DataFrame) -> tuple:
    """Stable identity of a DataFrame's backing files for cache keys:
    sorted (uri, size, mtime_ns) triples; empty tuple for in-memory
    frames (no stable identity → callers skip their registry)."""
    return tuple(_file_sig(u) for u in sorted(df.inputFiles()))


#: Normalization shared by every dedup operator: lowercase + collapse
#: whitespace. Matches the oracle SQL exactly.
def _norm_text(col):
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup on normalized text: keep the lowest doc_id per group,
    report group size. Grouping on md5(text) keeps the shuffle key small at
    scale; md5 is also what the oracle computes."""
    return (
        documents.select(
            F.md5(_norm_text(F.col("text"))).alias("fingerprint"),
            "doc_id",
        )
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def _shingles(col, n: int = 3):
    """Word n-gram shingles as a distinct array — built from split +
    transform/slice, no UDF. Guarded for docs shorter than n tokens:
    Spark's sequence(1, 0) yields a DESCENDING [1, 0] (not empty), which
    would make slice() throw on index 0."""
    tokens = F.split(_norm_text(col), " ")
    k = F.size(tokens) - (n - 1)
    return F.when(k >= 1, F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
        )
    )).otherwise(F.array().cast("array<string>"))


def minhash_signatures(documents: DataFrame, num_hashes: int = 16, shingle_n: int = 3) -> DataFrame:
    """Per-doc MinHash signature in the scalable formulation: explode
    shingles ONCE, hash each shingle under `num_hashes` seeds, and take
    per-doc minima in a single groupBy (map-side partial aggregation, so
    the shuffle carries num_hashes longs per doc — never the shingles).

    The naive alternative — num_hashes × array_min(transform(shingles)) in
    one projection — recomputes the shingle pipeline per seed once Catalyst
    collapses projections; at 50k docs that was ~16× redundant work.

    Seed-hashes are FLAT COLUMNS (h0..h15), not an array: min(h_i) over a
    plain long column JIT-compiles to half the whole-stage-codegen of
    min(element_at(array, i)) — measured 20 s → 10 s cold on a fresh JVM
    at sf0.1, identical values (xxhash64(shingle, seed) either way).
    """
    exploded = documents.select(
        "doc_id", F.explode(_shingles(F.col("text"), shingle_n)).alias("shingle")
    )
    hashed = exploded.select(
        "doc_id", *[F.xxhash64("shingle", F.lit(i)).alias(f"h{i}") for i in range(num_hashes)]
    )
    return hashed.groupBy("doc_id").agg(
        F.array(*[F.min(f"h{i}") for i in range(num_hashes)]).alias("signature")
    )


def _band_candidate_pairs(
    documents: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Banded-LSH candidate pairs (doc_a < doc_b), deduplicated — the
    shared front half of minhash_lsh_candidates and the calibration
    audit's candidate feed. Signatures come from the bounded plan-cache
    registry when the input is file-backed (the table feeds both sides
    of the self-join; recomputing the shingle+aggregate subtree twice
    was the dominant cost). (localCheckpoint was tried and rejected:
    the RDD-backed leaf hides statistics/columnar structure from
    Catalyst and made the candidate join ~40× slower at sf0.1.)
    Cache key = plan fingerprint (semantic hash + session) over the
    source parquet files' (uri, size, mtime) signatures — an in-place
    rewrite misses instead of returning stale signatures; a
    non-file-backed input (in-memory test frames) has no stable file
    identity → skip the registry rather than risk a key collision
    returning another dataset's signatures."""
    rows_per_band = num_hashes // bands
    src = source_signature(documents)
    fp = _plan_fingerprint(documents) if src else None
    if src:
        sigs = _cached(
            ("minhash_sigs", fp, src, num_hashes, shingle_n),
            lambda: minhash_signatures(documents, num_hashes, shingle_n),
        )
    else:
        sigs = minhash_signatures(documents, num_hashes, shingle_n)
    # band rows carry ONLY (doc_id, band_id, band_hash) — the candidate
    # join shuffles ids, never text or shingle arrays
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.xxhash64(
                            F.slice("signature", b * rows_per_band + 1, rows_per_band)
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")

    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def minhash_lsh_candidates(
    documents: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs.

    1. signatures (see above);
    2. band each signature into `bands` chunks, hash each chunk;
    3. equi-join docs sharing any (band_id, band_hash) bucket → candidates;
    4. verify candidates with EXACT shingle Jaccard (array_intersect /
       union sizes) and threshold.

    The only shuffles are the band-bucket join and the final distinct —
    no all-pairs comparison anywhere, which is what makes this the 100 TB
    path. Deterministic (seeded xxhash64), but not ANSI-SQL-expressible →
    driver records rows-only correctness; the exact-Jaccard companion
    (ngram_jaccard_pairs) is the hash-checked oracle query.
    """
    cand = _band_candidate_pairs(documents, num_hashes, bands, shingle_n)
    src = source_signature(documents)
    fp = _plan_fingerprint(documents) if src else None
    # exact-Jaccard verification only for surviving candidates: fetch the
    # shingle arrays by joining back against a one-pass shingle projection
    _shingle_plan = lambda: documents.select(  # noqa: E731
        "doc_id", _shingles(F.col("text"), shingle_n).alias("shingles")
    )
    shingle_sets = (
        _cached(("shingle_sets", fp, src, shingle_n), _shingle_plan) if src else _shingle_plan()
    )
    cand = (
        cand.join(
            shingle_sets.select(
                F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
            ),
            "doc_a",
        )
        .join(
            shingle_sets.select(
                F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
            ),
            "doc_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def ngram_token_jaccard_pairs(
    documents: DataFrame, max_doc_id: int = 100, threshold: float = 0.8
) -> DataFrame:
    """Exact token-set Jaccard via inverted-index equi-join (the
    SQL-expressible verifier; oracle-checked).

    distinct tokens per doc → self-join on token → |∩| per pair →
    jaccard = |∩| / (|A| + |B| - |∩|). Restricted to doc_id < max_doc_id
    for the correctness harness; at scale the candidate set comes from
    MinHash-LSH instead of a full self-join.
    """
    docs = documents.filter(F.col("doc_id") < max_doc_id)
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split(_norm_text(F.col("text")), " "))).alias("token")
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(b, (F.col("a.token") == F.col("b.token")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_tokens").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_tokens").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )



def _harness_pair_feed(documents: DataFrame) -> DataFrame:
    """MATERIALIZED default pair feed for the graph diagnostics: the
    exact-Jaccard verifier at the standard harness bounds
    (doc_id < 100, t = 0.8), ``localCheckpoint``-ed before use.

    Why materialize: every diagnostic joins the pair list against
    itself and against derived degree tables; those consumer subtrees
    are canonically different (filters, aliases, aggregates), so
    ReuseExchange never fires and each reference replays the FULL
    inverted-index verifier from the corpus scan — the r12 plan census
    measured graph_triangles at 188 parquet scans / 8.4 s cold where
    one suffices. The feed is harness-bounded (≲ a few thousand pairs);
    at scale callers pass ``pairs=`` from the persisted LSH band index
    and this default never runs."""
    return (
        ngram_token_jaccard_pairs(documents, 100, 0.8)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )

def cross_source_contamination(
    documents: DataFrame,
    max_doc_id: int = 100,
    threshold: float = 0.8,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate LEAKAGE MATRIX between sources — which corpus
    slices share content (web dump re-hosting books, two crawls of the
    same site, eval data inside a training source). A mixture job reads
    this before trusting per-source token budgets: duplicated mass
    across sources silently double-weights it.

    One row per unordered source pair (source_a <= source_b):
    ``n_pairs`` near-dup pairs between them, ``n_cross_docs`` distinct
    documents of the pair's sources involved, ``sum_jaccard`` (sum, not
    mean: summing 6-decimal-grid values lands back ON the grid, so the
    result is identical under any fp summation order — a MEAN of grid
    values sits exactly on round-half boundaries and flips its 6th
    decimal with partial-aggregation order; divide by n_pairs for the
    mean). By
    default the pair feed is the exact-Jaccard verifier (bounded window,
    oracle-checked); at scale callers inject
    ``minhash_lsh_candidates(documents)`` — same contract as
    ``duplicate_components``. The source lookup joins the pair table
    (pair-grain, small) against a two-column doc→source projection; the
    matrix aggregate is |sources|² rows."""
    if pairs is None:
        # materialized like _harness_pair_feed (this one keeps the
        # jaccard column): the matrix/touched-docs consumers otherwise
        # replay the verifier join per reference (18 scans, r12 census)
        pairs = ngram_token_jaccard_pairs(
            documents, max_doc_id, threshold
        ).localCheckpoint()
        meta = documents.filter(F.col("doc_id") < max_doc_id)
    else:
        meta = documents
    meta = meta.select("doc_id", "source")
    sa = meta.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    sb = meta.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    labeled = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.least(F.col("src_a"), F.col("src_b")).alias("source_a"),
            F.greatest(F.col("src_a"), F.col("src_b")).alias("source_b"),
        )
    )
    docs_touched = labeled.select(
        "source_a", "source_b", F.col("doc_a").alias("doc_id")
    ).unionByName(labeled.select("source_a", "source_b", F.col("doc_b").alias("doc_id")))
    n_docs = (
        docs_touched.distinct()
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_cross_docs"))
    )
    return (
        labeled.groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.sum("jaccard"), 6).alias("sum_jaccard"),
        )
        .join(n_docs, ["source_a", "source_b"])
        .select("source_a", "source_b", "n_pairs", "n_cross_docs", "sum_jaccard")
    )


#: Directed edge rows below which a graph kernel runs its exact
#: driver-side twin over the collected edges instead of the distributed
#: loop: on a small graph the loop's cost is scheduler rounds, not data.
#: The collect that decides is bounded by this limit (~1 MB of rows),
#: so a graph of any size is safe to probe.
_DRIVER_GRAPH_EDGES = 20_000

#: Target edge rows per task for the distributed loops: P =
#: ceil(edge_rows / this), so a graph just over the driver limit runs
#: single-task while a 100 TB pair graph fans out. coalesce alone only
#: bounds the count from ABOVE, so duplicate_components also raises
#: spark.sql.shuffle.partitions to P for the loop when P exceeds it.
_COMPONENT_ROWS_PER_PARTITION = 2_000_000


def _driver_edges(edges: DataFrame) -> list | None:
    """The graph kernels' one driver-vs-distributed decision: the rows of
    ``edges`` (a directed edge list) when there are fewer than
    ``_DRIVER_GRAPH_EDGES`` of them, else None — the caller then runs its
    distributed loop."""
    rows = edges.limit(_DRIVER_GRAPH_EDGES).collect()
    return rows if len(rows) < _DRIVER_GRAPH_EDGES else None


def _loop_partitions(n_edges: int) -> int:
    """Task count for a distributed graph loop over ``n_edges`` rows."""
    return max(1, math.ceil(n_edges / _COMPONENT_ROWS_PER_PARTITION))


_SHUFFLE_RAISE_LOCK = threading.Lock()
#: session-uuid → [depth, saved-conf]: reference-counted so OVERLAPPING
#: raises in one session (threads, or a component loop nested inside a
#: pipeline) restore the ORIGINAL value exactly once, when the last
#: raiser exits — a plain save/restore pair races: the inner caller
#: would snapshot the outer caller's raised value and leave it behind.
_SHUFFLE_RAISE_STATE: dict[str, list] = {}


@contextmanager
def _raised_shuffle_partitions(spark, P: int):
    """Raise ``spark.sql.shuffle.partitions`` to at least ``P`` for the
    duration of the block; reentrant and thread-safe within the process.
    The raise is visible to queries planned CONCURRENTLY in the same
    session while the block runs; it only ever increases parallelism
    (never correctness-affecting), and callers needing full isolation
    can run under ``spark.newSession()``."""
    conf_key = "spark.sql.shuffle.partitions"
    try:
        sess = str(spark._jsparkSession.sessionUUID())
    except Exception:
        sess = str(id(spark))
    with _SHUFFLE_RAISE_LOCK:
        state = _SHUFFLE_RAISE_STATE.get(sess)
        if state is None:
            state = [0, int(spark.conf.get(conf_key))]
            _SHUFFLE_RAISE_STATE[sess] = state
        state[0] += 1
        if P > int(spark.conf.get(conf_key)):
            spark.conf.set(conf_key, str(P))
    try:
        yield
    finally:
        with _SHUFFLE_RAISE_LOCK:
            state = _SHUFFLE_RAISE_STATE[sess]
            state[0] -= 1
            if state[0] == 0:
                del _SHUFFLE_RAISE_STATE[sess]
                spark.conf.set(conf_key, str(state[1]))


def _edge_union_find(edge_rows) -> list[tuple]:
    """Exact union-find over a COLLECTED edge list (two-column rows,
    either orientation, ids of any orderable type): unions toward the
    smaller root so labels stay min-id, and returns the sorted
    (node, root) list for every edge-touched node — the shared
    driver-side kernel of
    ``duplicate_components``' driver path and the graph diagnostics'
    component labels (one implementation, several callers)."""
    parent: dict = {}

    def _find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    touched: set = set()
    for a_, b_ in edge_rows:
        touched.add(a_)
        touched.add(b_)
        ra, rb = _find(a_), _find(b_)
        if ra != rb:
            # union toward the smaller root → labels stay min-id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return sorted((n, _find(n)) for n in touched)


def duplicate_components(
    documents: DataFrame,
    max_doc_id: int = 100,
    threshold: float = 0.8,
    max_iterations: int = 25,
    pairs: DataFrame | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over the near-duplicate pair graph — the step
    after pair generation: pairs (a,b),(b,c) collapse into one duplicate
    CLUSTER with a canonical representative (min doc_id), which is what a
    training-data pipeline actually deletes against.

    ``pairs`` is injectable: by default the exact-Jaccard self-join
    (bounded to ``max_doc_id`` — the correctness-harness feed), but at
    scale callers pass ``minhash_lsh_candidates(documents)`` so the
    component step runs over LSH candidates with no all-pairs join
    anywhere. When pairs are injected the node universe is ALL of
    ``documents`` (no ``max_doc_id`` bound), and edges are SEMI-JOINED
    against that universe first: star contraction would merge through
    an unknown endpoint and could even elect a foreign id as
    component_id, so edges touching unknown ids are dropped.

    Path, chosen from the edge count (``_driver_edges``): a graph with
    fewer than ``_DRIVER_GRAPH_EDGES`` directed edge rows runs exact
    UNION-FIND driver-side over the collected edges
    (``stats["rounds"] = 0``); a larger one runs alternating
    large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14) as a driver-controlled loop of
    DataFrame joins — fixpoint in O(log d) rounds. Both publish the
    same min-id labels, so the output does not depend on the path.

    The loop sizes every per-round frame to P = ceil(edge_rows /
    ``_COMPONENT_ROWS_PER_PARTITION``) partitions (edge tables are
    node/edge-grain, small relative to the corpus — task count should
    track THEM, not spark.sql.shuffle.partitions). coalesce(P) can only
    REDUCE partition counts, so when P exceeds the session's
    spark.sql.shuffle.partitions the loop runs with that conf raised to
    P (restored via the reference-counted ``_raised_shuffle_partitions``
    — overlapping loops in one session restore the pre-raise value
    exactly once, when the last one exits). ``stats`` (optional dict)
    receives ``rounds`` / ``n_edges`` / ``num_partitions`` for
    observability.
    """
    if pairs is None:
        pair_src = ngram_token_jaccard_pairs(documents, max_doc_id, threshold)
        nodes = documents.filter(F.col("doc_id") < max_doc_id)
    else:
        pair_src = pairs
        nodes = documents
    pair_df = pair_src.select("doc_a", "doc_b")
    if pairs is not None:
        # enforce the endpoint ⊆ nodes precondition (see docstring)
        ids_a = nodes.select(F.col("doc_id").alias("doc_a"))
        ids_b = nodes.select(F.col("doc_id").alias("doc_b"))
        pair_df = pair_df.join(ids_a, "doc_a", "left_semi").join(ids_b, "doc_b", "left_semi")
    pair_df = pair_df.persist()
    edges = pair_df.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(pair_df.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    edge_rows = _driver_edges(edges)
    n_edges = len(edge_rows) if edge_rows is not None else edges.count()
    P = _loop_partitions(n_edges)
    if stats is not None:
        stats.update({"n_edges": n_edges, "num_partitions": P})
    if edge_rows is not None:
        # union-find over the EDGE-TOUCHED nodes only (nothing
        # node-grain is collected); singletons get their own id via the
        # broadcast left join below, a map-only stage at any corpus size
        labels = _edge_union_find(edge_rows)
        if stats is not None:
            stats["rounds"] = 0
        pair_df.unpersist()
        # ids keep the node type: string ids (entity names) are as valid
        # as doc_ids, like on the star loop
        id_type = nodes.schema["doc_id"].dataType
        labels_df = documents.sparkSession.createDataFrame(
            labels,
            T.StructType(
                [T.StructField("doc_id", id_type), T.StructField("label", id_type)]
            ),
        )
        return (
            nodes.select("doc_id")
            .join(F.broadcast(labels_df), "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("label"), F.col("doc_id")).alias("component_id"),
            )
            .withColumn(
                "is_canonical", F.col("doc_id") == F.col("component_id")
            )
        )
    edges = edges.coalesce(P).persist()
    spark = documents.sparkSession
    try:
        with _raised_shuffle_partitions(spark, P):
            return _components_star(nodes, edges, P, max_iterations, stats)
    finally:
        edges.unpersist()
        pair_df.unpersist()


def _release_checkpoint(df: DataFrame) -> None:
    """Eagerly release a localCheckpoint'd frame's cached blocks.

    ``DataFrame.unpersist()`` does not reach checkpointed RDD blocks, so
    without this each fixpoint round's node/edge-grain cache would live
    until the ContextCleaner GCs the dropped reference — peak storage
    O(rounds) copies instead of 2. The analyzed plan of a
    localCheckpoint'd frame is a ``LogicalRDD`` whose ``rdd`` field IS
    the checkpointed RDD — possibly under a projection (e.g. a
    ``drop()`` over the checkpoint), so walk the analyzed plan to every
    LogicalRDD leaf; fall back to the ContextCleaner if the plan shape
    ever changes."""
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            if node.nodeName() == "LogicalRDD":
                node.rdd().unpersist(False)
                continue
            it = node.children().iterator()
            while it.hasNext():
                stack.append(it.next())
    except Exception:
        pass


def _components_star(
    nodes: DataFrame, edges: DataFrame, P: int, max_iterations: int, stats: dict | None
) -> DataFrame:
    """Alternating large-star/small-star rounds (Kiveris et al., SoCC'14).

    large-star: every node u links each LARGER neighbor v to
    m = min(N(u) ∪ {u}). small-star: on the larger→smaller orientation,
    every node u relinks its smaller neighbors (and itself) to the
    minimum. Both preserve connectivity; the composition contracts long
    paths geometrically, so fixpoint arrives in O(log d) rounds where
    min-label propagation needs O(d). At fixpoint the edge set is a star
    forest rooted at each component's min node.
    """
    # per-round localCheckpoint (eager): each round's plan references
    # `cur` several times (sym, mins, both star joins), so lineage grows
    # ~5× per round without truncation and Catalyst analysis OOMs within
    # a dozen rounds; checkpointing keeps every round's plan O(1)
    cur = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .coalesce(P)
        .localCheckpoint()
    )
    prev_sig = None
    for rounds in range(1, max_iterations + 1):
        sym = cur.unionByName(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        directed = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins2 = directed.groupBy("u").agg(F.min("v").alias("mn"))
        joined = directed.join(mins2, "u")
        new = (
            joined.select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .unionByName(joined.select("u", F.col("mn").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .coalesce(P)
            .localCheckpoint()
        )
        # one-job fixpoint probe: (row count, order-independent hash) of
        # the canonical larger→smaller edge set. bit_xor (not sum) —
        # xor never overflows under ANSI mode, and the rows are
        # distinct so pair-cancellation can't collide two edge sets
        # of equal cardinality except by xxhash64 coincidence. The
        # (rare, first) signature match is CONFIRMED with one exact
        # exceptAll before stopping — counts are equal and rows are
        # distinct, so an empty difference proves set equality; a
        # hash-collision false positive can therefore never stop the
        # loop early with unmerged components.
        row = new.agg(
            F.count("*").alias("n"), F.bit_xor(F.xxhash64("u", "v")).alias("h")
        ).first()
        sig = (row["n"], row["h"])
        prev = cur
        cur = new
        if sig == prev_sig and new.exceptAll(prev).count() == 0:
            _release_checkpoint(prev)
            break
        _release_checkpoint(prev)
        prev_sig = sig
    else:
        raise RuntimeError(f"no fixpoint after {max_iterations} iterations")
    if stats is not None:
        stats["rounds"] = rounds
    roots = cur.groupBy(F.col("u").alias("doc_id")).agg(F.min("v").alias("root"))
    result = (
        nodes.select("doc_id")
        .join(roots, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("root", F.col("doc_id")).alias("component_id"),
            F.col("root").isNull().alias("is_canonical"),
        )
        .localCheckpoint()
    )
    _release_checkpoint(cur)
    return result


def simhash_fingerprints(documents: DataFrame, bits: int = 64) -> DataFrame:
    """64-bit SimHash per document, computed without Python UDFs:

    token hashes (xxhash64) → per-bit ±1 contributions aggregated via a
    higher-order fold over an array of bit positions. Fingerprint =
    sign-bit vector packed into a long.
    """
    tokens = F.array_distinct(F.split(_norm_text(F.col("text")), " "))
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    # For each bit position, count tokens with that bit set minus tokens
    # with it clear; the simhash bit is 1 when the balance is positive.
    bit_cols = []
    for b in range(bits):
        balance = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        # shiftleft wraps at bit 63 (sign bit) — exactly the packing we want
        bit_cols.append(
            F.when(balance > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
                F.lit(0).cast("long")
            )
        )
    fingerprint = bit_cols[0]
    for c in bit_cols[1:]:
        fingerprint = fingerprint.bitwiseOR(c)
    return documents.select("doc_id", fingerprint.alias("simhash"))


def simhash_near_dup_pairs(
    documents: DataFrame, max_hamming: int = 4, band_bits: int = 8
) -> DataFrame:
    """Hamming-LSH over SimHash fingerprints: band the 64-bit fingerprint
    into ``64/band_bits`` chunks; docs sharing any exact chunk are
    candidates; verify with popcount(xor) <= max_hamming.

    Recall guarantee (pigeonhole): with B bands, any pair with hamming
    distance <= B-1 differs in at most B-1 chunks, so at least one chunk
    matches exactly and the pair is generated as a candidate. The default
    (band_bits=8 → 8 bands) therefore guarantees full recall for
    hamming <= 7, comfortably covering the max_hamming=4 filter. With
    band_bits=16 (4 bands) the guarantee drops to hamming <= 3 — a pair at
    distance exactly 4 with one differing bit per chunk would be missed —
    so callers narrowing bands below max_hamming+1 trade recall for fewer
    candidates."""
    fps = simhash_fingerprints(documents)
    n_bands = 64 // band_bits
    banded = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftrightunsigned(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("chunk"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_id", "band.chunk")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def incremental_exact_dedup(documents: DataFrame, split_doc_id: int = 250) -> DataFrame:
    """Incremental-crawl dedup: classify each INCOMING document (doc_id ≥
    ``split_doc_id``) against the EXISTING corpus (doc_id < split) and
    within its own batch — the production shape of dedup once a corpus
    is live: every new crawl lands against an index of prior
    fingerprints, not against itself alone.

    Statuses: ``dup_of_existing`` (fingerprint already in the corpus),
    ``dup_within_batch`` (first seen in this batch by a smaller incoming
    doc_id), ``unique`` (keep). Shuffle profile at 100 TB: both sides
    reduce to 16-byte md5 grain before the join; the existing side is
    fingerprint-DISTINCT (index-sized, typically ≪ corpus), the join is
    a plain equi-join AQE may broadcast when the index fits; the
    within-batch rule is one batch-grain aggregate — no corpus×batch
    blowup anywhere."""
    fp = F.md5(_norm_text(F.col("text")))
    existing = (
        documents.filter(F.col("doc_id") < split_doc_id)
        .select(fp.alias("fingerprint"))
        .distinct()
    )
    incoming = documents.filter(F.col("doc_id") >= split_doc_id).select(
        "doc_id", "source", fp.alias("fingerprint")
    )
    first_in_batch = incoming.groupBy("fingerprint").agg(
        F.min("doc_id").alias("first_doc_id")
    )
    return (
        incoming.join(
            existing.withColumn("in_existing", F.lit(True)), "fingerprint", "left"
        )
        .join(first_in_batch, "fingerprint")
        .select(
            "doc_id",
            "source",
            "fingerprint",
            F.when(F.col("in_existing"), "dup_of_existing")
            .when(F.col("doc_id") != F.col("first_doc_id"), "dup_within_batch")
            .otherwise("unique")
            .alias("status"),
        )
    )


def _banded_rows(
    documents: DataFrame, num_hashes: int, bands: int, shingle_n: int
) -> DataFrame:
    """(doc_id, band_id, band_hash) rows for the MinHash-LSH band table
    — the shared banding kernel of ``write_band_index`` (persisted
    bucketed table) and ``band_index_probe``'s temp-view path for
    in-memory frames."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(documents, num_hashes, shingle_n)
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.xxhash64(
                            F.slice("signature", b * rows_per_band + 1, rows_per_band)
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")


def write_band_index(
    documents: DataFrame,
    table: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    n_buckets: int = 8,
) -> None:
    """Materialize the MinHash BAND table as a catalog table BUCKETED on
    the candidate join's keys — the layout SCALE.md promises for
    repeated dedup runs ('write the signature table bucketed by
    band_hash so repeated runs skip the shuffle'). Rows are
    (doc_id, band_id, band_hash), bucketed on BOTH (band_id, band_hash):
    bucket columns must equal the join's equi-key set for the scan
    partitioning to satisfy the join requirement (bucketing on
    band_hash alone still forced a full re-shuffle). The candidate
    self-join over the persisted table then needs no shuffle on either
    side (asserted in tests)."""
    banded = _banded_rows(documents, num_hashes, bands, shingle_n)
    (
        banded.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, "band_id", "band_hash")
        .saveAsTable(table)
    )


def candidates_from_band_index(spark, table: str) -> DataFrame:
    """LSH candidate pairs from a persisted ``write_band_index`` table:
    the (band_id, band_hash) self-join reads the bucket files pairwise
    — zero pre-join exchanges in the executed plan, so a recurring
    dedup job pays a scan, not a shuffle, per run. Pairs are candidates
    (exact-Jaccard verification still applies downstream, exactly as in
    ``minhash_lsh_candidates`` step 4)."""
    banded = spark.table(table)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _bloom_build(
    fingerprints: DataFrame, m_bits: int, k: int, seed: int
) -> "np.ndarray":
    """Distributed Bloom-filter build over a fingerprint column (Bloom
    1970; the Spark runtime uses the same construction for row-level
    runtime filtering). Bit positions are computed JVM-side
    (``xxhash64(fp, seed+i) mod m`` — no Python per row), each input
    partition folds its positions into ONE ``m/8``-byte uint8 bitmap
    inside an Arrow kernel, and the driver ORs the per-partition
    bitmaps — the bounded-driver-combine pattern proven by ``_pca_fit``:
    transfer is #partitions × m/8 bytes regardless of row count."""
    import numpy as np

    if m_bits % 8 != 0 or m_bits <= 0:
        raise ValueError(f"m_bits must be a positive multiple of 8, got {m_bits}")
    pos_cols = [
        F.pmod(F.xxhash64(F.col("fingerprint"), F.lit(seed + i)), F.lit(m_bits))
        for i in range(k)
    ]
    pos = fingerprints.select(F.explode(F.array(*pos_cols)).alias("p"))

    def to_bitmap(batches):
        import numpy as np
        import pandas as pd

        bm = np.zeros(m_bits // 8, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            if len(pdf):
                any_rows = True
                p = pdf["p"].to_numpy(dtype=np.int64)
                np.bitwise_or.at(bm, p // 8, (np.uint8(1) << (p % 8).astype(np.uint8)))
        if any_rows:
            yield pd.DataFrame({"bm": [bm.tobytes()]})

    parts = pos.mapInPandas(to_bitmap, "bm binary").collect()
    out = np.zeros(m_bits // 8, dtype=np.uint8)
    for r in parts:
        out |= np.frombuffer(r["bm"], dtype=np.uint8)
    return out


def bloom_incremental_dedup(
    documents: DataFrame,
    split_doc_id: int = 250,
    m_bits: int = 1 << 20,
    k: int = 4,
    seed: int = 77,
) -> DataFrame:
    """``incremental_exact_dedup`` with a Bloom prefilter in front of the
    existing-index join — the 100 TB shape of recurring dedup: the
    existing corpus's fingerprint index compresses to an ``m_bits``
    bitmap (128 KB at 2²⁰ — broadcast, not joined), every incoming doc
    tests membership map-side, and ONLY the maybe-duplicate minority
    reaches the exact confirmation join. On a crawl where 95% of docs
    are new, 95% of the join's probe side disappears before any
    shuffle.

    Bloom filters have NO false negatives (every true duplicate is in
    the maybe set) and the confirmation join removes the false
    positives, so the output statuses are EXACTLY
    ``incremental_exact_dedup``'s — an approximate accelerator with an
    exact contract, certified by the same ANSI oracle. Membership runs
    as an Arrow-batched lookup into the broadcast bitmap; positions are
    computed by the SAME JVM xxhash64 expressions as the build side.

    Within-batch duplicate detection (a batch-grain aggregate) is
    independent of the index and unchanged."""
    from pyspark.sql.functions import pandas_udf

    fp = F.md5(_norm_text(F.col("text")))
    existing = (
        documents.filter(F.col("doc_id") < split_doc_id)
        .select(fp.alias("fingerprint"))
        .distinct()
    )
    bitmap = _bloom_build(existing, m_bits, k, seed)
    spark = documents.sparkSession
    bc = spark.sparkContext.broadcast(bitmap.tobytes())

    @pandas_udf("boolean")
    def maybe_in(positions: pd.Series) -> pd.Series:
        import numpy as np

        if not len(positions):  # empty Arrow batch: np.array([]) is 1-D
            return pd.Series([], dtype=bool)
        bm = np.frombuffer(bc.value, dtype=np.uint8)
        P = np.array(positions.tolist(), dtype=np.int64).reshape(len(positions), -1)
        bits = (bm[P // 8] >> (P % 8).astype(np.uint8)) & 1
        return pd.Series(bits.all(axis=1))

    pos_cols = [
        F.pmod(F.xxhash64(F.col("fingerprint"), F.lit(seed + i)), F.lit(m_bits))
        for i in range(k)
    ]
    incoming = documents.filter(F.col("doc_id") >= split_doc_id).select(
        "doc_id", "source", fp.alias("fingerprint")
    )
    tested = incoming.withColumn("maybe_dup", maybe_in(F.array(*pos_cols)))
    # ONE confirmation branch: the maybe_dup flag rides INSIDE the left
    # join condition, so definite-clean rows null out without a second
    # evaluation of the fingerprint/hash/UDF subtree (a two-branch
    # filter-join-rejoin shape evaluated it twice per incoming row)
    ex = existing.select(
        F.col("fingerprint").alias("ex_fp"), F.lit(True).alias("in_existing")
    )
    confirmed = tested.join(
        ex,
        (F.col("fingerprint") == F.col("ex_fp")) & F.col("maybe_dup"),
        "left",
    )
    first_in_batch = incoming.groupBy("fingerprint").agg(
        F.min("doc_id").alias("first_doc_id")
    )
    return (
        confirmed.join(first_in_batch, "fingerprint")
        .select(
            "doc_id",
            "source",
            "fingerprint",
            F.when(F.coalesce(F.col("in_existing"), F.lit(False)), "dup_of_existing")
            .when(F.col("doc_id") != F.col("first_doc_id"), "dup_within_batch")
            .otherwise("unique")
            .alias("status"),
        )
    )


def kmv_source_overlap(documents: DataFrame, k: int = 64) -> DataFrame:
    """Sketch-based cross-source overlap matrix: a K-Minimum-Values
    sketch per source (Beyer et al. 2007, "On Synopses for Distinct-
    Value Estimation Under Multiset Operations", SIGMOD — public paper)
    estimates per-pair union size, Jaccard and intersection WITHOUT the
    doc-grain pair join of ``cross_source_contamination`` — the 100 TB
    trade: one corpus scan to k-row-per-source sketches, then all
    S·(S-1)/2 pair merges run at sketch grain (k·S rows total).

    Mechanics: the content fingerprint md5(norm text) doubles as the
    uniform hash (hex-string order ≡ numeric order); a source's sketch
    is its k smallest DISTINCT fingerprints. With fewer than k distinct
    values the sketch IS the set (exact regime — the sf0.001 corpus);
    otherwise distinct-count ≈ (k-1)/v_k where v_k is the k-th minimum
    as a fraction of hash space (first 8 hex chars / 16^8). Pair
    estimates are the standard KMV set algebra: merge = k smallest of
    the union of two sketches, Jaccard = |merged ∩ A ∩ B| / |merged|,
    intersection = Jaccard · union-estimate.

    Scale shape: the per-source min-k is TWO-LEVEL — row_number inside
    (source, first-hex-char) shards first (16 splits of every source's
    distinct-fingerprint stream; global min-k ⊆ union of shard min-ks),
    then min-k of the ≤16k survivors per source — so no window ever
    sorts a whole source's fingerprints in one task (same two-level
    discipline as ``global_shuffle_order``). Pair merges operate on
    k·S rows: driver-free, broadcast-size, fully deterministic (no
    seeds — the hash IS the content fingerprint)."""
    from pyspark.sql import Window as W

    hv = F.md5(_norm_text(F.col("text")))
    dh = (
        documents.select("source", hv.alias("hv"))
        .distinct()
        .withColumn("shard", F.substring("hv", 1, 1))
    )
    w1 = W.partitionBy("source", "shard").orderBy("hv")
    w2 = W.partitionBy("source").orderBy("hv")
    sk = (
        dh.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("source", "hv")
    )
    frac = lambda c: F.conv(F.substring(c, 1, 8), 16, 10).cast("double") / F.lit(
        float(16**8)
    )
    srcs = sk.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("source_a"))
        .crossJoin(srcs.select(F.col("source").alias("source_b")))
        .filter(F.col("source_a") < F.col("source_b"))
    )
    member = pairs.join(
        sk, (F.col("source") == F.col("source_a")) | (F.col("source") == F.col("source_b"))
    ).select("source_a", "source_b", "hv", "source")
    merged = member.groupBy("source_a", "source_b", "hv").agg(
        F.max(F.when(F.col("source") == F.col("source_a"), 1).otherwise(0)).alias("in_a"),
        F.max(F.when(F.col("source") == F.col("source_b"), 1).otherwise(0)).alias("in_b"),
    )
    wm = W.partitionBy("source_a", "source_b").orderBy("hv")
    topm = merged.withColumn("r", F.row_number().over(wm)).filter(F.col("r") <= k)
    agg = topm.groupBy("source_a", "source_b").agg(
        F.max("hv").alias("kth"),
        F.count("*").alias("m_u"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("inter"),
    )
    est_union = (
        F.when(F.col("m_u") < k, F.col("m_u").cast("double"))
        .otherwise(F.round((k - 1) / frac(F.col("kth")), 4))
    )
    return agg.select(
        "source_a",
        "source_b",
        est_union.alias("est_union"),
        F.round(F.col("inter") / F.col("m_u"), 6).alias("est_jaccard"),
        F.round(F.col("inter") / F.col("m_u") * est_union, 4).alias("est_intersection"),
    )


def query_band_rows(
    query_docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(query_doc_id, band_id, band_hash) rows for a probe batch —
    DELEGATES to :func:`_banded_rows` (one banding kernel; probe
    correctness depends on index-side and query-side hashes being
    bit-identical, so there must be exactly one definition), exposed so
    a caller probing SEVERAL indexes with one stream pays the
    signature computation once (pass the checkpointed result as
    ``probe_band_index(..., precomputed_bands=...)``)."""
    return _banded_rows(query_docs, num_hashes, bands, shingle_n).withColumnRenamed(
        "doc_id", "query_doc_id"
    )


def probe_band_index(
    spark,
    table: str,
    query_docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    verify_threshold: float | None = 0.8,
    corpus: DataFrame | None = None,
    precomputed_bands: DataFrame | None = None,
) -> DataFrame:
    """Query-time near-dup lookup against a persisted ``write_band_index``
    table: signature ONLY the query docs (a batch of N, not the corpus),
    join their band hashes to the index, and return candidate corpus
    matches — the online half of recurring dedup: the corpus-side
    signatures were paid once at ``write_band_index`` time, so "has this
    new doc been crawled before, approximately?" costs N signatures + a
    bucket-pruned join.

    The index table is bucketed on (band_id, band_hash); the probe side
    is batch-sized, so AQE broadcasts it into the bucketed scan — no
    shuffle on the corpus side, no full re-signature. Emits one row per
    (query doc, corpus doc) band collision (dropDuplicates to pair
    grain); with ``verify_threshold`` and ``corpus``, collisions are
    verified by EXACT shingle-Jaccard (the same verification discipline
    as ``minhash_lsh_candidates``) and the verdict is returned alongside.

    Band parameters MUST match the ones the index was written with —
    signatures are seed-deterministic, so equal params ⇒ equal hashes."""
    if precomputed_bands is not None:
        # caller amortizes the query-side signature work across several
        # probes (band_index_incremental signatures the stream ONCE and
        # probes both the maintained and the rebuilt index with it)
        q_bands = precomputed_bands
    else:
        q_bands = query_band_rows(query_docs, num_hashes, bands, shingle_n)
    idx = spark.table(table)
    pairs = (
        idx.join(
            F.broadcast(q_bands),
            ["band_id", "band_hash"],
        )
        .filter(F.col("doc_id") != F.col("query_doc_id"))
        .select("query_doc_id", F.col("doc_id").alias("match_doc_id"))
        .dropDuplicates(["query_doc_id", "match_doc_id"])
    )
    if verify_threshold is None or corpus is None:
        return pairs
    # the SAME shingle definition as the LSH verification path (_shingles:
    # string n-grams, EMPTY for docs shorter than n tokens — an inline
    # variant here once gave sub-n docs a spurious truncated shingle)
    shing = lambda df, idc: df.select(
        F.col("doc_id").alias(idc),
        _shingles(F.col("text"), shingle_n).alias(idc + "_sh"),
    )
    q_sh = shing(query_docs, "query_doc_id")
    c_sh = shing(corpus, "match_doc_id")
    verified = (
        pairs.join(F.broadcast(q_sh), "query_doc_id")
        .join(c_sh, "match_doc_id")
        .select(
            "query_doc_id",
            "match_doc_id",
            F.round(
                F.size(F.array_intersect("query_doc_id_sh", "match_doc_id_sh"))
                / F.size(F.array_union("query_doc_id_sh", "match_doc_id_sh")),
                6,
            ).alias("jaccard"),
        )
        .withColumn("is_near_dup", F.col("jaccard") >= verify_threshold)
    )
    return verified


def band_index_probe(documents: DataFrame, split_doc_id: int = 250) -> DataFrame:
    """Registered end-to-end shape of ``probe_band_index``: the EXISTING
    corpus (doc_id < ``split_doc_id``) is indexed once per source
    dataset (write-once, keyed on file signatures — the
    ``ivf_partitioned_probe`` discipline), and the INCOMING batch
    (doc_id ≥ split) probes it — "which of the new crawl's docs
    near-duplicate something we already have, and how closely?".
    Deterministic (seed-fixed signatures, exact-Jaccard verification) →
    rows-only correctness; subset/equivalence vs the in-plan LSH path
    is asserted in tests."""
    import hashlib
    import uuid

    from datalake_local_spark.llm.similarity import _ivf_key_lock

    spark = documents.sparkSession
    existing = documents.filter(F.col("doc_id") < split_doc_id)
    incoming = documents.filter(F.col("doc_id") >= split_doc_id)
    src = source_signature(documents)
    if not src:
        # in-memory frames have no stable identity and no reuse value:
        # register the band table as a SESSION-SCOPED TEMP VIEW under a
        # uuid-salted name (never saveAsTable — a persisted uuid table
        # plus its warehouse dir plus a lock-registry entry would leak
        # on every call), probe it, then drop the view: the probe plan
        # is analyzed eagerly, so the result DataFrame no longer needs
        # the view by the time we drop it
        view = f"band_index_tmp_{uuid.uuid4().hex[:12]}"
        _banded_rows(existing, 16, 4, 3).createOrReplaceTempView(view)
        out = probe_band_index(
            spark, view, incoming, verify_threshold=0.8, corpus=existing
        ).orderBy("query_doc_id", "match_doc_id")
        spark.catalog.dropTempView(view)
        return out
    key = hashlib.md5(
        repr(("band_probe", src, split_doc_id)).encode()
    ).hexdigest()[:12]
    table = f"band_index_{key}"
    # per-table lock (the _ivf_key_lock registry discipline): the
    # check-rmtree-rebuild below must not race a concurrent builder
    with _ivf_key_lock(("band_index", table)):
        if not spark.catalog.tableExists(table):
            # a previous SESSION's in-memory catalog is gone but its
            # warehouse directory persists — saveAsTable then fails with
            # LOCATION_ALREADY_EXISTS; clear the orphaned location first
            # (same recovery as the foreachBatch sink in event_windows)
            import os
            import shutil
            from urllib.parse import urlparse

            wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
            shutil.rmtree(os.path.join(wh, table), ignore_errors=True)
            write_band_index(existing, table)
    return probe_band_index(
        spark, table, incoming, verify_threshold=0.8, corpus=existing
    ).orderBy("query_doc_id", "match_doc_id")


def append_band_index(
    spark,
    table: str,
    new_docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    n_buckets: int = 8,
) -> None:
    """O(delta) maintenance of a persisted ``write_band_index`` table
    (the r12 verdict #4 order): signature ONLY the new crawl batch and
    APPEND its banded rows — the corpus-side signatures paid at build
    time are never recomputed, and the probe path
    (:func:`probe_band_index`, :func:`candidates_from_band_index`) is
    unchanged because the append declares the SAME bucket spec
    (band_id, band_hash), which Spark validates against the table's
    existing layout: new files land per-bucket, so the candidate
    self-join and the broadcast probe stay shuffle-free on the corpus
    side after any number of appends.

    This is the IVM/CDC discipline applied to the index artifact:
    the band table is an insert-only materialized view of
    ``_banded_rows`` (no aggregate state, so inserts are trivially
    self-maintainable; a document DELETE would map to a partition- or
    doc-filtered rewrite, which the snapshot/WAP path owns)."""
    banded = _banded_rows(new_docs, num_hashes, bands, shingle_n)
    (
        banded.write.mode("append")
        .format("parquet")
        .bucketBy(n_buckets, "band_id", "band_hash")
        .saveAsTable(table)
    )


def band_index_incremental(
    documents: DataFrame, s1: int = 150, s2: int = 300, s3: int = 800
) -> DataFrame:
    """Registered certification shape of :func:`append_band_index`:
    corpus₀ (doc_id < s1) is indexed once, the next crawl batch
    (s1 ≤ doc_id < s2) is APPENDED O(delta), and a bounded query panel
    (s2 ≤ doc_id < s3) probes the maintained index. The output row carries
    the property itself (the leakage-split discipline): the probe's
    pair set over the incrementally-maintained index is compared
    against a probe over a FROM-SCRATCH rebuild of corpus₀ ∪ batch —
    ``n_only_incremental`` / ``n_only_full`` are structural zeros the
    driver's rows-only check and the tests pin (xxhash64 signatures
    are not DuckDB-expressible, so no SQL oracle — the equivalence
    column IS the certificate).

    Scale shape at 100 TB: the append signatures |batch| docs, never
    |corpus|; the probe broadcast-joins batch-sized band hashes into
    the bucketed scan. The rebuild arm exists ONLY in this
    certification query (both arms bounded by the doc_id splits)."""
    import hashlib
    import uuid

    from datalake_local_spark.llm.similarity import _ivf_key_lock

    spark = documents.sparkSession
    corpus0 = documents.filter(F.col("doc_id") < s1)
    batch = documents.filter((F.col("doc_id") >= s1) & (F.col("doc_id") < s2))
    # bounded certification panel: the property (incremental ≡ rebuild)
    # is per-pair, so a 500-doc probe panel certifies it at a tenth of
    # the full-stream cost; the realistic probe-everything shape is
    # dedup_band_index_probe's.
    queries = documents.filter(
        (F.col("doc_id") >= s2) & (F.col("doc_id") < s3)
    )
    # signature the panel ONCE; both probe arms reuse the checkpoint
    # (re-deriving the minhashes per arm doubled the cost at sf0.1)
    q_bands = query_band_rows(queries).localCheckpoint()
    src = source_signature(documents)
    if src:
        key = hashlib.md5(
            repr(("band_incr", src, s1, s2)).encode()
        ).hexdigest()[:12]
        table = f"band_incr_{key}"
        with _ivf_key_lock(("band_incr", table)):
            if not spark.catalog.tableExists(table):
                import os
                import shutil
                from urllib.parse import urlparse

                wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
                shutil.rmtree(os.path.join(wh, table), ignore_errors=True)
                write_band_index(corpus0, table)
                append_band_index(spark, table, batch)
        pairs_incr = probe_band_index(
            spark, table, queries, precomputed_bands=q_bands
        )
    else:
        # in-memory frames: no stable identity, no reuse value — the
        # "maintained" arm is a temp view of corpus₀ bands unioned with
        # freshly-signatured batch bands (the same O(delta) signature
        # work, session-scoped)
        view_i = f"band_incr_tmp_{uuid.uuid4().hex[:12]}"
        _banded_rows(corpus0, 16, 4, 3).unionAll(
            _banded_rows(batch, 16, 4, 3)
        ).createOrReplaceTempView(view_i)
        pairs_incr = probe_band_index(
            spark, view_i, queries, precomputed_bands=q_bands
        )
    view_f = f"band_full_tmp_{uuid.uuid4().hex[:12]}"
    _banded_rows(corpus0.unionAll(batch), 16, 4, 3).createOrReplaceTempView(
        view_f
    )
    pairs_full = probe_band_index(
        spark, view_f, queries, precomputed_bands=q_bands
    )
    both = ["query_doc_id", "match_doc_id"]
    diff = pairs_incr.withColumn("in_i", F.lit(1)).join(
        pairs_full.withColumn("in_f", F.lit(1)), both, "full_outer"
    )
    # coalesce around each SUM (not just inside): aggregating zero rows
    # (tiny/empty corpus where neither arm finds a pair) yields NULL,
    # and the documented contract is structural integer zeros
    out = diff.agg(
        F.coalesce(F.sum(F.coalesce("in_i", F.lit(0))), F.lit(0))
        .cast("long")
        .alias("n_pairs_incremental"),
        F.coalesce(F.sum(F.coalesce("in_f", F.lit(0))), F.lit(0))
        .cast("long")
        .alias("n_pairs_full_rebuild"),
        F.coalesce(
            F.sum(F.when(F.col("in_f").isNull(), 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_only_incremental"),
        F.coalesce(
            F.sum(F.when(F.col("in_i").isNull(), 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_only_full"),
    )
    # plans are analyzed eagerly, so the views can drop now (the
    # band_index_probe discipline — session-scoped uuid views must not
    # accumulate across runs)
    spark.catalog.dropTempView(view_f)
    if not src:
        spark.catalog.dropTempView(view_i)
    return out


def duplicate_cluster_sizes(documents: DataFrame) -> DataFrame:
    """Duplicate-cluster size distribution: how big do near-dup clusters
    get? The monitoring rollup over ``duplicate_components`` every dedup
    run should publish — a healthy crawl shows a long tail of singletons
    and small clusters; a mass of giant clusters means boilerplate (or a
    broken threshold) and predicts the hot-cluster skew that
    ``semantic_dedup``'s block decomposition defends against.

    One aggregate over the components output: component → size, then
    size → cluster count + share of DOCS tied up in clusters of that
    size. Component-grain then size-grain — both map-side combining;
    the heavy lifting (the components fixpoint) is the upstream
    operator, already O(log d)-bounded."""
    comp = duplicate_components(documents)
    sizes = comp.groupBy("component_id").agg(F.count("*").alias("cluster_size"))
    totals = sizes.agg(F.sum("cluster_size").alias("n_docs"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("cluster_size").cast("int").alias("cluster_size"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            F.round(
                F.col("cluster_size") * F.col("n_clusters") / F.col("n_docs"), 6
            ).alias("doc_share"),
        )
    )


def _orient_edges_by_degree(pairs: DataFrame) -> DataFrame:
    """Orient each undirected edge (doc_a, doc_b) from its
    lower-(degree, id) endpoint to its higher one → columns (lo, hi).

    This is the Chiba–Nishizeki degree ordering (public; also Suri &
    Vassilvitskii 2011's MR formulation): in the resulting DAG the
    out-degree of every vertex is O(√m), so a two-path join on the
    middle vertex materializes at most O(m·√m) rows regardless of how
    skewed the undirected degree distribution is — a 100k-doc
    boilerplate near-clique stays edge-bounded instead of exploding as
    Σ d(v)². Degrees are computed with one explode-free union + count
    (edge-grain shuffle), then joined back to both endpoints."""
    deg = (
        pairs.select(F.col("doc_a").alias("v"))
        .unionAll(pairs.select(F.col("doc_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("v").alias("doc_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("doc_b"), F.col("deg").alias("deg_b"))
    e = pairs.join(da, "doc_a").join(db, "doc_b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("doc_a") < F.col("doc_b"))
    )
    return e.select(
        F.when(a_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("lo"),
        F.when(a_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("hi"),
    )


def duplicate_graph_quality(documents: DataFrame) -> DataFrame:
    """Dup-graph QA: per near-dup component, edge density and triangle
    support — the diagnostic that tells a REAL duplicate cluster from a
    threshold artifact. True duplicates are mutually similar (their
    component is near-clique: density ≈ 1, every edge in triangles);
    long low-density chains mean transitive closure glued docs the
    pairwise threshold never matched (lower the threshold's glue, raise
    the bar, or verify pairs) — the classic MinHash-closure failure
    mode.

    Per component with ≥ 2 docs: size, n_edges, density = edges /
    (size·(size-1)/2), n_triangles (each counted once via the
    i<j<k orientation).

    Scale shape: edges come from the verified pair set (candidate-
    bounded, never all-pairs); triangle counting is DEGREE-ORIENTED
    (Chiba–Nishizeki 1985 degree ordering; Suri & Vassilvitskii 2011
    MapReduce triangle counting — both public): every undirected edge
    is oriented from its lower-(degree, id) endpoint to its higher one,
    so per-vertex out-degree is bounded by O(√m) and the two-path join
    materializes O(m·√m) rows — NOT the O(d²)-per-vertex blow-up an
    id-oriented join suffers on exactly the near-clique boilerplate
    components this diagnostic exists to catch. Each triangle {x≺y≺z}
    appears exactly once as the two-path x→y→z closed by the oriented
    edge x→z. Edge-grain shuffles only; component-grain aggregates are
    map-side combining.

    Component labels (r21): the full ``duplicate_components`` call
    replayed its node-universe scan once per consumer — the executed
    plan finalized at THREE full documents scans per refresh (the
    2026-08 census), for labels this diagnostic only needs on
    edge-touched docs: every component it reports has size ≥ 2, and
    every member of a ≥2 component touches an edge, so the
    singleton-labelling pass over the corpus contributed nothing but
    the scans. The labels now come straight from the same driver
    union-find ``duplicate_components``' driver path runs
    (``_edge_union_find`` — one implementation, several callers) over the
    already-materialized harness pair feed, published as a BROADCAST
    local relation: documents scans 3 → 0, no component-subtree
    replays, output identical (verified exact at all three SFs)."""
    pairs = _harness_pair_feed(documents)
    # the SAME pair relation feeds the component labels and the edge
    # metrics — the O(n²) token self-join runs once, not per consumer.
    # The collect is bounded by the harness feed's doc_id < 100 window
    # (well under duplicate_components' _DRIVER_GRAPH_EDGES limit).
    comp = F.broadcast(
        documents.sparkSession.createDataFrame(
            _edge_union_find(pairs.collect()),
            "doc_id long, component_id long",
        )
    )
    edges = pairs.join(
        comp.select(F.col("doc_id").alias("doc_a"), "component_id"), "doc_a"
    )
    e1 = edges.select("doc_a", "doc_b", "component_id")
    oriented = _orient_edges_by_degree(pairs)
    # two-path (x→y, y→z) over the degree-oriented DAG, probed against
    # the closing oriented edge (x→z); component label rides the probe
    xy = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    yz = oriented.select(F.col("lo").alias("y2"), F.col("hi").alias("z"))
    xz = oriented.select(F.col("lo").alias("x3"), F.col("hi").alias("z3")).join(
        comp.select(F.col("doc_id").alias("x3"), "component_id"), "x3"
    )
    tri = (
        xy.join(yz, F.col("y") == F.col("y2"))
        .join(xz, (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")))
        .groupBy("component_id")
        .agg(F.count("*").alias("n_triangles"))
    )
    per_comp = (
        e1.groupBy("component_id")
        .agg(F.count("*").alias("n_edges"))
        .join(
            comp.groupBy("component_id").agg(F.count("*").alias("size")),
            "component_id",
        )
        .filter(F.col("size") >= 2)
        .join(tri, "component_id", "left")
    )
    return per_comp.select(
        "component_id",
        F.col("size").cast("int").alias("size"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.round(
            F.col("n_edges") / (F.col("size") * (F.col("size") - 1) / 2), 6
        ).alias("density"),
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
    )


def token_containment_pairs(
    documents: DataFrame,
    max_doc_id: int = 100,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact token-set CONTAINMENT — Broder's directional resemblance
    (Broder 1997, "On the resemblance and containment of documents" —
    public): containment(A in B) = |A∩B| / |A|. The sub-document
    detector Jaccard misses: a paragraph quoted inside a much larger
    page has low Jaccard (the union is huge) but containment ≈ 1 —
    exactly the quote/boilerplate-inclusion case a training-data
    pipeline must catch before near-dedup scores it "not similar".

    Same inverted-index equi-join as ``ngram_token_jaccard_pairs``
    (doc_id < ``max_doc_id`` — the SQL-expressible verifier harness; at
    scale the candidate feed is MinHash-LSH, whose banding also bounds
    containment when |A|≈band size): distinct tokens → token equi-join
    → |∩| per pair → both directional containments, kept when the max
    clears ``threshold``. One token-grain shuffle, pair-grain combine.

    STOPWORD-HUB pathology: a token present in d documents fans the
    equi-join out to d·(d-1)/2 rows — a corpus-wide stopword makes one
    token key quadratic in the corpus. ``max_df`` is the public fix
    (CCNet / Lee et al. "Deduplicating Training Data" both prune
    head-of-Zipf terms before pairing): tokens whose document frequency
    exceeds it are dropped from BOTH the index join and the per-doc
    sizes, so the returned measure is containment over sub-``max_df``
    tokens — near-universal tokens carry ~zero containment signal
    (they match everything) while bounding every join key's fan-out at
    max_df·(max_df-1)/2. Default None preserves exact Broder
    containment (the registered oracle query); the hot-key regime test
    (tests/test_llm.py::test_containment_stopword_hub_regimes) plants a
    universal token and asserts the cap collapses the join while still
    finding the true near-dup pair."""
    docs = documents.filter(F.col("doc_id") < max_doc_id)
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(_norm_text(F.col("text")), " "))
        ).alias("token"),
    )
    if max_df is not None:
        df_counts = toks.groupBy("token").agg(F.count("*").alias("df"))
        toks = toks.join(
            df_counts.filter(F.col("df") <= max_df).select("token"), "token"
        )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_tokens").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_tokens").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("n_common") / F.col("size_a"), 6).alias("cont_a_in_b"),
            F.round(F.col("n_common") / F.col("size_b"), 6).alias("cont_b_in_a"),
        )
        .filter(F.greatest("cont_a_in_b", "cont_b_in_a") >= threshold)
    )


def pagerank_dup_graph(
    documents: DataFrame,
    iterations: int = 30,
    damping: float = 0.85,
    pairs: DataFrame | None = None,
    tol: float = 1e-4,
) -> DataFrame:
    """PageRank over the near-duplicate graph (Page et al. 1998 —
    public): which documents are the HUBS of duplication — the
    canonical/boilerplate sources many near-copies orbit. Components
    says "these belong together"; PageRank ranks WITHIN the blob, so a
    keep-one-per-cluster policy can keep the hub instead of the lowest
    id. Undirected graph → each edge contributes both directions.

    Iterative power method, the distributed shape: ranks live at node
    grain; each round joins ranks to the edge list (edge-grain shuffle,
    the only big data motion) and groupBy(dst) re-aggregates (map-side
    combining). No dangling-node term: every node of an undirected
    edge-derived graph has out-degree ≥ 1. Per-round ``localCheckpoint`` +
    ``_release_checkpoint`` keeps the Catalyst plan flat and peak cache
    at 2 copies — the fixpoint discipline ``duplicate_components``
    established. Rounds are DATA-DEPENDENT: each round measures the L1
    rank delta (node-grain aggregate → one driver scalar, the bounded
    fixpoint-guard pattern) and stops when it drops below ``tol``
    (default 1e-4: residual ≤ tol·d/(1−λ₂) ≈ a few e-4 — orders of
    magnitude tighter than the rank GAPS the keep-policy consumer
    compares, at roughly a third of the rounds 1e-6 costs; measured
    delta decay ~0.63×/round on the sf0.1 harness graph) —
    near-dup graphs are mostly small quasi-cliques whose ranks settle
    in a handful of rounds (a REGULAR component is stationary from the
    uniform start); ``iterations`` caps the worst case — near-bipartite
    star components contract only at rate ``damping`` per round, and at
    the cap their rank ORDER (what the keep-policy consumes) is settled
    even though last digits are not.

    Path, chosen from the edge count (``_driver_edges``): a graph with
    fewer than ``_DRIVER_GRAPH_EDGES`` directed edge rows runs the same
    power iteration driver-side and publishes UNROUNDED
    bit-deterministic ranks; a larger graph runs the distributed loop,
    which rounds to 6dp because its groupBy-sum order makes the last
    ulp nondeterministic across runs. Convergence vs a pure-python
    power-method reference and the rank-mass ≈ 1 invariant are tested
    (tests/test_llm.py::test_pagerank_matches_pure_python_reference).

    ``pairs`` accepts any candidate-pair feed — at scale, wire in
    :func:`candidates_from_band_index` so the rank runs off the same
    persisted LSH band index as components (tested); the default is the
    harness-bounded exact-Jaccard verifier.

    Oracle-backed: the driver path is bit-deterministic —
    sorted-neighbor left folds, computed 1−d, unrounded ranks — so a
    DuckDB list-state recursive CTE replays the whole float recursion
    INCLUDING the adaptive delta cadence and hash-matches exactly; the
    distributed path keeps engine-ordered sums (last-ulp
    nondeterminism, covered by the 2e-6 parity band)."""
    if pairs is None:
        pairs = _harness_pair_feed(documents)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    # materialize the LOOP INVARIANTS once: without this, every one of
    # the up-to-``iterations`` rounds re-executes the full candidate
    # pair-generation join from the raw scan (measured 30×: ~17 s for a
    # 60-node harness graph; checkpointed: the pair join is paid once)
    edges = edges.localCheckpoint()
    edge_rows = _driver_edges(edges)
    if edge_rows is None:
        nodes = edges.select(F.col("src").alias("doc_id")).distinct().localCheckpoint()
        n_nodes = nodes.count()
    else:
        n_nodes = len({r["src"] for r in edge_rows})
    if n_nodes == 0:
        # empty pair graph (e.g. nothing clears the Jaccard threshold):
        # zero-row frame with the contract schema, doc_id type preserved
        return edges.select(F.col("src").alias("doc_id")).limit(0).withColumn(
            "pagerank", F.lit(None).cast("double")
        )
    if edge_rows is not None:
        # driver path: identical update rule AND identical stopping
        # CADENCE (delta measured every third round until last_delta
        # < 10·tol, exactly like the distributed loop below), so both
        # paths run the same number of power iterations. Neighbor lists
        # are SORTED and every sum is an explicit 0.0-init left fold in
        # that order, 1-damping stays the computed subtraction, and
        # ranks publish UNROUNDED — the DuckDB list-state recursive CTE
        # replays this path hash-exactly.
        adj: dict = {}
        outdeg: dict = {}
        for r in edge_rows:
            adj.setdefault(r["dst"], []).append(r["src"])
            outdeg[r["src"]] = outdeg.get(r["src"], 0) + 1
        for u in adj:
            adj[u].sort()  # fold order = sorted neighbor ids
        ids = sorted({*outdeg, *adj})
        rank = {u: 1.0 / n_nodes for u in ids}
        loc_last: float | None = None
        for i in range(iterations):
            new = {}
            for u in ids:
                in_mass = 0.0
                for v in adj.get(u, ()):
                    in_mass = in_mass + rank[v] / outdeg[v]
                new[u] = (1.0 - damping) / n_nodes + damping * in_mass
            near = loc_last is not None and loc_last < 10 * tol
            if i % 3 == 2 or near or i == iterations - 1:
                delta = 0.0
                for u in ids:
                    delta = delta + abs(new[u] - rank[u])
                loc_last = delta
            else:
                delta = None
            rank = new
            if delta is not None and delta < tol:
                break
        rows = sorted(
            ((int(u), rank[u]) for u in ids), key=lambda t: (-t[1], t[0])
        )
        return edges.sparkSession.createDataFrame(
            rows, "doc_id long, pagerank double"
        )
    # loop state sized by the edge count, like duplicate_components: a
    # graph just over the driver limit runs single-task instead of
    # paying a spark.sql.shuffle.partitions-wide shuffle per round
    P = _loop_partitions(edges.count())
    edges = edges.coalesce(P).localCheckpoint()
    nodes = nodes.coalesce(P).localCheckpoint()
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg")).localCheckpoint()
    ranks = nodes.select("doc_id", F.lit(1.0 / n_nodes).alias("rank"))
    ranks = ranks.localCheckpoint()
    last_delta = None
    for i in range(iterations):
        contrib = (
            edges.join(ranks.withColumnRenamed("doc_id", "src"), "src")
            .join(outdeg, "src")
            .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_mass"))
        )
        new_ranks = (
            nodes.join(contrib.withColumnRenamed("dst", "doc_id"), "doc_id", "left")
            .select(
                "doc_id",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping) * F.coalesce(F.col("in_mass"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
        # L1 convergence check: node-grain join-and-sum, one scalar to
        # the driver — ADAPTIVE cadence, not every round: the check is
        # its own Spark job and the loop's cost is scheduler overhead,
        # not data, on a bounded dup graph. While far from converged,
        # check every third round (saves 2 of 3 check jobs); once the
        # last observed delta is within 10× tol — the power iteration's
        # geometric decay means convergence is imminent — check every
        # round so the loop cannot overshoot by more than one round.
        near = last_delta is not None and last_delta < 10 * tol
        if i % 3 == 2 or near or i == iterations - 1:
            delta = (
                new_ranks.alias("n")
                .join(ranks.alias("o"), "doc_id")
                .agg(F.sum(F.abs(F.col("n.rank") - F.col("o.rank"))).alias("d"))
                .collect()[0]["d"]
            )
            last_delta = delta
        else:
            delta = None
        _release_checkpoint(ranks)
        ranks = new_ranks
        if delta is not None and delta < tol:
            break
    out = ranks.select(
        "doc_id", F.round("rank", 6).alias("pagerank")
    ).orderBy(F.col("pagerank").desc(), "doc_id")
    return out


def dup_graph_degree_profile(documents: DataFrame) -> DataFrame:
    """Degree distribution of the near-duplicate graph: how many docs
    have exactly d near-duplicates — the first-look health screen of a
    dedup run (a healthy crawl is degree-1/2 dominated; a fat tail of
    high-degree docs is boilerplate, and its max degree prices the
    components/triangle work before you run it — the diagnostic twin of
    ``duplicate_cluster_sizes`` at NODE rather than cluster grain).

    Same SQL-expressible harness pairs as the other graph diagnostics
    (exact Jaccard, doc_id < 100; at scale the feed is the band index).
    Edge list → both endpoints → node-grain degree count → degree-grain
    histogram — two map-side-combined groupBys; the share denominator
    is a 1-row broadcast of the node total (the benford_profile
    totals pattern)."""
    pairs = _harness_pair_feed(documents)
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    hist = deg.groupBy("degree").agg(F.count("*").cast("long").alias("n_docs"))
    total = hist.agg(F.sum("n_docs").alias("n_nodes"))
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            "degree",
            "n_docs",
            F.round(F.col("n_docs") / F.col("n_nodes"), 6).alias("doc_share"),
        )
        .orderBy("degree")
    )


def kcore_decomposition(
    documents: DataFrame,
    pairs: DataFrame | None = None,
    max_k: int = 20,
) -> DataFrame:
    """Coreness of every node in the near-dup graph (Seidman 1983
    k-cores; Batagelj–Zaveršnik is the sequential peel this mirrors in
    rounds): a node's coreness is the largest k such that it survives
    in the subgraph where every node has degree ≥ k. The templated-spam
    detector: a 50-core is 50 docs that EACH near-duplicate ≥50 others
    — mass-produced boilerplate that pagerank (popularity) and
    components (connectivity) both under-describe.

    Distributed peel, k ascending: for each k, repeatedly drop nodes
    with degree < k (edge-grain degree groupBy + semi-join filter per
    pass) until stable, then everyone still standing has coreness ≥ k.
    Each pass shrinks the edge set monotonically; per-pass
    ``localCheckpoint`` + release keeps the plan flat (the
    duplicate_components fixpoint discipline), and the driver sees one
    count per pass (bounded). Peeling stops when the graph empties or
    ``max_k`` caps pathological density. A graph with fewer than
    ``_DRIVER_GRAPH_EDGES`` directed edge rows (``_driver_edges``) runs
    the exact sequential Batagelj–Zaveršnik peel driver-side instead,
    with the same k-ascending semantics and ``max_k`` cap. Oracle-backed:
    coreness is peel-ORDER-INVARIANT, so a DuckDB list-state recursive
    CTE replays the peel over the certified exact-Jaccard pair feed and
    hash-matches exactly (the peel-jump here is a pure optimization the
    oracle may skip); the pure-python peeling reference test remains
    (tests/test_llm.py::test_kcore_matches_pure_python_reference).

    ``pairs`` is injectable like :func:`pagerank_dup_graph` — at scale,
    feed :func:`candidates_from_band_index` so all graph diagnostics
    share one persisted LSH index."""
    if pairs is None:
        pairs = _harness_pair_feed(documents)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    edges = edges.localCheckpoint()
    edge_rows = _driver_edges(edges)
    if edge_rows is not None:
        # driver path: the peel's cost in the distributed loop is ~4
        # scheduler jobs per pass on a graph this small, not computation
        adj: dict = {}
        for r in edge_rows:
            adj.setdefault(r["src"], set()).add(r["dst"])
        live, core, k = set(adj), {}, 0
        while live and k < max_k:
            k += 1
            while True:
                weak = [u for u in live if len(adj[u]) < k]
                if not weak:
                    break
                for u in weak:
                    core[u] = k - 1
                    for v in adj[u]:
                        adj[v].discard(u)
                    adj[u].clear()
                    live.discard(u)
            # peel jump: next k with any peel is min surviving degree + 1
            if live:
                k = max(k, min(len(adj[u]) for u in live))
        for u in live:  # still standing after max_k rounds
            core[u] = max_k
        rows = sorted(core.items(), key=lambda t: (-t[1], t[0]))
        return edges.sparkSession.createDataFrame(
            [(int(d), int(c)) for d, c in rows], "doc_id long, coreness long"
        )
    # loop state sized by the edge count, same rule as
    # pagerank_dup_graph: the peel's many small passes should not each
    # pay a spark.sql.shuffle.partitions-wide shuffle
    P = _loop_partitions(edges.count())
    edges = edges.coalesce(P).localCheckpoint()
    # nodes tracked SEPARATELY from edges: a node whose neighbors all
    # peel away loses every edge but must still receive a coreness at
    # the current k (degree 0 < k), not silently vanish
    nodes = (
        edges.select(F.col("src").alias("doc_id")).distinct().coalesce(P).localCheckpoint()
    )
    # accumulates (doc_id, k) as nodes peel out
    coreness = nodes.select("doc_id", F.lit(0).alias("coreness")).limit(0)
    k = 1
    while k <= max_k:
        while True:
            deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
            # checkpoint `weak` once per pass: it feeds four consumers
            # (count, coreness union, both anti-joins) — uncheckpointed,
            # each re-ran the degree aggregation
            weak = (
                nodes.join(deg.withColumnRenamed("src", "doc_id"), "doc_id", "left")
                .filter(F.coalesce(F.col("deg"), F.lit(0)) < k)
                .select("doc_id")
                .localCheckpoint()
            )
            n_weak = weak.count()  # bounded: one scalar per peel pass
            if n_weak == 0:
                _release_checkpoint(weak)
                break
            # peeled nodes' coreness is k-1: they survived the (k-1)-core
            coreness = coreness.unionAll(
                weak.select("doc_id", F.lit(k - 1).alias("coreness"))
            ).localCheckpoint()
            nxt_nodes = nodes.join(weak, "doc_id", "anti").localCheckpoint()
            nxt_edges = (
                edges.join(weak.withColumnRenamed("doc_id", "src"), "src", "anti")
                .join(
                    weak.select(F.col("doc_id").alias("dst")), "dst", "anti"
                )
                .select("src", "dst")
                .localCheckpoint()
            )
            _release_checkpoint(edges)
            _release_checkpoint(nodes)
            _release_checkpoint(weak)
            edges, nodes = nxt_edges, nxt_nodes
        if nodes.isEmpty():
            break
        # peel jump (Batagelj–Zaveršnik's "next k is the current min
        # degree"): every survivor now has degree ≥ k, so each k-level
        # up to the observed min degree would run an empty confirmation
        # pass — on a dense quasi-clique (min degree ≈ 37 here) that is
        # ~min-degree wasted passes. A node first peels at
        # k = degree + 1 with coreness k−1 = degree, so jumping k to
        # dmin + 1 is exact, not an approximation.
        dmin = (
            edges.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .agg(F.min("deg").alias("m"))
            .collect()[0]["m"]
        )
        k = max(k + 1, (dmin or 0) + 1)
    # anything still standing after max_k rounds has coreness ≥ max_k
    survivors = nodes.select("doc_id", F.lit(max_k).alias("coreness"))
    out = coreness.unionAll(survivors).orderBy(
        F.col("coreness").desc(), "doc_id"
    )
    return out.select("doc_id", F.col("coreness").cast("long").alias("coreness"))


def canonical_keep_policy(documents: DataFrame) -> DataFrame:
    """The dedup endgame the graph stack exists for: one KEEP decision
    per duplicate cluster. Components say what belongs together;
    PageRank ranks WITHIN the blob (hubs = the canonical/boilerplate
    source its near-copies orbit); this composes them — per component,
    keep the member with the highest rank (ties broken by lowest
    doc_id, matching the min-id convention everywhere else) and count
    what gets dropped. A keep-lowest-id policy keeps an arbitrary
    member; keep-the-hub keeps the version the most near-copies derive
    from.

    One join at doc grain (both sides share the harness pair feed — at
    scale, inject the same ``candidates_from_band_index`` pairs into
    both upstreams), then a component-grain window argmax. Singleton
    docs (no near-dups) never enter the pair graph and are implicitly
    all-keep; the report covers CLUSTERS. Oracle-backed since r16:
    components are order-invariant (min reachable id — a transitive-
    closure recursive CTE) and the pagerank upstream is the r16
    fold-deterministic replay, so the composition hash-matches
    exactly; the planted hub-vs-min-id test remains."""
    from pyspark.sql import Window as W

    pairs = ngram_token_jaccard_pairs(documents, 100, 0.8).select(
        "doc_a", "doc_b"
    ).localCheckpoint()  # ONE pair-generation join feeds both upstreams
    # the report covers CLUSTERS (n_members > 1), and every member of
    # a ≥2 component touches an edge — so the all-docs node universe
    # the full duplicate_components call labels contributed ONLY its
    # documents scan. Component labels come straight from the shared
    # driver union-find over the materialized pair feed (bounded by the
    # harness window), broadcast: no documents scan, output identical
    # (singletons never survived the filter).
    comp = F.broadcast(
        documents.sparkSession.createDataFrame(
            _edge_union_find(pairs.collect()),
            "doc_id long, component_id long",
        )
    )
    ranks = pagerank_dup_graph(documents, pairs=pairs)
    joined = comp.join(ranks, "doc_id", "left").select(
        "doc_id",
        "component_id",
        F.coalesce(F.col("pagerank"), F.lit(0.0)).alias("pagerank"),
    )
    w = W.partitionBy("component_id").orderBy(
        F.col("pagerank").desc(), F.col("doc_id")
    )
    ranked = joined.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("component_id")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keep_doc_id"),
            F.max(F.when(F.col("rn") == 1, F.col("pagerank"))).alias("keep_rank"),
            F.count("*").cast("long").alias("n_members"),
            (F.count("*") - 1).cast("long").alias("n_dropped"),
        )
        .filter(F.col("n_members") > 1)
        .orderBy("component_id")
    )


def dedup_rate_by_source(documents: DataFrame) -> DataFrame:
    """Exact-duplicate pressure per SOURCE — the per-feed health rollup
    a crawl pipeline publishes every run: how much of each source is
    redundant bytes (Dolma/RefinedWeb-style source accounting). A
    source whose dup_rate jumps is re-crawling itself or mirroring
    another feed; the cross-source KMV overlap says WHO it mirrors,
    this says HOW MUCH it costs.

    One scan: fingerprint (md5 of normalized text — the exact_dedup
    key) → (source, fingerprint) grain count (map-side combined) →
    source grain: docs, distinct fingerprints, dup rate, and the bytes
    the duplicates would free (n_chars re-aggregated in the same
    pass)."""
    fp = documents.select(
        "source",
        F.md5(_norm_text(F.col("text"))).alias("fingerprint"),
        F.col("n_chars"),
    )
    per_fp = fp.groupBy("source", "fingerprint").agg(
        F.count("*").cast("long").alias("n_copies"),
        F.sum("n_chars").alias("chars_all"),
        F.min("n_chars").alias("chars_keep"),
    )
    return (
        per_fp.groupBy("source")
        .agg(
            F.sum("n_copies").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_unique"),
            F.round(
                1 - F.count("*") / F.sum("n_copies"), 6
            ).alias("dup_rate"),
            (F.sum("chars_all") - F.sum("chars_keep")).cast("long").alias(
                "chars_freed_if_deduped"
            ),
        )
        .orderBy("source")
    )


def minhash_calibration(
    documents: DataFrame,
    max_doc_id: int = 500,
    min_jaccard: float = 0.2,
    pairs: DataFrame | None = None,
    exhaustive: bool = False,
    neg_sample: int = 64,
    seed: int = 7,
) -> DataFrame:
    """MinHash estimator error audit (Broder 1997: P[min-hash collision]
    = Jaccard, so the signature-agreement fraction is an unbiased
    estimate with stderr ≈ √(J(1−J)/H)): the 16-hash estimate next to
    exact shingle Jaccard and the absolute error, per audited pair —
    the third leg of the sketch calibration family (Count-Min counts,
    recall@k, MinHash Jaccard): before trusting banded LSH at corpus
    scale, measure the estimator on pairs where exact truth is
    affordable.

    Pair feed (the 100 TB shape): the CANDIDATE pairs come from the
    same banded-LSH index the production dedup path uses
    (``_band_candidate_pairs`` — bucket equi-join, never all-pairs),
    plus a seeded negative sample (hash-adjacent doc pairs, essentially
    random → low-J) so the audit also covers the stratum LSH is
    designed NOT to surface. ``stratum`` labels each row. Candidate
    rows keep the ``min_jaccard`` floor; sampled rows are kept at any
    J — they exist to measure estimator error where truth ≈ 0.
    Injectable ``pairs=`` (like pagerank/kcore) certifies the audit
    against an externally persisted band index; ``exhaustive=True``
    retains the old all-pairs truth harness for small panels.

    The exact truth is SHINGLE Jaccard — the set family the signatures
    actually sketch (comparing against token Jaccard would measure the
    token-vs-shingle semantic gap, not the estimator; the first cut of
    this audit made exactly that category error and read 0.63 mean
    "error"). The ``doc_id < max_doc_id`` harness bound keeps the
    audit panel fixed across scale factors; the negative-sample window
    sorts ≤ that many (doc_id, hash) rows — panel-bounded, not
    SF-bounded. Seeded xxhash64 signatures have no DuckDB twin →
    rows-only, with the estimator-quality invariants (identical docs →
    estimate 1, mean |error| within the binomial bound) tested."""
    from datalake_local_spark.session import fan_out

    # pre-expansion fan-out: the token/element generator below
    # multiplies rows; a one-row-group input would otherwise run
    # the whole expansion single-task (see session.fan_out)
    documents = fan_out(documents, "doc_id")
    from pyspark.sql import Window as W

    docs = documents.filter(F.col("doc_id") < max_doc_id)
    # bounded audit panels, each consumed by BOTH pair sides —
    # materialized once (r12 plan census: 15 scans without)
    sh = docs.select(
        "doc_id", _shingles(F.col("text")).alias("sh")
    ).localCheckpoint()
    if pairs is not None:
        audited = pairs.select("doc_a", "doc_b", F.lit("injected").alias("stratum"))
    elif exhaustive:
        a, b = docs.alias("a"), docs.alias("b")
        audited = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.lit("exhaustive").alias("stratum"),
        )
    else:
        cand = _band_candidate_pairs(docs).select(
            "doc_a", "doc_b", F.lit("candidate").alias("stratum")
        )
        # seeded negative sample: pair docs adjacent in xxhash64(seed)
        # order — deterministic pseudo-random pairs, overwhelmingly
        # low-J. Single-partition window over the ≤max_doc_id panel.
        hw = W.orderBy("h")
        samp = (
            docs.select("doc_id", F.xxhash64("doc_id", F.lit(seed)).alias("h"))
            .select("doc_id", F.lag("doc_id").over(hw).alias("prev"), "h")
            .filter(F.col("prev").isNotNull())
            .orderBy("h")
            .limit(neg_sample)
            .select(
                F.least("doc_id", "prev").alias("doc_a"),
                F.greatest("doc_id", "prev").alias("doc_b"),
                F.lit("sample").alias("stratum"),
            )
            .join(cand.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti")
        )
        audited = cand.unionByName(samp)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    exact = (
        audited.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a"
        )
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .select("doc_a", "doc_b", "stratum", F.round(inter / union, 6).alias("exact_jaccard"))
        .filter((F.col("stratum") != "candidate") | (F.col("exact_jaccard") >= min_jaccard))
    )
    sigs = minhash_signatures(docs).localCheckpoint()
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("signature").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
            )
        )
        / F.size("sig_a")
    )
    return (
        exact.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "stratum",
            "exact_jaccard",
            F.round(est, 6).alias("minhash_estimate"),
            F.round(F.abs(est - F.col("exact_jaccard")), 6).alias("abs_error"),
        )
        .orderBy("doc_a", "doc_b")
    )


def lsh_scurve(spark) -> DataFrame:
    """Banded-LSH tuning table: the theoretical candidate probability
    P(candidate | J) = 1 − (1 − J^r)^b (the Broder/Indyk S-curve) for
    every 16-hash banding (b bands × r rows: 2×8, 4×4, 8×2) over a
    Jaccard grid — the table an engineer reads to pick a banding whose
    inflection sits at the dedup threshold. Pure math, no input table;
    also serves as a cross-engine pow()/round() parity canary since
    every value must hash-match DuckDB's libm to 6dp.

    Scale: a few-dozen-row generated relation; evaluation is constant
    wherever the driver runs it."""
    grid = spark.range(1, 20).select((F.col("id") / 20.0).alias("j"))
    cfg = F.explode(
        F.array(
            F.struct(F.lit(2).alias("b"), F.lit(8).alias("r")),
            F.struct(F.lit(4).alias("b"), F.lit(4).alias("r")),
            F.struct(F.lit(8).alias("b"), F.lit(2).alias("r")),
        )
    )
    e = grid.select("j", cfg.alias("c")).select("j", "c.b", "c.r")
    p = 1 - F.pow(1 - F.pow(F.col("j"), F.col("r")), F.col("b"))
    return e.select(
        F.col("b").alias("bands"),
        F.col("r").alias("rows_per_band"),
        F.round(F.col("j"), 2).alias("jaccard"),
        F.round(p, 6).alias("p_candidate"),
    ).orderBy("bands", "jaccard")


def dup_graph_triangles(
    documents: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """Per-node triangle count and local clustering coefficient of the
    near-duplicate graph — the density screen that separates boilerplate
    CLIQUES (mirrored pages: clustering ≈ 1) from template CHAINS
    (near-dup ladders: clustering ≈ 0) before a keep-policy commits to
    one representative per component (the edge-grain complement of
    ``dup_graph_degree_profile``; same harness pair feed, reference
    dedup-report surface analog assets.py:1-437's corpus diagnostics).

    Algorithm: degree-ordered wedge counting (Schank & Wagner 2005,
    "Finding, counting and listing all triangles in large graphs";
    Cohen 2009, "Graph twiddling in a MapReduce world"). Each
    undirected edge is oriented from its (degree, id)-lower endpoint to
    the higher; every triangle then has exactly one apex with two
    out-edges, so it is found exactly once by joining the apex's
    out-neighbor pairs (wedges) against the oriented edge set — never
    the naive 3-way edge join whose intermediate is Σ deg².

    100 TB shape: orientation bounds the out-degree by O(√m) (a
    hub of degree d contributes wedges only toward HIGHER-degree
    nodes, of which there are ≤ √(2m)), so the wedge relation is
    O(m^1.5) worst-case and near-linear on power-law dup graphs —
    three hash joins on edge keys, all shuffle-partitioned, no
    driver state. ``pairs`` accepts the band-index candidate feed at
    scale (``candidates_from_band_index``), like pagerank/kcore.

    Determinism: triangle counts and degrees are exact integers; the
    clustering coefficient 2T/(d·(d−1)) is a small-denominator
    rational whose round(·, 6) is cross-engine-safe — an exact 6dp
    half needs a reduced denominator of 128·5^a, and 128 ∤ C(d,2)
    for any d < 256 (harness graph has < 100 nodes)."""
    if pairs is None:
        pairs = _harness_pair_feed(documents)
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    deg = (
        edges.select(F.col("u").alias("doc_id"))
        .unionAll(edges.select(F.col("v").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    e = edges.join(
        deg.select(F.col("doc_id").alias("u"), F.col("degree").alias("deg_u")), "u"
    ).join(
        deg.select(F.col("doc_id").alias("v"), F.col("degree").alias("deg_v")), "v"
    )
    # orient each edge toward the (degree, id)-larger endpoint; carry the
    # destination's rank so wedge endpoints can be ordered without a
    # fourth join
    u_lower = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(u_lower, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_lower, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_lower, F.col("deg_v")).otherwise(F.col("deg_u")).alias("deg_dst"),
    )
    w1 = oriented.alias("w1")
    w2 = oriented.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src"))
        & (
            (F.col("w1.deg_dst") < F.col("w2.deg_dst"))
            | (
                (F.col("w1.deg_dst") == F.col("w2.deg_dst"))
                & (F.col("w1.dst") < F.col("w2.dst"))
            )
        ),
    ).select(
        F.col("w1.src").alias("a"),
        F.col("w1.dst").alias("b"),
        F.col("w2.dst").alias("c"),
    )
    closing = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closing, ["b", "c"])
    per_node = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .unionAll(tri.select(F.col("c").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    return (
        deg.join(per_node, "doc_id", "left")
        .select(
            "doc_id",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
            F.when(F.col("degree") > 1,
                F.round(
                    2.0
                    * F.coalesce(F.col("triangles"), F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("clustering"),
        )
        .orderBy("doc_id")
    )


def fuzzy_entity_pairs(
    part: DataFrame, max_dist: int = 4, names: DataFrame | None = None
) -> DataFrame:
    """Blocked fuzzy entity resolution over the part-name vocabulary:
    candidate pairs of DISTINCT ``p_name`` values within edit distance
    ``max_dist``, annotated with how many catalog rows each spelling
    covers — the classic record-linkage screen (Fellegi & Sunter 1969;
    blocking per Christen 2012, "Data Matching") for "the same product
    listed under two spellings".

    The load-bearing design choice for 100 TB: resolution runs at the
    ATTRIBUTE-VALUE grain, not the row grain. The distinct-name
    relation grows with the vocabulary (sublinearly, Heaps' law), not
    the table, so the quadratic Levenshtein stage is a self-join of a
    small relation, and row counts come from one map-side combined
    groupBy of the full table that joins back by name (a broadcast at
    vocabulary scale). Levenshtein itself is JVM-evaluated
    (``F.levenshtein``), no Python in the loop.

    Blocking (r12, closes the r11 ``weak``): the join key is
    (first character, length band) with band width ``max_dist + 1``.
    Since edit distance ≥ |len(a) − len(b)|, any pair within
    ``max_dist`` lands in the same or adjacent band, so the probe side
    emits its band ± 1 (an exact 3× fanout, keeping the join an
    EQUI-join — no theta residual scan) and a cheap
    ``abs(length(a) − length(b)) <= max_dist`` filter runs BEFORE the
    Levenshtein kernel. Both filters are lossless for the
    ``dist <= max_dist`` output, so results are hash-identical to the
    unblocked-length oracle; the win is the hot-block shape — a skewed
    first-letter distribution (10⁷ names starting with 's') is now
    quadratic only within a length band, not the whole letter block,
    and the O(len²) DP runs only on length-compatible survivors.

    Recall tradeoff (inherent to first-char blocking, documented per
    Christen 2012 §4.2): a FIRST-position typo moves the name to a
    different letter block and the pair is never generated — the
    standard fix is a second pass blocked on a different key (e.g.
    last character or a phonetic code), unioned; the oracle blocks on
    the same first-char key, so both engines share the missed-pair
    class by construction.

    Determinism: output is integers and strings only (edit distance,
    row counts) — no float rounding surface. Oracle: DuckDB
    ``levenshtein`` computes the same unit-cost edit distance.

    ``names`` accepts a prebuilt (name, n_rows) frame so composers
    (fuzzy_entity_clusters) don't pay the vocabulary aggregate
    twice."""
    if names is None:
        names = (
            part.groupBy(F.col("p_name").alias("name"))
            .agg(F.count("*").cast("long").alias("n_rows"))
        )
    band_w = max_dist + 1
    blocked = names.select(
        F.substring("name", 1, 1).alias("blk"),
        (F.length("name") / F.lit(band_w)).cast("long").alias("band"),
        F.length("name").alias("nlen"),
        "name",
        "n_rows",
    )
    a = blocked.alias("a")
    # probe side fans out to band−1, band, band+1 so every
    # |Δlen| <= max_dist pair meets on exactly one equi-key
    b = blocked.withColumn(
        "band", F.explode(F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1))
    ).alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.name") < F.col("b.name"))
            # length pre-filter: dist >= |len difference|, so this is
            # lossless for dist <= max_dist and prunes before the DP
            & (
                F.abs(F.col("a.nlen") - F.col("b.nlen")) <= F.lit(max_dist)
            ),
        )
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.levenshtein(F.col("a.name"), F.col("b.name")).cast("long").alias("dist"),
            F.col("a.n_rows").alias("rows_a"),
            F.col("b.n_rows").alias("rows_b"),
        )
        .filter(F.col("dist") <= max_dist)
        .orderBy("dist", "name_a", "name_b")
    )


def jaccard_prefix_filter_pairs(
    documents: DataFrame, max_doc_id: int = 100, threshold: float = 0.8
) -> DataFrame:
    """Exact token-set Jaccard similarity JOIN via prefix filtering —
    the AllPairs/PPJoin candidate-generation strategy (Bayardo, Ma &
    Srikant 2007, "Scaling up all pairs similarity search"; Xiao et
    al. 2008 PPJoin) that makes an exact similarity self-join feasible
    without the all-pairs token join: identical OUTPUT to
    ``ngram_token_jaccard_pairs`` (same oracle), different plan.

    Why it scales where the inverted-index self-join does not: for
    Jaccard ≥ t, two sets of sizes |A| ≤ |B| must share a token among
    the first |A| − ⌈t·|A|⌉ + 1 tokens of a GLOBAL canonical order
    (rarest-first by document frequency) — so only prefix postings
    enter the candidate join. At t = 0.8 the prefix is ~20% of each
    doc, and because prefixes are rarest-first, the heaviest posting
    lists (stopwords) never generate candidates. A length filter
    (t·|A| ≤ |B| ≤ |A|/t) prunes the rest before verification, and
    exact Jaccard is computed only for surviving candidate pairs.

    Plan: df-ranked tokens (one groupBy + one partitioned window by
    doc) → prefix self-join on token → distinct candidates → exact
    intersection count on candidates only. All shuffles are keyed on
    token or (doc_a, doc_b); no driver state; the window is
    partitioned by doc_id (never global).

    Determinism: candidate generation affects only WHICH pairs are
    verified, never the verified value; ties in the canonical order
    (equal df) break by token string. Jaccard rounds at 6dp like the
    naive verifier (denominators ≤ vocab size make exact 6dp halves
    impossible for |A∪B| < 128·5^a, documented there).

    Boundary exactness: the threshold is carried as a RATIONAL
    num/den (Fraction of the float argument), so the prefix bound
    ``rnk <= n - ceil(num*n/den) + 1`` and the length filter
    ``num*|B| <= den*|A|`` are pure BIGINT arithmetic — no float
    product can round up past an exact boundary (0.7*90 →
    63.000000000000007 → ceil 64 would shorten the prefix by one and
    silently drop J == t pairs vs the all-pairs oracle)."""
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(10**6)
    num, den = frac.numerator, frac.denominator
    docs = documents.filter(F.col("doc_id") < max_doc_id)
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(_norm_text(F.col("text")), " "))
        ).alias("token"),
    ).localCheckpoint()  # harness-bounded; 5 consumers (sizes, df,
    # ranked, both intersection sides) replayed the tokenize otherwise
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    doc_freq = toks.groupBy("token").agg(F.count("*").alias("df"))
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("df", "token")
    ranked = (
        toks.join(doc_freq, "token")
        .withColumn("rnk", F.row_number().over(w))
        .join(sizes, "doc_id")
    )
    # prefix length |d| − ⌈t·|d|⌉ + 1 (Bayardo et al. eq. 1), with
    # ⌈num·n/den⌉ = (num·n + den − 1) div den in exact BIGINT (integer
    # `div` — operands are nonnegative so truncation ≡ floor; the r12
    # float-division form was numerically safe but not the stated
    # integer invariant, ADVICE r12)
    ceil_tn = F.expr(f"(n_tokens * {num}L + {den - 1}L) div {den}L")
    prefix = ranked.filter(
        F.col("rnk") <= F.col("n_tokens") - ceil_tn + 1
    ).select("doc_id", "token", "n_tokens")
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter t·|A| ≤ |B| ∧ t·|B| ≤ |A| by BIGINT
            # cross-multiplication (num·|B| ≤ den·|A|) — exact at the
            # boundary for any rational threshold
            & (F.col("b.n_tokens") * F.lit(num) <= F.col("a.n_tokens") * F.lit(den))
            & (F.col("a.n_tokens") * F.lit(num) <= F.col("b.n_tokens") * F.lit(den)),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), "token")
    tb = toks.select(F.col("doc_id").alias("tb_doc"), F.col("token").alias("token_b"))
    inter = (
        cand.join(ta, "doc_a")
        .join(
            tb,
            (F.col("doc_b") == F.col("tb_doc")) & (F.col("token") == F.col("token_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_tokens").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_tokens").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def cluster_source_purity(documents: DataFrame) -> DataFrame:
    """Per-duplicate-cluster SOURCE purity: does each near-dup cluster
    live inside one corpus source (template reuse within a crawl — dedup
    locally and move on) or span several (cross-source syndication, the
    case that silently leaks eval data between mixture components)?
    Cluster-grain complement of ``cross_source_contamination``'s
    pair-grain matrix; the report a mixture owner reads before deciding
    per-source vs global dedup.

    Composition: the components fixpoint (min-id labels, same harness
    feed) joined back to doc provenance, then a component × source
    count with a per-component argmax window — every stage is a keyed
    shuffle at cluster grain; singleton docs never form clusters and
    are excluded by the n_members > 1 filter.

    Determinism: all-integer output plus the majority source label
    (ties break by count DESC then source ASC); no float surface."""
    from pyspark.sql import Window as W

    comp = duplicate_components(documents)
    members = comp.select("doc_id", "component_id").join(
        documents.select("doc_id", "source"), "doc_id"
    )
    by_source = members.groupBy("component_id", "source").agg(
        F.count("*").cast("long").alias("n_from_source")
    )
    totals = by_source.groupBy("component_id").agg(
        F.sum("n_from_source").cast("long").alias("n_members"),
        F.count("*").cast("long").alias("n_sources"),
    )
    w = W.partitionBy("component_id").orderBy(
        F.col("n_from_source").desc(), F.col("source").asc()
    )
    majority = (
        by_source.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "component_id",
            F.col("source").alias("majority_source"),
            F.col("n_from_source").alias("majority_count"),
        )
    )
    return (
        totals.join(majority, "component_id")
        .filter(F.col("n_members") > 1)
        .select(
            "component_id", "n_members", "n_sources",
            "majority_source", "majority_count",
        )
        .orderBy("component_id")
    )


def dup_graph_link_prediction(
    documents: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """Link prediction over the near-duplicate graph: for every
    NON-adjacent doc pair at distance 2, the three classic
    neighborhood scores — common-neighbor count, Resource Allocation
    (Zhou/Lü/Zhang 2009, Σ_z 1/deg(z); the best-performing of the
    degree-penalized family in their benchmark and, unlike
    Adamic–Adar's 1/ln deg, exactly computable in integers), and
    neighbor-set Jaccard — the "these two docs are probably dups the
    threshold just missed" triage list a dedup operator reviews before
    tightening a cutoff.

    Everything integer-exact: RA is reported in PICO units as
    Σ 10¹² div deg(z) (integer floor-division both engines, no float
    sum order to diverge), neighbor Jaccard in basis points via
    integer division over |N(a)| + |N(b)| − common.

    100 TB shape: the wedge join is the triangle-counting feed
    (Σ deg² worst case); unlike triangles it cannot be degree-oriented
    away because both endpoints of a candidate pair must be scored —
    production runs cap hub degree upstream (a z seen everywhere
    carries no signal; RA already discounts it by 1/deg). Shuffles are
    three hash joins on node keys + one pair-grain aggregate; the
    anti-join back to the edge set removes known edges. ``pairs``
    accepts the band-index candidate feed (candidates_from_band_index)
    like pagerank/kcore/triangles."""
    if pairs is None:
        pairs = _harness_pair_feed(documents)
    edges = pairs.select("doc_a", "doc_b")
    adj = edges.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(edges.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    deg = adj.groupBy(F.col("u").alias("doc_id")).agg(
        F.count("*").cast("long").alias("degree")
    )
    wedges = (
        adj.select(F.col("u").alias("a"), F.col("v").alias("z"))
        .join(adj.select(F.col("u").alias("z"), F.col("v").alias("b")), "z")
        .filter(F.col("a") < F.col("b"))
        .join(deg.select(F.col("doc_id").alias("z"), "degree"), "z")
    )
    cand = wedges.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("n_common"),
        F.sum(F.expr("1000000000000 div degree")).cast("long").alias("ra_pico"),
    )
    non_edges = cand.join(
        edges,
        (cand["a"] == edges["doc_a"]) & (cand["b"] == edges["doc_b"]),
        "left_anti",
    )
    return (
        non_edges.join(
            deg.select(F.col("doc_id").alias("a"), F.col("degree").alias("deg_a")),
            "a",
        )
        .join(
            deg.select(F.col("doc_id").alias("b"), F.col("degree").alias("deg_b")),
            "b",
        )
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            "n_common",
            "ra_pico",
            F.expr("(10000 * n_common) div (deg_a + deg_b - n_common)")
            .cast("long")
            .alias("jaccard_bps"),
        )
        .orderBy("doc_a", "doc_b")
    )


def fuzzy_entity_clusters(part: DataFrame, max_dist: int = 4) -> DataFrame:
    """Entity-resolution CLUSTERS: the transitive closure of
    :func:`fuzzy_entity_pairs` (spellings within edit distance
    ``max_dist`` of each other, possibly through intermediates — the
    Fellegi–Sunter link step followed by the clustering step every ER
    system runs), one row per multi-spelling entity with the canonical
    label (min name — the component id itself), the MODAL spelling
    (most catalog rows, ties by name ASC — what a merge would keep),
    and coverage counts.

    Reuses the generic component engine (:func:`duplicate_components` —
    both its paths, driver union-find and star loop, are type-agnostic,
    so name strings ride through unchanged); the quadratic stage stays at the blocked
    vocabulary grain of the pair generator. Single-spelling entities
    are excluded (they need no resolution and would make the output
    vocabulary-sized).

    Determinism: counts are integers; canonical/modal picks are total-
    order tie-broken. Oracle: recursive-CTE reachability over the same
    levenshtein pairs."""
    names = part.groupBy(F.col("p_name").alias("name")).agg(
        F.count("*").cast("long").alias("n_rows")
    )
    from pyspark.sql import Window as W

    pairs = fuzzy_entity_pairs(part, max_dist, names=names).select(
        F.col("name_a").alias("doc_a"), F.col("name_b").alias("doc_b")
    )
    nodes = names.select(F.col("name").alias("doc_id"))
    comp = duplicate_components(nodes, pairs=pairs).select(
        F.col("doc_id").alias("name"), F.col("component_id").alias("entity_id")
    )
    w_modal = W.partitionBy("entity_id").orderBy(
        F.col("n_rows").desc(), F.col("name")
    )
    labeled = comp.join(names, "name").withColumn(
        "rk", F.row_number().over(w_modal)
    )
    return (
        labeled.groupBy("entity_id")
        .agg(
            F.count("*").cast("long").alias("n_variants"),
            F.sum("n_rows").cast("long").alias("total_rows"),
            F.max(F.when(F.col("rk") == 1, F.col("name"))).alias("modal_name"),
            F.max(F.when(F.col("rk") == 1, F.col("n_rows")))
            .cast("long")
            .alias("modal_rows"),
        )
        .filter(F.col("n_variants") >= 2)
        .orderBy("entity_id")
    )


def lpa_communities(
    documents: DataFrame,
    pairs: DataFrame | None = None,
    max_iterations: int = 10,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan,
    Albert & Kumara 2007) over the near-duplicate graph — where
    connected components answer "what merges", communities answer
    "what hangs together densely" (a template family inside one giant
    component splits into its boilerplate sub-groups).

    Deterministic variant: every round updates ALL nodes from the
    PREVIOUS round's labels (synchronous — no update-order
    nondeterminism), and each node adopts the most frequent neighbor
    label with ties broken by SMALLEST label (total order). Bounded
    rounds (sync LPA can 2-cycle on bipartite structures; the cap is
    the standard fix and keeps reruns identical).

    Scale shape: per round, one (node,label)-grain count aggregate and
    one ranked pick — all edge/node-grain relations; labels frames are
    localCheckpointed per round with eager release (the pagerank/
    components lineage discipline). Oracle-backed since r16: the
    deterministic variant (synchronous rounds + total-order tie-break
    + fixed round cap) replays in a DuckDB list-state recursive CTE —
    all-integer state, so no float-accumulation hazard — and
    hash-matches exactly; the pure-python reference test remains.

    Output: one row per community — label, n_members, min/max member.

    A graph with fewer than ``_DRIVER_GRAPH_EDGES`` directed edge rows
    (``_driver_edges``) runs the IDENTICAL synchronous rounds
    driver-side over the collected edges — same update rule, same
    tie-break, so labels match the distributed loop exactly (pinned by
    the parity test).
    """
    if pairs is None:
        pairs = _harness_pair_feed(documents)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).persist()
    from pyspark.sql import Window as W

    labels = None
    try:
        edge_rows = _driver_edges(edges)
        if edge_rows is not None:
            adj: dict = {}
            for r in edge_rows:
                adj.setdefault(r["src"], []).append(r["dst"])
            lab = {n: n for n in adj}
            for _ in range(max_iterations):
                new = {}
                for n in adj:
                    counts: dict = {}
                    for m in adj[n]:
                        counts[lab[m]] = counts.get(lab[m], 0) + 1
                    new[n] = sorted(
                        counts.items(), key=lambda kv: (-kv[1], kv[0])
                    )[0][0]
                if new == lab:
                    break
                lab = new
            comm: dict = {}
            for n, c in lab.items():
                comm.setdefault(c, []).append(n)
            spark = edges.sparkSession
            return spark.createDataFrame(
                sorted(
                    (c, len(m), min(m), max(m)) for c, m in comm.items()
                ),
                "community_id long, n_members long, min_member long, max_member long",
            )
        # per-iteration frames sized by the EDGE count, exactly like
        # duplicate_components — a hardcoded tiny coalesce would
        # serialize the loop under an at-scale LSH pair feed
        P = _loop_partitions(edges.count())
        nodes = edges.select(F.col("src").alias("doc_id")).distinct()
        labels = nodes.select("doc_id", F.col("doc_id").alias("label")).coalesce(
            P
        ).localCheckpoint()
        for _ in range(max_iterations):
            neigh = (
                labels.join(edges, labels.doc_id == edges.src)
                .groupBy(F.col("dst").alias("doc_id"), "label")
                .agg(F.count("*").alias("n"))
            )
            w = W.partitionBy("doc_id").orderBy(F.col("n").desc(), F.col("label"))
            picked = (
                neigh.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") == 1)
                .select("doc_id", F.col("label").alias("new_label"))
            )
            new_labels = (
                labels.join(picked, "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce("new_label", "label").alias("label"),
                    F.col("label").alias("prev_label"),
                )
                .coalesce(P)
                .localCheckpoint()
            )
            changed = new_labels.filter(F.col("label") != F.col("prev_label")).count()
            _release_checkpoint(labels)
            labels = new_labels.select("doc_id", "label")
            if changed == 0:
                break
        out = (
            labels.groupBy(F.col("label").alias("community_id"))
            .agg(
                F.count("*").cast("long").alias("n_members"),
                F.min("doc_id").alias("min_member"),
                F.max("doc_id").alias("max_member"),
            )
            .orderBy("community_id")
        )
        return out.localCheckpoint()
    finally:
        if labels is not None:
            _release_checkpoint(labels)
        edges.unpersist()


def shingle_width_sweep(
    documents: DataFrame,
    max_doc_id: int = 100,
    threshold: float = 0.8,
    widths: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """Shingle-width sensitivity table for Jaccard dedup (Broder 1997's
    w parameter): the same exact similarity join run at token-shingle
    widths 1/2/3, reporting distinct-shingle vocabulary and qualifying
    pair counts per width — wider shingles encode word ORDER, so pair
    counts fall as reordered boilerplate stops matching; you pick the
    width where the drop-off matches your notion of 'duplicate'. The
    Jaccard-side completion of the tuning-table family (LSH S-curve,
    cosine-threshold sweep).

    Per width: distinct (doc, shingle) → inverted-index self-join →
    exact Jaccard ≥ threshold, all bounded to the harness doc slice
    (at scale the pair feed is the banded index, exactly as for
    components/pagerank). Shingles come from the shared
    :func:`_shingles` builder (one home for the sequence(1,0)
    descending-range guard); counts exact.

    r20 opt (the matryoshka one-pass pattern): the three per-width
    pipelines (each an eager checkpoint + its own self-join + two
    aggregates) now run as ONE width-TAGGED relation — shingle rows
    carry ``w``, the inverted-index self-join keys on (w, sh), and the
    type/pair counts group by ``w``. 3 eager checkpoint jobs + 3 join
    shuffles collapse into 1 lazy checkpoint + 1 shuffle; no
    cross-width pairs exist because ``w`` is in every join/group key.
    Counts bit-identical (~35% faster steady-state at sf0.1)."""
    docs = documents.filter(F.col("doc_id") < max_doc_id).select("doc_id", "text")
    sh = None
    for w in widths:
        part = docs.select(
            F.lit(w).cast("int").alias("w"),
            "doc_id",
            F.explode(_shingles(F.col("text"), w)).alias("sh"),
        )
        sh = part if sh is None else sh.unionByName(part)
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("w", "doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.w").alias("w"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("w"), F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(
        F.col("w").alias("wb"), F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
    )
    pairs = (
        inter.join(sa, ["w", "doc_a"])
        .join(sb, (F.col("w") == F.col("wb")) & (inter.doc_b == sb.doc_b))
        .filter(
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            )
            >= threshold
        )
    )
    types = sh.groupBy("w").agg(
        F.count_distinct("sh").cast("long").alias("n_shingle_types")
    )
    pcnt = pairs.groupBy("w").agg(F.count("*").cast("long").alias("n_pairs"))
    return (
        types.join(pcnt, "w", "left")
        .select(
            F.col("w").cast("int").alias("width"),
            "n_shingle_types",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
        )
        .orderBy("width")
    )


def graph_degree_assortativity(
    documents: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """Degree assortativity of the near-duplicate graph (Newman 2002,
    "Assortative mixing in networks", PRL — public): the Pearson
    correlation of the degrees at the two ends of every edge —
    positive means hubs link to hubs (one giant boilerplate blob:
    dedup it as a unit), negative means hub-and-spoke templates (star
    clusters: ``canonical_keep_policy`` per star). The one-number
    topology summary read next to ``dup_graph_degree_profile``'s
    histogram before choosing a clustering strategy.

    Over the UNDIRECTED graph each edge contributes both (dᵤ, dᵥ)
    orderings (the standard symmetrized estimator), so the correlation
    is computed over 2|E| integer pairs: all five moments (n, Σx, Σy,
    Σxy, Σx², with Σy ≡ Σx by symmetry) are exact DECIMAL(38,0)
    integer sums; r is one identical IEEE tree over them, rounded 6dp
    with +0.0, NULL-guarded for zero variance (a regular graph — every
    degree equal — has undefined assortativity).

    Scale shape: degree table = one edge-grain groupBy; the moment
    pass is two broadcast-joins of the (bounded, node-grain) degree
    table onto the edge list and one global aggregate — no window, no
    quadratic stage anywhere; same harness pair feed as the other
    graph diagnostics (exact Jaccard at doc_id < 100; band index at
    scale)."""
    if pairs is None:
        pairs = _harness_pair_feed(documents)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    dsrc = deg.select(F.col("src"), F.col("deg").alias("dx"))
    ddst = deg.select(F.col("src").alias("dst"), F.col("deg").alias("dy"))
    xd = F.col("dx").cast("decimal(38,0)")
    yd = F.col("dy").cast("decimal(38,0)")
    m = (
        edges.join(dsrc, "src")
        .join(ddst, "dst")
        .agg(
            F.count("*").alias("n"),
            F.sum(xd).alias("sx"),
            F.sum(xd * yd).alias("sxy"),
            F.sum(xd * xd).alias("sxx"),
        )
    )
    nd = F.col("n").cast("decimal(38,0)")
    # symmetrized: Σy = Σx and Σy² = Σx² over the doubled edge list
    num = (nd * F.col("sxy") - F.col("sx") * F.col("sx")).cast("double")
    den = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return m.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        F.when(
            F.col("n") > 0,
            F.col("sx").cast("double") / F.col("n").cast("double"),
        ).alias("mean_edge_degree"),
        F.when(den > 0, F.round(num / den, 6) + F.lit(0.0)).alias(
            "assortativity"
        ),
    )


def hits_walk_centrality(
    documents: DataFrame,
    k: int = 3,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Directed HITS at fixed depth as EXACT integer alternating-walk
    counts (Kleinberg 1999, "Authoritative Sources in a Hyperlinked
    Environment", JACM — public): duplicate-graph edges oriented
    doc_a → doc_b (the pair feed's doc_a < doc_b order — the
    keep-policy orientation, low-id "source" docs pointing at their
    higher-id duplicates), iterated h⁰ = 1, aⁱ = Aᵀhⁱ⁻¹, hⁱ = A aⁱ for
    ``k`` double-steps. The classic HITS fixpoint L2-normalizes every
    round (floats whose sums are partial-aggregation-order-dependent —
    the exact class the hash gate cannot certify); TRUNCATING at k and
    skipping normalization keeps every value an exact BIGINT:
    ``auth_walks(v)`` / ``hub_walks(u)`` count the alternating
    forward/backward walks Kleinberg's own convergence argument is
    built on (normalization only rescales each iterate). Scores
    publish as ONE final division by the max (6dp) — the closeness
    single-division discipline.

    Interpretation on the dup graph: a high-authority doc is one many
    duplicate-SOURCES point at (transitively, weighted by how strong
    those sources are as hubs) — the doc a keep-policy should prefer
    as the canonical copy; a high hub is a doc whose content fans out
    into many strong authorities (a template/boilerplate source).

    Scale shape: 2k node-grain join+groupBy rounds over the edge list
    (component-local traffic after the feed); exact integers stay in
    BIGINT with huge margin (the oriented feed is a DAG; each double
    step multiplies counts by ≤ in-deg·out-deg ≤ ~3.6e3 at the 100-node
    harness cap → ≤ ~5e10 at k = 3). At scale callers pass ``pairs=``
    from the persisted band index, as with every graph diagnostic."""
    if pairs is None:
        pairs = _harness_pair_feed(documents)
    edges = pairs.select(
        F.col("doc_a").alias("s"), F.col("doc_b").alias("d")
    ).localCheckpoint()
    nodes = (
        edges.select(F.col("s").alias("id"))
        .union(edges.select(F.col("d").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    hub = nodes.select("id", F.lit(1).cast("long").alias("w"))
    auth = None
    for _ in range(k):
        a_in = (
            edges.join(hub.withColumnRenamed("id", "sid"), F.col("s") == F.col("sid"))
            .groupBy(F.col("d").alias("id"))
            .agg(F.sum("w").alias("w_in"))
        )
        auth = nodes.join(a_in, "id", "left").select(
            "id", F.coalesce("w_in", F.lit(0)).cast("long").alias("w")
        )
        h_out = (
            edges.join(auth.withColumnRenamed("id", "did"), F.col("d") == F.col("did"))
            .groupBy(F.col("s").alias("id"))
            .agg(F.sum("w").alias("w_out"))
        )
        hub = nodes.join(h_out, "id", "left").select(
            "id", F.coalesce("w_out", F.lit(0)).cast("long").alias("w")
        )
    joined = (
        nodes.join(hub.withColumnRenamed("w", "hub_walks"), "id")
        .join(auth.withColumnRenamed("w", "auth_walks"), "id")
    )
    mx = joined.agg(
        F.max("hub_walks").alias("hmax"), F.max("auth_walks").alias("amax")
    )
    return joined.crossJoin(F.broadcast(mx)).select(
        F.col("id").alias("doc_id"),
        "hub_walks",
        "auth_walks",
        F.when(
            F.col("hmax") > 0, F.round(F.col("hub_walks") / F.col("hmax"), 6)
        ).alias("hub_score"),
        F.when(
            F.col("amax") > 0, F.round(F.col("auth_walks") / F.col("amax"), 6)
        ).alias("auth_score"),
    )


def closeness_centrality(
    documents: DataFrame,
    pairs: DataFrame | None = None,
    max_rounds: int = 128,
) -> DataFrame:
    """Closeness centrality + eccentricity of every node in the
    near-dup graph (Bavelas 1950 / Sabidussi 1966 closeness; Freeman
    1978's survey is the standard reference — public): how FEW hops a
    document sits from everything else in its duplication blob. The
    keep-policy diagnostic pagerank does not give: rank finds the
    most-linked hub, closeness finds the most CENTRAL copy (minimum
    total distance), and eccentricity bounds the blob's radius — a
    2-hop-everywhere quasi-clique and a long drift chain can carry the
    same pagerank hub but very different eccentricities.

    BFS from EVERY node simultaneously at (src, node) grain: frontier
    ⋈ edges per round, anti-join against the visited set, fixpoint
    when no pair is newly reached (rounds = graph diameter; one
    bounded count per round is all the driver sees — the
    duplicate_components fixpoint discipline, localCheckpoint +
    release per round). All-sources BFS is Θ(V·E) work — on the
    harness feed V ≤ 100 by construction; at scale this runs per
    bounded component/cluster (the keep-policy consumer's grain, never
    the whole corpus), with ``pairs=`` wired to the persisted band
    index like every other graph diagnostic. A graph with fewer than
    ``_DRIVER_GRAPH_EDGES`` directed edge rows (``_driver_edges``) runs
    the same BFS driver-side over the collected edges.

    Output per node: reachable-set size, eccentricity (max BFS dist),
    total distance, and within-component closeness
    (n_reachable − 1) / sum_dist. Exact integers until the one final
    division (round 6, HALF_UP on both engines) → the DuckDB oracle
    replays BFS as a bounded recursive CTE and hash-matches exactly."""
    if pairs is None:
        pairs = _harness_pair_feed(documents)
    edges = (
        pairs.select(F.col("doc_a").alias("e_src"), F.col("doc_b").alias("e_dst"))
        .unionAll(
            pairs.select(F.col("doc_b").alias("e_src"), F.col("doc_a").alias("e_dst"))
        )
    )
    edge_rows = _driver_edges(edges)
    if edge_rows is not None:
        # driver path (2.2 s → 0.6 s on the sf0.1 harness graph): every
        # quantity is an exact integer until the one final division,
        # rounded HALF_UP exactly as Spark's round() (BigDecimal of the
        # shortest double repr) — the path choice can never flip a bit
        from collections import deque
        from decimal import ROUND_HALF_UP, Decimal

        adj: dict = {}
        for r in edge_rows:
            adj.setdefault(r["e_src"], set()).add(r["e_dst"])
        out = []
        for s0 in adj:
            dist = {s0: 0}
            dq = deque([s0])
            while dq:
                u = dq.popleft()
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        dq.append(v)
            n_r, ecc, sd = len(dist), max(dist.values()), sum(dist.values())
            # sd == 0 only for a node whose edges are all self-loops
            # (impossible from the harness feed, possible via pairs=):
            # NULL closeness, matching the distributed path's guard
            clo = (
                float(
                    Decimal(repr((n_r - 1) / sd)).quantize(
                        Decimal("0.000001"), rounding=ROUND_HALF_UP
                    )
                )
                if sd > 0
                else None
            )
            out.append((int(s0), n_r, ecc, sd, clo))
        return edges.sparkSession.createDataFrame(
            out,
            "doc_id long, n_reachable long, eccentricity long, "
            "sum_dist long, closeness double",
        )
    # loop state sized by the edge count, the kcore rule
    P = _loop_partitions(edges.count())
    edges = edges.coalesce(P).localCheckpoint()
    nodes = (
        edges.select(F.col("e_src").alias("doc_id")).distinct().coalesce(P).localCheckpoint()
    )

    dist = nodes.select(
        F.col("doc_id").alias("src"),
        F.col("doc_id").alias("node"),
        F.lit(0).cast("long").alias("dist"),
    ).localCheckpoint()
    frontier = dist
    d = 0
    while d < max_rounds:
        d += 1
        new = (
            frontier.join(edges, frontier.node == edges.e_src)
            .select("src", F.col("e_dst").alias("node"))
            .distinct()
            .join(dist.select("src", "node"), ["src", "node"], "left_anti")
            .withColumn("dist", F.lit(d).cast("long"))
            .localCheckpoint()
        )
        if new.count() == 0:  # bounded: one scalar per round
            _release_checkpoint(new)
            break
        prev_dist, prev_frontier = dist, frontier
        dist = dist.unionAll(new).localCheckpoint()
        if prev_frontier is not prev_dist:
            _release_checkpoint(prev_frontier)
        _release_checkpoint(prev_dist)
        frontier = new
    # exit-path hygiene: edges, nodes and the final frontier are dead
    # once the fixpoint closes — release their blocks now instead of
    # waiting for ContextCleaner GC. `dist` stays: the returned (lazy)
    # aggregate reads it.
    _release_checkpoint(edges)
    _release_checkpoint(nodes)
    if frontier is not dist:
        _release_checkpoint(frontier)
    return dist.groupBy(F.col("src").alias("doc_id")).agg(
        F.count("*").cast("long").alias("n_reachable"),
        F.max("dist").cast("long").alias("eccentricity"),
        F.sum("dist").cast("long").alias("sum_dist"),
        # NULL (not NaN) when sum_dist == 0 — a node whose edges are
        # all self-loops; mirrors the driver path's guard
        F.when(
            F.sum("dist") > 0,
            F.round(
                (F.count("*") - F.lit(1)).cast("double")
                / F.sum("dist").cast("double"),
                6,
            ),
        ).alias("closeness"),
    )


def betweenness_centrality(
    documents: DataFrame,
    pairs: DataFrame | None = None,
    max_rounds: int = 128,
) -> DataFrame:
    """Shortest-path betweenness centrality (Freeman 1977; Brandes 2001
    is the standard algorithm reference — public) of every node in the
    near-dup graph — closing the centrality family (degree, pagerank,
    closeness/eccentricity, betweenness): WHICH COPY BRIDGES the blob.
    High betweenness with low degree marks the "drift pivot" document
    that chains two otherwise-separate duplicate clusters — exactly the
    doc a keep-policy should inspect before a component-level delete
    fuses two topics.

    Two exact stages, both at bounded-component grain:

    1. **σ (shortest-path counts) by level-synchronous DP** riding the
       closeness BFS fixpoint: the frontier carries (src, node, σ);
       each round sums σ over DAG predecessors of the newly-reached
       level (σ(s,v) = Σ σ(s,u) over u → v with dist+1 — Brandes'
       lemma 3). Exact integers throughout.
    2. **Pair-sum closed form**: betweenness(v) =
       ½ Σ_{s≠v≠t} σ(s,v)·σ(v,t)/σ(s,t) over ordered pairs with
       dist(s,v) + dist(v,t) = dist(s,t) — the definition itself,
       evaluated as one triple join of the (src, node, dist, σ) table
       (σ symmetric on an undirected graph). O(V³) pairs bounded by
       the component cap (V ≤ 100 on the harness feed; at scale this
       runs per bounded component with ``pairs=`` from the band index,
       the closeness/keep-policy grain — never the whole corpus).

    Published columns: ``n_mid_pairs`` — the EXACT integer count of
    ordered (s, t) pairs the node mediates — and ``betweenness`` at
    6dp (each term is a ratio of exact integers; the sum publishes
    under the repo's 6dp absorption discipline). The DuckDB oracle
    recomputes σ independently by enumerating the shortest-path DAG
    (finite: level-strict edges) and hash-matches both columns.

    A graph with fewer than ``_DRIVER_GRAPH_EDGES`` directed edge rows
    (``_driver_edges``) runs the same BFS, σ level-DP and pair-sum
    driver-side over the collected edges."""
    if pairs is None:
        pairs = _harness_pair_feed(documents)
    edges = (
        pairs.select(F.col("doc_a").alias("e_src"), F.col("doc_b").alias("e_dst"))
        .unionAll(
            pairs.select(F.col("doc_b").alias("e_src"), F.col("doc_a").alias("e_dst"))
        )
    )
    edge_rows = _driver_edges(edges)
    if edge_rows is not None:
        # driver path: BFS + σ level-DP in exact ints, then the
        # IDENTICAL pair-sum closed form — the float sum is the same
        # 6dp-absorption class as the distributed groupBy and the
        # oracle (no engine sums doubles in a canonical order)
        from collections import deque
        from decimal import ROUND_HALF_UP, Decimal

        adj: dict = {}
        for r in edge_rows:
            adj.setdefault(r["e_src"], set()).add(r["e_dst"])
        sp_loc: dict = {}
        for s0 in adj:
            dist = {s0: 0}
            sigma = {s0: 1}
            dq = deque([s0])
            while dq:
                u = dq.popleft()
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        sigma[v] = 0
                        dq.append(v)
                    if dist[v] == dist[u] + 1:
                        sigma[v] += sigma[u]
            sp_loc[s0] = (dist, sigma)
        out = []
        for v in adj:
            n_mid, acc = 0, 0.0
            dv, sv_ = sp_loc[v]
            for s0 in adj:
                ds, ss = sp_loc[s0]
                if s0 == v or v not in ds:
                    continue
                for t, dst in ds.items():
                    if t == s0 or t == v or t not in dv:
                        continue
                    if ds[v] + dv[t] == dst:
                        n_mid += 1
                        acc += ss[v] * sv_[t] / ss[t]
            bc = float(
                Decimal(repr(acc / 2.0)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
            out.append((int(v), n_mid, bc))
        return edges.sparkSession.createDataFrame(
            out, "doc_id long, n_mid_pairs long, betweenness double"
        )
    # loop state sized by the edge count, the kcore rule
    P = _loop_partitions(edges.count())
    edges = edges.coalesce(P).localCheckpoint()
    nodes = (
        edges.select(F.col("e_src").alias("doc_id")).distinct().coalesce(P).localCheckpoint()
    )

    # (src, node, dist, sigma): BFS levels with path-count DP
    sp = nodes.select(
        F.col("doc_id").alias("src"),
        F.col("doc_id").alias("node"),
        F.lit(0).cast("long").alias("dist"),
        F.lit(1).cast("long").alias("sigma"),
    ).localCheckpoint()
    frontier = sp
    d = 0
    while d < max_rounds:
        d += 1
        new = (
            frontier.join(edges, frontier.node == edges.e_src)
            .select("src", F.col("e_dst").alias("node"), "sigma")
            .join(sp.select("src", "node"), ["src", "node"], "left_anti")
            # σ(s, v) = Σ over DAG predecessors' σ — the per-level DP
            .groupBy("src", "node")
            .agg(F.sum("sigma").cast("long").alias("sigma"))
            .withColumn("dist", F.lit(d).cast("long"))
            .select("src", "node", "dist", "sigma")
            .localCheckpoint()
        )
        if new.count() == 0:  # bounded: one scalar per round
            _release_checkpoint(new)
            break
        prev_sp, prev_frontier = sp, frontier
        sp = sp.unionAll(new).localCheckpoint()
        if prev_frontier is not prev_sp:
            _release_checkpoint(prev_frontier)
        _release_checkpoint(prev_sp)
        frontier = new
    _release_checkpoint(edges)
    if frontier is not sp:
        _release_checkpoint(frontier)

    # the definition as one triple join: s --d1--> v --d2--> t on a
    # shortest s-t path iff d1 + d2 = dist(s, t)
    sv = sp.select(
        F.col("src").alias("s"), F.col("node").alias("v"),
        F.col("dist").alias("d1"), F.col("sigma").alias("sig_sv"),
    )
    vt = sp.select(
        F.col("src").alias("v"), F.col("node").alias("t"),
        F.col("dist").alias("d2"), F.col("sigma").alias("sig_vt"),
    )
    st = sp.select(
        F.col("src").alias("s"), F.col("node").alias("t"),
        F.col("dist").alias("d_st"), F.col("sigma").alias("sig_st"),
    )
    mids = (
        sv.join(vt, "v")
        .filter((F.col("s") != F.col("v")) & (F.col("v") != F.col("t"))
                & (F.col("s") != F.col("t")))
        .join(st, ["s", "t"])
        .filter(F.col("d1") + F.col("d2") == F.col("d_st"))
        .groupBy(F.col("v").alias("doc_id"))
        .agg(
            F.count("*").cast("long").alias("n_mid_pairs"),
            F.round(
                F.sum(
                    F.col("sig_sv").cast("double")
                    * F.col("sig_vt").cast("double")
                    / F.col("sig_st").cast("double")
                ) / 2.0,
                6,
            ).alias("betweenness"),
        )
    )
    # NOTE: `nodes` and `sp` must NOT be released here — the returned
    # LAZY plan reads both (the closeness exit-hygiene rule: release
    # only what the return no longer references)
    return nodes.join(mids, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_mid_pairs"), F.lit(0)).cast("long").alias("n_mid_pairs"),
        F.coalesce(F.col("betweenness"), F.lit(0.0)).alias("betweenness"),
    )


#: ExactSubstr grain shared by the three kernels AND their DuckDB
#: oracles (r19 advice #1: the cert oracles used to hard-code 30/29/250
#: as literals, so calling a kernel with a non-default k silently
#: diverged from the oracle; both sides now render from these one
#: constants — __spark_entry__ interpolates SUBSTR_K / SUBSTR_K - 1 /
#: SUBSTR_SPLIT_DOC_ID into the oracle SQL).
SUBSTR_K = 30
#: doc_id split between the "existing corpus" and "incoming" halves of
#: the incremental probe fixture (see :func:`exact_substring_probe`).
SUBSTR_SPLIT_DOC_ID = 250


def _non_canonical_positions(occ: DataFrame, *extra_keys: str) -> DataFrame:
    """Occurrences minus the corpus-wide CANONICAL (lexicographic-min
    (doc_id, pos) struct) occurrence of each gram — one gram-partitioned
    window over a single pass of ``occ``.

    r20 perf: replaces the owner-aggregate + gram-keyed equi self-join
    pair the three ExactSubstr kernels each inlined. That shape scanned
    and shuffled the occurrence set TWICE (once into the aggregate,
    once into the join probe side — Spark does not share the common
    explode subtree between the two consumers) and paid a sort-merge
    join on the k-byte string key; the window pays one exchange + one
    sort and reads the occurrences once. Measured at sf0.1: 10.9 s ->
    2.6 s for the dup-extraction stage (same downstream plan).
    Skew exposure is unchanged in KIND: either shape colocates all
    occurrences of one gram in a single task (the aggregate's map-side
    combine never helped the join probe side, which always shuffled
    every occurrence of every gram).

    ``extra_keys`` prepend columns to the window partition key WITHOUT
    changing the grouping (callers pass a functionally-dependent prefix
    such as ``xxhash64(gram)``): grouping by ``(h(gram), gram)`` equals
    grouping by ``gram``, but when the input is ALREADY hash-partitioned
    by the prefix (the hashed kernel's post-screen shape) the window's
    ClusteredDistribution is satisfied by the existing partitioning —
    HashPartitioning([h]) ⊆ cluster keys [h, gram] — so Catalyst inserts
    NO second corpus-wide exchange, only the in-partition sort.
    """
    from pyspark.sql import Window as W

    wg = W.partitionBy(*extra_keys, "gram")
    return (
        occ.select(
            *extra_keys,
            "doc_id",
            "pos",
            "gram",
        )
        .select(
            "doc_id",
            "pos",
            F.min(F.struct("doc_id", "pos")).over(wg).alias("o"),
        )
        .filter(
            ~(
                (F.col("doc_id") == F.col("o.doc_id"))
                & (F.col("pos") == F.col("o.pos"))
            )
        )
        .select("doc_id", "pos")
    )


def _dup_span_rollup(dup: DataFrame, k: int) -> DataFrame:
    """Per-doc (n_grams, n_spans, span_chars) totals of the lag-gap span
    merge, in ONE doc-partitioned window pass + one reused-partitioning
    aggregate.

    r20 perf (guide §2.4 — remove shuffle passes outright): the prior
    shape ran lag-window → running-sum window → groupBy(doc, span_id) →
    groupBy(doc). The span_id cumsum and the span-grain aggregate exist
    only to compute Σ(max(pos) − min(pos) + k) per doc — but that total
    is expressible WITHOUT materializing spans: within one span, the
    consecutive-gap sum telescopes to (last − first), so

        Σ span_chars = Σ gap·[gap ≤ k]  +  k · n_spans

    over the very same lag values the span-start flag already reads.
    One window pass replaces two, and a whole HashAggregate pair
    (doc, span_id grain) drops out of the plan; all values stay exact
    integers. Both doc-grain aggregates reuse the window's
    hashpartitioning(doc_id) — no further exchange (verified in
    plans/r20/dedup_exact_substring_{before,after}.txt).
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("pos")
    gap = F.col("pos") - F.lag("pos").over(w)
    new_span = F.when(gap.isNull() | (gap > k), 1).otherwise(0)
    flagged = dup.select(
        "doc_id",
        new_span.alias("new_span"),
        F.when(gap.isNull() | (gap > k), F.lit(0)).otherwise(gap).alias("in_gap"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum("new_span").alias("n_spans"),
        (F.sum("in_gap") + F.lit(int(k)) * F.sum("new_span")).alias("span_chars"),
    )


def exact_substring_spans(documents: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """Exact SUBSTRING-level dedup report (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — the
    ExactSubstr modality: remove every duplicated substring of length
    >= k, keeping one canonical copy corpus-wide). Doc-level
    (``exact_dedup``), segment-level (``text.segment_dedup``) and
    n-gram-profile (``text.duplicate_ngrams``) exist; this closes the
    suffix-grain gap relationally — no suffix array needed:

    1. every char-grain k-gram occurrence ``(doc_id, pos,
       substr(text, pos+1, k))`` (one generated-column explode, no
       shuffle yet);
    2. the CANONICAL occurrence per gram is the lexicographic min
       (doc_id, pos) struct — one gram-partitioned window over a
       single pass of the occurrences (the bucketed-by-fingerprint
       shuffle: candidate volume is O(n·L), never all-pairs; see
       :func:`_non_canonical_positions` for why a window beats the
       owner-aggregate + self-join shape it replaced in r20);
    3. every non-canonical occurrence marks chars [pos, pos+k) for
       removal; overlapping/adjacent marks merge into MAXIMAL spans
       per doc with one doc-partitioned window (equal-length intervals
       sorted by pos merge iff gap <= k — a lag test + running flag
       sum, the sessionize island idiom);
    4. one doc-grain rollup publishes span count, removed chars, and
       removal bps — every doc keeps a row (the don't-vanish rule).

    All counts are exact integers; removed_bps is an exact integer
    ``div`` on min-offset non-negative values.

    Known deviation from Lee et al.'s suffix-array semantics (r19
    advice #4): for SELF-OVERLAPPING repeats inside one document
    (periodic runs like ``'ab' * 200``), gram-grain canonicalization
    keeps only the unmarked prefix character(s) before the first
    non-canonical gram — less than one full k-char copy of the
    repeated substring. The randomized brute-force test pins this
    behavior; inter-document duplicates (the modality's target) always
    keep the full canonical occurrence.

    Scale shape (100 TB): the only corpus-wide shuffle is gram-keyed
    (step 2) — at deployment scale group on ``xxhash64(gram)`` instead
    of the 30-byte string to shrink shuffle width (collisions then
    over-mark at ~2^-64 rates; re-verify with one equality join, the
    ngram-Jaccard verify pattern); the span-merge window partitions by
    doc_id and is bounded by document length, never corpus size.

    r20 opt round: ``fan_out`` before the ×(L−k+1) explode (parquet
    row-group granularity left the whole gram generation in ONE task on
    small inputs; a multi-row-group 100 TB scan passes through
    untouched) and the span/rollup stages collapsed into one window
    pass + one reused-partitioning aggregate (:func:`_dup_span_rollup`
    — the cumsum window and the (doc, span)-grain HashAggregate pair
    are gone from the plan)."""
    from datalake_local_spark.session import fan_out

    docs = documents.select("doc_id", "text")
    # fan only the EXPLODE branch: the publish join's left side stays
    # the plain scan (repartitioning those 1-row-per-doc frames bought
    # nothing and added an exchange + stage per query)
    fanned = fan_out(docs, "doc_id")
    npos = F.length("text") - F.lit(k) + 1
    grams = (
        fanned.select(
            "doc_id",
            F.explode(
                F.when(npos >= 1, F.sequence(F.lit(0), npos - 1))
                .otherwise(F.array().cast("array<int>"))
            ).alias("pos"),
            "text",
        )
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.expr(f"substring(text, pos + 1, {int(k)})").alias("gram"),
        )
    )
    dup = _non_canonical_positions(grams)
    per_doc = _dup_span_rollup(dup, k).select(
        "doc_id",
        F.col("n_spans").alias("n_dup_spans"),
        F.col("span_chars").alias("chars_removed"),
        F.col("n_grams").alias("n_dup_grams"),
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("chars_removed", F.lit(0))
            .cast("long")
            .alias("chars_removed"),
            F.length("text").cast("long").alias("total_chars"),
            F.expr(
                "CASE WHEN length(text) > 0 THEN"
                " coalesce(chars_removed, 0) * 10000 div length(text)"
                " ELSE 0 END"
            )
            .cast("long")
            .alias("removed_bps"),
        )
        .orderBy("doc_id")
    )


def exact_substring_probe(
    documents: DataFrame,
    split_doc_id: int = SUBSTR_SPLIT_DOC_ID,
    k: int = SUBSTR_K,
) -> DataFrame:
    """Incremental ExactSubstr screen — the ingestion-path companion of
    :func:`exact_substring_spans`: INCOMING documents (doc_id >=
    ``split_doc_id``) probed against the k-gram set of the EXISTING
    corpus (doc_id below the split), reporting per incoming doc how
    much text an exact-substring decontamination pass would cut before
    admission. Batch-refits nothing: the existing corpus contributes
    only its DISTINCT gram set, which in production is a persisted
    index (the ``write_band_index`` precedent — append new grams per
    ingest batch; this query computes it inline so the oracle can
    replay it).

    Semantics differ from :func:`exact_substring_spans` on purpose:
    every incoming occurrence of an indexed gram is marked (there is
    no canonical-copy exemption — the existing corpus already holds
    the canonical copy), and incoming docs are NOT probed against each
    other (that is the full pass's job at the next compaction).

    Scale shape (100 TB): the probe is one LEFT SEMI join at gram
    grain — index-pruned, never all-pairs; at deployment scale the
    index side persists bucketed by xxhash64(gram) so the probe
    co-partitions without a shuffle of the (much larger) incoming
    gram stream's index side, and AQE handles hot-gram skew. The span
    merge is the same doc-partitioned lag-gap island window, bounded
    by document length.

    r20 opt round: same two changes as the sibling — ``fan_out`` before
    the explode, and the span/rollup stages collapsed via
    :func:`_dup_span_rollup`."""
    from datalake_local_spark.session import fan_out

    docs = documents.select("doc_id", "text")
    # fan only the explode branches (see exact_substring_spans)
    fanned = fan_out(docs, "doc_id")
    npos = F.length("text") - F.lit(k) + 1

    def _grams(df):
        return df.select(
            "doc_id",
            F.explode(
                F.when(npos >= 1, F.sequence(F.lit(0), npos - 1))
                .otherwise(F.array().cast("array<int>"))
            ).alias("pos"),
            "text",
        ).select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.expr(f"substring(text, pos + 1, {int(k)})").alias("gram"),
        )

    index = (
        _grams(fanned.filter(F.col("doc_id") < split_doc_id))
        .select("gram")
        .distinct()
    )
    incoming = docs.filter(F.col("doc_id") >= split_doc_id)
    hits = (
        _grams(fanned.filter(F.col("doc_id") >= split_doc_id))
        .join(index, "gram", "left_semi")
        .select("doc_id", "pos")
    )
    per_doc = _dup_span_rollup(hits, k).select(
        "doc_id",
        F.col("n_spans").alias("n_spans"),
        F.col("span_chars").alias("chars_covered"),
        F.col("n_grams").alias("n_hit_grams"),
    )
    return (
        incoming.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hit_grams", F.lit(0)).cast("long").alias("n_hit_grams"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("chars_covered", F.lit(0))
            .cast("long")
            .alias("chars_covered"),
            F.length("text").cast("long").alias("total_chars"),
            F.expr(
                "CASE WHEN length(text) > 0 THEN"
                " coalesce(chars_covered, 0) * 10000 div length(text)"
                " ELSE 0 END"
            )
            .cast("long")
            .alias("covered_bps"),
        )
        .orderBy("doc_id")
    )


def exact_substring_clean(documents: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """The ExactSubstr REWRITE itself — the text that remains after
    :func:`exact_substring_spans`' removal decision is applied (Lee et
    al. 2022: cut every duplicated >= k-char span, keeping the
    corpus-wide canonical occurrence). Where the sibling publishes the
    AUDIT (span counts and bps), this materializes ``clean_text``:

    1. the same dup-position derivation (char k-grams, canonical =
       min (doc_id, pos) struct per gram, lag-gap island merge into
       maximal spans [s_start, s_end));
    2. the KEPT segments are the complement intervals — one lag over
       the doc-partitioned span sequence yields [prev_end, s_start)
       pieces plus one tail piece [max_end, len);
    3. the rewrite is a per-doc ordered concat of ``substring`` slices
       (array_sort over (start, piece) structs + array_join — all
       JVM-side expressions, no UDF); docs with no duplicated spans
       pass through verbatim via the don't-vanish LEFT join.

    Merged spans are separated by MORE than k chars, so complement
    pieces are strictly positive-width except the possible empty head
    (a span starting at 0) — substring(…, 1, 0) is '' on both engines.

    Scale shape: identical to the sibling (one gram-keyed shuffle,
    doc-bounded windows) plus a doc-grain collect of O(spans-per-doc)
    pieces — bounded by document length, never corpus size.

    r20 opt round: ``fan_out`` before the explode (the sibling's
    single-task row-group fix). The span_id cumsum stays here — unlike
    the audit kernels this one needs the actual [s_start, s_end)
    intervals to cut the complement pieces."""
    from pyspark.sql import Window as W

    from datalake_local_spark.session import fan_out

    docs = documents.select("doc_id", "text")
    # fan only the EXPLODE branch: the publish join's left side stays
    # the plain scan (repartitioning those 1-row-per-doc frames bought
    # nothing and added an exchange + stage per query)
    fanned = fan_out(docs, "doc_id")
    npos = F.length("text") - F.lit(k) + 1
    grams = (
        fanned.select(
            "doc_id",
            F.explode(
                F.when(npos >= 1, F.sequence(F.lit(0), npos - 1))
                .otherwise(F.array().cast("array<int>"))
            ).alias("pos"),
            "text",
        )
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.expr(f"substring(text, pos + 1, {int(k)})").alias("gram"),
        )
    )
    dup = _non_canonical_positions(grams)
    w = W.partitionBy("doc_id").orderBy("pos")
    spans = (
        dup.select(
            "doc_id",
            "pos",
            F.when(
                F.lag("pos").over(w).isNull()
                | (F.col("pos") - F.lag("pos").over(w) > k),
                1,
            )
            .otherwise(0)
            .alias("new_span"),
        )
        .select(
            "doc_id",
            "pos",
            F.sum("new_span")
            .over(w.rowsBetween(W.unboundedPreceding, 0))
            .alias("span_id"),
        )
        .groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").alias("s_start"),
            (F.max("pos") + k).alias("s_end"),
        )
    )
    # r20 opt: pieces AND the tail come out of ONE window pass over the
    # docs-joined span sequence — the last span's row (lead(s_start)
    # IS NULL; spans are disjoint and sorted, so its s_end is the doc
    # max) emits the tail piece alongside its complement piece. The
    # prior shape ran a separate tails groupBy + docs join + unionByName
    # + a third docs join; this drops one docs join and the union
    # (plans/r20/dedup_substring_clean_{before,after}.txt), with the
    # collect flattening 1-2-element piece arrays instead of rows.
    ws = W.partitionBy("doc_id").orderBy("s_start")
    piece_struct = F.struct(
        F.col("p_start"),
        F.expr("substring(text, p_start + 1, p_end - p_start)").alias("piece"),
    )
    tail_struct = F.struct(
        F.col("s_end").alias("p_start"),
        F.expr("substring(text, s_end + 1, length(text) - s_end)").alias(
            "piece"
        ),
    )
    cleaned = (
        spans.join(docs, "doc_id")
        .select(
            "doc_id",
            F.coalesce(F.lag("s_end").over(ws), F.lit(0)).alias("p_start"),
            F.col("s_start").alias("p_end"),
            F.lead("s_start").over(ws).isNull().alias("is_last"),
            "s_end",
            "text",
        )
        .select(
            "doc_id",
            F.when(F.col("is_last"), F.array(piece_struct, tail_struct))
            .otherwise(F.array(piece_struct))
            .alias("segs"),
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.expr(
                    "transform(array_sort(flatten(collect_list(segs))),"
                    " x -> x.piece)"
                ),
                "",
            ).alias("ct")
        )
    )
    return (
        docs.join(cleaned, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("ct", F.col("text")).alias("clean_text"),
            F.length("text").cast("long").alias("total_chars"),
            (F.length("text") - F.length(F.coalesce("ct", F.col("text"))))
            .cast("long")
            .alias("chars_removed"),
        )
        .orderBy("doc_id")
    )


def exact_substring_spans_hashed(
    documents: DataFrame, k: int = SUBSTR_K
) -> DataFrame:
    """Deployment-scale variant of :func:`exact_substring_spans` — the
    xxhash64-gram key path the sibling's docstring prescribed at 100 TB
    (r19 verdict #3), now code, with output IDENTICAL bit-for-bit (the
    same DuckDB oracle certifies both). Two phases:

    1. **Hash screen** — the one corpus-wide aggregate groups on
       ``xxhash64(gram)``: an 8-byte key instead of the k-byte string
       (k = 30 default -> ~3x narrower shuffle rows on the dominant
       exchange, and map-side combine ships one (hash, count) pair per
       distinct gram per task). A hash seen ONCE proves its gram
       occurs once corpus-wide (no collision can hide a duplicate —
       equal grams always share a hash), so the singleton population —
       nearly all of a real corpus — is discarded before any string
       ever shuffles.
    2. **Equality re-verify** — occurrences surviving the screen
       (LEFT SEMI on the 8-byte key) run the sibling's EXACT
       string-grain owner window. Hash collisions only ADMIT extra
       occurrences into this phase (~2^-64 rates); partitioning on the
       gram itself then resolves them exactly — a colliding singleton
       gram becomes its own owner and marks nothing. This is why the
       naive alternative (owner per hash + verify join against the
       owner's text) is NOT used: under a collision the min-struct
       owner of one gram can shadow another, silently UNDER-marking
       the shadowed gram's duplicates; the semi-join screen + exact
       regroup has no such case.

    Island merge and rollup are the sibling's (collapsed via
    :func:`_dup_span_rollup`, same as the sibling in the r20 opt
    round). Scale shape: phase 1 shuffles O(distinct grams) 8-byte
    keys; phase 2 shuffles only occurrences of DUPLICATED grams
    (corpus dup-rate-bounded, not corpus-bounded) — and that ONE
    exchange is keyed on ``h``, with the exact-regroup window
    partitioned by ``(h, gram)`` so the existing hashpartitioning(h)
    already satisfies its distribution and NO further corpus-wide
    exchange is planned (the r20 opt round removed the separate
    gram-string exchange this phase used to pay; see
    plans/r20/dedup_substring_hashed_{before,after}.txt). The
    span-merge window stays doc-partitioned. Measured at 1x/3x/10x
    documents corpora in SCALE.md (r20)."""
    from datalake_local_spark.session import fan_out

    docs = documents.select("doc_id", "text")
    # fan only the explode branch (see exact_substring_spans)
    fanned = fan_out(docs, "doc_id")
    npos = F.length("text") - F.lit(k) + 1
    hashed = (
        fanned.select(
            "doc_id",
            F.explode(
                F.when(npos >= 1, F.sequence(F.lit(0), npos - 1))
                .otherwise(F.array().cast("array<int>"))
            ).alias("pos"),
            "text",
        )
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.expr(f"substring(text, pos + 1, {int(k)})").alias("gram"),
        )
        .withColumn("h", F.xxhash64("gram"))
    )
    multi = (
        hashed.groupBy("h")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("h")
    )
    cand = hashed.join(multi, "h", "left_semi")
    dup = _non_canonical_positions(
        cand.select("h", "doc_id", "pos", "gram"), "h"
    )
    per_doc = _dup_span_rollup(dup, k).select(
        "doc_id",
        F.col("n_spans").alias("n_dup_spans"),
        F.col("span_chars").alias("chars_removed"),
        F.col("n_grams").alias("n_dup_grams"),
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("chars_removed", F.lit(0))
            .cast("long")
            .alias("chars_removed"),
            F.length("text").cast("long").alias("total_chars"),
            F.expr(
                "CASE WHEN length(text) > 0 THEN"
                " coalesce(chars_removed, 0) * 10000 div length(text)"
                " ELSE 0 END"
            )
            .cast("long")
            .alias("removed_bps"),
        )
        .orderBy("doc_id")
    )
