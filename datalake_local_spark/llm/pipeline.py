"""End-to-end training-corpus preparation — the composition the
individual LLM operators exist for, as one callable stage chain:

    raw documents → quality gate → exact dedup → sequence packing

Each stage is the already-tested operator; the composition proves the
operators chain without materialization barriers (one logical plan end
to end, so Catalyst pushes the quality-gate predicates into the scan
that feeds dedup). The SQL-expressible stages make the whole pipeline
oracle-checkable; the near-dup (MinHash) stage is OFF by default
because its seeded-hash semantics have no ANSI oracle — pass
``near_dedup=True`` to slot it between exact dedup and packing (LSH
candidates → connected components → keep each component's canonical
doc), which is the production 100 TB path.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalake_local_spark.llm.text import _norm_text, assign_pack_bins

#: Target token volume per (source, shard) budget-prefix window when the
#: shard count is DERIVED (``n_shards=None``): ~100 M tokens ≈ 400 MB of
#: text per window partition — a comfortable single-task slice. The
#: pinned default of 8 stays the registered-query value (the keep-set
#: depends on shard ordering, so deriving would move oracle hashes).
_SHARD_TOKEN_VOLUME = 100_000_000

#: Bytes of parquet-compressed corpus per whitespace token, deliberately
#: LOW (text ≈ 5 chars/token at ~2.5× zstd compression → ~2 bytes/token)
#: so the file-size estimate over-fans rather than under-fans.
_BYTES_PER_TOKEN_EST = 2


def _derive_n_shards(
    documents: DataFrame, shard_token_volume: int | None = None
) -> int:
    """Data-derived shard count for the budget prefix windows: total
    backing-file bytes → token estimate → ``ceil(est / volume)``,
    floored at the pinned default of 8. Driver-side file stats only (no
    Spark job — the mixture stays one scan). Sizing assumes worst-case
    source skew (ONE source could own every byte), which is exactly the
    case the fixed 8 breaks at scale: a 10 TB source would push
    ~1.25 TB through each of 8 per-(source, shard) prefix windows,
    where the derived count keeps every window near
    ``_SHARD_TOKEN_VOLUME``. In-memory frames (no backing files) keep
    the default."""
    vol = shard_token_volume or _SHARD_TOKEN_VOLUME
    import os
    from urllib.parse import unquote, urlparse

    total = 0
    for u in documents.inputFiles():
        p = urlparse(u)
        if p.scheme in ("file", ""):
            try:
                total += os.stat(unquote(p.path) if p.scheme else u).st_size
            except OSError:
                pass
    est_tokens = total // _BYTES_PER_TOKEN_EST
    return max(8, math.ceil(est_tokens / vol)) if est_tokens else 8


def prepare_corpus(
    documents: DataFrame,
    target_tokens: int = 512,
    near_dedup: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Run the corpus-prep chain; returns per-bin packing stats of the
    SURVIVING corpus.

    1. quality gate: drop documents failing any rule;
    2. exact dedup: keep the lowest doc_id per normalized-text group;
    3. (``near_dedup=True``) near-dup removal: MinHash-LSH candidate
       pairs → connected components (star, O(log d) rounds) → keep only
       each component's canonical (min doc_id) member. Runs AFTER exact
       dedup so the LSH stage shingles each distinct text once;
    4. pack survivors into ``target_tokens`` context windows.

    ``stats`` (with ``near_dedup``) receives the component loop's
    ``rounds`` / ``n_edges`` / ``num_partitions``.

    Plan shape (ledger-ized round 6, same output hashes): gate verdict
    and exact-dedup canonical flag are COLUMNS on one pass (gate rules
    from ``quality_rule_exprs`` — byte-identical predicates to the
    audit operator; canonical via min-over-fingerprint window), and the
    packing prefix is a conditional window over canon rows — ONE
    documents scan in the executed plan where the join-per-stage form
    paid three. The near-dup stage still scans once more for shingling
    (it needs the raw text of survivors; rows-only path).
    """
    from pyspark.sql import Window as W

    from datalake_local_spark.llm.text import quality_rule_exprs

    n_shards = 8  # pack_sequences' default shard count
    _rules, keep = quality_rule_exprs()
    norm = _norm_text(F.col("text"))
    base = documents.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(n_shards)).alias("shard_id"),
        F.size(F.split(norm, " ")).alias("n_tokens"),
        F.md5(norm).alias("fp"),
        keep.alias("gated"),
    )
    w_fp = W.partitionBy("fp")
    base = base.withColumn(
        "canon",
        F.col("gated")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("gated"), F.col("doc_id"))).over(w_fp)
        ),
    )
    if near_dedup:
        from datalake_local_spark.llm import dedup

        survivors = documents.join(
            base.filter(F.col("canon")).select("doc_id"), "doc_id", "left_semi"
        )
        components = dedup.duplicate_components(
            survivors,
            pairs=dedup.minhash_lsh_candidates(survivors),
            stats=stats,
        )
        nd_keep = components.filter(F.col("is_canonical")).select(
            "doc_id", F.lit(True).alias("_nd")
        )
        base = (
            base.join(nd_keep, "doc_id", "left")
            .withColumn("canon", F.col("canon") & F.coalesce(F.col("_nd"), F.lit(False)))
            .drop("_nd")
        )
    w = W.partitionBy("shard_id").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    canon_tokens = F.when(F.col("canon"), F.col("n_tokens")).otherwise(F.lit(0))
    binned = base.withColumn(
        "bin_id",
        F.floor(F.coalesce(F.sum(canon_tokens).over(w), F.lit(0)) / target_tokens),
    )
    return (
        binned.filter(F.col("canon"))
        .groupBy("shard_id", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


def mixture_threshold_hex(rate: float) -> str:
    """Lowercase-hex keep-threshold for a sampling rate: a doc is kept
    iff the first 8 hex chars of md5(doc_id || ':' || source) sort at or
    below this (lexicographic lowercase-hex compare == numeric compare —
    exactly portable to the ANSI oracle)."""
    n = max(0, min(int(rate * (1 << 32)), 1 << 32) - 1)
    return format(n, "08x") if rate > 0 else ""


def _mixture_exprs(weights: dict[str, float], default_rate: float):
    """(rate column, kept predicate) for deterministic per-source
    sampling — shared by the audit (``weighted_source_sample``) and the
    end-to-end mixture build so both make the SAME keep decision."""
    rate_col = F.lit(default_rate)
    thr_col = F.lit(mixture_threshold_hex(default_rate))
    for src, rate in sorted(weights.items()):
        rate_col = F.when(F.col("source") == src, F.lit(rate)).otherwise(rate_col)
        thr_col = F.when(F.col("source") == src, F.lit(mixture_threshold_hex(rate))).otherwise(
            thr_col
        )
    kept_col = (
        F.substring(F.md5(F.concat_ws(":", F.col("doc_id"), F.col("source"))), 1, 8)
        <= thr_col
    )
    return rate_col, kept_col


def weighted_source_sample(
    documents: DataFrame, weights: dict[str, float] | None = None, default_rate: float = 0.5
) -> DataFrame:
    """Deterministic corpus mixing — keep each document with its source's
    target rate (the "data mixture" step of LLM pre-training: up-weight
    books/wiki, down-sample web). The keep/drop decision is a pure
    function of (doc_id, source) via md5, so the sample is reproducible
    run-to-run and engine-to-engine with NO RNG state: a doc is kept iff
    the first 8 hex chars of md5(doc_id || ':' || source) sort below the
    rate's hex threshold (lexicographic lowercase-hex compare ==
    numeric compare — exactly portable to the ANSI oracle).

    Returns the per-source audit the pipeline operator owes its caller:
    (source, rate, n_docs, n_kept, realized_rate). Scan-speed: one pass,
    token-free, aggregate at source grain; at 100 TB the decision column
    is codegen'd into the scan. The CASE chain suits the usual handful
    of named mixtures; with thousands of sources, broadcast-join a
    (source, rate, threshold) dim table instead — same decision
    expression, rate column from the join.
    """
    rate_col, kept_col = _mixture_exprs(
        weights if weights is not None else {"src0": 1.0, "src1": 0.25, "src2": 0.0},
        default_rate,
    )
    decided = documents.select("source", rate_col.alias("rate"), kept_col.alias("kept"))
    return (
        decided.groupBy("source", "rate")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("kept").cast("int")).alias("n_kept"),
            F.round(F.avg(F.col("kept").cast("double")), 6).alias("realized_rate"),
        )
        .orderBy("source")
    )


def pretraining_mixture(
    documents: DataFrame,
    weights: dict[str, float] | None = None,
    token_budgets: dict[str, int] | None = None,
    default_rate: float = 0.5,
    default_budget: int = 1500,
    target_tokens: int = 512,
    n_shards: int | None = 8,
    near_dedup: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """The actual pretraining-mixture build, end to end as ONE plan:

        weighted source sampling → exact dedup → (optional MinHash
        near-dedup) → per-source TOKEN BUDGET cap → sequence packing

    and return the per-source audit a mixture job owes its caller:
    (source, rate, budget_tokens, n_docs, n_sampled, n_deduped,
    n_kept, tokens_kept, n_bins).

    Budget semantics (deterministic, ANSI-portable): survivors are
    ordered (shard_id, doc_id) within each source; a doc is kept iff
    the token prefix-sum BEFORE it, over ALL survivors of its source in
    that order, plus its own tokens fits ``budget_tokens`` — a pure
    prefix rule (no "skip and retry smaller docs" — that running-kept
    semantics is inherently sequential and not window-expressible).

    Plan shape (the part that matters at 100 TB): ONE LEDGER, not a
    join of per-stage subqueries. Every stage is a COLUMN on a single
    pass over documents — ``sampled`` (md5 decision), ``canon`` (exact
    dedup via a min-over-fingerprint window, no groupBy+semi-join),
    ``kept`` (budget), ``bin_id`` (packing) — and the whole audit is
    one conditional aggregate at source grain. A naive
    filter-per-stage + join-the-audits version of this same function
    scanned documents 12×; the ledger form scans it ONCE — the tiny
    shard-offset aggregate (whose broadcast join supplies the
    cross-shard prefix) rides the SAME fingerprint exchange via AQE
    ReuseExchange, which is why budget_tokens attaches after the join
    rather than in the base projection (a column only one branch
    consumes would de-canonicalize the shared subtree — see
    test_pretraining_mixture_budget_and_stage_monotonicity's plan
    assertion). The budget prefix sum is NEVER a
    single global window: per-(source, shard) windows plus a
    (|sources| × n_shards)-row offset table, the same two-level trick
    as ``pack_sequences``. With thousands of sources, swap the
    rate/budget CASE chains for a broadcast-joined dim table (same
    decision expressions). ``near_dedup=True`` adds the LSH →
    star-components stage as one more ledger flag (seeded hashes →
    rows-only correctness, so the REGISTERED oracle query runs with it
    off).

    ``n_shards``: the budget ordering (shard_id, doc_id) makes the
    keep-set shard-count-dependent, so the default 8 is PINNED for
    oracle stability; pass ``n_shards=None`` to derive it from the
    source's backing-file volume (``_derive_n_shards`` — the 100 TB
    path, where a fixed 8 would funnel terabytes through each prefix
    window).
    """
    from pyspark.sql import Window as W

    if n_shards is None:
        n_shards = _derive_n_shards(documents)
    if stats is not None:
        stats["n_shards"] = n_shards

    weights = weights if weights is not None else {"src0": 1.0, "src1": 0.25, "src2": 0.0}
    budgets = token_budgets if token_budgets is not None else {"src0": 10_000, "src1": 600}
    rate_col, sampled_col = _mixture_exprs(weights, default_rate)
    budget_col = F.lit(default_budget)
    for src, b in sorted(budgets.items()):
        budget_col = F.when(F.col("source") == src, F.lit(b)).otherwise(budget_col)

    # budget_tokens is NOT computed here: the shard-offset branch below
    # aggregates this same subtree, and a column only the main chain
    # consumes would make the two copies canonically different and
    # defeat exchange reuse — it's a pure function of source, attached
    # after the broadcast join
    norm = _norm_text(F.col("text"))
    base = documents.select(
        "doc_id",
        "source",
        F.pmod(F.col("doc_id"), F.lit(n_shards)).alias("shard_id"),
        F.size(F.split(norm, " ")).alias("n_tokens"),
        F.md5(norm).alias("fp"),
        sampled_col.alias("sampled"),
    )
    # exact dedup as a window: the canonical survivor of a fingerprint
    # group is its min SAMPLED doc_id (fp-partition window — same
    # shuffle key as the groupBy form, zero joins)
    w_fp = W.partitionBy("fp")
    base = base.withColumn(
        "canon",
        F.col("sampled")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("sampled"), F.col("doc_id"))).over(w_fp)
        ),
    )
    if near_dedup:
        from datalake_local_spark.llm import dedup

        survivors = documents.join(
            base.filter(F.col("canon")).select("doc_id"), "doc_id", "left_semi"
        )
        components = dedup.duplicate_components(
            survivors,
            pairs=dedup.minhash_lsh_candidates(survivors),
            stats=stats,
        )
        nd_keep = components.filter(F.col("is_canonical")).select(
            "doc_id", F.lit(True).alias("_nd")
        )
        base = base.join(nd_keep, "doc_id", "left").withColumn(
            "canon", F.col("canon") & F.coalesce(F.col("_nd"), F.lit(False))
        ).drop("_nd")

    # two-level budget prefix: in-shard conditional window + per-source
    # shard offsets (tiny, broadcast)
    w_in = W.partitionBy("source", "shard_id").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    canon_tokens = F.when(F.col("canon"), F.col("n_tokens")).otherwise(F.lit(0))
    cum = base.withColumn(
        "cum_in_shard", F.coalesce(F.sum(canon_tokens).over(w_in), F.lit(0))
    )
    shard_totals = base.groupBy("source", "shard_id").agg(
        F.sum(canon_tokens).alias("shard_tokens")
    )
    w_off = W.partitionBy("source").orderBy("shard_id").rowsBetween(W.unboundedPreceding, -1)
    offsets = shard_totals.select(
        "source",
        "shard_id",
        F.coalesce(F.sum("shard_tokens").over(w_off), F.lit(0)).alias("shard_offset"),
    )
    cum = (
        cum.join(F.broadcast(offsets), ["source", "shard_id"])
        .withColumn("cum_before", F.col("shard_offset") + F.col("cum_in_shard"))
        .withColumn("budget_tokens", budget_col)
    )
    kept = F.col("canon") & (
        F.col("cum_before") + F.col("n_tokens") <= F.col("budget_tokens")
    )
    ledger = cum.withColumn("kept", kept).withColumn(
        "kcum",
        F.coalesce(
            F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(F.lit(0))).over(w_in),
            F.lit(0),
        ),
    ).withColumn(
        "bin_key",
        F.when(
            F.col("kept"),
            F.concat_ws(
                "-", F.col("shard_id"), F.floor(F.col("kcum") / F.lit(target_tokens))
            ),
        ),
    )
    audit = ledger.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("sampled").cast("long")).alias("n_sampled"),
        F.sum(F.col("canon").cast("long")).alias("n_deduped"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(F.lit(0))).alias(
            "tokens_kept"
        ),
        F.count_distinct(F.col("bin_key")).alias("n_bins"),
    )
    return audit.select(
        "source",
        rate_col.alias("rate"),
        budget_col.alias("budget_tokens"),
        "n_docs",
        "n_sampled",
        "n_deduped",
        "n_kept",
        "tokens_kept",
        "n_bins",
    ).orderBy("source")


def train_eval_split(
    documents: DataFrame,
    fractions: dict[str, float] | None = None,
) -> DataFrame:
    """Deterministic train/val/test assignment — the split step every
    training-data pipeline runs last, with the same no-RNG discipline
    as ``weighted_source_sample``: a document's split is a pure
    function of doc_id, so re-runs, backfills and engines agree
    row-for-row and a document can NEVER migrate between splits when
    the corpus grows (interval assignment on md5(doc_id || ':split'),
    the salt keeping this hash independent of the sampling hash).

    ``fractions`` maps split name → fraction in [0, 1], summing to ≤ 1
    (any remainder falls into the LAST split, so the canonical
    {train .9, val .05, test .05} covers exactly). Returns the
    per-(source, split) audit: n_docs, n_tokens, realized_fraction —
    one scan, aggregate at |sources|×|splits| grain; the assignment
    expression itself is ``split_assign_expr`` for use as a column in
    delivery jobs."""
    fractions = (
        fractions if fractions is not None else {"train": 0.90, "val": 0.05, "test": 0.05}
    )
    assign = split_assign_expr(fractions)
    n_tokens = F.size(F.split(_norm_text(F.col("text")), " "))
    decided = documents.select(
        "source", assign.alias("split"), n_tokens.alias("n_tokens")
    )
    from pyspark.sql import Window as W

    w_src = W.partitionBy("source")
    return (
        decided.groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
        .withColumn(
            "realized_fraction",
            F.round(F.col("n_docs") / F.sum("n_docs").over(w_src), 6),
        )
        .orderBy("source", "split")
    )


def split_assign_expr(fractions: dict[str, float], key_col: str = "doc_id"):
    """Column assigning each ``key_col`` a split name by md5-interval:
    the first 8 hex chars of md5(key || ':split') are uniform over the
    32-bit hex grid; cumulative-fraction boundaries partition it via
    LEXICOGRAPHIC lowercase-hex compare (== numeric compare — the same
    portable trick as ``mixture_threshold_hex``, so the oracle is the
    identical CASE chain). Order of ``fractions`` is the assignment
    order; remainder mass goes to the last split. ``key_col`` defaults
    to the document id; leakage_safe_split keys on the dup-cluster
    representative instead."""
    h = F.substring(F.md5(F.concat_ws(":", F.col(key_col), F.lit("split"))), 1, 8)
    names = list(fractions)
    expr = None
    cum = 0.0
    for name in names[:-1]:
        cum += fractions[name]
        bound = format(min(int(cum * (1 << 32)), (1 << 32) - 1), "08x")
        cond = h < F.lit(bound)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    return last if expr is None else expr.otherwise(last)


def write_corpus_shards(
    documents: DataFrame,
    path: str,
    target_tokens: int = 512,
    n_shards: int = 8,
    compression: str = "zstd",
) -> DataFrame:
    """Materialize a prepared corpus as shard-partitioned parquet — the
    DELIVERY step after the mixture build: each document lands in its
    packing shard's directory with its bin assignment, so a trainer
    streams ``shard_id=K/`` sequentially and reconstructs context
    windows from (bin_id, doc_id) order without any further shuffle.

    Returns the MANIFEST the delivery owes its consumer — one row per
    shard read BACK from the written files (not from the pre-write
    plan, so the manifest certifies what is actually on disk):
    (shard_id, n_docs, n_bins, total_tokens, doc_checksum). The
    checksum is bit_xor(xxhash64(doc_id)) — order-independent and
    aggregate-friendly, so two deliveries of the same corpus compare
    equal without sorting anything.

    Scale notes: partitionBy("shard_id") writes one directory per
    shard; within a task rows append in (bin_id, doc_id) order via a
    partition-local sortWithinPartitions + repartition(shard) — no
    global sort. Parquet + zstd is the trainer-facing format choice
    (splittable, column-prunable: a token-counting re-audit reads two
    columns, never the text)."""
    binned = assign_pack_bins(documents, target_tokens, n_shards)
    rows = (
        documents.join(binned, "doc_id")
        .repartition(n_shards, F.col("shard_id"))
        .sortWithinPartitions("shard_id", "bin_id", "doc_id")
    )
    (
        rows.write.mode("overwrite")
        .option("compression", compression)
        .partitionBy("shard_id")
        .parquet(path)
    )
    written = documents.sparkSession.read.parquet(path)
    return (
        written.groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("bin_id").alias("n_bins"),
            F.sum("n_tokens").alias("total_tokens"),
            F.expr("bit_xor(xxhash64(doc_id))").alias("doc_checksum"),
        )
        .orderBy("shard_id")
    )


def decontaminate_corpus(
    documents: DataFrame,
    benchmark_ids: tuple = (0, 1, 2, 3, 4),
    n: int = 8,
) -> DataFrame:
    """The decontamination PASS (the consumer of
    ``text.benchmark_contamination``'s per-doc flags): drop benchmark
    members and every document sharing an n-gram with them, and emit
    the per-source audit a pipeline owes its caller — (source, n_docs,
    n_benchmark, n_contaminated, n_kept, tokens_kept). This is the
    GPT-3-style eval-suite scrub (n=13 there, n=8 here for the short
    synthetic docs) run before mixture building.

    Plan: the flags frame is doc-grain (one corpus scan + a broadcast
    benchmark-gram semi-join inside benchmark_contamination); the audit
    joins it back on doc_id and aggregates at source grain — no new
    shuffle key hotter than source."""
    from datalake_local_spark.llm.text import benchmark_contamination

    flags = benchmark_contamination(documents, benchmark_ids, n)
    base = documents.select(
        "doc_id",
        "source",
        F.size(F.split(_norm_text(F.col("text")), " ")).alias("n_tokens"),
    )
    joined = base.join(flags, "doc_id")
    kept = (~F.col("is_benchmark")) & (~F.col("is_contaminated"))
    return joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("is_benchmark").cast("long")).alias("n_benchmark"),
        F.sum(
            (F.col("is_contaminated") & ~F.col("is_benchmark")).cast("long")
        ).alias("n_contaminated"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(F.lit(0))).alias(
            "tokens_kept"
        ),
    )


def global_shuffle_order(
    documents: DataFrame, salt: str = "shuffle-v1", prefix_len: int = 2
) -> DataFrame:
    """Deterministic global training order: every document gets a dense
    1-based ``shuffle_rank`` in md5-hash order — the corpus-wide shuffle
    a data loader needs before sequential epoch reads (hash order is
    content-independent and reproducible; a new epoch permutation is a
    new ``salt``, never an RNG state to checkpoint).

    A naive ``row_number() OVER (ORDER BY key)`` is an unpartitioned
    window — the whole corpus through ONE task (the exact shape the
    ``top_supplier`` rewrite removed). Instead the rank is two-level,
    the distributed-ranking standard: ``shard`` = first ``prefix_len``
    hex chars of the key (256 shards at 2; raise to 4 → 65 536 at
    100 TB), local row_number per shard (bounded window partitions, ~1/
    256th of the corpus each), plus broadcast cumulative shard offsets
    (the offset relation is 16^prefix_len rows — the only unpartitioned
    window runs over THAT, not the corpus). Because the shard is a
    PREFIX of the key, (shard, key) order ≡ global key order, so the
    two-level rank equals the oracle's single global row_number."""
    from pyspark.sql import Window as W

    key = F.md5(F.concat_ws(":", F.col("doc_id"), F.lit(salt)))
    d = documents.select(
        "doc_id",
        key.alias("shuffle_key"),
        F.substring(key, 1, prefix_len).alias("shard"),
    )
    w = W.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    local = d.withColumn("local_rank", F.row_number().over(w))
    ws = W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)
    offsets = (
        d.groupBy("shard")
        .agg(F.count("*").alias("c"))
        .withColumn("offset", F.coalesce(F.sum("c").over(ws), F.lit(0)))
        .select("shard", "offset")
    )
    return local.join(F.broadcast(offsets), "shard").select(
        "doc_id",
        "shuffle_key",
        "shard",
        (F.col("offset") + F.col("local_rank")).cast("long").alias("shuffle_rank"),
    )


def corpus_snapshot_diff(documents: DataFrame, split_doc_id: int = 450) -> DataFrame:
    """Snapshot changelog (the CDC question every corpus refresh must
    answer before reprocessing: what actually changed?): diff an OLD
    corpus state against a NEW one at doc grain with content
    fingerprints — ``added`` (id only in new), ``removed`` (id only in
    old), ``changed`` (id in both, fingerprint differs), ``unchanged``.
    Downstream consumers reprocess added+changed only — the O(delta)
    refresh instead of O(corpus).

    The testdata is one static snapshot, so the two states are derived
    deterministically (the dedup_incremental fixture discipline): OLD =
    doc_id < ``split_doc_id`` as-is; NEW = every doc_id ≥ 20 (the first
    20 simulate deletions), with docs where ``doc_id % 37 == 0``
    carrying an appended token (simulated edits). Identical arithmetic
    in the ANSI oracle.

    Scale shape: each side reduces to (doc_id, md5) projections —
    16-byte content identity, never text — and the diff is ONE full
    outer join on doc_id with a fingerprint comparison; per-status
    counts are a follow-up aggregate the caller composes. No window,
    no skew surface (doc_id is unique on both sides)."""
    fp = F.md5(_norm_text(F.col("text")))
    old = documents.filter(F.col("doc_id") < split_doc_id).select(
        "doc_id", fp.alias("old_fp")
    )
    mutated = F.when(
        F.col("doc_id") % 37 == 0, F.concat(F.col("text"), F.lit(" edited"))
    ).otherwise(F.col("text"))
    new = (
        documents.filter(F.col("doc_id") >= 20)
        .withColumn("text", mutated)
        .select("doc_id", fp.alias("new_fp"))
    )
    return (
        old.join(new, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.when(F.col("old_fp").isNull(), "added")
            .when(F.col("new_fp").isNull(), "removed")
            .when(F.col("old_fp") != F.col("new_fp"), "changed")
            .otherwise("unchanged")
            .alias("status"),
            "old_fp",
            "new_fp",
        )
    )


def shard_manifest(documents: DataFrame, n_shards: int = 8) -> DataFrame:
    """The writer-side reproducibility ledger every sharded corpus
    export should publish: per shard — row count, char mass, an
    ORDER-INDEPENDENT content fingerprint (bit_xor of per-doc hashes:
    commutative, so shard-internal write order never changes it), and
    the min/max doc ids for range audits. Re-run the manifest after any
    migration and diff it: equal fingerprints prove the shard contents
    moved intact without comparing bytes (the WAP-audit checksum
    discipline applied at shard grain).

    Shard assignment is the deterministic md5 bucket used everywhere
    (never hash(doc_id) % n — Python/JVM hash is not a contract). One
    scan, shard-grain combine; the xor aggregate shuffles 8 bytes per
    doc like any sum. md5-based doc hash keeps the oracle
    engine-portable (xxhash64 has no DuckDB twin)."""
    # coalesce BEFORE concat: concat_ws silently skips NULLs while the
    # oracle's || propagates them — coalesce('' ) pins both to one value
    doc_hash = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("doc_id").cast("string"),
                    F.coalesce(F.col("text"), F.lit("")),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    shard = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long") % n_shards
    return (
        documents.select(
            shard.alias("shard"),
            doc_hash.alias("h"),
            "doc_id",
            "n_chars",
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.bit_xor("h").alias("content_fingerprint"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("shard")
    )


def token_budget_allocation(documents: DataFrame, budget: int = 1_000_000) -> DataFrame:
    """Integer token-budget apportionment across sources by the
    largest-remainder (Hamilton) method — the allocator a mixture
    build runs to turn fractional mixture weights into WHOLE token
    counts that sum EXACTLY to the budget (floor quotas alone
    under-shoot; naive rounding over- or under-shoots; Hamilton is the
    standard fix and, unlike divisor methods, needs one pass).

    Everything is exact integer arithmetic: quota = (budget·nᵢ) div N,
    remainder = (budget·nᵢ) mod N, and the ⌈·⌉ top-ups go to the
    largest remainders (ties broken by source name ASC) until the
    leftover L = budget − Σ quotaᵢ is spent. Σ alloc_tokens == budget
    structurally, at every SF, on both engines.

    Scale: one map-side-combined source-grain aggregate over the
    corpus; the apportionment itself is windows over the SOURCE
    dimension (bounded vocabulary, never data-sized).

    Overflow envelope: budget·nᵢ must fit BIGINT — at a 10¹² corpus
    with a 10⁹ budget keep the product in DECIMAL(38,0)."""
    from pyspark.sql import Window as W

    norm = _norm_text(F.col("text"))
    counts = (
        documents.select("source", F.size(F.split(norm, " ")).alias("n"))
        .groupBy("source")
        .agg(F.sum("n").cast("long").alias("n_tokens"))
    )
    tot = counts.agg(F.sum("n_tokens").alias("total"))
    quota = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.expr(f"(10000 * n_tokens) div total").cast("long").alias("share_bps"),
        F.expr(f"(cast({budget} as bigint) * n_tokens) div total").alias("base"),
        F.expr(f"(cast({budget} as bigint) * n_tokens) % total").alias("rem"),
    )
    w_rank = W.orderBy(F.col("rem").desc(), F.col("source"))
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        quota.select(
            "source",
            "n_tokens",
            "share_bps",
            "base",
            F.row_number().over(w_rank).alias("rk"),
            (F.lit(budget) - F.sum("base").over(w_all)).alias("leftover"),
        )
        .select(
            "source",
            "n_tokens",
            "share_bps",
            (F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0))
            .cast("long")
            .alias("alloc_tokens"),
        )
        .orderBy("source")
    )


def weighted_reservoir_sample(documents: DataFrame, k: int = 100) -> DataFrame:
    """Weighted sampling WITHOUT replacement via exponential keys —
    Efraimidis & Spirakis 2006 ("Weighted random sampling with a
    reservoir"): each doc gets key = ln(u)/w (u uniform, w = its token
    count); the k LARGEST keys are a weighted-WOR sample. This is THE
    distributed algorithm for "sample 100 docs proportional to
    length": key assignment is embarrassingly parallel and selection
    is one global top-k — no sequential reservoir, no rejection loop,
    no RNG service.

    Deterministic twin of the textbook algorithm: u is derived from
    the first 32 md5 bits of (doc_id, source) as (h + 0.5)/2³²
    (strictly inside (0,1), so ln never sees 0), making the sample
    reproducible run-to-run and engine-to-engine. Selection order is
    (key DESC, doc_id) — a total order, so the boundary is unique.

    100 TB shape: one scan computes (hash, token count, key) inside
    codegen; the global top-k is Spark's TakeOrderedAndProject
    (per-partition heaps + one k-row merge at the driver), never a
    full sort. Weight = whitespace token count (swap in quality scores
    or importance weights unchanged)."""
    norm = _norm_text(F.col("text"))
    keyed = documents.select(
        "doc_id",
        "source",
        F.size(F.split(norm, " ")).cast("long").alias("n_tokens"),
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.col("doc_id"), F.col("source"))), 1, 8),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    ).select(
        "doc_id",
        "source",
        "n_tokens",
        # + 0.0: es_key is strictly negative, and a huge-weight doc can
        # round to -0.0 at 12dp — DuckDB keeps the sign bit, Spark's
        # BigDecimal drops it (the dq_ab_ttest hash-divergence class)
        (
            F.round(
                F.log((F.col("h") + 0.5) / F.lit(4294967296.0)) / F.col("n_tokens"),
                12,
            )
            + F.lit(0.0)
        ).alias("es_key"),
    )
    return keyed.orderBy(F.col("es_key").desc(), "doc_id").limit(k)


def dedup_funnel_report(documents: DataFrame, max_doc_id: int = 100) -> DataFrame:
    """Stage-by-stage dedup impact funnel: the before/after table a
    pipeline owner reads to see WHERE the corpus shrinks — stage 1
    EXACT (md5 of normalized text, keep min doc_id per digest), stage
    2 NEAR-DUP (exact token-Jaccard ≥ 0.8 components over the exact
    survivors, keep one per component) — each row: docs in, docs out,
    removed, removal share in exact bps. The composition story: the
    funnel chains the certified primitives (exact groups, the pair
    join, the component engine) into the one table that justifies each
    stage's cost.

    Bounded to the harness doc slice like every exact-Jaccard
    verifier; at scale stage 2's pair feed is the banded LSH index and
    the funnel shape is unchanged. All-integer output."""
    from datalake_local_spark.llm import dedup as dd

    docs = documents.filter(F.col("doc_id") < max_doc_id)
    n_in = docs.count()
    # stage 1 IS the certified exact_dedup operator (md5-fingerprint
    # groups, min doc_id kept) — not a re-implementation of it
    exact_groups = dd.exact_dedup(docs)
    n_exact = exact_groups.count()
    surv_docs = documents.join(
        exact_groups.select(F.col("keep_doc_id").alias("doc_id")),
        "doc_id",
        "left_semi",
    )
    pairs = dd.ngram_token_jaccard_pairs(surv_docs, max_doc_id, 0.8).select(
        "doc_a", "doc_b"
    )
    comps = dd.duplicate_components(surv_docs.select("doc_id"), pairs=pairs)
    n_near = comps.select("component_id").distinct().count()
    spark = documents.sparkSession
    rows = [
        ("1_exact", n_in, n_exact),
        ("2_neardup", n_exact, n_near),
    ]
    return spark.createDataFrame(
        [
            (s, i, o, i - o, (10000 * (i - o)) // i if i else 0)
            for s, i, o in rows
        ],
        "stage string, docs_in long, docs_out long, removed long, removed_bps long",
    )


def leakage_safe_split(
    documents: DataFrame,
    max_doc_id: int = 100,
    fractions: dict[str, float] | None = None,
) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split key is the
    NEAR-DUP CLUSTER's canonical representative, not the document —
    so a near-duplicate of a training document can never land in the
    test set (the contamination rule plain per-doc hashing violates;
    cf. the dedup-before-split discipline in every LLM data paper).

    Composes the certified primitives: duplicate_components for the
    cluster ids, ``split_assign_expr(key_col='component_id')`` for the
    deterministic md5-interval assignment. The audit output carries a
    structural-zero ``cluster_split_violations`` column (clusters
    whose members straddle splits — 0 by construction since the key
    IS the cluster) so the certification proves the property, not
    just the counts. Bounded to the harness doc slice like every
    exact-Jaccard consumer; at scale the pair feed is the banded
    index."""
    from datalake_local_spark.llm import dedup as dd

    fractions = (
        fractions
        if fractions is not None
        else {"train": 0.90, "val": 0.05, "test": 0.05}
    )
    comps = dd.duplicate_components(documents, max_doc_id=max_doc_id).select(
        "doc_id", "component_id"
    )
    assigned = comps.select(
        "doc_id",
        "component_id",
        split_assign_expr(fractions, key_col="component_id").alias("split"),
    )
    violations = (
        assigned.groupBy("component_id")
        .agg(F.count_distinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .agg(F.count("*").cast("long").alias("cluster_split_violations"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count_distinct("component_id").cast("long").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(violations))
        .orderBy("split")
    )


def temperature_mixture_allocation(
    documents: DataFrame, budget: int = 1_000_000
) -> DataFrame:
    """Temperature-scaled mixture sampling table: for each sampling
    temperature τ the per-source token allocation under weights
    wᵢ ∝ nᵢ^τ — the standard rebalancing dial for heterogeneous corpora
    (multilingual sampling, Conneau & Lample 2019 XLM §3.1; Arivazhagan
    et al. 2019 M4; T5's examples-proportional mixing, Raffel et al.
    2020 — all public): τ = 1 keeps natural proportions, lower τ
    up-samples the tail sources. Applies the same Hamilton
    largest-remainder METHOD as ``token_budget_allocation`` (quota,
    integer remainder ranking, top-ups), independently per temperature
    row — re-stated inline rather than shared because the weights here
    are quantized micro-units, not raw token counts.

    Cross-engine determinism is the design constraint for the
    fractional powers: τ is restricted to {0.25, 0.5, 1.0} so every
    weight is a SQRT CHAIN over an exact integer count — IEEE-754
    requires sqrt to be correctly rounded (unlike pow/exp, where JVM
    and C libm may differ in the last ulp), so the doubles are
    bit-identical on both engines; weights are then floor-quantized to
    integer micro-units and the whole apportionment (quota, remainder,
    ranking, top-ups) is exact integer arithmetic. Σ alloc == budget
    per τ structurally.

    Scale: one source-grain aggregate over the corpus; a |τ|×|sources|
    bounded grid; windows partitioned BY τ over the source dimension
    only."""
    from pyspark.sql import Window as W

    norm = _norm_text(F.col("text"))
    counts = (
        documents.select("source", F.size(F.split(norm, " ")).alias("n"))
        .groupBy("source")
        .agg(F.sum("n").cast("long").alias("n_tokens"))
    )
    taus = documents.sparkSession.createDataFrame(
        [("tau_0.25",), ("tau_0.50",), ("tau_1.00",)], "tau string"
    )
    n_d = F.col("n_tokens").cast("double")
    w_raw = (
        F.when(F.col("tau") == "tau_0.25", F.sqrt(F.sqrt(n_d)))
        .when(F.col("tau") == "tau_0.50", F.sqrt(n_d))
        .otherwise(n_d)
    )
    weighted = counts.crossJoin(F.broadcast(taus)).select(
        "tau",
        "source",
        "n_tokens",
        F.floor(w_raw * F.lit(1e6)).cast("decimal(38,0)").alias("wq"),
    )
    w_tau = W.partitionBy("tau")
    quota = weighted.select(
        "tau",
        "source",
        "n_tokens",
        F.col("wq").cast("long").alias("weight_e6"),
        F.sum("wq").over(w_tau).alias("denom"),
    ).select(
        "tau",
        "source",
        "n_tokens",
        "weight_e6",
        F.expr(f"(cast({budget} as decimal(38,0)) * weight_e6) div denom")
        .cast("long")
        .alias("base"),
        F.expr(f"(cast({budget} as decimal(38,0)) * weight_e6) % denom")
        .cast("decimal(38,0)")
        .alias("rem"),
    )
    w_rank = W.partitionBy("tau").orderBy(F.col("rem").desc(), F.col("source"))
    return (
        quota.select(
            "tau",
            "source",
            "n_tokens",
            "weight_e6",
            "base",
            F.row_number().over(w_rank).alias("rk"),
            (F.lit(budget) - F.sum("base").over(w_tau)).alias("leftover"),
        )
        .select(
            "tau",
            "source",
            "n_tokens",
            "weight_e6",
            (F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0))
            .cast("long")
            .alias("alloc_tokens"),
        )
        .orderBy("tau", "source")
    )


def dataset_card(documents: DataFrame) -> DataFrame:
    """Dataset-card manifest — the one-page summary a published
    training corpus ships with (Gebru et al., "Datasheets for
    Datasets", 2018 — public): corpus size, source/language breadth,
    token volume and distribution, exact-duplicate load, and short-doc
    share, as a tall (metric, value) table ready for a release note
    or a drift diff against the previous snapshot.

    Exact: counts are integers; token percentiles interpolate integers
    identically via F.percentile ≡ quantile_cont (rounded 6dp); shares
    are integer basis points cast to double for the uniform value
    column. Scale shape: ONE doc-grain pass computes per-doc tokens +
    the md5 fingerprint, localCheckpoint-materialized (doc-grain,
    bounded columns), then a scalar aggregate and a fingerprint-grain
    aggregate read the materialization — the corpus is scanned once."""
    from .text import _norm_text

    per_doc = documents.select(
        "doc_id",
        "source",
        "lang",
        F.size(F.split(_norm_text(F.col("text")), " ")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.md5(_norm_text(F.col("text"))).alias("fp"),
    ).localCheckpoint()  # doc-grain; two aggregate consumers
    dup = per_doc.groupBy("fp").agg(F.count("*").alias("k"))
    dup_row = dup.agg(
        F.coalesce(F.sum(F.when(F.col("k") > 1, F.col("k") - 1)), F.lit(0)).alias(
            "n_dup_docs"
        ),
        F.count("*").alias("n_unique_fp"),
    )
    scal = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_tokens").alias("n_tokens_total"),
        F.sum("n_chars").alias("n_chars_total"),
        F.round(F.percentile("n_tokens", F.lit(0.5)), 6).alias("median_tokens"),
        F.round(F.percentile("n_tokens", F.lit(0.95)), 6).alias("p95_tokens"),
        F.sum(F.when(F.col("n_tokens") < 50, 1).otherwise(0)).alias("n_short"),
    )
    wide = scal.crossJoin(F.broadcast(dup_row))
    return wide.select(
        F.expr(
            "stack(10, "
            "'n_docs', CAST(n_docs AS DOUBLE), "
            "'n_sources', CAST(n_sources AS DOUBLE), "
            "'n_langs', CAST(n_langs AS DOUBLE), "
            "'n_tokens_total', CAST(n_tokens_total AS DOUBLE), "
            "'n_chars_total', CAST(n_chars_total AS DOUBLE), "
            "'median_tokens', median_tokens, "
            "'p95_tokens', p95_tokens, "
            "'exact_dup_docs', CAST(n_dup_docs AS DOUBLE), "
            "'short_doc_bps', CAST((10000 * n_short) div n_docs AS DOUBLE), "
            "'unique_fingerprints', CAST(n_unique_fp AS DOUBLE)"
            ") AS (metric, value)"
        )
    ).orderBy("metric")


#: DSIR defaults, shared with the pipeline_dsir_weights oracle f-string
#: (the _WILSON_SQL/CROSTON_ALPHA interpolation pattern, r17 audit mech
#: B): the oracle interpolates THESE names, so a default change here
#: cannot silently desync the two sides (r17 ADVICE).
DSIR_N_BUCKETS = 1024
DSIR_TARGET_LANG = "en"
DSIR_TOP_K = 100


def dsir_importance_weights(
    documents: DataFrame,
    n_buckets: int = DSIR_N_BUCKETS,
    target_lang: str = DSIR_TARGET_LANG,
    top_k: int = DSIR_TOP_K,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", NeurIPS — public): rank
    raw-pool documents by how target-like their hashed-bigram profile
    is. Two bag-of-buckets multinomials — target p (the ``target_lang``
    slice) and raw q (the whole pool), add-one smoothed — give each
    document the log importance weight

        log w(doc) = Σ_i  log p[b_i] − log q[b_i]

    summed over the doc's bigram OCCURRENCES hashed into ``n_buckets``
    buckets. The published DSIR recipe then samples ∝ w; this operator
    publishes the weights plus the deterministic top-``top_k`` selection
    (rounded-weight DESC, doc_id tiebreak), which is the resampling's
    exact-ranking special case and keeps the query hash-certifiable.

    Determinism: buckets use the engine-portable md5 idiom
    (:func:`..text._md5_bucket` — identical arithmetic in DuckDB); all
    model counts are exact integers; each log-ratio is the same op
    shape on both engines; the per-doc sum publishes at 6dp (the
    bigram_logprob avg-absorption discipline); selection orders by the
    ROUNDED weight with doc_id tiebreak so both engines rank identical
    values.

    Scale shape: the bigram stream materializes once (localCheckpoint)
    and feeds the two bucket-grain count tables (map-side combined,
    ≤ n_buckets rows each) and the rescoring join (bucket-grain ratio
    table — broadcastable at ANY corpus size since it is bounded by
    n_buckets); totals are 1-row broadcasts. The top-k is a
    TakeOrderedAndProject + left-semi join, not a global sort; at
    100 TB swap the exact top-k for weighted-reservoir Gumbel sampling
    (``weighted_sample``) — the weight computation is unchanged."""
    from datalake_local_spark.llm.text import _md5_bucket
    from pyspark.sql import Window as W

    toks = documents.select(
        "doc_id",
        F.col("lang"),
        F.posexplode(F.split(_norm_text(F.col("text")), " ")).alias("pos", "w1"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    grams = (
        toks.select(
            "doc_id",
            "lang",
            F.col("w1"),
            F.lead("w1").over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .select(
            "doc_id",
            "lang",
            _md5_bucket(
                F.concat_ws(" ", F.col("w1"), F.col("w2")), n_buckets
            ).alias("bucket"),
        )
        .localCheckpoint()
    )
    raw_counts = grams.groupBy("bucket").agg(F.count("*").cast("long").alias("c_raw"))
    tgt_counts = (
        grams.filter(F.col("lang") == target_lang)
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("c_tgt"))
    )
    totals = grams.agg(
        F.count("*").cast("long").alias("raw_total"),
        F.sum((F.col("lang") == target_lang).cast("long")).cast("long").alias("tgt_total"),
    )
    ratio = (
        raw_counts.join(tgt_counts, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log10(
                    (F.coalesce(F.col("c_tgt"), F.lit(0)) + 1).cast("double")
                    / (F.col("tgt_total") + n_buckets).cast("double")
                )
                - F.log10(
                    (F.col("c_raw") + 1).cast("double")
                    / (F.col("raw_total") + n_buckets).cast("double")
                )
            ).alias("lr"),
        )
    )
    scored = (
        grams.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.sum("lr"), 6).alias("log10_weight"),
        )
    )
    weights = (
        documents.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(F.col("log10_weight"), F.lit(0.0)).alias("log10_weight"),
        )
        .localCheckpoint()  # two consumers: the top-k probe and the publish join
    )
    topk = weights.orderBy(
        F.col("log10_weight").desc(), F.col("doc_id")
    ).limit(top_k).select("doc_id")
    return weights.join(F.broadcast(topk.withColumn("selected", F.lit(True))), "doc_id", "left").select(
        "doc_id",
        "n_bigrams",
        "log10_weight",
        F.coalesce(F.col("selected"), F.lit(False)).alias("selected"),
    )
