"""Relevance scoring over ``documents`` — the retrieval half of a
training-data pipeline (quality-weighted sampling, dedup tie-breaking,
eval-set mining all rank documents against terms or queries):

* TF-IDF top terms per document;
* BM25 scores for a fixed query (Robertson/Sparck Jones k1-b form).

Both are pure Catalyst column expressions with exact ANSI-SQL oracles.
Shuffle profile at 100 TB follows the unigram lessons from llm/text.py:
token-grain aggregates are map-side combined; the document-frequency
table joins back WITHOUT a broadcast hint (a web corpus vocabulary is
10^8+ terms — AQE may still broadcast when it is actually small);
per-doc top-k windows partition by doc_id (never a global window).

Reference parity: the reference exposes no retrieval scoring — this is
part of the §2.9 beyond-inventory LLM-pipeline surface (SURVEY.md §2.9),
built on the same documents table as the text-analysis operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalake_local_spark.llm.text import _norm_text


def _term_freqs(documents: DataFrame) -> DataFrame:
    """(doc_id, token, tf): term frequency per doc from ONE
    tokenize+explode (doc+token grain, map-side combine)."""
    return (
        documents.select(
            "doc_id", F.explode(F.split(_norm_text(F.col("text")), " ")).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )


def tfidf_top_terms(documents: DataFrame, k: int = 5) -> DataFrame:
    """Top-k terms per document by TF-IDF.

    tf = term count / doc length; idf = log10(N / df). ONE scan of
    documents in the executed plan (r5 paid four): every consumer —
    the scoring branch, the per-doc length, the token-grain df table
    and the N scalar — derives from the SAME (doc, token, tf)
    aggregate, with the explicit isnotnull(doc_id) prefilter and
    tf-consuming aggregates keeping the subtrees canonical-identical so
    AQE ReuseExchange executes the tokenization once (the same
    discipline as ``bm25_scores``; asserted in
    test_tfidf_plan_single_scan). The df join back to the (doc, token)
    pairs carries NO broadcast hint (web-scale vocab — AQE decides);
    ranking windows partition by doc_id, so no single-partition window
    anywhere.

    Contract: documents with NULL text (or NULL doc_id) are excluded —
    they carry no terms, so they count toward neither the rankings nor
    the N/df/avgdl statistics (the explicit filter makes visible what
    split/explode would otherwise do silently; on a dirty corpus this
    keeps idf stable instead of depending on how many unparseable rows
    survived ingestion).
    """
    from datalake_local_spark.session import fan_out

    # pre-expansion fan-out: the token/element generator below
    # multiplies rows; a one-row-group input would otherwise run
    # the whole expansion single-task (see session.fan_out)
    documents = fan_out(documents, "doc_id")
    from pyspark.sql import Window as W

    tf = _term_freqs(
        documents.filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    )
    w_dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    toks = tf.join(w_dl, "doc_id")
    df_tbl = tf.groupBy("token").agg(
        F.sum(F.least(F.col("tf"), F.lit(1))).alias("df")
    )
    # dl-consuming count (sum of sign(dl>=1)): count(*) would let the
    # optimizer rewrite this branch to DISTINCT doc_id, prune tf, and
    # defeat the w_dl exchange reuse (dl >= 1 for every doc — split of
    # even an empty normalized text yields one token row)
    n_docs = w_dl.agg(F.sum(F.least(F.col("dl"), F.lit(1))).alias("n_docs"))
    scored = (
        toks.join(df_tbl, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.round(
                (F.col("tf") / F.col("dl")) * F.log10(F.col("n_docs") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "token", "tfidf")
    )


def bm25_scores(
    documents: DataFrame,
    query_terms: tuple = ("data", "learning", "model"),
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """Top-k documents for ``query_terms`` by BM25.

    idf = log10(1 + (N - df + 0.5)/(df + 0.5)); score = Σ_terms
    idf·tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl)). Exactly two scan
    branches in the executed plan (r5 paid three): (a) the FULL
    (doc, token, tf) aggregate — needed regardless, since ``dl`` is
    sum(tf) per doc and ``n_docs``/``avgdl`` re-aggregate that same
    doc-grain table, with AQE ReuseExchange executing it once for both
    consumers; (b) a query-term-filtered branch where the ``isin``
    pushes below the partial aggregate, so its shuffle carries only
    3·|matching docs| rows, and its exchange is likewise reused between
    the scoring join and the df table. Verified in
    test_bm25_plan_two_scans_with_reuse. df for the query terms is a
    tiny (≤ |terms|) table.
    """
    from datalake_local_spark.session import fan_out

    # pre-expansion fan-out: the token/element generator below
    # multiplies rows; a one-row-group input would otherwise run
    # the whole expansion single-task (see session.fan_out)
    documents = fan_out(documents, "doc_id")
    terms = [t.lower() for t in query_terms]
    # explicit up-front null filters: the dl join infers
    # isnotnull(doc_id) on ITS branches, which would otherwise make them
    # canonically different from the df/avgdl aggregate branches and
    # defeat exchange reuse (a null doc_id could never score anyway).
    # NULL-text docs are likewise excluded BY CONTRACT from N and avgdl
    # (same rationale as tfidf_top_terms: no terms → not a scorable
    # document; explicit here instead of implicit in split/explode)
    tf = _term_freqs(
        documents.filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    )
    w_dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    q_tf = tf.filter(F.col("token").isin(terms))
    toks = q_tf.join(w_dl, "doc_id")
    # df straight off the filtered tf (no dl join needed): q_tf and w_dl
    # each appear twice as IDENTICAL subtrees, so AQE's ReuseExchange
    # executes each once — two documents scans at runtime (one filtered
    # partial-agg branch, one full token aggregate), down from three.
    # the tf-consuming aggregate keeps the subtree's output columns
    # identical to the scoring branch; count(*) would let column pruning
    # drop tf and plan a distinct-style aggregate that defeats the
    # exchange reuse (df itself is unaffected: tf ≥ 1 per (doc, token)
    # row, so summing the sign counts exactly the docs containing token)
    df_tbl = q_tf.groupBy("token").agg(
        F.sum(F.least(F.col("tf"), F.lit(1))).alias("df")
    )
    scalars = w_dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    idf = F.log10(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_term = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        toks.join(F.broadcast(df_tbl), "token")
        .crossJoin(F.broadcast(scalars))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(idf * tf_term), 6).alias("bm25"),
            F.count("*").alias("n_matched_terms"),
        )
    )
    return scored.orderBy(F.col("bm25").desc(), "doc_id").limit(k)


def rrf_rank_fusion(
    documents: DataFrame,
    query_terms: tuple = ("data", "learning", "model"),
    k: int = 20,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal Rank Fusion of two retrieval rankings (Cormack,
    Clarke & Buettcher 2009, SIGIR — public): fuse the BM25 top-k with
    a raw term-frequency top-k; RRF(d) = Σ_lists 1/(K + rank_d) with
    K = 60 — the standard zero-tuning hybrid-search combiner (the same
    shape production engines use to fuse lexical with vector hits).

    Determinism: the contribution is computed as EXACT integers,
    ``10⁹ div (K + rank)`` — no float reciprocal sums, so fusion
    scores and their ordering are bit-free of accumulation concerns;
    input ranks come from the two deterministic orderings (rounded
    bm25 desc / integer tf desc, doc_id tiebreak).

    Scale shape: both input rankings end in TakeOrderedAndProject
    (per-partition heap + driver merge, never a global sort); the
    fusion itself is a full-outer join of two ≤ k-row lists and a
    window over that bounded frame."""
    from pyspark.sql import Window as W

    from datalake_local_spark.session import fan_out

    from .text import _norm_text

    # fan out ONCE here so both ranker subtrees share a single
    # pre-expansion exchange — bm25_scores' internal fan_out sees an
    # already-parallel input and passes through (a fan_out per ranker
    # would insert two exchanges and defeat scan reuse between them)
    documents = fan_out(documents, "doc_id")
    terms = [t.lower() for t in query_terms]
    bm25 = bm25_scores(documents, tuple(terms), k=k).select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("bm25").desc(), "doc_id"))
        .alias("rank_bm25"),
    )
    tf_rank = (
        documents.filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .select(
            "doc_id",
            F.explode(F.split(_norm_text(F.col("text")), " ")).alias("token"),
        )
        .filter(F.col("token").isin(terms))
        .groupBy("doc_id")
        .agg(F.count("*").alias("tf_sum"))
        .orderBy(F.col("tf_sum").desc(), "doc_id")
        .limit(k)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col("tf_sum").desc(), "doc_id"))
            .alias("rank_tf"),
        )
    )
    fused = bm25.join(tf_rank, "doc_id", "full_outer").select(
        "doc_id",
        "rank_bm25",
        "rank_tf",
        (
            F.coalesce(
                F.expr(f"1000000000 div ({rrf_k} + rank_bm25)"), F.lit(0)
            )
            + F.coalesce(F.expr(f"1000000000 div ({rrf_k} + rank_tf)"), F.lit(0))
        ).cast("long").alias("rrf_e9"),
    )
    return fused.orderBy(F.col("rrf_e9").desc(), "doc_id").limit(k)
