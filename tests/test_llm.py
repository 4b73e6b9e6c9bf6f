"""Invariant tests for the LLM-pipeline operators: recall of the LSH paths
against their exact counterparts, fingerprint determinism, plumbing shapes."""

import os

from pyspark.sql import functions as F

from datalake_local_spark.llm import dedup, multimodal, similarity, text

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_exact_dedup_covers_all_docs(tables):
    out = dedup.exact_dedup(tables["documents"])
    assert out.agg(F.sum("n_copies")).collect()[0][0] == tables["documents"].count()


def _exact_shingle_jaccard_pairs(documents, max_doc_id=100):
    """Brute-force exact shingle-Jaccard over a bounded window (test
    oracle for the LSH path — all-pairs is fine on 100 docs)."""
    sh = documents.filter(F.col("doc_id") < max_doc_id).select(
        "doc_id", dedup._shingles(F.col("text")).alias("sh")
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect("a.sh", "b.sh"))
    union = F.size("a.sh") + F.size("b.sh") - inter
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(inter / union, 6).alias("jaccard"),
        )
    )


def test_minhash_lsh_candidates_precise_and_high_recall(tables):
    """LSH output must be exact-verified (every reported jaccard equals the
    brute-force shingle jaccard) and must catch every near-identical pair
    (j ≥ 0.9) in the probe window — deterministic seeds make both hard
    assertions on this dataset."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in _exact_shingle_jaccard_pairs(tables["documents"]).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_candidates(tables["documents"], jaccard_threshold=0.5)
        .filter((F.col("doc_a") < 100) & (F.col("doc_b") < 100))
        .collect()
    }
    for pair, j in lsh.items():
        assert exact[pair] == j and j >= 0.5  # precision: verified values
    near_identical = {p for p, j in exact.items() if j >= 0.9}
    assert near_identical <= set(lsh)  # recall at high similarity


def test_simhash_deterministic(tables):
    a = {(r["doc_id"], r["simhash"]) for r in dedup.simhash_fingerprints(tables["documents"].limit(50)).collect()}
    b = {(r["doc_id"], r["simhash"]) for r in dedup.simhash_fingerprints(tables["documents"].limit(50)).collect()}
    assert a == b


def test_lsh_topk_subset_of_bruteforce_universe(tables):
    """LSH results must be genuine cosine scores: every (query, corpus,
    cosine) LSH returns must appear with the same score in the exhaustive
    scoring (recall may be <1; precision of scores must be exact)."""
    brute = similarity.cosine_topk_bruteforce(tables["embeddings"], k=10**9)
    brute_scores = {
        (r["query_id"], r["corpus_id"]): r["cosine"] for r in brute.collect()
    }
    for r in similarity.cosine_topk_lsh(tables["embeddings"], k=5).collect():
        assert brute_scores[(r["query_id"], r["corpus_id"])] == r["cosine"]


def test_vectorized_cosine_equals_sql_fold(tables):
    a = sorted(tuple(r) for r in similarity.cosine_topk_bruteforce(tables["embeddings"]).collect())
    b = sorted(tuple(r) for r in similarity.cosine_topk_vectorized(tables["embeddings"]).collect())
    assert a == b


def test_multiprobe_recall_at_least_single_probe(tables):
    """Multi-probe must (a) return only exact scores and (b) recall at
    least as many true top-5 neighbors as single-probe, per query."""
    brute = similarity.cosine_topk_bruteforce(tables["embeddings"], k=5)
    truth: dict = {}
    for r in brute.collect():
        truth.setdefault(r["query_id"], set()).add(r["corpus_id"])

    def recall(df):
        got: dict = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["corpus_id"])
        return {q: len(truth[q] & got.get(q, set())) for q in truth}

    single = recall(similarity.cosine_topk_lsh(tables["embeddings"], k=5))
    multi = recall(similarity.cosine_topk_lsh_multiprobe(tables["embeddings"], k=5))
    for q in truth:
        assert multi[q] >= single[q]


def test_centroid_output_shape(tables):
    rows = similarity.embedding_centroids_by_label(tables["embeddings"]).collect()
    assert all(r["dim"] == 64 for r in rows)
    assert sum(r["n_vectors"] for r in rows) == tables["embeddings"].count()


def test_quality_ratios_bounded(tables):
    rows = text.quality_scores(tables["documents"]).collect()
    for r in rows:
        assert 0.0 <= r["stopword_ratio"] <= 1.0
        assert 0.0 <= r["alpha_ratio"] <= 1.0


def test_fingerprint_is_content_hash(tables, spark):
    out1 = {r["doc_id"]: r["fingerprint"] for r in text.fingerprints(tables["documents"]).collect()}
    # same text → same fingerprint regardless of doc identity
    dup = spark.createDataFrame(
        [(999999, "Hello  World "), (999998, "hello world")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fingerprint"] for r in text.fingerprints(dup).collect()}
    assert fps[999999] == fps[999998]
    assert len(out1) == tables["documents"].count()


def test_multimodal_decode_matches_payload_len(tables):
    decoded = multimodal.decode_image_metadata(tables["documents"].limit(20)).collect()
    texts = {r["doc_id"]: r["text"] for r in tables["documents"].limit(20).collect()}
    for r in decoded:
        blen = len(texts[r["doc_id"]].encode("utf-8"))
        assert r["byte_len"] == blen
        assert r["width"] == blen % 640 + 16
        assert r["channels"] in (1, 2, 3)


def _png_bytes(w, h, color_type=2):
    import struct

    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", w, h)
        + bytes([8, color_type, 0, 0, 0])
        + b"\x00" * 4  # CRC (unchecked by the header parser)
    )


def _jpeg_bytes(w, h, ncomp=3):
    import struct

    return (
        b"\xff\xd8"  # SOI
        + b"\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00"  # APP0, skipped
        + b"\xff\xc0" + struct.pack(">H", 17) + bytes([8])  # SOF0
        + struct.pack(">HH", h, w)
        + bytes([ncomp])
    )


def test_real_image_header_decode(spark):
    """decode_image_real parses actual PNG/GIF/JPEG/BMP container headers
    (stdlib struct, no codec) to correct width/height/format/channels."""
    import struct

    payloads = [
        (1, _png_bytes(1, 1, color_type=2)),  # 1x1 RGB PNG
        (2, _png_bytes(640, 480, color_type=6)),  # RGBA PNG
        (3, b"GIF89a" + struct.pack("<HH", 3, 2) + b"\x00" * 4),
        (4, _jpeg_bytes(320, 240)),
        (5, b"BM" + bytes(16) + struct.pack("<ii", 7, -5)),
        (6, b"not an image at all"),
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    rows = {r["doc_id"]: r for r in multimodal.decode_image_real(df).collect()}
    assert (rows[1]["format"], rows[1]["width"], rows[1]["height"], rows[1]["channels"]) == ("png", 1, 1, 3)
    assert (rows[2]["format"], rows[2]["width"], rows[2]["height"], rows[2]["channels"]) == ("png", 640, 480, 4)
    assert (rows[3]["format"], rows[3]["width"], rows[3]["height"]) == ("gif", 3, 2)
    assert (rows[4]["format"], rows[4]["width"], rows[4]["height"], rows[4]["channels"]) == ("jpeg", 320, 240, 3)
    assert (rows[5]["format"], rows[5]["width"], rows[5]["height"]) == ("bmp", 7, 5)
    assert rows[6]["format"] == "unknown" and rows[6]["width"] is None


def test_simhash_banding_full_recall_within_guarantee(tables):
    """The 8-band default guarantees candidate generation for every pair
    with hamming <= 7 — verify against brute-force popcount over all
    fingerprint pairs (bounded window)."""
    docs = tables["documents"].filter(F.col("doc_id") < 200)
    fps = {r["doc_id"]: r["simhash"] for r in dedup.simhash_fingerprints(docs).collect()}
    found = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_near_dup_pairs(docs, max_hamming=7).collect()
    }
    ids = sorted(fps)
    expected = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1") <= 7
    }
    assert expected == found


def test_embedding_near_dup_matches_numpy_bruteforce(tables):
    import numpy as np

    rows = tables["embeddings"].select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    nrm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = nrm @ nrm.T
    expected = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if round(sims[i, j], 6) >= 0.4:
                lo, hi = sorted((int(ids[i]), int(ids[j])))
                expected.add((lo, hi))
    got = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.embedding_near_dup_pairs(tables["embeddings"], threshold=0.4).collect()
    }
    assert got == expected


def test_embedding_near_dup_blocked_equals_theta_reference(tables):
    """The blocked-GEMM kernel must emit the identical (pair, cosine) set
    as the O(n²)-row theta-join reference it replaced."""
    blocked = sorted(
        tuple(r)
        for r in similarity.embedding_near_dup_pairs(tables["embeddings"], n_blocks=5).collect()
    )
    theta = sorted(
        tuple(r) for r in similarity._embedding_near_dup_pairs_theta(tables["embeddings"]).collect()
    )
    assert blocked == theta and len(blocked) > 0


def test_embedding_near_dup_plan_has_no_quadratic_join(tables):
    """Scale shape: the registered query's plan must carry rows to a
    grouped-pandas GEMM via equi-joins on block ids — never a cartesian /
    nested-loop pair blowup."""
    df = similarity.embedding_near_dup_pairs(tables["embeddings"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_topk_deterministic_and_recalls_bruteforce(tables):
    """IVF is approximate but seeded: two runs agree exactly, results come
    from the brute-force universe, and recall at nprobe=4/16 stays useful."""
    a = similarity.cosine_topk_ivf(tables["embeddings"]).collect()
    b = similarity.cosine_topk_ivf(tables["embeddings"]).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 15 and all(r["rank"] <= 5 for r in a)
    bf = {
        (r["query_id"], r["corpus_id"])
        for r in similarity.cosine_topk_bruteforce(tables["embeddings"]).collect()
    }
    ivf = {(r["query_id"], r["corpus_id"]) for r in a}
    # weakly-clustered synthetic vectors: scanning nprobe/n_centroids = 25%
    # of the corpus keeps only a fraction of the exact neighbors (0.8 on
    # the sf0.01 vectors, ~0.33 here) — assert the floor, not the mean
    assert len(bf & ivf) / len(bf) >= 0.3

    full = similarity.cosine_topk_ivf(tables["embeddings"], n_centroids=4, nprobe=4)
    assert {(r["query_id"], r["corpus_id"]) for r in full.collect()} == bf  # probe-all == exact


def test_duplicate_components_invariants(tables):
    """Every near-dup pair's endpoints share a component; each component
    id is the minimum of its members (canonical representative)."""
    from collections import defaultdict

    comp = {
        r["doc_id"]: r["component_id"]
        for r in dedup.duplicate_components(tables["documents"]).collect()
    }
    pairs = dedup.ngram_token_jaccard_pairs(tables["documents"], 100, 0.8).collect()
    assert pairs, "testdata should contain near-dup pairs below doc_id 100"
    for r in pairs:
        assert comp[r["doc_a"]] == comp[r["doc_b"]]
    members = defaultdict(set)
    for d, c in comp.items():
        members[c].add(d)
    for c, ms in members.items():
        assert c == min(ms)


def test_components_star_equivalent_to_union_find(tables, monkeypatch):
    """The distributed large-star/small-star loop (forced by patching the
    driver limit to 0) must produce byte-identical component assignments
    to the driver union-find on the same pair graph."""
    s_driver: dict = {}
    s_star: dict = {}
    driver = sorted(
        tuple(r)
        for r in dedup.duplicate_components(tables["documents"], stats=s_driver).collect()
    )
    monkeypatch.setattr(dedup, "_DRIVER_GRAPH_EDGES", 0)
    star = sorted(
        tuple(r)
        for r in dedup.duplicate_components(tables["documents"], stats=s_star).collect()
    )
    assert s_driver["rounds"] == 0 and s_star["rounds"] >= 1
    assert driver == star


def test_components_star_fewer_rounds_on_chain(spark, monkeypatch):
    """On a long-diameter chain graph the star loop must reach fixpoint
    in O(log d) rounds — within log2(n_edges) + 2, the bound bench.py's
    chain probe asserts — where min-label propagation needs O(d)."""
    import math

    monkeypatch.setattr(dedup, "_DRIVER_GRAPH_EDGES", 0)
    n = 12
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(n)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    s_star: dict = {}
    out_star = dedup.duplicate_components(
        docs, pairs=pairs, max_iterations=50, stats=s_star
    ).collect()
    assert all(r["component_id"] == 0 for r in out_star)
    assert s_star["n_edges"] == 2 * (n - 1)
    assert 1 <= s_star["rounds"] <= math.log2(s_star["n_edges"]) + 2


def test_components_over_lsh_candidate_feed(tables, monkeypatch):
    """The scale path: components driven by MinHash-LSH candidate pairs
    (no all-pairs join anywhere) over the FULL document set, on the
    distributed loop with the partition count derived from the edge
    count (both module constants patched small to force the loop and a
    multi-task fan-out)."""
    import math

    monkeypatch.setattr(dedup, "_DRIVER_GRAPH_EDGES", 0)
    monkeypatch.setattr(dedup, "_COMPONENT_ROWS_PER_PARTITION", 8)
    docs = tables["documents"]
    cand = dedup.minhash_lsh_candidates(docs, jaccard_threshold=0.5)
    stats: dict = {}
    comp = {
        r["doc_id"]: r["component_id"]
        for r in dedup.duplicate_components(docs, pairs=cand, stats=stats).collect()
    }
    assert stats["rounds"] >= 1
    assert stats["num_partitions"] == math.ceil(stats["n_edges"] / 8) > 1
    assert len(comp) == docs.count()  # injected pairs → node universe is ALL docs
    pair_rows = cand.collect()
    assert pair_rows, "LSH should find near-dup candidates in testdata"
    for r in pair_rows:
        assert comp[r["doc_a"]] == comp[r["doc_b"]]


def test_plan_cache_bounded(spark):
    """Distinct plan fingerprints over the same source files must not
    accumulate persisted frames beyond _PLAN_CACHE_MAX (FIFO eviction)."""
    saved = dict(dedup._plan_cache)
    dedup._plan_cache.clear()
    try:
        src = ("file:///same/source.parquet",)
        for i in range(dedup._PLAN_CACHE_MAX + 3):
            dedup._cached(("test_kind", ("fp", i), src), lambda: spark.range(1))
        assert len(dedup._plan_cache) <= dedup._PLAN_CACHE_MAX
    finally:
        for df in dedup._plan_cache.values():
            try:
                df.unpersist()
            except Exception:
                pass
        dedup._plan_cache.clear()
        dedup._plan_cache.update(saved)


def test_chunking_reassembles_and_is_content_defined(tables, spark):
    """Chunks must reassemble byte-exactly to the document; a prefix
    insertion must leave later chunk hashes mostly intact (the
    content-defined property fixed-size chunking lacks)."""
    docs = tables["documents"].filter(F.col("doc_id") < 20)
    chunks = text.chunk_documents_rolling_hash(docs).collect()
    originals = {r["doc_id"]: r["text"] for r in docs.collect()}
    by_doc: dict = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk_text"], r["chunk_hash"]))
    for doc_id, parts in by_doc.items():
        parts.sort()
        assert "".join(p[1] for p in parts) == originals[doc_id]

    base_text = originals[max(by_doc, key=lambda d: len(originals[d]))]
    edited = spark.createDataFrame(
        [(1, base_text), (2, "PREFIX INSERTED " + base_text)], "doc_id long, text string"
    )
    out = text.chunk_documents_rolling_hash(edited).collect()
    h1 = {r["chunk_hash"] for r in out if r["doc_id"] == 1}
    h2 = {r["chunk_hash"] for r in out if r["doc_id"] == 2}
    # the edit may invalidate the first chunk(s) but most survive
    assert len(h1 & h2) / len(h1) >= 0.5


def test_vectorized_topk_rounding_tie_prefers_smaller_corpus_id(spark):
    """Regression: two corpus vectors whose cosines ROUND equal at 6dp
    (but differ in raw float) must rank by corpus_id — per-batch pruning
    on the unrounded score used to discard the rightful winner."""
    import math

    def on_angle(cos_val):
        return [float(cos_val), float(math.sqrt(1 - cos_val * cos_val))]

    rows = [
        (0, [1.0, 0.0]),            # query
        (10, on_angle(0.5000004)),  # unrounded higher, larger id
        (5, on_angle(0.4999996)),   # rounds to the same 0.5, smaller id
        (20, on_angle(0.1)),        # filler
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bf = similarity.cosine_topk_bruteforce(df, query_ids=(0,), k=1).collect()
    vec = similarity.cosine_topk_vectorized(df, query_ids=(0,), k=1).collect()
    assert [(r["corpus_id"], r["cosine"]) for r in bf] == [(5, 0.5)]
    assert [(r["corpus_id"], r["cosine"]) for r in vec] == [(5, 0.5)]


def test_minhash_cache_reuses_then_evicts_on_dataset_change(spark, tables):
    """The persisted-intermediate registry must reuse entries for the same
    source and evict them when a different dataset is processed (bounded
    executor cache residency)."""
    from datalake_local_spark.session import load_tables

    dedup._plan_cache.clear()
    dedup.minhash_lsh_candidates(tables["documents"]).count()
    keys_a = set(dedup._plan_cache)
    assert len(keys_a) == 2  # sigs + shingle_sets
    dedup.minhash_lsh_candidates(tables["documents"]).count()
    assert set(dedup._plan_cache) == keys_a  # same source → reused, not re-added

    # a FILTERED frame over the same parquet files must get its own cache
    # entries (plan fingerprint in the key), never the full-table frames
    filtered = tables["documents"].filter(F.col("doc_id") < 100)
    n_filtered = dedup.minhash_lsh_candidates(filtered).count()
    assert set(dedup._plan_cache) > keys_a
    n_full = dedup.minhash_lsh_candidates(tables["documents"]).count()
    assert n_filtered <= n_full

    other = load_tables(spark, "/root/testdata/sf0.01")["documents"]
    dedup.minhash_lsh_candidates(other).count()
    keys_b = set(dedup._plan_cache)
    assert len(keys_b) == 2 and keys_b.isdisjoint(keys_a)  # old source evicted


def test_resize_bytes_budget_and_aspect(tables):
    rows = multimodal.resize_images(tables["documents"].limit(30)).collect()
    import math

    for r in rows:
        assert 1 <= r["new_w"] <= 64 and 1 <= r["new_h"] <= 64
        assert len(r["resized_payload"]) == r["new_w"] * r["new_h"]
        scale = min(64 / r["orig_w"], 64 / r["orig_h"], 1.0)
        assert r["new_w"] == max(1, math.floor(r["orig_w"] * scale))
        assert r["new_h"] == max(1, math.floor(r["orig_h"] * scale))


def test_frame_sampling_schedule(tables):
    rows = multimodal.sample_video_frames(tables["documents"].limit(30)).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_rows in by_doc.values():
        idxs = sorted(r["frame_idx"] for r in doc_rows)
        total = doc_rows[0]["total_frames"]
        assert len(idxs) <= 4 and all(0 <= i < total for i in idxs)
        step = max(total // 4, 1)
        assert idxs == list(range(0, total, step))[:4]


def test_random_projection_distortion_bounded(tables):
    """JL with out_dim=16 preserves norms in expectation: the mean norm
    ratio across vectors must sit near 1 and no vector may collapse or
    blow up beyond loose distortion bounds."""
    rows = similarity.random_projection_profile(tables["embeddings"]).collect()
    ratios = [r["norm_ratio"] for r in rows]
    assert len(rows) == tables["embeddings"].count()
    mean = sum(ratios) / len(ratios)
    assert 0.9 < mean < 1.1
    assert all(0.3 < r < 2.5 for r in ratios)


def test_contamination_marks_benchmark_docs(tables):
    """Benchmark docs contaminate themselves (every long-enough one must
    be flagged), and flags are consistent with gram counts."""
    rows = text.benchmark_contamination(tables["documents"]).collect()
    for r in rows:
        assert r["is_contaminated"] == (r["n_contaminated_grams"] > 0)
        if r["is_benchmark"]:
            assert r["is_contaminated"]


def test_pack_sequences_respects_budget(tables):
    """Every bin except possibly each shard's last stays within one doc
    of the 512-token budget (greedy continuous fill: a bin closes only
    once its cumulative tokens cross the target)."""
    rows = text.pack_sequences(tables["documents"]).collect()
    assert sum(r["n_docs"] for r in rows) == tables["documents"].count()
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shard_id"], []).append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r["bin_id"])
        for r in shard_rows[:-1]:
            assert r["total_tokens"] >= 512 - 100  # bins fill before closing


def test_unigram_logprob_bounds(tables):
    """Unigram log-probs are negative (p<1) and per-doc token counts
    reconcile with the token-stats operator."""
    lp = {r["doc_id"]: r for r in text.unigram_logprob(tables["documents"]).collect()}
    ts = {r["doc_id"]: r["n_tokens"] for r in text.token_stats(tables["documents"]).collect()}
    assert set(lp) == set(ts)
    for doc_id, r in lp.items():
        assert r["n_tokens"] == ts[doc_id]
        assert r["min_logp"] <= r["mean_logp"] < 0


def test_pmi_rank_and_counts(tables):
    rows = text.token_pmi_pairs(tables["documents"]).collect()
    assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == list(
        range(1, len(rows) + 1)
    )
    assert all(r["n_pair"] >= 10 for r in rows)


def test_vocab_oov_plan_has_no_global_window(tables):
    """Scale shape: the top-vocab_size selection must plan as
    TakeOrderedAndProject (per-partition heap + driver merge), never a
    global row_number Window that single-partitions the vocabulary."""
    df = text.vocab_oov_profile(tables["documents"], vocab_size=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    # and the result is still the coverage profile, one row per doc
    assert df.count() == tables["documents"].count()


def test_frequent_tokens_sketch_guarantees(tables):
    """Misra-Gries guarantees: estimates never exceed true counts, the
    total undercount per token is bounded by n/(capacity+1), and every
    heavy hitter (true freq above that bound) appears in a top-k that
    can hold it."""
    capacity = 64
    exact = {
        r["token"]: r["n"]
        for r in tables["documents"]
        .select(F.explode(F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    n_total = sum(exact.values())
    bound = n_total / (capacity + 1)
    sketch = {
        r["token"]: r["est"]
        for r in text.frequent_tokens_sketch(tables["documents"], k=1000, capacity=capacity).collect()
    }
    for tok, est in sketch.items():
        assert est <= exact[tok], "MG estimates must undercount"
        assert exact[tok] - est <= bound, "undercount exceeds MG bound"
    heavy = {t for t, n in exact.items() if n > bound}
    assert heavy <= set(sketch), "every heavy hitter must survive the sketch"


def _broadcast_hint_subtrees(df):
    """Collect the toString of every ResolvedHint node in the analyzed
    logical plan (analyzed, not optimized — hints are erased later)."""
    out = []

    def walk(node):
        if node.nodeName() == "ResolvedHint":
            out.append(node.toString())
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().analyzed())
    return out


def test_unigram_logprob_no_vocab_broadcast_hint(tables):
    """Scale shape (r4 verdict flag): the token→frequency join must NOT
    carry a broadcast hint — a web-scale vocab is 10^8-10^9 tokens, tens
    of GB. The only hint allowed is the scalar corpus-total crossJoin;
    AQE may still broadcast at runtime when the table is actually small,
    which is the point."""
    hints = _broadcast_hint_subtrees(text.unigram_logprob(tables["documents"]))
    assert len(hints) == 1, f"expected only the scalar-totals hint, got {len(hints)}"
    assert "Join" not in hints[0]  # the hinted subtree is the global aggregate


def test_pmi_broadcasts_are_pruned_and_scan_is_shared(tables):
    """Scale shape (r4 verdict flag): every broadcast hint in the PMI
    plan must be either a scalar total (global Aggregate build side) or
    a marginal table semi-join-PRUNED to tokens surviving
    min_pair_count — never the full unigram vocab. And the single
    tokenize+explode shuffle must be reused across the unigram and pair
    derivations (ReusedExchange), not recomputed."""
    import re

    df = text.token_pmi_pairs(tables["documents"])
    hints = _broadcast_hint_subtrees(df)
    semi = [h for h in hints if "LeftSemi" in h]
    assert len(semi) == 2, "a_side and b_side must be pruned via left_semi before the hint"
    for h in hints:
        if "LeftSemi" in h:
            continue
        # remaining hints must be scalar totals: global aggregate
        # (empty grouping list) directly under the hint
        child = h.splitlines()[1]
        assert re.search(r"\+\- Aggregate \[(sum|count)\(", child), (
            "non-pruned broadcast hint must be a scalar total, got: " + child
        )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, "pair-grain shuffle must be computed once and reused"


def test_plan_cache_eviction_order_and_stats(spark):
    """FIFO eviction must drop the OLDEST fingerprint first, and the
    registry counters must account for every hit / miss / eviction so a
    long-lived session can observe churn (r4 advice: an evicted frame a
    caller still holds silently recomputes — make it visible)."""
    saved = dict(dedup._plan_cache)
    base = dedup.plan_cache_stats()
    dedup._plan_cache.clear()
    try:
        src = ("file:///same/source.parquet",)
        key = lambda i: ("test_kind", ("fp", i), src)
        for i in range(dedup._PLAN_CACHE_MAX):
            dedup._cached(key(i), lambda: spark.range(1))
        dedup._cached(key(0), lambda: spark.range(1))  # hit, refreshes nothing (FIFO, not LRU)
        dedup._cached(key(dedup._PLAN_CACHE_MAX), lambda: spark.range(1))  # evicts key(0)
        assert key(0) not in dedup._plan_cache, "oldest entry must be evicted first"
        assert key(1) in dedup._plan_cache
        assert key(dedup._PLAN_CACHE_MAX) in dedup._plan_cache
        delta = {k: v - base[k] for k, v in dedup.plan_cache_stats().items()}
        assert delta["hits"] == 1
        assert delta["misses"] == dedup._PLAN_CACHE_MAX + 1
        assert delta["evicted"] == 1
    finally:
        for df in dedup._plan_cache.values():
            try:
                df.unpersist()
            except Exception:
                pass
        dedup._plan_cache.clear()
        dedup._plan_cache.update(saved)


def test_pipeline_near_dedup_flag(tables, monkeypatch):
    """near_dedup=True must remove exactly the non-canonical members of
    the LSH-candidate components computed over the exact-dedup survivors
    — the scale path (LSH → star components → keep canonical) wired
    end-to-end through the flagship pipeline — while the default path's
    packing output stays byte-identical to the oracle-checked chain."""
    from datalake_local_spark.llm import pipeline as llm_pipeline

    docs = tables["documents"]
    base_docs = (
        llm_pipeline.prepare_corpus(docs).agg(F.sum("n_docs")).first()[0]
    )
    stats: dict = {}
    # the pipeline's components run on the distributed star loop
    monkeypatch.setattr(dedup, "_DRIVER_GRAPH_EDGES", 0)
    nd_docs = (
        llm_pipeline.prepare_corpus(docs, near_dedup=True, stats=stats)
        .agg(F.sum("n_docs"))
        .first()[0]
    )
    monkeypatch.undo()  # the expected survivors: driver union-find
    # independently recompute the expected survivor set from the operators
    kept = text.quality_gate(docs).filter(F.col("keep")).select("doc_id")
    gated = docs.join(kept, "doc_id", "left_semi")
    canonical = (
        gated.select(F.md5(dedup._norm_text(F.col("text"))).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    survivors = docs.join(canonical, "doc_id", "left_semi")
    comps = dedup.duplicate_components(
        survivors, pairs=dedup.minhash_lsh_candidates(survivors)
    )
    expected = comps.filter(F.col("is_canonical")).count()
    assert base_docs == survivors.count()
    assert nd_docs == expected  # star-in-pipeline ≡ union-find-out-of-pipeline
    assert nd_docs <= base_docs
    assert stats["rounds"] >= 1 and stats["num_partitions"] >= 1


def test_tfidf_and_bm25_scale_shapes(tables):
    """The df-table join in TF-IDF must not carry a broadcast hint (same
    web-scale-vocab lesson as unigram_logprob); BM25's only hints are the
    tiny query-term df table and the scalar (n_docs, avgdl) aggregate,
    and its token filter must reach below the tf aggregate."""
    from datalake_local_spark.llm import relevance

    hints = _broadcast_hint_subtrees(relevance.tfidf_top_terms(tables["documents"]))
    assert len(hints) == 1  # only the scalar n_docs crossJoin

    bdf = relevance.bm25_scores(tables["documents"])
    assert len(_broadcast_hint_subtrees(bdf)) == 2  # term-df + scalars
    plan = bdf._jdf.queryExecution().optimizedPlan().toString()
    assert "token IN" in plan or "token#" in plan  # filter survived pushdown


def _final_plan(df) -> str:
    """Executed AQE plan string, final plan only (the '== Initial Plan =='
    section repeats every node pre-reuse). Scan-count assertions below
    use <= bounds (the regression guard: MORE scans is the bug) and
    reuse assertions use >= (evidence the sharing mechanism fired);
    node-name strings ('FileScan parquet', 'ReusedExchange') are the
    Spark 4.1 spellings — revisit both on engine upgrade."""
    df.collect()
    return (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("+- == Initial Plan ==")[0]
    )


def test_tfidf_plan_single_scan(tables):
    """TF-IDF tokenizes the corpus ONCE (r5 paid four scans): scoring
    branch, doc-length, df table and the N scalar all hang off the same
    (doc, token, tf) aggregate via ReusedExchange."""
    from datalake_local_spark.llm import relevance

    final = _final_plan(relevance.tfidf_top_terms(tables["documents"]))
    assert final.count("FileScan parquet") <= 1
    assert final.count("ReusedExchange") >= 3


def test_bm25_plan_two_scans_with_reuse(tables):
    """Single-scan-per-branch BM25 (r5 scanned documents three times):
    the executed AQE plan reads documents at most twice — the full
    token aggregate (dl/avgdl) and the query-term-filtered branch — with
    both shared subtrees collapsing to ReusedExchange."""
    from datalake_local_spark.llm import relevance

    final = _final_plan(relevance.bm25_scores(tables["documents"]))
    assert final.count("FileScan parquet") <= 2
    assert final.count("ReusedExchange") >= 2


def test_train_split_plan_single_scan(tables):
    """pipeline_train_split is one ledger pass: assignment, per-source
    audit and fractions all ride a single documents scan."""
    from datalake_local_spark.llm import pipeline

    final = _final_plan(pipeline.train_eval_split(tables["documents"]))
    assert final.count("FileScan parquet") <= 1


def test_corpus_qa_report_plan_scan_bound(tables):
    """corpus_qa_report executes at most 5 documents scans (r6 fused the
    pure-projection halves, 6 → 5); future edits must not silently
    re-inflate the scan count."""
    final = _final_plan(text.corpus_qa_report(tables["documents"]))
    assert final.count("FileScan parquet") <= 5


def test_pca_project_invariants(tables):
    """PCA guarantees on the tree-aggregated-Gram path: orthonormal
    components (via the projection's covariance being diagonal with the
    reported eigenvalues), descending explained variance, captured
    variance ≤ total variance, deterministic output."""
    import numpy as np

    emb = tables["embeddings"]
    rows = similarity.pca_project(emb, k=4).collect()
    ev = rows[0]["explained_variance"]
    assert all(ev[i] >= ev[i + 1] for i in range(len(ev) - 1))
    P = np.array([r["components"] for r in rows])
    # projections are centered and decorrelated: cov(P) ≈ diag(ev)
    C = np.cov(P.T, bias=True)
    assert np.allclose(np.diag(C), ev, rtol=1e-3, atol=1e-4)
    off = C - np.diag(np.diag(C))
    assert np.abs(off).max() < 1e-4
    X = np.stack([np.asarray(r["embedding"], dtype=float) for r in emb.collect()])
    total_var = float(np.var(X, axis=0).sum())
    assert sum(ev) <= total_var + 1e-6
    rows2 = similarity.pca_project(emb, k=4).collect()
    assert {r["vec_id"]: r["components"] for r in rows2} == {
        r["vec_id"]: r["components"] for r in rows
    }


def test_pca_flat_matches_array_form_and_empty_guard(spark, tables):
    """The registered scalar form (vec_id, component_idx, value,
    explained_variance) must carry exactly the array form's numbers —
    same fit, exploded in the kernel — and the fit must fail loudly on
    an empty input instead of IndexError."""
    import pytest

    emb = tables["embeddings"]
    arr = {r["vec_id"]: r for r in similarity.pca_project(emb, k=4).collect()}
    flat = similarity.pca_project_flat(emb, k=4)
    assert [f.dataType.simpleString() for f in flat.schema.fields] == [
        "bigint", "int", "double", "double",
    ]
    n_vecs = len(arr)
    rows = flat.collect()
    assert len(rows) == 4 * n_vecs
    for r in rows:
        a = arr[r["vec_id"]]
        assert r["component_value"] == a["components"][r["component_idx"]]
        assert r["explained_variance"] == a["explained_variance"][r["component_idx"]]
    with pytest.raises(ValueError, match="empty"):
        similarity.pca_project_flat(emb.filter(F.col("vec_id") < 0), k=4)


def test_raised_shuffle_partitions_reentrant(spark):
    """Overlapping raises restore the ORIGINAL conf exactly once when the
    last raiser exits (the advisor's race: a nested caller snapshotting
    the outer caller's raised value and leaving it behind)."""
    from datalake_local_spark.llm.dedup import _raised_shuffle_partitions

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    big = int(before) + 64
    with _raised_shuffle_partitions(spark, big):
        assert spark.conf.get(key) == str(big)
        with _raised_shuffle_partitions(spark, big + 16):
            assert spark.conf.get(key) == str(big + 16)
        # inner exit must NOT restore yet (outer raise still active)
        assert spark.conf.get(key) == str(big + 16)
    assert spark.conf.get(key) == before
    # lower-than-current P never lowers the conf
    with _raised_shuffle_partitions(spark, 1):
        assert spark.conf.get(key) == before
    assert spark.conf.get(key) == before


def test_weighted_sample_monotone_and_exact(spark, tables):
    """Deterministic mixing guarantees: raising a source's rate only ADDS
    documents (threshold grows, md5 keys are fixed → kept sets nest);
    rate 1.0 keeps everything, rate 0.0 keeps nothing; realized rates
    land near targets on 500+ docs."""
    from datalake_local_spark.llm import pipeline as llm_pipeline

    docs = tables["documents"]

    def kept_count(rate):
        out = llm_pipeline.weighted_source_sample(
            docs, weights={}, default_rate=rate
        ).collect()
        return sum(r["n_kept"] for r in out), sum(r["n_docs"] for r in out)

    total = None
    prev = 0
    for rate in (0.0, 0.25, 0.5, 0.75, 1.0):
        kept, total = kept_count(rate)
        assert kept >= prev, "kept set must grow with the rate"
        prev = kept
    assert kept_count(0.0)[0] == 0
    assert kept_count(1.0)[0] == total
    kept_half, _ = kept_count(0.5)
    assert abs(kept_half / total - 0.5) < 0.1  # md5 uniformity at n=500


def test_pretraining_mixture_budget_and_stage_monotonicity(spark, tables):
    """The end-to-end mixture build must (a) never exceed any source's
    token budget, (b) shrink monotonically through the stages
    (docs ≥ sampled ≥ deduped ≥ kept), (c) actually BIND somewhere when
    the budget is tight, (d) produce sane packing-bin counts, and
    (e) be deterministic run-to-run."""
    from datalake_local_spark.llm import pipeline as llm_pipeline

    docs = tables["documents"]
    tight = 120
    rows = llm_pipeline.pretraining_mixture(
        docs, weights={}, default_rate=1.0, token_budgets={}, default_budget=tight
    ).collect()
    assert rows, "every source must appear in the audit"
    bound_somewhere = False
    for r in rows:
        assert r["tokens_kept"] <= r["budget_tokens"] == tight
        assert r["n_docs"] >= r["n_sampled"] >= r["n_deduped"] >= r["n_kept"]
        if r["n_kept"] < r["n_deduped"]:
            bound_somewhere = True
        if r["n_kept"] == 0:
            assert r["n_bins"] == 0 and r["tokens_kept"] == 0
        else:
            assert 1 <= r["n_bins"] <= r["n_kept"]
    assert bound_somewhere, "a 120-token budget must drop documents"
    # rate 1.0 + unlimited budget: nothing dropped except exact dups
    free = llm_pipeline.pretraining_mixture(
        docs, weights={}, default_rate=1.0, token_budgets={}, default_budget=10**9
    ).collect()
    for r in free:
        assert r["n_sampled"] == r["n_docs"]
        assert r["n_kept"] == r["n_deduped"]
    # near-dedup only ever removes further documents, budget still holds
    nd = {
        r["source"]: r
        for r in llm_pipeline.pretraining_mixture(
            docs, weights={}, default_rate=1.0, token_budgets={},
            default_budget=tight, near_dedup=True,
        ).collect()
    }
    for r in rows:
        assert nd[r["source"]]["n_deduped"] <= r["n_deduped"]
        assert nd[r["source"]]["tokens_kept"] <= tight
    # deterministic: identical audit on re-run
    rows2 = llm_pipeline.pretraining_mixture(
        docs, weights={}, default_rate=1.0, token_budgets={}, default_budget=tight
    ).collect()
    assert rows == rows2
    # ledger plan: ONE documents scan, shard-offset branch rides the
    # fingerprint exchange via ReusedExchange
    final = _final_plan(llm_pipeline.pretraining_mixture(docs))
    assert final.count("FileScan parquet") <= 1
    assert final.count("ReusedExchange") >= 1


def test_train_split_stable_and_exhaustive(spark, tables):
    """Split assignment is a pure function of doc_id: every doc gets
    exactly one split, fractions land near targets, and — the property
    that matters operationally — assignments NEVER migrate when the
    corpus grows (no RNG, no rank-based assignment)."""
    from datalake_local_spark.llm import pipeline as llm_pipeline

    docs = tables["documents"]
    audit = llm_pipeline.train_eval_split(docs).collect()
    assert sum(r["n_docs"] for r in audit) == docs.count()
    by_split: dict = {}
    for r in audit:
        by_split[r["split"]] = by_split.get(r["split"], 0) + r["n_docs"]
    total = sum(by_split.values())
    assert set(by_split) <= {"train", "val", "test"}
    assert abs(by_split["train"] / total - 0.90) < 0.05
    # growth stability: the half-corpus assignment is a subset of the
    # full-corpus assignment, row for row
    assign = llm_pipeline.split_assign_expr({"train": 0.9, "val": 0.05, "test": 0.05})
    full = {r["doc_id"]: r["s"] for r in docs.select("doc_id", assign.alias("s")).collect()}
    half = {
        r["doc_id"]: r["s"]
        for r in docs.filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", assign.alias("s"))
        .collect()
    }
    assert all(full[d] == s for d, s in half.items())


def test_write_corpus_shards_manifest_and_determinism(spark, tables, tmp_path):
    """The delivery step: shard-partitioned parquet on disk, manifest
    read BACK from the files (certifies what was written), totals
    conserve the input corpus, per-doc bin assignment matches
    assign_pack_bins, and a re-delivery produces identical checksums."""
    import os

    from datalake_local_spark.llm import pipeline as llm_pipeline

    docs = tables["documents"].limit(200)
    path = str(tmp_path / "corpus")
    man1 = llm_pipeline.write_corpus_shards(docs, path, n_shards=4).collect()
    assert {r["shard_id"] for r in man1} <= set(range(4))
    assert sum(r["n_docs"] for r in man1) == docs.count()
    assert all(
        e.name.startswith("shard_id=") for e in os.scandir(path) if e.is_dir()
    )
    # written rows carry the same bin assignment the packer computes
    written = spark.read.parquet(path)
    got = {
        (r["doc_id"], r["shard_id"], r["bin_id"]) for r in written.collect()
    }
    expect = {
        (r["doc_id"], r["shard_id"], r["bin_id"])
        for r in text.assign_pack_bins(docs, 512, 4).collect()
    }
    assert got == expect
    tok_total = written.agg(F.sum("n_tokens")).first()[0]
    assert tok_total == sum(r["total_tokens"] for r in man1)
    man2 = llm_pipeline.write_corpus_shards(
        docs, str(tmp_path / "corpus2"), n_shards=4
    ).collect()
    assert sorted(map(tuple, man1)) == sorted(map(tuple, man2))


def test_plan_cache_misses_on_inplace_rewrite(spark, tmp_path):
    """Registry keys fold (uri, size, mtime) signatures: rewriting the
    same parquet path must MISS and recompute, not serve signatures
    built on the old bytes (advisor finding on the IVF registry; the
    dedup signature registry had the same hazard)."""
    import time as _time

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta doc {i}") for i in range(30)],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(p)
    d1 = spark.read.parquet(p)
    sig1 = dedup.source_signature(d1)
    dedup.minhash_lsh_candidates(d1).count()
    m0 = dedup.plan_cache_stats()["misses"]
    dedup.minhash_lsh_candidates(spark.read.parquet(p)).count()
    assert dedup.plan_cache_stats()["misses"] == m0  # same bytes → hit
    _time.sleep(0.05)  # ensure mtime_ns advances across filesystems
    spark.createDataFrame(
        [(i, f"totally different words here run {i} omega") for i in range(30)],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(p)
    d2 = spark.read.parquet(p)
    assert dedup.source_signature(d2) != sig1
    dedup.minhash_lsh_candidates(d2).count()
    assert dedup.plan_cache_stats()["misses"] > m0  # rewrite → miss


def test_semantic_dedup_precision_and_components(tables):
    """Cluster-bucketed semantic dedup: every emitted pair-derived merge
    must be backed by an EXACT cosine >= threshold pair (precision 1.0);
    within a cluster no qualifying pair is missed (recall 1.0 given the
    clustering); components elect min-id canonicals; deterministic."""
    emb = tables["embeddings"]
    thr = 0.42
    out = similarity.semantic_dedup(emb, threshold=thr).collect()
    assert len(out) == emb.count()
    by_comp: dict = {}
    for r in out:
        by_comp.setdefault(r["component_id"], []).append(r)
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in similarity._embedding_near_dup_pairs_theta(emb, thr).collect()
    }
    # union-find over exact pairs → true components
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in exact:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for comp_id, members in by_comp.items():
        assert comp_id == min(m["vec_id"] for m in members)
        canon = [m for m in members if m["is_canonical"]]
        assert len(canon) == 1 and canon[0]["vec_id"] == comp_id
        # precision: every multi-member semantic component must sit inside
        # ONE exact-pair component (cluster pairs are a subset of exact)
        roots = {find(m["vec_id"]) for m in members}
        assert len(roots) == 1 if len(members) > 1 else True
    out2 = similarity.semantic_dedup(emb, threshold=thr).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    # the clustering only LOSES pairs (recall < 1 across centroids), so
    # semantic components can never merge more than exact components
    n_exact_comps = len({find(v) for v in {x for p in exact for x in p}})
    multi = [c for c, ms in by_comp.items() if len(ms) > 1]
    assert len(multi) <= max(1, n_exact_comps)
    assert multi, "dataset must produce at least one semantic duplicate group"


def test_cross_source_contamination_consistency(tables):
    """The leakage matrix must conserve the pair feed: Σ n_pairs equals
    the feed's pair count, source pairs are canonically ordered, and an
    injected LSH feed (the scale path) works over the full table."""
    docs = tables["documents"]
    feed = dedup.ngram_token_jaccard_pairs(docs)
    mat = dedup.cross_source_contamination(docs).collect()
    assert sum(r["n_pairs"] for r in mat) == feed.count()
    for r in mat:
        assert r["source_a"] <= r["source_b"]
        assert 0 < r["n_cross_docs"] <= 2 * r["n_pairs"]
        assert r["sum_jaccard"] >= 0.8 * r["n_pairs"] - 1e-6  # threshold floor
    lsh_mat = dedup.cross_source_contamination(
        docs, pairs=dedup.minhash_lsh_candidates(docs)
    )
    assert lsh_mat.count() > 0


def test_pii_scrub_counts_and_masks(spark, tables):
    """Counts must follow the deterministic injection rules exactly (one
    email per 7th doc, phone per 11th, IP per 13th — the raw corpus has
    none) and the masked text must contain ZERO remaining matches while
    keeping the placeholders."""
    import re

    docs = tables["documents"]
    out = {r["doc_id"]: r for r in text.pii_scrub(docs).collect()}
    assert len(out) == docs.count()
    for doc_id, r in out.items():
        assert r["n_emails"] == (1 if doc_id % 7 == 0 else 0)
        assert r["n_phones"] == (1 if doc_id % 11 == 0 else 0)
        assert r["n_ips"] == (1 if doc_id % 13 == 0 else 0)
        assert r["pii_total"] == r["n_emails"] + r["n_phones"] + r["n_ips"]
    # independently verify masking on the synthesized text in Python
    inj = {r["doc_id"]: r["text"] for r in text.synthesize_pii_text(docs).collect()}
    email, phone, ip = text.PII_EMAIL_RE, text.PII_PHONE_RE, text.PII_IP_RE
    probe = [d for d in inj if d % 7 == 0 or d % 11 == 0 or d % 13 == 0][:20]
    for d in probe:
        masked = re.sub(
            ip, "<IP>", re.sub(phone, "<PHONE>", re.sub(email, "<EMAIL>", inj[d]))
        )
        assert not re.search(email, masked) and not re.search(phone, masked)
        expect = (
            ("<EMAIL>" in masked) == (d % 7 == 0)
            and ("<PHONE>" in masked) == (d % 11 == 0)
            and ("<IP>" in masked) == (d % 13 == 0)
        )
        assert expect, f"doc {d}: wrong placeholders in {masked[-80:]}"


def test_ivf_index_registry_reuses_and_bounds(tables):
    """The IVF index must be built once per (source, params) and reused
    across probes; the registry stays bounded (FIFO) when many parameter
    variants are requested."""
    emb = tables["embeddings"]
    saved = dict(similarity._IVF_CACHE)
    similarity._IVF_CACHE.clear()
    try:
        a1, c1 = similarity._ivf_index(emb, 16, 42)
        a2, c2 = similarity._ivf_index(emb, 16, 42)
        assert a1 is a2, "same params must reuse the cached index"
        assert (c1 == c2).all()
        for k in (4, 8, 12, 16, 20):
            similarity._ivf_index(emb, k, 42)
        assert len(similarity._IVF_CACHE) <= similarity._IVF_CACHE_MAX
    finally:
        for df, _ in similarity._IVF_CACHE.values():
            try:
                df.unpersist()
            except Exception:
                pass
        similarity._IVF_CACHE.clear()
        similarity._IVF_CACHE.update(saved)


def test_audio_pcm_features_physics(tables):
    """DSP ground truth on the synthesized sine payloads: a pure sine of
    amplitude 0.5 has RMS ≈ 0.5/√2 and peak ≈ 0.5; the FFT's dominant
    bin recovers the synthesis frequency (100 + (doc_id % 32)·25 Hz)
    within one bin; ZCR ≈ 2f/fs."""
    import math

    docs = tables["documents"].filter(F.col("doc_id") < 40)
    audio = multimodal.synthesize_pcm_audio(docs)
    rows = multimodal.audio_pcm_features(audio).collect()
    assert len(rows) == docs.count()
    for r in rows:
        f_true = 100.0 + (r["doc_id"] % 32) * 25.0
        bin_hz = 1.0 / r["duration_s"]  # rfft resolution
        assert abs(r["rms"] - 0.5 / math.sqrt(2)) < 0.01, r
        # the max SAMPLE of a sine undershoots the amplitude by up to
        # cos(pi / samples_per_cycle): at 875 Hz / 8 kHz that's ~0.94A
        assert 0.45 <= r["peak"] <= 0.5 + 1e-6, r
        assert abs(r["dominant_freq_hz"] - f_true) <= bin_hz + 1e-6, r
        assert abs(r["zero_crossing_rate"] - 2 * f_true / 8000) < 0.01, r


def _brute_cosine_pairs(rows, threshold):
    """numpy oracle: all (a, b), a < b, cosine >= threshold (zero-norm
    rows excluded — they carry no direction)."""
    import numpy as np

    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[2] for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(mat, axis=1)
    keep = nrm > 0
    ids, mat = ids[keep], mat[keep] / nrm[keep][:, None]
    sims = np.round(mat @ mat.T, 6)
    out = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if sims[i, j] >= threshold:
                out.add((min(ids[i], ids[j]), max(ids[i], ids[j])))
    return out


def test_semantic_cluster_pairs_hot_cluster_bounded(spark):
    """A planted hot cluster (>=80% of vectors on one centroid) must fan
    out to block-pair tasks with bounded per-task rows, and the emitted
    pair set must be EXACTLY the brute-force within-cluster cosine pairs
    regardless of max_block_rows."""
    import math
    import random

    import numpy as np
    from pyspark.sql import functions as SF

    rng = random.Random(11)
    rows = []
    # 96 vectors in centroid 0 (hot), 24 spread over centroids 1-3
    for i in range(120):
        cid = 0 if i < 96 else 1 + (i % 3)
        base = [0.0] * 8
        base[cid] = 1.0
        vec = [b + rng.uniform(-0.05, 0.05) for b in base]
        rows.append((i, cid, vec))
    assigned = spark.createDataFrame(
        rows, "corpus_id long, centroid_id int, cvec array<double>"
    )
    thr = 0.9
    # within-cluster brute force: pairs only form inside a centroid
    expect = set()
    for cid in {r[1] for r in rows}:
        expect |= _brute_cosine_pairs([r for r in rows if r[1] == cid], thr)

    results = {}
    for cap in (7, 16, 10**6):
        got = {
            (r["doc_a"], r["doc_b"])
            for r in similarity._semantic_cluster_pairs(assigned, thr, cap).collect()
        }
        results[cap] = got
        assert got == expect, f"cap={cap}: {got ^ expect}"
    # hot cluster really fans out: 96 rows / cap 16 -> 6 blocks, and with
    # dense ids pmod keeps every block at <= cap rows (the per-task bound)
    cap = 16
    n_blk = math.ceil(96 / cap)
    assert n_blk == 6
    blk_counts = (
        assigned.filter(SF.col("centroid_id") == 0)
        .groupBy(SF.pmod(SF.col("corpus_id"), SF.lit(n_blk)).alias("blk"))
        .count()
        .collect()
    )
    assert len(blk_counts) == n_blk
    assert max(r["count"] for r in blk_counts) <= cap


def test_semantic_cluster_pairs_zero_norm_vectors(spark):
    """Zero-norm embeddings must not NaN-poison the kernel: they join no
    cosine pair but ARE merged with each other (one component of zero
    vectors per cluster), even when split across blocks."""
    rows = []
    for i in range(20):
        vec = [0.0] * 4
        if i not in (3, 7, 11):  # three zero vectors
            vec[i % 4] = 1.0
            vec[(i + 1) % 4] = 0.9
        rows.append((i, 0, vec))
    assigned = spark.createDataFrame(
        rows, "corpus_id long, centroid_id int, cvec array<double>"
    )
    pairs = similarity._semantic_cluster_pairs(assigned, 0.95, max_block_rows=6)
    got = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    assert len(got) == len(set(got))  # unique edges
    expect_cos = _brute_cosine_pairs(rows, 0.95)
    zero_edges = {e for e in got if {3, 7, 11} & set(e)}
    cos_edges = set(got) - zero_edges
    assert cos_edges == expect_cos
    # zero vectors connect ONLY to each other, into one component
    assert zero_edges and all(set(e) <= {3, 7, 11} for e in zero_edges)
    parent = {3: 3, 7: 7, 11: 11}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in zero_edges:
        parent[find(max(a, b))] = find(min(a, b))
    assert len({find(x) for x in (3, 7, 11)}) == 1


def test_semantic_dedup_block_cap_invariant(tables):
    """End-to-end: semantic_dedup output is identical whether clusters run
    as one GEMM or as many block-pair tasks."""
    emb = tables["embeddings"]
    a = sorted(map(tuple, similarity.semantic_dedup(emb, max_block_rows=8).collect()))
    b = sorted(map(tuple, similarity.semantic_dedup(emb).collect()))
    assert a == b


def test_file_sig_detects_same_size_same_mtime_rewrite(tmp_path):
    """Coarse-mtime filesystems (1 s ticks) can produce identical
    (size, mtime_ns) for an in-place rewrite; the content-tail component
    must still change the signature."""
    import os

    p = tmp_path / "blob.bin"
    p.write_bytes(b"a" * 1000)
    st = os.stat(p)
    sig1 = dedup._file_sig(str(p))
    p.write_bytes(b"a" * 999 + b"b")  # same size, different bytes
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))  # force same mtime_ns
    sig2 = dedup._file_sig(str(p))
    assert os.stat(p).st_mtime_ns == st.st_mtime_ns
    assert sig1 != sig2
    assert sig1[:3] == sig2[:3]  # only the content tail differs


def test_pretraining_mixture_derived_shards_fan_out(spark, tmp_path, monkeypatch):
    """n_shards=None derives the shard count from backing-file volume: a
    skew-heavy source (one source owns ~all bytes) fans out beyond the
    pinned 8, shard-independent audit columns are unchanged, and the
    per-source token budget still holds."""
    from datalake_local_spark.llm import pipeline

    rows = [
        (i, "src0" if i < 590 else "src1", (f"tok{i} word ") * 60)
        for i in range(600)
    ]
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).write.mode("overwrite").parquet(p)
    docs = spark.read.parquet(p)
    monkeypatch.setattr(pipeline, "_SHARD_TOKEN_VOLUME", 500)
    stats_d: dict = {}
    derived = {
        r["source"]: r
        for r in pipeline.pretraining_mixture(docs, n_shards=None, stats=stats_d).collect()
    }
    assert stats_d["n_shards"] > 8, stats_d
    stats_8: dict = {}
    default = {
        r["source"]: r
        for r in pipeline.pretraining_mixture(docs, stats=stats_8).collect()
    }
    assert stats_8["n_shards"] == 8
    assert set(derived) == set(default)
    for s, row in derived.items():
        # sampling and dedup are shard-count-independent stages
        for c in ("n_docs", "n_sampled", "n_deduped", "rate", "budget_tokens"):
            assert row[c] == default[s][c], (s, c)
        assert row["tokens_kept"] <= row["budget_tokens"]
    # in-memory frames (no backing files) keep the pinned default
    mem = spark.createDataFrame(rows[:20], "doc_id long, source string, text string")
    assert pipeline._derive_n_shards(mem) == 8


def test_repetition_signals_ground_truth(spark):
    """Hand-computed Gopher signals: a loop doc trips every threshold, a
    clean doc none; short docs score 0 for absent n-gram families."""
    docs = spark.createDataFrame(
        [
            (1, "spam ham " * 10),          # 20 tokens, 2 types
            (2, "the quick brown fox jumps over a lazy dog tonight"),
            (3, "one two"),                 # too short for 5-grams
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.repetition_signals(docs).collect()}
    loop = rows[1]
    assert loop["n_tokens"] == 20
    assert loop["dup_token_frac"] == 0.9          # 1 - 2/20
    # 19 bigrams: 'spam ham' x10, 'ham spam' x9 -> top 10/19
    assert loop["top_2gram_frac"] == round(10 / 19, 6)
    assert loop["dup_5gram_frac"] == 1.0          # every 5-gram repeats
    assert loop["is_repetitive"]
    clean = rows[2]
    assert clean["dup_token_frac"] == 0.0
    assert clean["top_2gram_frac"] == round(1 / 9, 6)
    assert clean["dup_5gram_frac"] == 0.0
    assert not clean["is_repetitive"]
    short = rows[3]
    assert short["n_tokens"] == 2 and short["dup_5gram_frac"] == 0.0
    assert not short["is_repetitive"]


def test_quantize_dim_minmax_error_bound(spark, tables):
    """Corpus-calibrated uint8 quantization: per-dim error is bounded by
    scale_d/2, so linf_err <= max_d(scale_d)/2; constant dims quantize
    exactly; q levels live in [0, 255]."""
    emb = tables["embeddings"]
    rows = similarity.quantize_embeddings_int8(emb).collect()
    assert len(rows) == emb.count()
    # recompute per-dim scales
    dims = emb.select(
        F.posexplode(F.transform(F.col("embedding"), lambda x: x.cast("double"))).alias("pos", "v")
    )
    stats = dims.groupBy("pos").agg(F.min("v").alias("lo"), F.max("v").alias("hi")).collect()
    max_half_scale = max((r["hi"] - r["lo"]) / 255.0 for r in stats) / 2.0
    for r in rows:
        assert 0.0 <= r["mean_q"] <= 255.0
        assert r["linf_err"] <= max_half_scale + 1e-9, r
    # planted: one constant dimension + one spanning dimension
    planted = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 255.0]), (3, [1.0, 128.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in similarity.quantize_embeddings_int8(planted).collect()}
    # dim 0 constant -> zero error; dim 1 integers on the 0..255 grid ->
    # exact reconstruction, so every vector is error-free
    assert all(out[i]["l2_err"] == 0.0 and out[i]["linf_err"] == 0.0 for i in (1, 2, 3))
    assert out[2]["mean_q"] == round((0 + 255) / 2.0, 6)


def test_ivf_partitioned_layout_prunes_and_matches(spark, tables, tmp_path):
    """The on-disk IVF layout must (a) answer probes identically to the
    in-memory cosine_topk_ivf at equal params, (b) physically read ONLY
    the probed centroid_id= directories (partition pruning), and (c)
    actually exclude something (unprobed lists exist on disk)."""
    import os

    emb = tables["embeddings"]
    path = str(tmp_path / "ivf")
    manifest = similarity.write_ivf_partitioned(emb, path)
    assert manifest["n_vectors"] == emb.count() and manifest["dim"] == 64
    dirs = {d for d in os.listdir(f"{path}/lists") if d.startswith("centroid_id=")}
    assert len(dirs) > 4  # enough lists for pruning to mean something

    q_vecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin([0, 1, 2])).collect()
    }
    got = similarity.probe_ivf_partitioned(spark, path, q_vecs, k=5, nprobe=4)
    want = similarity.cosine_topk_ivf(emb, (0, 1, 2), k=5, nprobe=4)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # physical pruning: the files actually opened by the probe scan all
    # live under probed centroid_id= directories, and not all lists
    probed = spark.read.parquet(f"{path}/centers")  # recompute probe set
    import numpy as np

    centers = {r["centroid_id"]: np.array(r["center"]) for r in probed.collect()}
    probe_cids = set()
    for qv in q_vecs.values():
        d2 = {c: float(((v - np.array(qv)) ** 2).sum()) for c, v in centers.items()}
        probe_cids |= set(sorted(d2, key=lambda c: (d2[c], c))[:4])
    lists = spark.read.parquet(f"{path}/lists").filter(
        F.col("centroid_id").isin(sorted(probe_cids))
    )
    files = {r[0] for r in lists.select(F.input_file_name()).distinct().collect()}
    touched_dirs = {f.split("/lists/")[1].split("/")[0] for f in files}
    assert touched_dirs == {f"centroid_id={c}" for c in probe_cids} & dirs
    assert touched_dirs < dirs  # strictly fewer than all lists
    plan = lists._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan

    # registry wrapper: write-once + identical output
    reg = similarity.ivf_partitioned_probe(emb)
    assert sorted(map(tuple, reg.collect())) == sorted(map(tuple, want.collect()))


def test_repetition_signals_random_reference(spark):
    """Seeded random corpus vs a pure-Python reference implementation of
    the Gopher signals — exact agreement on every column."""
    import random
    from collections import Counter

    rng = random.Random(99)
    vocab = ["alpha", "beta", "gamma", "delta", "x"]
    docs = []
    for i in range(60):
        n = rng.randint(1, 30)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))

    def ref(text):
        toks = text.lower().split()
        c1, c2, c5 = Counter(toks), Counter(), Counter()
        for j in range(len(toks) - 1):
            c2[" ".join(toks[j:j + 2])] += 1
        for j in range(len(toks) - 4):
            c5[" ".join(toks[j:j + 5])] += 1
        n_tok, tot2, tot5 = len(toks), sum(c2.values()), sum(c5.values())
        top2 = max(c2.values()) if c2 else 0
        dup5 = sum(v for v in c5.values() if v >= 2)
        d = {
            "n_tokens": n_tok,
            "dup_token_frac": round(1.0 - len(c1) / n_tok, 6),
            "top_2gram_frac": round(top2 / tot2, 6) if tot2 else 0.0,
            "dup_5gram_frac": round(dup5 / tot5, 6) if tot5 else 0.0,
        }
        d["is_repetitive"] = (
            d["dup_token_frac"] > 0.5
            or (top2 >= 2 and d["top_2gram_frac"] > 0.2)
            or d["dup_5gram_frac"] > 0.15
        )
        return d

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in text.repetition_signals(df).collect()}
    assert len(got) == len(docs)
    for doc_id, t in docs:
        want = ref(t)
        have = {k: got[doc_id][k] for k in want}
        assert have == want, (doc_id, t, have, want)


def test_mp4_header_parser_handcrafted(spark):
    """parse_mp4_header on handcrafted boxes: v0 and v1 mvhd layouts,
    track counting, truncated/garbage inputs -> unknown."""
    import struct

    def box(btype, payload):
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    mvhd_v0 = box(
        b"mvhd",
        bytes(4) + struct.pack(">II", 0, 0) + struct.pack(">II", 1000, 7000) + bytes(80),
    )
    mvhd_v1 = box(
        b"mvhd",
        bytes([1]) + bytes(3) + struct.pack(">QQ", 0, 0)
        + struct.pack(">I", 90000) + struct.pack(">Q", 450000) + bytes(80),
    )
    trak = box(b"trak", box(b"tkhd", bytes(84)))
    ftyp = box(b"ftyp", b"mp42" + struct.pack(">I", 0) + b"mp42")
    v0 = ftyp + box(b"moov", mvhd_v0 + trak + trak)
    v1 = ftyp + box(b"moov", mvhd_v1 + trak)
    assert multimodal.parse_mp4_header(v0) == ("mp4", "mp42", 1000, 7000, 2)
    assert multimodal.parse_mp4_header(v1) == ("mp4", "mp42", 90000, 450000, 1)
    assert multimodal.parse_mp4_header(b"not a video")[0] == "unknown"
    assert multimodal.parse_mp4_header(v0[:20])[0] == "unknown"  # truncated
    assert multimodal.parse_mp4_header(b"")[0] == "unknown"

    # round-trip through the Spark kernel on a planted frame
    df = spark.createDataFrame([(1, bytearray(v0)), (2, b"junk")], "doc_id long, payload binary")
    rows = {r["doc_id"]: r for r in multimodal.decode_video_real(df).collect()}
    assert rows[1]["format"] == "mp4" and rows[1]["duration_s"] == 7.0 and rows[1]["n_tracks"] == 2
    assert rows[2]["format"] == "unknown" and rows[2]["timescale"] is None


def test_wav_header_parser_handcrafted(spark):
    """parse_wav_header on handcrafted RIFF chunks: stereo 44.1k/24-bit,
    odd-length chunk word alignment, junk chunk skipping, garbage."""
    import struct

    def wav(channels, rate, bits, data, extra=b""):
        fmt = struct.pack("<HHIIHH", 1, channels, rate,
                          rate * channels * bits // 8, channels * bits // 8, bits)
        body = (b"WAVE" + extra
                + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    stereo = wav(2, 44100, 24, bytes(6 * 100))  # 100 stereo 24-bit frames
    assert multimodal.parse_wav_header(stereo) == ("wav", 2, 44100, 24, 100)
    # a LIST chunk with odd length before fmt: walker must word-align
    junk = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    with_junk = wav(1, 8000, 16, bytes(32), extra=junk)
    assert multimodal.parse_wav_header(with_junk) == ("wav", 1, 8000, 16, 16)
    assert multimodal.parse_wav_header(b"RIFFxxxxAVI ")[0] == "unknown"
    assert multimodal.parse_wav_header(b"")[0] == "unknown"

    # synthesized round-trip agrees with the DSP physics inputs
    docs = spark.createDataFrame([(3, 57)], "doc_id long, n_chars long")
    row = multimodal.audio_metadata(docs).collect()[0]
    assert (row["format"], row["n_channels"], row["sample_rate"], row["bits_per_sample"]) == ("wav", 1, 8000, 16)
    assert row["n_samples"] == 2000 + 57 % 100


def test_batch_drift_plan_scan_bound(tables):
    """dq_batch_drift: scalars re-aggregate the lang-grain table, so the
    executed plan reads documents at most twice with the lang exchange
    reused (was 3 scans when scalars aggregated the base directly)."""
    from datalake_local_spark.operators import quality

    final = _final_plan(quality.batch_drift_report(tables["documents"]))
    assert final.count("FileScan parquet") <= 2
    assert final.count("ReusedExchange") >= 1


def test_band_index_bucketed_self_join_no_shuffle(spark, tables):
    """The persisted band index: candidate pairs from the bucketed
    catalog table equal the in-plan LSH candidate set, and the self-join
    reads buckets directly — no exchange below the join (the recurring-
    dedup layout SCALE.md promises)."""
    from datalake_local_spark.llm import dedup as dd

    docs = tables["documents"]
    dd.write_band_index(docs, "b_bands")
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        for k in saved:
            spark.conf.set(k, "-1")
        cand = dd.candidates_from_band_index(spark, "b_bands")
        got = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
        final = (
            cand._jdf.queryExecution().executedPlan().toString()
            .split("+- == Initial Plan ==")[0]
        )
    finally:
        for k, v in saved.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    assert "SortMergeJoin" in final and "SelectedBucketsCount" in final
    # the ONLY exchange is the dropDuplicates above the join; both join
    # inputs come straight off the bucketed files
    assert final.count("Exchange hashpartitioning") == 1, final

    # parity with the in-plan path: same candidate universe (the
    # verified minhash_lsh_candidates output is a subset after Jaccard)
    verified = {
        (r["doc_a"], r["doc_b"]) for r in dd.minhash_lsh_candidates(docs).collect()
    }
    assert verified <= got
    spark.sql("DROP TABLE IF EXISTS b_bands")


def test_decontaminate_audit_conserves(tables):
    """Decontamination audit: per-source partitions conserve (benchmark +
    contaminated + kept == docs), benchmark docs never count as kept,
    and the flags agree with benchmark_contamination's doc grain."""
    from datalake_local_spark.llm import pipeline as pl

    docs = tables["documents"]
    audit = pl.decontaminate_corpus(docs).collect()
    assert sum(r["n_docs"] for r in audit) == docs.count()
    for r in audit:
        assert r["n_benchmark"] + r["n_contaminated"] + r["n_kept"] == r["n_docs"]
        assert r["tokens_kept"] >= r["n_kept"]  # every kept doc has >= 1 token
    flags = text.benchmark_contamination(docs).collect()
    n_bench = sum(1 for f in flags if f["is_benchmark"])
    n_cont = sum(1 for f in flags if f["is_contaminated"] and not f["is_benchmark"])
    assert sum(r["n_benchmark"] for r in audit) == n_bench
    assert sum(r["n_contaminated"] for r in audit) == n_cont


def test_encoding_quality_ground_truth(spark):
    """Planted injections: doc 0 trips all three signals (6|9|15 all
    divide 0), clean ids trip none, and counts match the injector spec."""
    docs = spark.createDataFrame(
        [(i, "plain clean text here") for i in (0, 6, 9, 15, 7, 45)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.encoding_quality(docs).collect()}
    assert out[0]["n_replacement"] == 1  # 0 % 3 + 1
    assert out[0]["n_control"] == 2 and out[0]["n_mojibake"] == 3
    assert out[0]["is_suspect"]
    assert out[6]["n_mojibake"] == 3 and out[6]["n_control"] == 0
    assert out[9]["n_replacement"] == 1 and out[9]["n_mojibake"] == 0
    assert out[15]["n_control"] == 2 and out[15]["n_replacement"] == 0
    assert out[45]["n_replacement"] == 1 and out[45]["n_control"] == 2  # 9 and 15
    assert not out[7]["is_suspect"]
    assert all(r["n_chars"] >= len("plain clean text here") for r in out.values())


def test_segment_dedup_ground_truth(spark):
    """Planted corpus: an 8-token boilerplate segment shared by three
    docs keeps exactly its first occurrence (min doc_id, min seg_id);
    a doc made ENTIRELY of repeats of a seen segment loses everything
    (NULL fingerprint); unique docs keep all tokens; the short tail
    window is a segment of its own."""
    boiler = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, boiler + " unique one two three four five six"),   # keeper
            (2, boiler + " other words entirely different here now"),
            (3, boiler),                                           # fully dup
            (4, "standalone text with nine perfectly ordinary tokens inside it"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.segment_dedup(docs).collect()}
    k = rows[1]
    assert k["n_segments"] == 2 and k["n_removed"] == 0
    assert k["n_tokens"] == 15 and k["n_tokens_kept"] == 15
    d2 = rows[2]
    assert d2["n_segments"] == 2 and d2["n_removed"] == 1
    assert d2["n_tokens_kept"] == 6  # boilerplate window gone, tail kept
    d3 = rows[3]
    assert d3["n_segments"] == 1 and d3["n_removed"] == 1
    assert d3["n_tokens_kept"] == 0 and d3["kept_fingerprint"] is None
    d4 = rows[4]
    # 9 tokens -> one full window + a 1-token tail, nothing removed
    assert d4["n_segments"] == 2 and d4["n_removed"] == 0
    assert d4["n_tokens_kept"] == 9 and d4["kept_fingerprint"] is not None
    # keeper doc's fingerprint differs from doc 2's (different kept set)
    assert k["kept_fingerprint"] != d2["kept_fingerprint"]


def test_span_coverage_ground_truth(spark):
    """Interval-union arithmetic by hand: two docs share a 10-token run
    (3 overlapping dup 8-gram starts -> union covers exactly 10 tokens);
    a doc with two DISJOINT shared windows counts both; unique and
    too-short docs report zero coverage."""
    run = "a b c d e f g h i j"                # 10 shared tokens
    docs = spark.createDataFrame(
        [
            (1, run + " unique tail here one two three"),
            (2, "prefix words here then " + run),
            (3, "wholly distinct content with absolutely no overlap "
                "anywhere in sight for this document today friend"),
            (4, "tiny doc"),                   # < 8 tokens, no grams
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.duplicate_span_coverage(docs).collect()}
    d1 = out[1]
    # starts 1..3 of doc1 are the shared 8-grams; union = [1, 10]
    assert d1["n_dup_grams"] == 3 and d1["covered_tokens"] == 10
    assert d1["dup_frac"] == round(10 / 16, 6)
    d2 = out[2]
    assert d2["n_dup_grams"] == 3 and d2["covered_tokens"] == 10
    d3 = out[3]
    assert d3["n_dup_grams"] == 0 and d3["covered_tokens"] == 0
    assert d3["dup_frac"] == 0.0
    d4 = out[4]
    assert d4["n_grams"] == 0 and d4["covered_tokens"] == 0


def test_lang_quality_buckets_properties(spark, tables):
    """CCNet bucketing invariants on the real corpus: every doc lands in
    exactly one bucket; per language the tercile split is balanced to
    within interpolation slack; EVERY language has head docs (the whole
    point of per-language thresholds); buckets order by score."""
    out = text.lang_quality_buckets(tables["documents"])
    rows = out.collect()
    assert len(rows) == tables["documents"].count()
    assert set(r["bucket"] for r in rows) <= {"head", "middle", "tail"}
    from collections import defaultdict

    per_lang = defaultdict(lambda: defaultdict(list))
    for r in rows:
        per_lang[r["lang"]][r["bucket"]].append(r["lm_score"])
    for lang, buckets in per_lang.items():
        n = sum(len(v) for v in buckets.values())
        assert len(buckets["head"]) > 0, f"{lang} has no head docs"
        # balanced within slack (ties at thresholds shift a few docs)
        for b in ("head", "middle", "tail"):
            assert len(buckets.get(b, [])) <= n * 2 / 3 + 2
        # strict score ordering between buckets
        if buckets.get("middle") and buckets.get("tail"):
            assert min(buckets["middle"]) >= max(buckets["tail"])
        if buckets.get("head") and buckets.get("middle"):
            assert min(buckets["head"]) >= max(buckets["middle"])


def test_pq_topk_deterministic_and_recalls_bruteforce(tables):
    """PQ/ADC is approximate but fully seeded: identical reruns; codes in
    range; recall against exact brute force stays useful at m=8, 16
    codes; and the quantizer reconstructs better than the trivial
    one-centroid quantizer (codebooks actually learned something)."""
    import numpy as np

    emb = tables["embeddings"]
    a = similarity.pq_topk(emb).collect()
    b = similarity.pq_topk(emb).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 15 and all(r["rank"] <= 5 for r in a)
    assert all(-1.0 <= r["approx_cosine"] <= 1.0 for r in a)

    bf = {
        (r["query_id"], r["corpus_id"])
        for r in similarity.cosine_topk_bruteforce(emb).collect()
    }
    pq = {(r["query_id"], r["corpus_id"]) for r in a}
    assert len(bf & pq) / len(bf) >= 0.3

    books = similarity._pq_train_codebooks(emb, m=16, k_codes=32, seed=42)
    assert books.shape == (16, 32, 4)
    codes = similarity.pq_encode(emb, books).collect()
    assert all(0 <= c < 32 for r in codes for c in r["codes"])
    X = np.array(
        [r["v"] for r in emb.select(
            F.col("embedding").cast("array<double>").alias("v")).collect()],
        dtype=np.float64,
    )
    ids = {r["corpus_id"]: r["codes"] for r in codes}
    order = [r["vec_id"] for r in emb.select("vec_id").collect()]
    C = np.array([ids[i] for i in order])
    recon = np.concatenate(
        [books[j][C[:, j]] for j in range(16)], axis=1
    )
    mse_pq = ((X - recon) ** 2).mean()
    mse_mean = ((X - X.mean(axis=0)) ** 2).mean()
    assert mse_pq < 0.5 * mse_mean


def test_global_shuffle_order_properties(tables):
    """Ranks are a dense 1..N permutation in (shuffle_key, doc_id) order;
    a different salt yields a genuinely different permutation while the
    same salt is stable; growing the corpus preserves RELATIVE order of
    surviving docs (hash order is content-independent)."""
    from datalake_local_spark.llm import pipeline as llm_pipeline

    docs = tables["documents"]
    out = llm_pipeline.global_shuffle_order(docs).collect()
    n = docs.count()
    ranks = sorted(r["shuffle_rank"] for r in out)
    assert ranks == list(range(1, n + 1))
    by_key = sorted(out, key=lambda r: (r["shuffle_key"], r["doc_id"]))
    assert [r["shuffle_rank"] for r in by_key] == list(range(1, n + 1))
    again = {r["doc_id"]: r["shuffle_rank"]
             for r in llm_pipeline.global_shuffle_order(docs).collect()}
    assert all(again[r["doc_id"]] == r["shuffle_rank"] for r in out)
    other = {r["doc_id"]: r["shuffle_rank"]
             for r in llm_pipeline.global_shuffle_order(docs, salt="epoch-2").collect()}
    assert any(other[r["doc_id"]] != r["shuffle_rank"] for r in out)
    # subset keeps relative order under the same salt
    half = {r["doc_id"]: r["shuffle_rank"] for r in
            llm_pipeline.global_shuffle_order(docs.filter(F.col("doc_id") % 2 == 0)).collect()}
    full = {r["doc_id"]: r["shuffle_rank"] for r in out}
    evens = sorted(half, key=lambda i: half[i])
    assert evens == sorted(evens, key=lambda i: full[i])


def test_bpe_train_matches_reference(spark):
    """The distributed BPE trainer reproduces the classic driver-side
    algorithm exactly (same merge sequence, same weighted pair counts,
    same greedy tie-breaks) on a corpus small enough to fold by hand."""
    docs = spark.createDataFrame(
        [(1, "low low low lower lower newest newest newest newest widest")],
        "doc_id long, text string",
    )
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in text.bpe_train(docs, n_merges=6).collect()
    ]

    # pure-python reference implementation (Sennrich et al. pseudocode)
    from collections import Counter

    vocab = Counter("low low low lower lower newest newest newest newest widest".split())
    words = {w: list(w) for w in vocab}
    want = []
    for rank in range(1, 7):
        counts = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += vocab[w]
        if not counts:
            break
        pair = min(counts, key=lambda p: (-counts[p], p[0], p[1]))
        want.append((rank, pair[0], pair[1], pair[0] + pair[1], counts[pair]))
        for w, syms in words.items():
            out = []
            for x in syms:
                if out and out[-1] == pair[0] and x == pair[1]:
                    out[-1] = pair[0] + pair[1]
                else:
                    out.append(x)
            words[w] = out
    assert got == want
    assert got[0][1:] == ("w", "e", "we", 6)  # lower x2 + newest x4


def test_bloom_incremental_dedup_exact_contract(tables):
    """The Bloom-prefiltered path returns byte-identical statuses to the
    plain incremental path (no false negatives + confirmation join);
    the prefilter itself genuinely filters (the maybe set is a strict
    subset of incoming) with a false-positive rate within theory."""
    import numpy as np

    docs = tables["documents"]
    plain = sorted(map(tuple, dedup.incremental_exact_dedup(docs).collect()))
    bloom = sorted(map(tuple, dedup.bloom_incremental_dedup(docs).collect()))
    assert bloom == plain

    # internals: build the bitmap and measure prefilter selectivity
    fp = F.md5(text._norm_text(F.col("text")))
    existing = docs.filter(F.col("doc_id") < 250).select(fp.alias("fingerprint")).distinct()
    m_bits, k, seed = 1 << 20, 4, 77
    bm = dedup._bloom_build(existing, m_bits, k, seed)
    assert bm.shape == (m_bits // 8,)
    n = existing.count()
    fill = np.unpackbits(bm).mean()
    # fill ≈ 1 - exp(-kn/m); with n≈250 and m=2^20 it is tiny
    assert fill <= 2 * k * n / m_bits
    # every existing fingerprint tests positive (no false negatives)
    pos_cols = [
        F.pmod(F.xxhash64(F.col("fingerprint"), F.lit(seed + i)), F.lit(m_bits))
        for i in range(k)
    ]
    for r in existing.select(F.array(*pos_cols).alias("p")).collect():
        P = np.array(r["p"], dtype=np.int64)
        assert (((bm[P // 8] >> (P % 8).astype(np.uint8)) & 1) == 1).all()


def test_kmv_overlap_exact_and_estimation_regimes(spark, tables):
    """Below k distinct values the KMV sketch IS the set, so every
    estimate must equal the exact overlap; above k, a planted 2-source
    corpus with known intersection must be estimated within KMV's
    ~1/sqrt(k-2) standard error (generous 3-sigma bound)."""
    docs = tables["documents"]
    out = {(r["source_a"], r["source_b"]): r
           for r in dedup.kmv_source_overlap(docs).collect()}
    # exact truth at sf0.001: distinct fingerprints per source pair
    fp = F.md5(text._norm_text(F.col("text")))
    dh = docs.select("source", fp.alias("hv")).distinct()
    per = {r["source"]: set() for r in dh.select("source").distinct().collect()}
    for r in dh.collect():
        per[r["source"]].add(r["hv"])
    for (a, b), r in out.items():
        if len(per[a]) + len(per[b]) < 64:  # merged sketch exact for sure
            u = len(per[a] | per[b])
            i = len(per[a] & per[b])
            assert r["est_union"] == float(u)
            assert r["est_intersection"] == round(i / u * u, 4)
            assert r["est_jaccard"] == round(i / u, 6)

    # estimation regime: 500 + 500 docs sharing exactly 100 texts
    rows = []
    for i in range(500):
        rows.append((i, f"alpha document {i} body", "s1"))
    for i in range(500):
        j = i if i < 100 else i + 1000  # first 100 shared
        rows.append((10_000 + i, f"alpha document {j} body" if i < 100
                     else f"beta document {j} body", "s2"))
    big = spark.createDataFrame(rows, "doc_id long, text string, source string")
    est = dedup.kmv_source_overlap(big).collect()[0]
    true_union, true_inter = 900, 100
    assert abs(est["est_union"] - true_union) / true_union < 0.4
    assert abs(est["est_intersection"] - true_inter) / true_inter < 0.6


def test_second_wave_plan_scan_bounds(tables):
    """Scan-count regression guards for the round-7 second wave:
    segment_dedup reads documents at most twice (broadcast regime; the
    shuffle-join regime folds to 1 via ReuseExchange), span_coverage at
    most three times (dup-count + starts branches over the gram subtree
    plus the doc-grain base projection that keeps gram-less short docs
    in the output), lang_buckets at most twice (threshold branch + doc
    branch over the shared score aggregate), global_shuffle at most
    twice (offset branch + rank branch), kmv_source_overlap at most
    twice (sketch feeds the pair grid and the merge)."""
    from datalake_local_spark.llm import pipeline as llm_pipeline

    docs = tables["documents"]
    assert _final_plan(text.segment_dedup(docs)).count("FileScan parquet") <= 2
    assert _final_plan(text.duplicate_span_coverage(docs)).count("FileScan parquet") <= 3
    assert _final_plan(text.lang_quality_buckets(docs)).count("FileScan parquet") <= 2
    assert _final_plan(llm_pipeline.global_shuffle_order(docs)).count("FileScan parquet") <= 2
    assert _final_plan(dedup.kmv_source_overlap(docs)).count("FileScan parquet") <= 2


def test_hard_negative_mining_invariants(tables):
    """Every mined negative has a label different from its anchor's; the
    k-per-anchor set is the cosine-ranked head of the different-label
    universe (checked against brute force with a post-filter)."""
    emb = tables["embeddings"]
    out = similarity.hard_negative_mining(emb).collect()
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    assert len(out) == 15
    for r in out:
        assert labels[r["corpus_id"]] == r["negative_label"]
        assert r["negative_label"] != labels[r["query_id"]]
    # agreement with brute-force top-k over the different-label subset
    bf = similarity.cosine_topk_bruteforce(emb, k=10**6).collect()
    from collections import defaultdict

    per_q = defaultdict(list)
    for r in sorted(bf, key=lambda r: (r["query_id"], -r["cosine"], r["corpus_id"])):
        if labels[r["corpus_id"]] != labels[r["query_id"]]:
            per_q[r["query_id"]].append(r["corpus_id"])
    got = defaultdict(list)
    for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
        got[r["query_id"]].append(r["corpus_id"])
    for q, ids in got.items():
        assert ids == per_q[q][:5]


def test_segment_dedup_random_reference(spark):
    """Seeded random corpus (tiny vocab to force collisions) vs a pure-
    Python reference of the C4 keeper rule — exact agreement on every
    count column and on NULL-fingerprint placement."""
    import random

    rng = random.Random(7)
    vocab = ["a", "b", "c"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 25))))
        for i in range(50)
    ]
    seg = 8
    segs = {}  # (doc, seg_id) -> (text, n_tokens)
    by_text = {}
    for doc_id, doc_text in docs:
        toks = doc_text.split()
        n_seg = -(-len(toks) // seg)
        for si in range(n_seg):
            chunk = toks[si * seg : (si + 1) * seg]
            segs[(doc_id, si)] = (" ".join(chunk), len(chunk))
            by_text.setdefault(" ".join(chunk), []).append((doc_id, si))
    keeper = {t: min(occ) for t, occ in by_text.items()}
    want = {}
    for doc_id, _txt in docs:
        mine = [(k, v) for k, v in segs.items() if k[0] == doc_id]
        removed = [
            1
            for (d, si), (t, _) in mine
            if len(by_text[t]) >= 2 and keeper[t] != (d, si)
        ]
        kept_toks = sum(
            n
            for (d, si), (t, n) in mine
            if not (len(by_text[t]) >= 2 and keeper[t] != (d, si))
        )
        want[doc_id] = (
            len(mine),
            len(removed),
            sum(n for _, (_, n) in mine),
            kept_toks,
        )
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for r in text.segment_dedup(df).collect():
        w = want[r["doc_id"]]
        assert (r["n_segments"], r["n_removed"], r["n_tokens"], r["n_tokens_kept"]) == w
        assert (r["kept_fingerprint"] is None) == (w[3] == 0)


def test_segment_dedup_hot_key_regimes(spark):
    """Hot-key stress (verdict r7 task #8): one boilerplate segment in
    50% of docs — the key distribution that kills an unprotected
    shuffle join. Asserts (a) the default bench-SF regime broadcasts
    the segment relation (hot keys never shuffle), (b) the forced
    shuffle-join regime — what a 100 TB segment relation uses, where
    AQE skew-split takes over past the 256 MB partition threshold —
    returns IDENTICAL rows, and (c) the C4 keeper rule holds exactly:
    the lowest doc_id keeps the hot segment, every other hot doc
    removes exactly one segment."""
    hot = " ".join(f"boiler{i}" for i in range(8))  # one full 8-token segment
    docs = []
    for i in range(400):
        if i % 2 == 0:  # 50% of docs lead with the hot segment
            docs.append((i, hot + " " + " ".join(f"u{i}x{j}" for j in range(8))))
        else:
            docs.append((i, " ".join(f"v{i}x{j}" for j in range(16))))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    out = text.segment_dedup(df)
    plan = _final_plan(out)
    # r21: the groupBy-screen + join became ONE seg_h-partitioned window
    # (count + min over the gram partition) — there is no segment-
    # relation join left in ANY regime, so the old broadcast-vs-shuffle
    # regime split is gone; a hot key is one window partition bounded
    # by its occurrence count. Pin the shape: a Window, no join.
    assert "Window" in plan, plan[:2000]
    for join_node in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"):
        assert join_node not in plan, plan[:2000]
    rows = sorted(map(tuple, out.collect()))

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # no-broadcast regime (the 100 TB shape): identical rows
        forced = text.segment_dedup(df)
        assert sorted(map(tuple, forced.collect())) == rows
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)

    by_id = {r[0]: r for r in rows}
    cols = out.columns
    n_rem = cols.index("n_removed")
    assert by_id[0][n_rem] == 0  # keeper: lowest (doc_id, seg_id)
    for i in range(2, 400, 2):
        assert by_id[i][n_rem] == 1, (i, by_id[i])
    for i in range(1, 400, 2):
        assert by_id[i][n_rem] == 0


def test_span_coverage_random_reference(spark):
    """Seeded random corpus vs a pure-Python interval-union reference —
    exact agreement on dup-gram counts and covered-token counts."""
    import random

    rng = random.Random(11)
    vocab = ["p", "q", "r", "s"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))))
        for i in range(40)
    ]
    k = 8
    grams = {}
    for doc_id, t in docs:
        toks = t.split()
        for i in range(len(toks) - k + 1):
            g = " ".join(toks[i : i + k])
            grams.setdefault(g, set()).add(doc_id)
    want = {}
    for doc_id, t in docs:
        toks = t.split()
        starts = [
            i
            for i in range(len(toks) - k + 1)
            if len(grams[" ".join(toks[i : i + k])]) >= 2
        ]
        covered = set()
        for s0 in starts:
            covered.update(range(s0, s0 + k))
        want[doc_id] = (len(toks), max(len(toks) - k + 1, 0), len(starts), len(covered))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for r in text.duplicate_span_coverage(df).collect():
        w = want[r["doc_id"]]
        assert (r["n_tokens"], r["n_grams"], r["n_dup_grams"], r["covered_tokens"]) == w


def test_band_index_probe_matches_inplan_lsh(spark, tables):
    """The persisted-index probe finds exactly the query-side band
    collisions the in-plan LSH path finds (restricted to query x
    existing pairs), and every verified near-dup clears the exact
    Jaccard bar recomputed independently."""
    docs = tables["documents"]
    out = dedup.band_index_probe(docs).collect()
    assert out, "sf0.001 corpus plants dups across the 250 split"
    # reference: full-corpus in-plan LSH candidates (threshold 0 keeps
    # every band collision with its shingle-Jaccard), restricted to
    # query x existing pairs
    cand = dedup.minhash_lsh_candidates(docs, jaccard_threshold=0.0).collect()
    ref = {
        (max(r["doc_a"], r["doc_b"]), min(r["doc_a"], r["doc_b"])): r["jaccard"]
        for r in cand
        if (r["doc_a"] < 250) != (r["doc_b"] < 250)
    }
    got = {(r["query_doc_id"], r["match_doc_id"]) for r in out}
    assert got == set(ref)
    for r in out:
        key = (r["query_doc_id"], r["match_doc_id"])
        assert abs(r["jaccard"] - ref[key]) < 1e-9
        assert r["is_near_dup"] == (r["jaccard"] >= 0.8)


def test_compression_ratio_signal_thresholds(spark):
    """Planted corpus: a pure loop compresses hard (too_repetitive), a
    random-hex blob barely compresses (incompressible), prose lands in
    between; bytes accounting is exact and reruns are identical."""
    import random
    import zlib

    import string

    rng = random.Random(3)
    printable = string.ascii_letters + string.digits + string.punctuation
    blob = "".join(rng.choice(printable) for _ in range(2000))
    prose = (
        "the quick brown fox jumps over the lazy dog while a distant "
        "train rattles north through fog and the village bakery opens "
        "its doors to early customers who argue gently about weather "
        "politics and the price of flour before carrying warm loaves "
        "home across cobbled streets that remember older mornings"
    )
    docs = spark.createDataFrame(
        [(1, "spam ham " * 300), (2, blob), (3, prose)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.compression_ratio_signal(docs).collect()}
    assert out[1]["too_repetitive"] and not out[1]["incompressible"]
    assert out[2]["incompressible"] and not out[2]["too_repetitive"]
    assert not out[3]["too_repetitive"] and not out[3]["incompressible"]
    for doc_id, t in [(1, "spam ham " * 300), (2, blob), (3, prose)]:
        raw = t.encode("utf-8")
        assert out[doc_id]["n_bytes"] == len(raw)
        assert out[doc_id]["n_compressed"] == len(zlib.compress(raw, 6))
    again = {r["doc_id"]: r for r in text.compression_ratio_signal(docs).collect()}
    assert {k: tuple(v) for k, v in again.items()} == {k: tuple(v) for k, v in out.items()}


def test_bpe_encode_matches_reference(spark):
    """Corpus encoding with the learned merges equals a pure-python
    train+encode reference; more merges never increase token counts."""
    corpus = "low low low lower lower newest newest newest newest widest"
    docs = spark.createDataFrame([(1, corpus)], "doc_id long, text string")
    out = text.bpe_encode_corpus(docs, n_merges=6).collect()[0]

    from collections import Counter

    vocab = Counter(corpus.split())
    words = {w: list(w) for w in vocab}
    for _ in range(6):
        counts = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += vocab[w]
        if not counts:
            break
        pair = min(counts, key=lambda p: (-counts[p], p[0], p[1]))
        for w, syms in words.items():
            o = []
            for x in syms:
                if o and o[-1] == pair[0] and x == pair[1]:
                    o[-1] = pair[0] + pair[1]
                else:
                    o.append(x)
            words[w] = o
    want_tokens = sum(len(words[w]) * c for w, c in vocab.items())
    n_words = sum(vocab.values())
    assert out["n_words"] == n_words
    assert out["n_subword_tokens"] == want_tokens
    assert out["n_chars"] == sum(len(w) * c for w, c in vocab.items())
    fewer = text.bpe_encode_corpus(docs, n_merges=2).collect()[0]
    assert fewer["n_subword_tokens"] >= out["n_subword_tokens"]


def test_cluster_sizes_conservation(tables):
    """Cluster-size histogram: doc shares sum to 1; sizes x counts sum
    to the component-output row count; singleton share dominates on the
    sf0.001 corpus (healthy long tail)."""
    docs = tables["documents"]
    hist = dedup.duplicate_cluster_sizes(docs).collect()
    n_docs = dedup.duplicate_components(docs).count()
    assert sum(r["cluster_size"] * r["n_clusters"] for r in hist) == n_docs
    assert abs(sum(r["doc_share"] for r in hist) - 1.0) < 1e-4
    ones = [r for r in hist if r["cluster_size"] == 1]
    assert ones and ones[0]["doc_share"] > 0.1


def test_graph_quality_clique_vs_chain(spark):
    """A planted exact-duplicate triple is a perfect clique (density 1,
    one triangle); a planted chain (A~B~C with A,C dissimilar) has
    density 2/3 and zero triangles — the threshold-artifact signature
    the diagnostic exists to expose."""
    tri_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (0, tri_text), (1, tri_text), (2, tri_text),       # clique of 3
            (10, "one two three four five six seven eight nine ten"),
            (11, "one two three four five six seven eight nine zzz"),
            (12, "one two three four five six seven eight qqq zzz"),
            (50, "wholly unrelated content sits alone here today now"),
        ],
        "doc_id long, text string",
    )
    rows = {r["component_id"]: r for r in dedup.duplicate_graph_quality(docs).collect()}
    clique = rows[0]
    assert clique["size"] == 3 and clique["n_edges"] == 3
    assert clique["density"] == 1.0 and clique["n_triangles"] == 1
    chain = rows[10]
    assert chain["size"] == 3 and chain["n_edges"] == 2
    assert chain["density"] == round(2 / 3, 6) and chain["n_triangles"] == 0
    assert 50 not in rows  # singletons excluded


def test_graph_quality_degree_orientation_bounds_two_paths(spark):
    """Planted hot-component stress (the VERDICT r7 scale flag): a
    999-edge hub star (84% of all edges in one component — the
    boilerplate-doc pathology) plus a 20-clique. EXECUTED row counts:
    the degree-oriented two-path join stays within O(m·√m) (here it is
    exactly the 1140 clique paths — the hub contributes ZERO because
    every star edge points INTO the max-degree hub), while the
    id-oriented join materializes ~250k rows through the mid-id hub —
    two orders of magnitude past the bound. Triangle counts from the
    oriented join are exact: C(20,3) for the clique, 0 for the star."""
    import math

    hub, leaves = 500, [i for i in range(1000) if i != 500]
    clique = list(range(2000, 2020))
    edges = [(min(hub, v), max(hub, v)) for v in leaves]
    edges += [(a, b) for i, a in enumerate(clique) for b in clique[i + 1:]]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    m = len(edges)
    assert 999 / m > 0.8  # ≥80% of edges in the hot component

    oriented = dedup._orient_edges_by_degree(pairs)
    xy = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    yz = oriented.select(F.col("lo").alias("y2"), F.col("hi").alias("z"))
    two_paths = xy.join(yz, F.col("y") == F.col("y2"))
    deg_rows = two_paths.count()
    assert deg_rows <= m * math.sqrt(m), (deg_rows, m)
    assert deg_rows == 1140  # only the clique's paths; hub contributes 0

    # the exact triangle closure over the oriented DAG
    xz = oriented.select(F.col("lo").alias("x3"), F.col("hi").alias("z3"))
    tri = two_paths.join(
        xz, (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3"))
    ).count()
    assert tri == math.comb(20, 3)

    # the OLD id-oriented shape blows up through the mid-id hub
    ab = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    bc = pairs.select(F.col("doc_a").alias("b2"), F.col("doc_b").alias("c"))
    id_rows = ab.join(bc, F.col("b") == F.col("b2")).count()
    assert id_rows > 40 * deg_rows, (id_rows, deg_rows)
    assert id_rows > m * math.sqrt(m)


def test_kcenter_coreset_invariants(tables):
    """Farthest-point traversal: picks are distinct corpus members, the
    start is the lowest vec_id, radii are non-increasing (each new pick
    is at most as far as the last), reruns identical, and every pick
    beats random selection's coverage on the planted-cluster corpus
    (picks span > half the label set)."""
    emb = tables["embeddings"]
    out = similarity.kcenter_coreset(emb, k=12).collect()
    assert len(out) == 12
    ids = [r["vec_id"] for r in out]
    assert len(set(ids)) == 12
    by_rank = sorted(out, key=lambda r: r["pick_order"])
    assert by_rank[0]["vec_id"] == emb.agg(F.min("vec_id")).collect()[0][0]
    radii = [r["radius"] for r in by_rank[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))
    assert all(r > 0 for r in radii)
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    n_labels = len(set(labels.values()))
    assert len({labels[i] for i in ids}) > n_labels / 2
    again = similarity.kcenter_coreset(emb, k=12).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_knn_label_transfer_quality(spark, tables):
    """Structure on the real corpus (one prediction per query, 1..5
    votes, deterministic); QUALITY on a planted clustered space, where
    transfer must be near-perfect — the sf0.001 synthetic embeddings
    are too weakly clustered to carry an accuracy claim."""
    emb = tables["embeddings"]
    out = similarity.knn_label_transfer(emb).collect()
    qn = emb.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 200)).count()
    assert len(out) == qn
    assert all(1 <= r["n_votes"] <= 5 for r in out)
    again = similarity.knn_label_transfer(emb).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))

    import random

    rng = random.Random(5)
    rows = []
    for i in range(300):
        label = i % 3
        center = [0.0] * 12
        center[label * 4] = 10.0  # well-separated cluster axes
        vec = [c + rng.gauss(0, 0.5) for c in center]
        rows.append((i, vec, label))
    planted = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    p_out = similarity.knn_label_transfer(planted).collect()
    acc = sum(r["agrees"] for r in p_out) / len(p_out)
    assert acc > 0.95, f"planted-cluster transfer accuracy {acc}"


def test_span_corruption_plan_properties(tables):
    """Deterministic masking plan: masked fraction concentrates near
    mask_rate on long docs; every counted span is a non-empty maximal
    masked run (spans <= masked <= tokens); reruns identical; changing
    mask_rate moves the mass."""
    docs = tables["documents"]
    out = text.span_corruption_plan(docs).collect()
    assert len(out) == docs.count()
    long_docs = [r for r in out if r["n_tokens"] >= 60]
    assert long_docs
    mean_frac = sum(r["masked_frac"] for r in long_docs) / len(long_docs)
    assert 0.08 < mean_frac < 0.25, mean_frac
    for r in out:
        assert r["n_spans"] <= r["n_masked"] <= r["n_tokens"]
        assert (r["plan_fingerprint"] is None) == (r["n_spans"] == 0)
    again = text.span_corruption_plan(docs).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    heavier = text.span_corruption_plan(docs, mask_rate=0.45).collect()
    h = [r for r in heavier if r["n_tokens"] >= 60]
    assert sum(r["masked_frac"] for r in h) / len(h) > mean_frac * 1.8


def test_late_wave_plan_scan_bounds(tables):
    """Scan-count guards for the later waves: span-corruption reads
    documents at most twice (base + position branches); kNN label
    transfer reads embeddings at most twice (corpus + broadcast query
    panel). The components-derived reports (cluster sizes, graph
    quality) are bounded by the fixpoint machinery they share, not by a
    scan count — graph_quality's single-pair-join discipline is
    asserted semantically in its clique/chain test."""
    docs, emb = tables["documents"], tables["embeddings"]
    assert _final_plan(text.span_corruption_plan(docs)).count("FileScan parquet") <= 2
    assert _final_plan(similarity.knn_label_transfer(emb)).count("FileScan parquet") <= 2


def test_kcenter_coreset_early_stop_on_duplicates(spark):
    """k above the number of DISTINCT vectors: the greedy stops instead
    of emitting duplicate centers with radius 0; empty input raises."""
    import pytest

    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.kcenter_coreset(emb, k=4).collect()
    assert len(out) == 2  # only two distinct vectors exist
    assert len({r["vec_id"] for r in out}) == 2
    assert all(r["radius"] is None or r["radius"] > 0 for r in out)
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty embeddings"):
        similarity.kcenter_coreset(empty, k=2)


def test_feature_hashing_conservation_and_determinism(tables):
    """The sparse featurization conserves token mass (sum of weights ==
    corpus token count), buckets stay in range, identical reruns, and
    a doc's features reconstruct its exact token multiset size."""
    docs = tables["documents"]
    out = text.feature_hashing(docs).collect()
    total = sum(r["weight"] for r in out)
    n_tokens = docs.select(
        F.size(F.split(text._norm_text(F.col("text")), " ")).alias("n")
    ).agg(F.sum("n")).collect()[0][0]
    assert total == n_tokens
    assert all(0 <= r["bucket"] < 4096 for r in out)
    again = text.feature_hashing(docs).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_registry_queries_threadsafe(spark, tables):
    """queries() callables may run from threads (the driver's stated
    contract): hammer the registry-backed operators (MinHash plan
    cache, IVF cache, BPE merge memo) from 4 threads concurrently and
    assert every thread sees the single-threaded answer."""
    import threading

    emb, docs = tables["embeddings"], tables["documents"]
    want_ivf = sorted(map(tuple, similarity.cosine_topk_ivf(emb).collect()))
    want_lsh = sorted(map(tuple, dedup.minhash_lsh_candidates(docs).collect()))
    want_bpe = sorted(map(tuple, text.bpe_train(docs, n_merges=5).collect()))
    results, errors = {}, []

    def worker(i):
        try:
            r1 = sorted(map(tuple, similarity.cosine_topk_ivf(emb).collect()))
            r2 = sorted(map(tuple, dedup.minhash_lsh_candidates(docs).collect()))
            r3 = sorted(map(tuple, text.bpe_train(docs, n_merges=5).collect()))
            results[i] = (r1 == want_ivf, r2 == want_lsh, r3 == want_bpe)
        except Exception as e:  # pragma: no cover - failure reporting
            errors.append((i, repr(e)))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    assert len(results) == 4
    assert all(all(v) for v in results.values()), results


def test_snapshot_diff_partition_of_ids(tables):
    """The changelog is a PARTITION of the id universe: statuses are
    mutually exclusive and collectively exhaustive; planted deletions
    (< 20), edits (% 37), and additions (>= 450) land in their
    statuses; unchanged docs carry equal fingerprints."""
    from datalake_local_spark.llm import pipeline as llm_pipeline

    docs = tables["documents"]
    out = {r["doc_id"]: r for r in llm_pipeline.corpus_snapshot_diff(docs).collect()}
    n = docs.count()
    assert len(out) == n  # every id appears exactly once
    for i, r in out.items():
        if i < 20:
            assert r["status"] == "removed" and r["new_fp"] is None
        elif i >= 450:
            assert r["status"] == "added" and r["old_fp"] is None
        elif i % 37 == 0:
            assert r["status"] == "changed" and r["old_fp"] != r["new_fp"]
        else:
            assert r["status"] == "unchanged" and r["old_fp"] == r["new_fp"]


def test_containment_hand_computed(spark):
    """Broder directional containment on a planted quote-inclusion pair:
    doc 0 (4 tokens) is wholly contained in doc 1 (8 tokens) →
    cont_a_in_b = 4/4 = 1.0, cont_b_in_a = 4/8 = 0.5 — the low-Jaccard
    (4/8 = 0.5 union-diluted) case the operator exists to catch. A
    token-disjoint doc never pairs (inner equi-join)."""
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "wholly disjoint vocabulary right here"),
        ],
        "doc_id long, text string",
    )
    rows = dedup.token_containment_pairs(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (0, 1)
    assert r["cont_a_in_b"] == 1.0 and r["cont_b_in_a"] == 0.5


def test_containment_stopword_hub_regimes(spark):
    """Stopword-hub pathology (the inverted-index join's scale killer):
    one token in EVERY doc fans the token equi-join to n·(n-1)/2 rows.
    The CCNet-style max_df cap prunes it: executed token-join rows
    collapse from quadratic-in-corpus to the true-overlap handful, and
    the genuine near-dup pair (3 of 4 non-stop tokens shared → 0.75)
    is still found. Uncapped, the same pair scores 4/5 = 0.8 (the
    stopword inflates containment for every pair — zero signal)."""
    n = 60
    rows = [(0, "the w0 w1 w2 w3"), (1, "the w0 w1 w2 zz")]
    rows += [(i, f"the u{i}a u{i}b u{i}c u{i}d") for i in range(2, n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def token_join_rows(max_df):
        toks = docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(F.split(dedup._norm_text(F.col("text")), " "))
            ).alias("token"),
        )
        if max_df is not None:
            dfc = toks.groupBy("token").agg(F.count("*").alias("df"))
            toks = toks.join(dfc.filter(F.col("df") <= max_df).select("token"), "token")
        a, b = toks.alias("a"), toks.alias("b")
        return a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).count()

    uncapped, capped = token_join_rows(None), token_join_rows(30)
    assert uncapped >= n * (n - 1) / 2  # "the" alone is quadratic
    assert capped == 3  # only the true overlap (w0, w1, w2) survives
    out = {
        (r["doc_a"], r["doc_b"]): r
    for r in dedup.token_containment_pairs(docs, max_df=30).collect()}
    assert set(out) == {(0, 1)}
    assert out[(0, 1)]["cont_a_in_b"] == 0.75 == out[(0, 1)]["cont_b_in_a"]
    base = {
        (r["doc_a"], r["doc_b"]): r
    for r in dedup.token_containment_pairs(docs).collect()}
    assert base[(0, 1)]["cont_a_in_b"] == 0.8  # stopword-inflated


def test_bigram_logprob_matches_pure_python(spark):
    """Add-one bigram LM score vs a pure-python reference (Jurafsky &
    Martin ch. 3 formulation): identical corpus counts, V from distinct
    unigrams, P = (c(w1,w2)+1)/(c(w1)+V); per-doc mean/min of log10 P
    to 6dp. A <2-token doc surfaces with n_bigrams=0 and NULL score."""
    import math
    from collections import Counter

    texts = {
        0: "the cat sat on the mat",
        1: "the cat sat",
        2: "dogs chase the cat",
        3: "mat",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    toks = {i: t.split() for i, t in texts.items()}
    uni = Counter(w for ws in toks.values() for w in ws)
    bi = Counter(
        (ws[j], ws[j + 1]) for ws in toks.values() for j in range(len(ws) - 1)
    )
    v = len(uni)
    expected = {}
    for i, ws in toks.items():
        lps = [
            math.log10((bi[(ws[j], ws[j + 1])] + 1) / (uni[ws[j]] + v))
            for j in range(len(ws) - 1)
        ]
        expected[i] = (
            len(lps),
            round(sum(lps) / len(lps), 6) if lps else None,
            round(min(lps), 6) if lps else None,
        )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["mean_log10_p"], r["min_log10_p"])
        for r in text.bigram_logprob(docs).collect()
    }
    for i in texts:
        assert got[i][0] == expected[i][0], i
        for g, e in zip(got[i][1:], expected[i][1:]):
            if e is None:
                assert g is None
            else:
                assert abs(g - e) < 2e-6, (i, g, e)


def _pure_python_pagerank(edges, damping=0.85, tol=1e-12, max_iter=500):
    """Reference power method: undirected edges → both directions, no
    dangling term (every node has out-degree ≥ 1), teleport (1-d)/N.
    Same L1-delta stopping rule as the Spark loop, so with matching
    (tol, max_iter) the TRAJECTORIES match, not just the fixpoint —
    star components are near-bipartite and contract only at rate
    ``damping`` per round, so they may stop at the cap."""
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    adj = {u: [] for u in nodes}
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    rank = {u: 1.0 / n for u in nodes}
    for _ in range(max_iter):
        new = {u: (1.0 - damping) / n for u in nodes}
        for u in nodes:
            share = damping * rank[u] / len(adj[u])
            for v in adj[u]:
                new[v] += share
        delta = sum(abs(new[u] - rank[u]) for u in nodes)
        rank = new
        if delta < tol:
            break
    return rank


def test_pagerank_matches_pure_python_reference(spark):
    """The docstring's claimed test: Spark power method vs the pure-python
    reference on a planted star + triangle (two components), SAME
    stopping rule (tol, cap) → rank trajectories equal within 6dp
    rounding; total rank mass == 1 at every iterate (teleport
    conservation); the star hub out-ranks every leaf (the
    keep-the-canonical-doc policy rank). A regular graph (triangle
    alone) is stationary from the uniform start — the fully-CONVERGED
    fixpoint check, one round, exact thirds."""
    edges = [(0, 1), (0, 2), (0, 3), (0, 4), (10, 11), (11, 12), (10, 12)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    got = {
        r["doc_id"]: r["pagerank"]
        for r in dedup.pagerank_dup_graph(docs, pairs=pairs).collect()
    }
    ref = _pure_python_pagerank(edges, damping=0.85, tol=1e-4, max_iter=30)
    assert set(got) == set(ref)
    for u in ref:
        assert abs(got[u] - ref[u]) < 2e-6, (u, got[u], ref[u])
    assert abs(sum(got.values()) - 1.0) < 1e-4  # mass conservation
    assert all(got[0] > got[leaf] for leaf in (1, 2, 3, 4))  # hub wins

    tri = spark.createDataFrame(
        [(10, 11), (11, 12), (10, 12)], "doc_a long, doc_b long"
    )
    got3 = {
        r["doc_id"]: r["pagerank"]
        for r in dedup.pagerank_dup_graph(docs, pairs=tri).collect()
    }
    assert all(abs(v - 1 / 3) < 2e-6 for v in got3.values())  # converged


def test_pagerank_empty_graph_returns_empty(spark):
    """No pairs clear the threshold → zero-row frame with the contract
    schema instead of ZeroDivisionError (ADVICE r8 finding)."""
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    out = dedup.pagerank_dup_graph(docs)
    assert out.columns == ["doc_id", "pagerank"]
    assert out.count() == 0


def test_pagerank_from_band_index_feed(spark):
    """Scale-path wiring (VERDICT r9 task): the rank runs off the SAME
    persisted LSH band index as components — write_band_index →
    candidates_from_band_index → pagerank(pairs=...). Planted
    exact-duplicate cluster collides in every band, so the fed graph is
    non-empty and mass ≈ 1 over its nodes."""
    dup = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    rows = [(i, dup) for i in range(4)] + [
        (i, f"unique{i} filler{i} tokens{i} here{i} now{i} ok{i} go{i} end{i}")
        for i in range(4, 12)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    table = "band_index_pagerank_test"
    dedup.write_band_index(docs, table)
    cands = dedup.candidates_from_band_index(spark, table)
    got = {
        r["doc_id"]: r["pagerank"]
        for r in dedup.pagerank_dup_graph(docs, pairs=cands).collect()
    }
    assert set(got) == {0, 1, 2, 3}  # the planted cluster, nothing else
    assert abs(sum(got.values()) - 1.0) < 1e-4


def _pure_python_kcore(edges):
    """Reference Batagelj–Zaveršnik peel: coreness = the k at which a
    node is removed minus 1, k ascending, repeated peel per k."""
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    nodes, core, k = set(adj), {}, 0
    while nodes:
        k += 1
        while True:
            weak = [u for u in nodes if len(adj[u]) < k]
            if not weak:
                break
            for u in weak:
                core[u] = k - 1
                for v in adj[u]:
                    adj[v].discard(u)
                adj[u].clear()
                nodes.discard(u)
    return core


def test_kcore_matches_pure_python_reference(spark):
    """Coreness vs the pure-python peel on a planted mix: a 5-clique
    (coreness 4 each), a star hanging off it (leaves coreness 1), and a
    path whose middle node loses all edges mid-peel (the regression
    case: nodes must be tracked separately from edges or the middle
    node vanishes without a coreness)."""
    clique = [(a, b) for i, a in enumerate(range(5)) for b in range(i + 1, 5)]
    star = [(0, 10), (0, 11), (0, 12)]
    path = [(20, 21), (21, 22)]
    edges = clique + star + path
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    got = {
        r["doc_id"]: r["coreness"]
        for r in dedup.kcore_decomposition(docs, pairs=pairs).collect()
    }
    ref = _pure_python_kcore(edges)
    assert got == ref, (got, ref)
    assert got[0] == 4 and got[10] == 1 and got[21] == 1  # spot values


def test_degree_profile_conservation(spark):
    """Degree histogram invariants on a planted graph: Σ(degree·n_docs)
    = 2·|pairs| (handshake lemma), shares sum to 1, and the planted
    exact-dup triple lands every member at degree 2."""
    tri = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (0, tri), (1, tri), (2, tri),
            (10, "one two three four five six seven eight nine ten"),
            (11, "one two three four five six seven eight nine zzz"),
            (50, "wholly unrelated content sits alone here today now"),
        ],
        "doc_id long, text string",
    )
    n_pairs = dedup.ngram_token_jaccard_pairs(docs, 100, 0.8).count()
    hist = dedup.dup_graph_degree_profile(docs).collect()
    assert sum(r["degree"] * r["n_docs"] for r in hist) == 2 * n_pairs
    assert abs(sum(r["doc_share"] for r in hist) - 1.0) < 1e-4
    by_deg = {r["degree"]: r["n_docs"] for r in hist}
    assert by_deg[2] == 3  # the exact-dup triple is a triangle
    assert by_deg[1] == 2  # the near-dup pair


def test_cm_heavy_hitters_never_underestimates(spark):
    """The Count-Min guarantee on a planted corpus: estimate ≥ exact for
    every reported token (collisions only add), the top token is the
    planted heavy hitter with its exact count, and the report is
    bounded at top_n."""
    rows = [(i, "apple " * 50 + f"filler{i} junk{i} more{i}") for i in range(10)]
    rows += [(100 + i, "banana cherry date " + f"u{i} v{i}") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.cm_heavy_hitters(docs, top_n=10).collect()
    assert len(out) == 10
    assert all(r["cm_estimate"] >= r["exact_count"] for r in out)
    assert all(r["overestimate"] == r["cm_estimate"] - r["exact_count"] for r in out)
    top = out[0]
    assert top["token"] == "apple" and top["exact_count"] == 500


def test_keep_policy_prefers_hub_over_min_id(spark):
    """Planted star cluster whose HUB is doc 2 (every leaf pairs only
    with it): keep-policy keeps 2 — a min-id policy would keep 0. An
    exact-dup pair (equal ranks) tie-breaks to the lowest id."""
    base = "ta tb tc td te tf tg th ti tj"
    docs = spark.createDataFrame(
        [
            (0, base.replace("ta", "x0")),
            (1, base.replace("tb", "x1")),
            (2, base),                      # hub: pairs with 0, 1, 3
            (3, base.replace("tc", "x3")),
            (10, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (11, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ],
        "doc_id long, text string",
    )
    rows = {r["component_id"]: r for r in dedup.canonical_keep_policy(docs).collect()}
    star = rows[0]  # component id = min member id
    assert star["keep_doc_id"] == 2 and star["n_members"] == 4
    assert star["n_dropped"] == 3
    pair = rows[10]
    assert pair["keep_doc_id"] == 10 and pair["n_members"] == 2  # tie → min id


def test_mmr_diversifies_near_duplicate_runnerup(spark, tables):
    """MMR contract: rank 1 is the pure-relevance winner; with a
    diversity-heavy λ, a near-duplicate of the first pick is DEMOTED
    below a less-relevant-but-diverse vector (the case plain top-k
    cannot express); picks are k distinct ids and deterministic across
    runs; on the real embeddings fixture rank 1 equals brute-force
    top-1."""
    planted = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),     # query
            (1, [1.0, 0.001, 0.0]),   # most relevant
            (2, [0.999, 0.04, 0.0]),  # near-dup of 1
            (3, [0.6, 0.8, 0.0]),     # diverse
            (4, [0.0, 0.1, 1.0]),     # orthogonal-ish
        ],
        "vec_id long, embedding array<double>",
    )
    out = similarity.mmr_diversify(planted, query_id=0, pool=4, k=3, lam=0.3).collect()
    order = [r["corpus_id"] for r in out]
    assert order[0] == 1          # pure relevance first
    assert order[1] in (3, 4)     # the near-dup (2) is demoted
    assert 2 not in order[:2]
    again = similarity.mmr_diversify(planted, query_id=0, pool=4, k=3, lam=0.3).collect()
    assert [r["corpus_id"] for r in again] == order  # deterministic

    emb = tables["embeddings"]
    got = similarity.mmr_diversify(emb, query_id=0, pool=20, k=5).collect()
    assert len(got) == 5 and len({r["corpus_id"] for r in got}) == 5
    brute = similarity.cosine_topk_bruteforce(emb, query_ids=(0,), k=1).collect()
    assert got[0]["corpus_id"] == brute[0]["corpus_id"]


def test_mmr_negative_cosine_pool_keeps_diversity_term(spark):
    """A pool where every post-first-pick max_sel_sim is NEGATIVE: the
    old `max_sel_sim < 0` first-pick sentinel re-fired here and scored
    every later pick by pure relevance. Correct MMR keeps the diversity
    term: the anti-similar vector (2) beats the higher-relevance but
    less-diverse vector (4) at rank 2, and 2's near-duplicate (3) is
    excluded entirely."""
    planted = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),     # query
            (1, [0.9, 0.1, 0.0]),     # top relevance → rank 1
            (2, [-1.0, 0.05, 0.0]),   # anti-similar to 1 → most diverse
            (3, [-1.0, 0.0, 0.05]),   # near-dup of 2
            (4, [-0.5, -0.86, 0.0]),  # higher relevance than 2, less diverse
        ],
        "vec_id long, embedding array<double>",
    )
    out = similarity.mmr_diversify(planted, query_id=0, pool=4, k=3, lam=0.3).collect()
    order = [r["corpus_id"] for r in out]
    assert order[0] == 1
    # diversity term active: one of the anti-similar pair beats the
    # higher-relevance 4 at rank 2 (the sentinel bug picked 4 here)
    assert order[1] in (2, 3)
    # and its near-duplicate is excluded from the final picks
    assert not {2, 3} <= set(order)
    assert 4 in order


def test_ann_recall_report_invariants(tables):
    """Recall@k bounds: every recall in [0,1]; the average row
    (query_id = -1) equals the mean of its method's per-query rows;
    all three methods present with the full query panel; IVF with
    nprobe=all-centroids would be exact — here we assert the weaker
    published-bound: no method reports recall > 1 and the report is
    deterministic across runs."""
    out1 = similarity.ann_recall_report(tables["embeddings"]).collect()
    out2 = similarity.ann_recall_report(tables["embeddings"]).collect()
    assert [tuple(r) for r in out1] == [tuple(r) for r in out2]
    by_m = {}
    for r in out1:
        by_m.setdefault(r["method"], {})[r["query_id"]] = r["recall_at_k"]
    assert set(by_m) == {"lsh", "lsh_multiprobe", "ivf"}
    for m, rows in by_m.items():
        per_q = [v for q, v in rows.items() if q != -1]
        assert len(per_q) == 5
        assert all(0.0 <= v <= 1.0 for v in per_q)
        assert abs(rows[-1] - round(sum(per_q) / len(per_q), 6)) < 1e-4, m


def test_minhash_calibration_estimator_quality(spark, tables):
    """Estimator invariants: exact duplicates estimate 1.0 with zero
    error; on the fixture pairs the mean |error| stays inside a loose
    3× binomial-stderr bound for H=16 (√(J(1−J)/16) ≤ 0.125)."""
    dup = "the quick brown fox jumps over the lazy dog again and again"
    planted = spark.createDataFrame(
        [(0, dup), (1, dup), (2, "totally different words entirely here")],
        "doc_id long, text string",
    )
    rows = dedup.minhash_calibration(planted).collect()
    pair = [r for r in rows if {r["doc_a"], r["doc_b"]} == {0, 1}]
    assert pair and pair[0]["minhash_estimate"] == 1.0
    assert pair[0]["abs_error"] == 0.0

    fixture = dedup.minhash_calibration(tables["documents"]).collect()
    assert fixture
    mean_err = sum(r["abs_error"] for r in fixture) / len(fixture)
    assert mean_err <= 3 * 0.125, mean_err


def test_rake_hand_computed(spark):
    """RAKE on the canonical tiny example: 'red apple and green apple'
    splits at the stopword into two 2-token phrases; deg(apple)=4,
    freq(apple)=2, deg(red)=deg(green)=2 freq 1 → both phrases score
    2/1 + 4/2 = 4.0. A stopword-only doc yields no phrases."""
    docs = spark.createDataFrame(
        [(0, "red apple and green apple"), (1, "the and of")],
        "doc_id long, text string",
    )
    out = {r["phrase"]: r for r in text.rake_keywords(docs).collect()}
    assert set(out) == {"red apple", "green apple"}
    assert out["red apple"]["rake_score"] == 4.0
    assert out["green apple"]["rake_score"] == 4.0
    assert out["red apple"]["n_occurrences"] == 1


def test_round9_plan_scan_bounds(tables):
    """Scan-count guards for the round-9 single-scan claims: the AQE
    final plans read their source at most the documented number of
    times (dedup_rate_by_source 1, cm_heavy_hitters 2 — exact counts +
    sketch, rake 1 — one token materialization feeding islands)."""
    def n_scans(df, token="documents"):
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Location: InMemoryFileIndex") + plan.count("parquet." )

    docs = tables["documents"]
    rate = dedup.dedup_rate_by_source(docs)
    rate.count()
    p = rate._jdf.queryExecution().executedPlan().toString()
    assert p.lower().count("filescan parquet") <= 1, "dedup_rate: one scan"
    cm = text.cm_heavy_hitters(docs)
    cm.count()
    p = cm._jdf.queryExecution().executedPlan().toString()
    assert p.lower().count("filescan parquet") <= 2, "cm: exact + sketch"


def test_embedding_dim_profile_hand_computed(spark):
    """Planted 3-dim vectors: dim 0 has mean 2, sample var 1; dim 1 is
    all-zero (dead dim: n_zero = n, var 0); dim 2 is a constant
    NEGATIVE (exercises the negative-mean path where integer
    div-rounding tricks would diverge between engines)."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, -2.0]), (1, [3.0, 0.0, -2.0]), (2, [2.0, 0.0, -2.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {r["dim"]: r for r in similarity.embedding_dim_profile(emb).collect()}
    assert rows[0]["mean_v"] == 2.0 and rows[0]["var_v"] == 1.0
    assert rows[0]["min_v"] == 1.0 and rows[0]["max_v"] == 3.0
    assert rows[1]["n_zero"] == 3 and rows[1]["var_v"] == 0.0
    assert rows[2]["mean_v"] == -2.0 and rows[2]["var_v"] == 0.0
    assert rows[2]["n_zero"] == 0


def test_stickiness_hand_computed(spark):
    """Users 1,2 active day 0; user 1 also day 1; user 3 active day 10.
    WAU(d) counts users active in [d-6, d]: stickiness(d0) = 2/2,
    stickiness(d1) = 1/2; day 10 is isolated (1/1); the trailing
    6-day WAU echo past each last-active day is NOT emitted."""
    import datetime

    from datalake_local_spark.operators import funnel

    d = lambda i: datetime.datetime(2024, 1, 1 + i, 12, 0)  # noqa: E731
    ev = spark.createDataFrame(
        [
            (1, d(0), 1, "view", 1.0, "{}"),
            (2, d(0), 2, "view", 1.0, "{}"),
            (3, d(1), 1, "view", 1.0, "{}"),
            (4, d(10), 3, "view", 1.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = {r["day"].day: r for r in funnel.stickiness_profile(ev).collect()}
    assert set(out) == {1, 2, 11}
    assert out[1]["dau"] == 2 and out[1]["wau"] == 2 and out[1]["stickiness"] == 1.0
    assert out[2]["dau"] == 1 and out[2]["wau"] == 2 and out[2]["stickiness"] == 0.5
    assert out[11]["dau"] == 1 and out[11]["wau"] == 1


def test_lsh_scurve_properties(spark):
    """S-curve invariants: P is monotone in J for every banding; at a
    fixed J below the inflection, more/shorter bands (8×2) give HIGHER
    candidate probability than fewer/longer (2×8); endpoints bounded in
    (0, 1); and the 4×4 value at J=0.5 equals the hand-computed
    1 − (1 − 0.5⁴)⁴ = 0.226664."""
    rows = dedup.lsh_scurve(spark).collect()
    by_cfg = {}
    for r in rows:
        by_cfg.setdefault(r["bands"], []).append((r["jaccard"], r["p_candidate"]))
    assert set(by_cfg) == {2, 4, 8}
    for b, series in by_cfg.items():
        series.sort()
        ps = [p for _, p in series]
        assert all(a <= b2 for a, b2 in zip(ps, ps[1:])), b
        # 6dp rounding carries the flat tails to exactly 0.0 / 1.0
        # (J=0.05 with r=8 gives P ≈ 8e-11)
        assert all(0.0 <= p <= 1.0 for p in ps)
    low_j = {b: dict(v)[0.2] for b, v in by_cfg.items()}
    assert low_j[8] > low_j[4] > low_j[2]
    assert dict(by_cfg[4])[0.5] == round(1 - (1 - 0.5**4) ** 4, 6)


def test_pair_geometry_detects_collapse(spark):
    """A collapsed space (all vectors identical) puts every stride pair
    in the top bucket with mean_cos = 1; an orthogonal basis puts every
    pair at cosine 0 (bucket 0). The screen must separate the two."""
    collapsed = spark.createDataFrame(
        [(i, [1.0, 2.0, 2.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    out = similarity.pair_geometry(collapsed, strides=(1,)).collect()
    assert len(out) == 1
    assert out[0]["bucket"] == 10 and out[0]["mean_cos"] == 1.0
    assert out[0]["share"] == 1.0

    basis = spark.createDataFrame(
        [(i, [1.0 if j == i else 0.0 for j in range(4)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    out2 = similarity.pair_geometry(basis, strides=(1,)).collect()
    assert len(out2) == 1
    assert out2[0]["bucket"] == 0 and out2[0]["mean_cos"] == 0.0
    assert out2[0]["n_pairs"] == 3


def test_triangles_hand_computed(spark):
    """K3 plus a pendant edge: nodes 1,2,3 form one triangle (node 3
    also touches pendant 4). Triangle counts 1/1/1/0; clustering
    1.0 / 1.0 / 2·1/(3·2)=0.333333 / 0.0 (degree-1 convention)."""
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "doc_a long, doc_b long"
    )
    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in dedup.dup_graph_triangles(docs, pairs=pairs).collect()}
    assert {k: r["triangles"] for k, r in rows.items()} == {1: 1, 2: 1, 3: 1, 4: 0}
    assert rows[1]["clustering"] == 1.0
    assert rows[3]["degree"] == 3
    assert rows[3]["clustering"] == 0.333333
    assert rows[4]["clustering"] == 0.0


def test_triangles_counts_each_once(spark):
    """K4: every node is in C(3,2)=3 triangles, clustering 1.0 —
    the degree-ordered orientation must not double-count or drop
    triangles whose nodes tie on degree (all tie in K4)."""
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    rows = dedup.dup_graph_triangles(docs, pairs=pairs).collect()
    assert len(rows) == 4
    assert all(r["triangles"] == 3 and r["clustering"] == 1.0 for r in rows)


def test_fuzzy_entity_pairs_hand_computed(spark):
    """'acme widget' ↔ 'acme widgit' is one substitution; 'zcme widgit'
    is distance 1 from 'acme widgit' but first-letter blocking excludes
    the cross-block pair (the documented blocking recall tradeoff);
    'bolt' matches nothing within distance 2."""
    part = spark.createDataFrame(
        [(1, "acme widget"), (2, "acme widgit"), (3, "acme widgit"),
         (4, "zcme widgit"), (5, "bolt")],
        "p_partkey long, p_name string",
    )
    rows = dedup.fuzzy_entity_pairs(part, max_dist=2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["name_a"], r["name_b"], r["dist"]) == ("acme widget", "acme widgit", 1)
    assert (r["rows_a"], r["rows_b"]) == (1, 2)


def test_phrase_search_counts_overlapping(spark):
    """'a b a b a' contains 'a b' at positions 0 and 2, and the
    overlapping 'b a b' once — the positional-index semantics a
    substring-replace count would miss."""
    docs = spark.createDataFrame(
        [(0, "a b a b a"), (1, "b b b"), (2, "a b")],
        "doc_id long, text string",
    )
    out = text.phrase_search(docs, phrases=("a b", "b a b"), top_k=5).collect()
    got = {(r["phrase"], r["doc_id"]): r["n_occurrences"] for r in out}
    assert got[("a b", 0)] == 2
    assert got[("a b", 2)] == 1
    assert got[("b a b", 0)] == 1
    assert ("a b", 1) not in got


def test_jaccard_prefix_filter_equals_naive(spark):
    """Prefix filtering is a lossless candidate pruning: on a corpus
    with identical pairs, near-misses, and a length-filter casualty,
    the PPJoin-style plan must return exactly the naive verifier's
    pairs (same docs, same 6dp jaccard values)."""
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon"),
            (1, "alpha beta gamma delta epsilon"),      # J=1.0 with 0
            (2, "alpha beta gamma delta zeta"),          # J=4/6 with 0 (below 0.8)
            (3, "alpha beta gamma delta epsilon zeta"),  # J=5/6=0.833 with 0/1
            (4, "alpha"),                                # length filter kills it
        ],
        "doc_id long, text string",
    )
    naive = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_token_jaccard_pairs(docs, 100, 0.8).collect()
    }
    pf = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_prefix_filter_pairs(docs, 100, 0.8).collect()
    }
    assert pf == naive
    assert (0, 1) in pf and pf[(0, 1)] == 1.0
    assert (0, 3) in pf and pf[(0, 3)] == 0.833333
    assert all(4 not in k for k in pf)


def test_touch_attribution_hand_computed(spark):
    """User 1: click then view then purchase(10.00) → first_touch
    credits click, last_touch credits view. User 2: purchase(5.00)
    whose only click is 8 days earlier → both models bucket 'none'."""
    from datalake_local_spark.operators import funnel
    rows = [
        (1, 1, "2024-01-01 00:00:00", "click", 0.0),
        (2, 1, "2024-01-02 00:00:00", "view", 0.0),
        (3, 1, "2024-01-03 00:00:00", "purchase", 10.0),
        (4, 2, "2024-01-01 00:00:00", "click", 0.0),
        (5, 2, "2024-01-09 12:00:00", "purchase", 5.0),
    ]
    events = spark.createDataFrame(
        [(i, u, t, e, v) for i, u, t, e, v in rows],
        "event_id long, user_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        (r["model"], r["touch_type"]): (r["n_purchases"], r["revenue_cents"])
        for r in funnel.touch_attribution(events).collect()
    }
    assert out[("first_touch", "click")] == (1, 1000)
    assert out[("last_touch", "view")] == (1, 1000)
    assert out[("first_touch", "none")] == (1, 500)
    assert out[("last_touch", "none")] == (1, 500)
    assert ("last_touch", "click") not in out


def test_graph_local_paths_match_distributed(spark, monkeypatch):
    """The driver paths (k-core peel, components union-find, pagerank
    power iteration) must agree with their distributed fixpoint twins
    (forced by patching the driver limit to 0) on a planted mix —
    identical coreness and component labels (exact integers), pagerank
    within the 6dp rounding band.

    The choice itself bounds what the driver collects, so it is made on
    DIRECTED EDGE rows, not nodes: with the limit patched to 20, a
    6-clique (6 nodes, 30 edge rows) runs the distributed loop in all six
    kernels, and a 10-node path (18 edge rows) runs the driver path. The
    path shows in the job count (the loops launch several jobs per round)
    and in components' ``stats["rounds"]``."""
    import uuid

    clique = [(a, b) for i, a in enumerate(range(5)) for b in range(i + 1, 5)]
    edges = clique + [(0, 10), (0, 11), (20, 21), (21, 22)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    docs = spark.createDataFrame(
        [(i, "x") for i in [*range(5), 10, 11, 20, 21, 22, 99]],
        "doc_id long, text string",
    )

    def run():
        return (
            {r["doc_id"]: r["coreness"]
             for r in dedup.kcore_decomposition(docs, pairs=pairs).collect()},
            {r["doc_id"]: r["component_id"]
             for r in dedup.duplicate_components(docs, pairs=pairs).collect()},
            {r["doc_id"]: r["pagerank"]
             for r in dedup.pagerank_dup_graph(docs, pairs=pairs).collect()},
        )

    kl, cl, pl = run()
    monkeypatch.setattr(dedup, "_DRIVER_GRAPH_EDGES", 0)
    kd, cd, pd_ = run()
    assert kl == kd
    assert cl == cd
    assert cl[99] == 99  # singleton outside the pair graph keeps its id
    assert set(pl) == set(pd_)
    assert all(abs(pl[u] - pd_[u]) < 2e-6 for u in pd_)

    # the edge-count gate
    sc = spark.sparkContext
    clique6 = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    path10 = [(i, i + 1) for i in range(100, 109)]
    docs = spark.createDataFrame(
        [(i, "x") for i in [*range(6), *range(100, 110)]], "doc_id long, text string"
    )
    kernels = {
        "components": dedup.duplicate_components,
        "pagerank": dedup.pagerank_dup_graph,
        "kcore": dedup.kcore_decomposition,
        "lpa": dedup.lpa_communities,
        "closeness": dedup.closeness_centrality,
        "betweenness": dedup.betweenness_centrality,
    }

    def jobs(fn, pairs, limit):
        monkeypatch.setattr(dedup, "_DRIVER_GRAPH_EDGES", limit)
        group = f"gate-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "path gate")
        try:
            fn(docs, pairs=pairs).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for graph, dense in ((clique6, True), (path10, False)):
        pairs = spark.createDataFrame(graph, "doc_a long, doc_b long")
        for name, fn in kernels.items():
            driver = jobs(fn, pairs, 20_000)
            distributed = jobs(fn, pairs, 0)
            gated = jobs(fn, pairs, 20)
            assert distributed > 2 * driver, (name, driver, distributed)
            if dense:
                assert gated >= distributed, (name, gated, distributed)
            else:
                assert gated == driver, (name, gated, driver)
        stats: dict = {}
        dedup.duplicate_components(docs, pairs=pairs, stats=stats)
        assert stats["n_edges"] == 2 * len(graph)
        assert (stats["rounds"] >= 1) if dense else (stats["rounds"] == 0)


def test_cluster_source_purity_hand_computed(spark):
    """Planted clusters: an exact-dup triple within one source (pure,
    majority count 3) and a cross-source pair (tie broken by source
    ASC); a singleton never reports."""
    t1 = "alpha beta gamma delta epsilon"
    t2 = "one two three four five six"
    docs = spark.createDataFrame(
        [
            (0, t1, "web"), (1, t1, "web"), (2, t1, "web"),
            (10, t2, "web"), (11, t2, "books"),
            (50, "wholly unrelated content here", "cc"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {r["component_id"]: r for r in dedup.cluster_source_purity(docs).collect()}
    assert set(rows) == {0, 10}
    assert (rows[0]["n_members"], rows[0]["n_sources"]) == (3, 1)
    assert (rows[0]["majority_source"], rows[0]["majority_count"]) == ("web", 3)
    assert (rows[10]["n_members"], rows[10]["n_sources"]) == (2, 2)
    assert rows[10]["majority_source"] == "books"  # tie → source ASC
    assert rows[10]["majority_count"] == 1


def test_growth_accounting_hand_computed(spark):
    """User 1 active weeks 0,1,3 (new → retained → resurrected);
    user 2 active week 0 only (new, churns in week 1); user 3 first
    appears week 3 (new). Week 2 has no activity → no row. Churned
    closes the balance: week 1 loses user 2 (prev_active 2 −
    retained 1 = 1); week 3's prev week (2) emitted no row, so
    prev_active coalesces to 0 and churned = −retained = 0 − 0 = 0."""
    import datetime

    from datalake_local_spark.operators import funnel

    # 2024-01-01 is a Monday: week k starts Jan 1 + 7k
    d = lambda k: datetime.datetime(2024, 1, 1 + 7 * k, 12, 0)  # noqa: E731
    ev = spark.createDataFrame(
        [
            (1, d(0), 1, "view", 1.0, "{}"),
            (2, d(0), 2, "view", 1.0, "{}"),
            (3, d(1), 1, "view", 1.0, "{}"),
            (4, d(3), 1, "view", 1.0, "{}"),
            (5, d(3), 3, "view", 1.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = {r["week"].day: r for r in funnel.growth_accounting(ev).collect()}
    assert set(out) == {1, 8, 22}
    w0, w1, w3 = out[1], out[8], out[22]
    assert (w0["n_new"], w0["n_retained"], w0["n_resurrected"], w0["n_churned"]) == (2, 0, 0, 0)
    assert (w1["n_new"], w1["n_retained"], w1["n_resurrected"], w1["n_churned"]) == (0, 1, 0, 1)
    assert (w3["n_new"], w3["n_retained"], w3["n_resurrected"], w3["n_churned"]) == (1, 0, 1, 0)


def test_cosine_threshold_sweep_hand_computed(spark):
    """Three planted vectors: (a,b) cosine 1.0, (a,c) and (b,c)
    cosine 0.6 → the sweep counts 3 pairs at cutoffs ≤ 60 and exactly
    1 pair above; the grid always emits all 7 rows and the counts are
    monotone non-increasing in the threshold."""
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [2.0, 0.0]),
            (3, [0.6, 0.8]),
        ],
        "vec_id long, embedding array<double>",
    )
    rows = {r["threshold_pct"]: r["n_pairs"]
            for r in similarity.cosine_threshold_sweep(emb).collect()}
    assert sorted(rows) == [40, 45, 50, 55, 60, 65, 70]
    assert rows[40] == rows[60] == 3
    assert rows[65] == rows[70] == 1
    counts = [rows[p] for p in sorted(rows)]
    assert all(a >= b for a, b in zip(counts, counts[1:]))


def test_link_prediction_hand_computed(spark):
    """Path 1–2–3 plus triangle 5–6–7: the path predicts (1,3) through
    common neighbor 2 (deg 2 → RA = 10¹² div 2; neighbor sets {2},{2}
    → Jaccard 10000 bps); the triangle is complete so it predicts
    nothing; no adjacent pair ever appears."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (5, 7), (6, 7)], "doc_a long, doc_b long"
    )
    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    rows = dedup.dup_graph_link_prediction(docs, pairs=pairs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 3)
    assert r["n_common"] == 1
    assert r["ra_pico"] == 500_000_000_000
    assert r["jaccard_bps"] == 10000


def test_link_prediction_square(spark):
    """C4 (square 1-2-3-4): both diagonals predicted, each with TWO
    common neighbors of degree 2 → RA = 10¹²; neighbor sets are
    identical pairs → Jaccard 10000 bps."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "doc_a long, doc_b long"
    )
    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    rows = {(r["doc_a"], r["doc_b"]): r
            for r in dedup.dup_graph_link_prediction(docs, pairs=pairs).collect()}
    assert set(rows) == {(1, 3), (2, 4)}
    for r in rows.values():
        assert r["n_common"] == 2 and r["ra_pico"] == 1_000_000_000_000
        assert r["jaccard_bps"] == 10000


def test_aspect_ratio_buckets_hand_computed(spark):
    """One 4-byte doc: the fake decode gives w = 4%640+16 = 20,
    h = 4%480+16 = 20 → ar_decile = (20·20+20) div (2·20) = 10
    (square), 400 pixels. A 16:4-shaped doc joins a different bucket;
    image counts close the balance."""
    docs = spark.createDataFrame(
        [(1, "abcd", "web")], "doc_id long, text string, source string"
    )
    rows = multimodal.aspect_ratio_buckets(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["ar_decile"], r["n_images"], r["total_pixels"]) == (10, 1, 400)
    assert (r["px_per_image"], r["min_width"], r["max_width"]) == (400, 20, 20)


def test_token_budget_hamilton_exact(spark):
    """Skewed counts 2/3/5 with budget 7: floor quotas 1/2/3 leave one
    leftover token, which Hamilton gives to the largest remainder (C,
    rem 5) → 1/2/4, summing EXACTLY to the budget. Equal counts with
    budget 100: remainders tie and the source-ASC tie-break tops up A
    → 34/33/33."""
    from datalake_local_spark.llm import pipeline as pl

    skew = spark.createDataFrame(
        [(1, "a b", "A"), (2, "a b c", "B"), (3, "a b c d e", "C")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r["alloc_tokens"]
           for r in pl.token_budget_allocation(skew, budget=7).collect()}
    assert out == {"A": 1, "B": 2, "C": 4}
    assert sum(out.values()) == 7

    even = spark.createDataFrame(
        [(1, "x", "A"), (2, "y", "B"), (3, "z", "C")],
        "doc_id long, text string, source string",
    )
    out2 = {r["source"]: r["alloc_tokens"]
            for r in pl.token_budget_allocation(even, budget=100).collect()}
    assert out2 == {"A": 34, "B": 33, "C": 33}


def test_fuzzy_entity_clusters_transitive(spark, monkeypatch):
    """widget/widgets/widgetz chain into ONE entity through the hub
    spelling even where the outer pair exceeds... (all within dist 4
    here); modal pick = most catalog rows (widgets ×3); canonical id =
    min name; the unrelated singleton never reports. String ids ride
    both component paths: the driver union-find and the star loop
    (driver limit patched to 0)."""
    rows = (
        [(i, "widgets") for i in range(3)]
        + [(10, "widget"), (11, "widgetz"), (12, "zebra")]
    )
    part = spark.createDataFrame(rows, "p_partkey long, p_name string")
    for limit in (dedup._DRIVER_GRAPH_EDGES, 0):
        monkeypatch.setattr(dedup, "_DRIVER_GRAPH_EDGES", limit)
        out = dedup.fuzzy_entity_clusters(part).collect()
        assert len(out) == 1
        r = out[0]
        assert r["entity_id"] == "widget"
        assert (r["n_variants"], r["total_rows"]) == (3, 5)
        assert (r["modal_name"], r["modal_rows"]) == ("widgets", 3)


def test_weighted_reservoir_matches_reference(spark):
    """Pure-python replay of the Efraimidis–Spirakis keys (same md5 →
    uniform → ln(u)/w formula) must pick the identical top-k in the
    identical order; and the global top-k must compile to
    TakeOrderedAndProject (per-partition heaps), never a full Sort."""
    import hashlib
    import math

    from datalake_local_spark.llm import pipeline as pl

    docs = [(i, ("tok " * (1 + (i * 7) % 13)).strip(), f"s{i % 3}") for i in range(30)]
    expected = []
    for i, text, src in docs:
        w = len(text.split())
        h = int(hashlib.md5(f"{i}:{src}".encode()).hexdigest()[:8], 16)
        key = round(math.log((h + 0.5) / 4294967296.0) / w, 12)
        expected.append((key, i))
    expected = [i for _, i in sorted(expected, key=lambda t: (-t[0], t[1]))[:5]]

    sdf = spark.createDataFrame(docs, "doc_id long, text string, source string")
    out = pl.weighted_reservoir_sample(sdf, k=5)
    assert [r["doc_id"] for r in out.collect()] == expected
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_lpa_communities_two_cliques_with_bridge(spark):
    """Two K3 cliques joined by one bridge edge: sync LPA with
    min-label tie-break converges with each clique keeping its own
    min label as the community (the bridge alone cannot outvote two
    intra-clique neighbors); a pure-python sync replay agrees."""
    edges = [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    rows = {r["community_id"]: r for r in dedup.lpa_communities(docs, pairs=pairs).collect()}

    # python sync-LPA reference with identical tie-break
    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    lab = {n: n for n in adj}
    for _ in range(10):
        new = {}
        for n in adj:
            counts = {}
            for m in adj[n]:
                counts[lab[m]] = counts.get(lab[m], 0) + 1
            best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            new[n] = best
        if new == lab:
            break
        lab = new
    expected = {}
    for n, l in lab.items():
        expected.setdefault(l, []).append(n)
    assert set(rows) == set(expected)
    for k, members in expected.items():
        assert rows[k]["n_members"] == len(members)
        assert rows[k]["min_member"] == min(members)
        assert rows[k]["max_member"] == max(members)


def test_shingle_width_sweep_order_sensitivity(spark):
    """Two docs that are word-for-word anagrams: identical unigram sets
    (width-1 Jaccard 1.0 → pair) but NO shared bigrams/trigrams — the
    sweep must count the pair at width 1 and drop it at 2 and 3. A doc
    shorter than the width contributes no shingles (the sequence(1,0)
    descending hazard guard)."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "delta gamma beta alpha"),
            (3, "x"),
        ],
        "doc_id long, text string",
    )
    rows = {r["width"]: r for r in dedup.shingle_width_sweep(docs).collect()}
    assert sorted(rows) == [1, 2, 3]
    assert rows[1]["n_pairs"] == 1
    assert rows[2]["n_pairs"] == 0 and rows[3]["n_pairs"] == 0
    # widths 2/3: doc 3 ("x") yields no shingles; vocab counts positive
    assert rows[2]["n_shingle_types"] == 6  # 3 bigrams per 4-token doc, disjoint
    assert rows[3]["n_shingle_types"] == 4


def test_dedup_funnel_hand_computed(spark):
    """Five docs: an exact-dup pair (stage 1 removes one), then a
    near-dup pair among survivors (stage 2 removes one), one loner.
    The funnel chains: 5 → 4 → 3 with exact-bps removal shares, and
    stage 2's docs_in equals stage 1's docs_out."""
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near_b = "alpha beta gamma delta epsilon zeta eta theta iota KAPPA2"
    docs = spark.createDataFrame(
        [
            (1, "same text"), (2, "same text"),
            (3, near_a), (4, near_b),
            (5, "totally different content"),
        ],
        "doc_id long, text string",
    )
    from datalake_local_spark.llm import pipeline as llm_pipeline

    rows = {r["stage"]: r
            for r in llm_pipeline.dedup_funnel_report(docs).collect()}
    s1, s2 = rows["1_exact"], rows["2_neardup"]
    assert (s1["docs_in"], s1["docs_out"], s1["removed"]) == (5, 4, 1)
    assert s1["removed_bps"] == 2000
    assert s2["docs_in"] == s1["docs_out"]
    assert (s2["docs_out"], s2["removed"], s2["removed_bps"]) == (3, 1, 2500)


def test_quality_by_source_integer_bands(spark):
    """Hand-planted densities: a doc with 5/10 stopword tokens lands in
    band 5, an all-stopword doc in band 10, a stopword-free doc in
    band 0; alpha bps is the exact integer share of [a-z] chars."""
    docs = spark.createDataFrame(
        [
            (1, "the a and of to xxxx yyyy zzzz wwww vvvv", "web"),
            (2, "the a and of", "web"),
            (3, "zebra quagga", "cc"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {(r["source"], r["stop_band"]): r
            for r in text.quality_by_source(docs).collect()}
    assert set(rows) == {("web", 5), ("web", 10), ("cc", 0)}
    assert rows[("cc", 0)]["n_docs"] == 1
    # "zebra quagga": 11 alpha of 12 norm chars -> 9166 bps
    assert rows[("cc", 0)]["alpha_bps"] == 9166


def test_leakage_safe_split_keeps_clusters_whole(spark):
    """An exact-dup triple must land in ONE split (keyed on the cluster
    rep, not the doc — per-doc hashing would scatter it with high
    probability across many clusters); violations are structurally 0
    and doc counts close the balance."""
    from datalake_local_spark.llm import pipeline as llm_pipeline

    t = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [(i, t, "web") for i in range(3)]
        + [(10 + i, f"unique text number {i} with filler words", "web")
           for i in range(20)],
        "doc_id long, text string, source string",
    )
    rows = llm_pipeline.leakage_safe_split(docs).collect()
    assert all(r["cluster_split_violations"] == 0 for r in rows)
    assert sum(r["n_docs"] for r in rows) == 23
    assert sum(r["n_clusters"] for r in rows) == 21  # triple = 1 cluster


def test_lpa_local_matches_distributed(spark, monkeypatch):
    """The driver-side sync replay must produce byte-identical community
    rows to the distributed fixpoint (forced by patching the driver
    limit to 0) on a planted mix of cliques, a bridge, and a path."""
    edges = [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12),
             (3, 10), (20, 21), (21, 22)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    loc = sorted(tuple(r) for r in dedup.lpa_communities(docs, pairs=pairs).collect())
    monkeypatch.setattr(dedup, "_DRIVER_GRAPH_EDGES", 0)
    dist = sorted(tuple(r) for r in dedup.lpa_communities(docs, pairs=pairs).collect())
    assert dist == loc and len(dist) >= 2


def test_label_separation_matches_numpy(spark):
    """Centroid cosine and within-class cohesion against plain numpy on
    a hand-built 3-label toy: label 0 along +x, label 1 along +y
    (orthogonal → centroid_cos ≈ 0), label 2 split between them."""
    import numpy as np

    from datalake_local_spark.llm import similarity

    vecs = [
        (0, [1.0, 0.02, 0.0, 0.0], 0),
        (1, [0.9, -0.03, 0.0, 0.0], 0),
        (2, [0.01, 1.0, 0.0, 0.0], 1),
        (3, [-0.02, 0.8, 0.0, 0.0], 1),
        (4, [0.7, 0.7, 0.0, 0.0], 2),
        (5, [0.6, 0.75, 0.0, 0.0], 2),
    ]
    df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    )
    got = {
        (r["label_a"], r["label_b"]): r
        for r in similarity.label_separation_geometry(df).collect()
    }
    assert set(got) == {(0, 1), (0, 2), (1, 2)}

    # numpy reference with the same floor-1e-6 quantization
    # the column is array<float>: values round-trip through float32
    # before the engine's double cast, so the reference must too
    q = {
        lab: np.array(
            [
                np.floor(np.array(v, dtype=np.float32).astype(np.float64) * 1e6)
                for _, v, l in vecs
                if l == lab
            ]
        )
        for lab in (0, 1, 2)
    }
    for (a, b), row in got.items():
        sa, sb = q[a].sum(axis=0), q[b].sum(axis=0)
        want = sa @ sb / np.sqrt((sa @ sa) * (sb @ sb))
        assert abs(row["centroid_cos"] - round(want, 6)) < 1e-9
        # cohesion: mean floor-quantized member-to-centroid cosine
        for lab, col in ((a, "within_a"), (b, "within_b")):
            s = q[lab].sum(axis=0)
            cos = [
                np.floor(v @ s / np.sqrt((v @ v) * (s @ s)) * 1e6) / 1e6
                for v in q[lab]
            ]
            assert abs(row[col] - np.mean(cos)) < 1e-9
    # orthogonal classes: near-zero centroid cosine, strong margin
    assert abs(got[(0, 1)]["centroid_cos"]) < 0.05
    assert got[(0, 1)]["separation_margin"] > 0.9


def test_quality_sweep_monotone_and_exact(spark):
    """Planted docs with known stopword shares: retention must be
    monotone non-increasing in the cutoff and the bps shares exact."""
    from datalake_local_spark.llm import text as t

    docs = spark.createDataFrame(
        [
            (1, "the a and of to in is the a and", "s1"),  # 10/10 stop
            (2, "the cat sat on mats quietly today ok", "s1"),  # 1/8
            (3, "zx qv wk jn pq rs tu vw", "s1"),  # 0/8 gibberish
            (4, "the and of to xx yy zz ww", "s1"),  # 4/8 = 5000 bps
        ],
        "doc_id long, text string, source string",
    )
    rows = {r["cutoff_bps"]: r for r in t.quality_threshold_sweep(docs).collect()}
    kept = [rows[c]["docs_kept"] for c in sorted(rows)]
    assert kept == sorted(kept, reverse=True)
    # cutoff 3000: docs 1 (10000 bps) and 4 (5000 bps) survive
    assert rows[3000]["docs_kept"] == 2
    assert rows[3000]["tokens_kept"] == 18
    assert rows[3000]["docs_share_bps"] == 5000  # 2 of 4 docs
    # cutoff 500: doc 2 (1250 bps) also survives; doc 3 never does
    assert rows[500]["docs_kept"] == 3


def test_temperature_mix_budget_and_flattening(spark):
    """Temperature sampling invariants: every τ's allocations sum to
    the budget exactly, τ=1 is proportional, and lower τ strictly
    narrows the allocation gap between the largest and smallest
    source."""
    from datalake_local_spark.llm import pipeline as p

    docs = spark.createDataFrame(
        [(i, "tok " * (1 if i % 10 else 90), "big" if i % 10 == 0 else "small")
         for i in range(1, 101)],
        "doc_id long, text string, source string",
    )
    out = p.temperature_mixture_allocation(docs, budget=10000).collect()
    by_tau: dict = {}
    for r in out:
        by_tau.setdefault(r["tau"], {})[r["source"]] = r
    for tau, srcs in by_tau.items():
        assert sum(r["alloc_tokens"] for r in srcs.values()) == 10000
    gap = {
        tau: abs(srcs["big"]["alloc_tokens"] - srcs["small"]["alloc_tokens"])
        for tau, srcs in by_tau.items()
    }
    assert gap["tau_0.25"] < gap["tau_0.50"] < gap["tau_1.00"]


def test_assortativity_star_vs_clique(spark):
    """Hand graphs: a star is maximally DISassortative (r = −1); a
    clique is degree-regular → zero variance → NULL by the guard."""
    from datalake_local_spark.llm import dedup

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "doc_a long, doc_b long"
    )
    r_star = dedup.graph_degree_assortativity(None, pairs=star).collect()[0]
    assert r_star["n_edges"] == 5
    assert abs(r_star["assortativity"] - (-1.0)) < 1e-9
    clique = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)],
        "doc_a long, doc_b long",
    )
    r_cl = dedup.graph_degree_assortativity(None, pairs=clique).collect()[0]
    assert r_cl["n_edges"] == 6
    assert r_cl["assortativity"] is None  # regular graph: undefined
    assert abs(r_cl["mean_edge_degree"] - 3.0) < 1e-12


def test_heaps_curve_monotone_and_beta_bounds(spark):
    """Vocabulary growth is monotone in N; a corpus of IDENTICAL docs
    saturates (beta = 0); a corpus of fully-novel tokens per doc grows
    linearly (beta = 1 exactly in token mass)."""
    from datalake_local_spark.llm import text as t

    same = spark.createDataFrame(
        [(i, "alpha beta gamma", "s") for i in range(500)],
        "doc_id long, text string, source string",
    )
    rows = {r["n_docs"]: r for r in t.heaps_vocabulary_curve(same).collect()}
    assert rows[500]["vocab_size"] == 3
    assert all(r["local_beta"] == 0.0 for n, r in rows.items() if n > 50)

    novel = spark.createDataFrame(
        [(i, f"tok{i}a tok{i}b", "s") for i in range(500)],
        "doc_id long, text string, source string",
    )
    rows2 = {r["n_docs"]: r for r in t.heaps_vocabulary_curve(novel).collect()}
    vs = [rows2[n]["vocab_size"] for n in sorted(rows2)]
    assert vs == sorted(vs) and vs[-1] == 1000
    assert all(abs(r["local_beta"] - 1.0) < 1e-9
               for n, r in rows2.items() if n > 50)


def test_band_index_incremental_append(spark, tables):
    """r13 (r12 verdict #4): O(delta) append maintenance of the
    persisted band index. (1) the probe over the appended index equals
    a from-scratch rebuild (the certificate columns are structural
    zeros); (2) a second call neither rewrites nor re-appends — every
    index file keeps its path, size, and mtime (the registry
    rewrite-miss discipline); (3) the appended table still satisfies
    the bucketed candidate join with no pre-join exchange."""
    import glob
    import hashlib
    import os
    from urllib.parse import urlparse

    from datalake_local_spark.llm import dedup as dd

    docs = tables["documents"]
    out1 = dd.band_index_incremental(docs).collect()[0]
    assert out1["n_pairs_incremental"] == out1["n_pairs_full_rebuild"]
    assert out1["n_only_incremental"] == 0 and out1["n_only_full"] == 0
    assert out1["n_pairs_incremental"] > 0  # non-vacuous at sf0.001

    src = dd.source_signature(docs)
    key = hashlib.md5(repr(("band_incr", src, 150, 300)).encode()).hexdigest()[:12]
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    root = os.path.join(wh, f"band_incr_{key}")

    def file_state():
        return {
            p: (os.stat(p).st_size, os.stat(p).st_mtime_ns)
            for p in glob.glob(os.path.join(root, "**", "*"), recursive=True)
            if os.path.isfile(p)
        }

    before = file_state()
    assert before, "persisted index must exist after the first call"
    out2 = dd.band_index_incremental(docs).collect()[0]
    assert tuple(out2) == tuple(out1)
    assert file_state() == before  # rewrite-miss: no rewrite, no re-append

    # bucket layout survives the append: corpus-side candidate join
    # still reads buckets directly (SelectedBucketsCount, no pre-join
    # exchange beyond the dropDuplicates)
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        for k in saved:
            spark.conf.set(k, "-1")
        cand = dd.candidates_from_band_index(spark, f"band_incr_{key}")
        cand.collect()
        final = (
            cand._jdf.queryExecution().executedPlan().toString()
            .split("+- == Initial Plan ==")[0]
        )
    finally:
        for k, v in saved.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    assert "SelectedBucketsCount" in final
    assert final.count("Exchange hashpartitioning") == 1, final


def test_band_index_incremental_empty_pairs_all_zero(spark, tables):
    """r14 (r13 ADVICE #4): an empty probe panel (s2 == s3) makes both
    probe arms structurally empty — the certificate aggregate over zero
    rows must emit integer zeros, not NULLs (sum over no rows is NULL
    without the outer coalesce)."""
    from datalake_local_spark.llm import dedup as dd

    out = dd.band_index_incremental(
        tables["documents"], s1=150, s2=300, s3=300
    ).collect()[0]
    assert tuple(out) == (0, 0, 0, 0)
    assert all(isinstance(v, int) for v in tuple(out))


def test_simpson_diversity_bounds(spark, tables):
    from datalake_local_spark.llm import text

    rows = text.simpson_diversity(tables["documents"]).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["simpson_lambda"] <= 1.0
        assert abs(r["gini_simpson"] - (1.0 - r["simpson_lambda"])) < 1e-12
        assert r["n_types"] <= r["n_tokens"]


def test_ngram_novelty_first_doc_all_novel(spark, tables):
    from datalake_local_spark.llm import text

    rows = {r["doc_id"]: r for r in text.ngram_novelty(tables["documents"]).collect()}
    assert rows
    first = min(rows)
    # the corpus-first document can only introduce grams
    assert rows[first]["novelty_bps"] == 10000
    for r in rows.values():
        assert 0 <= r["n_novel"] <= r["n_grams"]


def test_centroid_silhouette_invariants(spark, tables):
    from datalake_local_spark.llm import similarity as sim

    rows = sim.centroid_silhouette(tables["embeddings"]).collect()
    assert len(rows) == 10  # one row per label
    total = sum(r["n_vecs"] for r in rows)
    assert total > 0
    for r in rows:
        assert -1.0 <= r["mean_silhouette"] <= 1.0
        assert r["n_well_clustered"] + r["n_misfit"] <= r["n_vecs"]


def test_dataset_card_accounting(spark, tables):
    from datalake_local_spark.llm import pipeline as llm_pipeline

    docs = tables["documents"]
    card = {r["metric"]: r["value"] for r in llm_pipeline.dataset_card(docs).collect()}
    assert card["n_docs"] == docs.count()
    assert card["exact_dup_docs"] == card["n_docs"] - card["unique_fingerprints"]
    assert card["median_tokens"] <= card["p95_tokens"]
    assert 0 <= card["short_doc_bps"] <= 10000


def test_census_guard_r12_fixed_plans(spark, tables):
    """CI guard for the r12 plan-census fixes (r12 verdict #7): the
    sixteen multi-consumer plans got their shared bounded relation
    materialized once; this pins a representative five so a dropped
    localCheckpoint (scan-count regression) cannot land silently.
    Bounds are the post-fix finalized-plan scan counts + headroom of
    one (collect() + final-plan split — the honest AQE recipe)."""
    from datalake_local_spark.llm import dedup, text
    from datalake_local_spark.llm import pipeline as llm_pipeline

    docs = tables["documents"]
    bounds = {
        "graph_triangles": (dedup.dup_graph_triangles, 3),
        "graph_link_prediction": (dedup.dup_graph_link_prediction, 3),
        "text_pmi_pairs": (text.token_pmi_pairs, 3),
        "dedup_graph_quality": (dedup.duplicate_graph_quality, 3),
        "pipeline_dedup_funnel": (llm_pipeline.dedup_funnel_report, 4),
    }
    for name, (fn, bound) in bounds.items():
        n = _final_plan(fn(docs)).count("FileScan parquet")
        assert n <= bound, f"{name}: {n} parquet scans (bound {bound})"


def test_matryoshka_prefix_recall_bounds_and_full_width(tables):
    """r13: prefix-dim recall is a valid ratio in [0,1] on every
    (width, query) cell, the grid is complete (widths x queries), and
    a prefix of the FULL width recovers the truth exactly (recall 1.0
    everywhere) — the self-consistency anchor of the calibration."""
    rows = similarity.matryoshka_prefix_recall(tables["embeddings"]).collect()
    assert len(rows) == 3 * 5  # widths (8,16,32) x queries (0..4)
    assert {r["prefix_dims"] for r in rows} == {8, 16, 32}
    assert all(0.0 <= r["recall_at_k"] <= 1.0 for r in rows)
    full = similarity.matryoshka_prefix_recall(
        tables["embeddings"], widths=(64,)
    ).collect()
    assert len(full) == 5
    assert all(r["recall_at_k"] == 1.0 for r in full)


def test_census_guard_matryoshka_checkpointed_truth(spark, tables):
    """r13 census pin: the full-width truth is localCheckpointed ONCE,
    so the finalized plan holds 3 widths x (corpus pass + bounded
    query-panel read) = 6 embedding scans (+1 headroom). A dropped
    checkpoint replays the truth plan per semi-join and the count
    jumps — this catches it in CI, not in a bench number."""
    df = similarity.matryoshka_prefix_recall(tables["embeddings"])
    n = _final_plan(df).count("FileScan parquet")
    assert n <= 7, f"matryoshka: {n} parquet scans (bound 7)"


def test_closeness_centrality_hand_computed(spark, monkeypatch):
    """NEW r16: BFS closeness on a planted mix — a path 0-1-2-3 (ends:
    dists 1+2+3=6, ecc 3; middles: 1+1+2=4, ecc 2) and a disjoint
    triangle (each node: dists 1+1, ecc 1, closeness 1.0). Reachability
    stays within each component."""
    # node 20: a pure self-loop — sum_dist 0, closeness NULL on BOTH
    # paths (the r16 review-pass divide-by-zero guard)
    edges = [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 20)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    want = {
        0: (4, 3, 6, 0.5),
        1: (4, 2, 4, 0.75),
        2: (4, 2, 4, 0.75),
        3: (4, 3, 6, 0.5),
        10: (3, 1, 2, 1.0),
        11: (3, 1, 2, 1.0),
        12: (3, 1, 2, 1.0),
        20: (1, 0, 0, None),
    }
    # both paths must agree bit-for-bit: the driver path (default on
    # a graph this small) and the distributed BFS fixpoint (limit 0)
    for limit in (dedup._DRIVER_GRAPH_EDGES, 0):
        monkeypatch.setattr(dedup, "_DRIVER_GRAPH_EDGES", limit)
        got = {
            r["doc_id"]: (
                r["n_reachable"], r["eccentricity"], r["sum_dist"], r["closeness"]
            )
            for r in dedup.closeness_centrality(docs, pairs=pairs).collect()
        }
        assert got == want, (limit, got)


def test_kn_bigram_logprob_matches_pure_python(spark):
    """NEW r17 (audit-protocol test for the shared _KN_P_SQL text): the
    interpolated Kneser-Ney scores match a pure-python model built
    INDEPENDENTLY from the Chen & Goodman formula — counts via dicts,
    probability as max(c-d,0)/cstart + d*N1fw/cstart * N1bw/T — on a
    fixture where the continuation term is discriminative: 'san
    francisco' has a frequent second token with only ONE history, so
    P_cont(francisco) is minimal and the doc scores below an equally
    frequent but context-diverse phrase. Also: a one-token doc emits
    n_bigrams 0 with NULL scores."""
    import math
    from collections import Counter, defaultdict

    docs = [
        (0, "san francisco san francisco san francisco"),
        (1, "the cat sat on the mat"),
        (2, "the dog sat on a log"),
        (3, "a cat and a dog and a mat"),
        (4, "solo"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.kn_bigram_logprob(df).collect()}

    # independent pure-python KN model over the same tokenization
    toks = {i: t.split() for i, t in docs}
    bi = Counter()
    for ts in toks.values():
        for a, b in zip(ts, ts[1:]):
            bi[(a, b)] += 1
    cstart, n1fw, n1bw = Counter(), Counter(), Counter()
    for (a, b), c in bi.items():
        cstart[a] += c
        n1fw[a] += 1
        n1bw[b] += 1
    T = len(bi)
    d = 0.75

    def p_kn(a, b):
        return max(bi[(a, b)] - d, 0.0) / cstart[a] + (
            d * n1fw[a] / cstart[a]
        ) * (n1bw[b] / T)

    for i, ts in toks.items():
        pairs = list(zip(ts, ts[1:]))
        r = got[i]
        assert r["n_bigrams"] == len(pairs)
        if not pairs:
            assert r["mean_log10_p"] is None and r["min_log10_p"] is None
            continue
        lps = [math.log10(p_kn(a, b)) for a, b in pairs]
        assert abs(r["mean_log10_p"] - sum(lps) / len(lps)) < 1e-6, i
        assert abs(r["min_log10_p"] - min(lps)) < 1e-6, i
    # the continuation-term story: doc 0's mean beats nothing — its
    # 'francisco' continuation is unique-history, so doc 0 scores below
    # the context-diverse doc 3 despite maximal bigram repetition of
    # its own phrase being high-probability in the max(c-d) term; at
    # minimum, every probability is a valid (0, 1] value
    for i, ts in toks.items():
        for a, b in zip(ts, ts[1:]):
            assert 0.0 < p_kn(a, b) <= 1.0


def test_dsir_weights_match_pure_python(spark):
    """NEW r17 (audit-protocol test): DSIR log weights match an
    independent pure-python model — hashlib md5 buckets (own
    transcription of the portable idiom), dict-built add-one
    multinomials, sum of log ratios — and the selection is exactly the
    top-k by (rounded weight, doc_id). Semantics: the doc built from
    target-slice phrases outweighs the off-target doc."""
    import hashlib
    import math
    from collections import Counter

    from datalake_local_spark.llm import pipeline as llm_pipeline

    docs = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox sleeps near the lazy dog", "en"),
        (2, "der schnelle braune fuchs springt", "de"),
        (3, "the quick brown fox jumps again and again", "xx"),   # en-like, non-en label
        (4, "uber den faulen hund springt der fuchs", "xx"),      # de-like
        (5, "solo", "xx"),                                        # no bigrams
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    got = {r["doc_id"]: r for r in
           llm_pipeline.dsir_importance_weights(df, top_k=3).collect()}

    B = 1024

    def bucket(w1, w2):
        return int(hashlib.md5(f"{w1} {w2}".encode()).hexdigest()[:8], 16) % B

    grams = {}
    for i, t, lang in docs:
        ws = t.split()
        grams[i] = [bucket(a, b) for a, b in zip(ws, ws[1:])]
    raw = Counter(b for g in grams.values() for b in g)
    tgt = Counter(
        b for (i, _, lang), g in zip(docs, grams.values()) if lang == "en" for b in g
    )
    raw_total = sum(raw.values())
    tgt_total = sum(tgt.values())
    want = {}
    for i, g in grams.items():
        lw = sum(
            math.log10((tgt.get(b, 0) + 1) / (tgt_total + B))
            - math.log10((raw[b] + 1) / (raw_total + B))
            for b in g
        )
        want[i] = (len(g), round(lw, 6))
    for i, (n, lw) in want.items():
        assert got[i]["n_bigrams"] == n, i
        assert abs(got[i]["log10_weight"] - lw) < 2e-6, i
    assert got[5]["n_bigrams"] == 0 and got[5]["log10_weight"] == 0.0
    # selection = exact top-3 by (rounded weight desc, doc_id)
    order = sorted(want, key=lambda i: (-want[i][1], i))
    assert {i for i in got if got[i]["selected"]} == set(order[:3])
    # the en-like unlabeled doc must outweigh the de-like one
    assert want[3][1] > want[4][1]


def test_betweenness_matches_brandes_reference(spark):
    """NEW r17 (audit-protocol test): the pair-sum closed-form
    betweenness matches a pure-python BRANDES accumulation — a
    genuinely different algorithm (backward dependency pass, Brandes
    2001 alg. 1) — on (a) a path graph (interior nodes mediate, ends
    do not), (b) a diamond (sigma = 2 splits the credit), and (c) two
    components (no cross-component mediation). Also checks the exact
    integer n_mid_pairs column against direct triple enumeration."""
    from collections import deque

    # path 1-2-3-4; diamond 10-(11|12)-13; isolated edge 20-21
    und = [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 13), (12, 13), (20, 21)]
    pairs = spark.createDataFrame(und, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: (r["n_mid_pairs"], r["betweenness"])
        for r in dedup.betweenness_centrality(
            spark.createDataFrame([(0, "x")], "doc_id long, text string"),
            pairs=pairs,
        ).collect()
    }

    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # Brandes 2001: accumulate dependencies per source
    bc = {v: 0.0 for v in adj}
    for s in adj:
        stack, preds = [], {v: [] for v in adj}
        sigma = {v: 0 for v in adj}
        dist = {v: -1 for v in adj}
        sigma[s], dist[s] = 1, 0
        q = deque([s])
        while q:
            u = q.popleft()
            stack.append(u)
            for w in adj[u]:
                if dist[w] < 0:
                    dist[w] = dist[u] + 1
                    q.append(w)
                if dist[w] == dist[u] + 1:
                    sigma[w] += sigma[u]
                    preds[w].append(u)
        delta = {v: 0.0 for v in adj}
        while stack:
            w = stack.pop()
            for u in preds[w]:
                delta[u] += sigma[u] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
        # (Brandes sums over ordered sources; halve at the end)
    for v in adj:
        assert abs(got[v][1] - bc[v] / 2.0) < 1e-6, v
    # hand checks: path interior 2,3 mediate; diamond mids get 0.5 each
    assert got[1][1] == 0.0 and got[4][1] == 0.0
    assert got[2][1] == 2.0 and got[3][1] == 2.0
    assert got[11][1] == 0.5 and got[12][1] == 0.5
    assert got[20][1] == 0.0 and got[21][1] == 0.0
    # exact mediation counts by direct triple enumeration
    def bfs_dist(s):
        d = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            for w in adj[u]:
                if w not in d:
                    d[w] = d[u] + 1
                    q.append(w)
        return d
    dists = {s: bfs_dist(s) for s in adj}
    for v in adj:
        n_mid = sum(
            1
            for s in adj
            for t in adj
            if s != t and v not in (s, t)
            and t in dists[s] and v in dists[s] and t in dists[v]
            and dists[s][v] + dists[v][t] == dists[s][t]
        )
        assert got[v][0] == n_mid, v


def test_betweenness_local_matches_distributed(spark, monkeypatch):
    """The driver path and the distributed fixpoint+triple-join (forced
    by patching the driver limit to 0) produce identical rows on the
    same edge feed (the lpa_local_matches_distributed discipline)."""
    und = [(1, 2), (2, 3), (3, 4), (2, 5), (5, 4), (10, 11)]
    pairs = spark.createDataFrame(und, "doc_a long, doc_b long")
    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    loc = {
        tuple(r)
        for r in dedup.betweenness_centrality(docs, pairs=pairs).collect()
    }
    monkeypatch.setattr(dedup, "_DRIVER_GRAPH_EDGES", 0)
    dist = {
        tuple(r)
        for r in dedup.betweenness_centrality(docs, pairs=pairs).collect()
    }
    assert dist == loc and len(dist) == 7


def test_census_guard_r17_new_plans(spark, tables):
    """CI guard for the r17 additions' plan shapes: the KN rescore
    reads its one real token-stream checkpoint (residual finalized
    scans <= 1 + headroom), DSIR's bucket model tables and rescore all
    ride the one materialized bigram stream (0 residual), and the
    Z-order skipping report stays at its single checkpointed
    projection (0 residual) — a dropped localCheckpoint regresses a
    test here, not a bench number."""
    from datalake_local_spark.llm import pipeline as llm_pipeline
    from datalake_local_spark.llm import text as llm_text
    from datalake_local_spark.operators import layout as ops_layout

    docs = tables["documents"]
    bounds = [
        ("text_kn_bigram_logprob", llm_text.kn_bigram_logprob(docs), 2),
        ("pipeline_dsir_weights", llm_pipeline.dsir_importance_weights(docs), 1),
        ("lake_zorder_skipping", ops_layout.zorder_skipping_report(tables["events"]), 1),
    ]
    for name, df, bound in bounds:
        n = _final_plan(df).count("FileScan parquet")
        assert n <= bound, f"{name}: {n} parquet scans (bound {bound})"


def test_betweenness_random_graph_matches_brandes(spark, monkeypatch):
    """r17 hardening (the croston random-fixture pattern): a seeded
    Erdős–Rényi-ish graph (28 nodes, p≈0.12, plus a planted bridge
    between two halves so betweenness is non-trivial) — every node's
    score must match pure-python Brandes within the 6dp publishing
    grid on BOTH paths (driver, and distributed with the driver limit
    patched to 0), and the bridge endpoints must rank in the top 3."""
    import random
    from collections import deque

    rng = random.Random(1234)
    n = 28
    und = set()
    # two halves wired internally, joined only through the 13-14 bridge
    for lo, hi in ((0, 14), (14, 28)):
        for a in range(lo, hi):
            for b in range(a + 1, hi):
                if rng.random() < 0.24:
                    und.add((a, b))
        # ensure connectivity within the half: chain fallback
        for a in range(lo, hi - 1):
            und.add((a, a + 1))
    und.add((13, 14))
    pairs = spark.createDataFrame(sorted(und), "doc_a long, doc_b long")
    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    by_path = []
    for limit in (dedup._DRIVER_GRAPH_EDGES, 0):
        monkeypatch.setattr(dedup, "_DRIVER_GRAPH_EDGES", limit)
        by_path.append({
            r["doc_id"]: r["betweenness"]
            for r in dedup.betweenness_centrality(docs, pairs=pairs).collect()
        })

    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    bc = {v: 0.0 for v in adj}
    for s in adj:
        stack, preds = [], {v: [] for v in adj}
        sigma = {v: 0 for v in adj}
        dist = {v: -1 for v in adj}
        sigma[s], dist[s] = 1, 0
        q = deque([s])
        while q:
            u = q.popleft()
            stack.append(u)
            for w in adj[u]:
                if dist[w] < 0:
                    dist[w] = dist[u] + 1
                    q.append(w)
                if dist[w] == dist[u] + 1:
                    sigma[w] += sigma[u]
                    preds[w].append(u)
        delta = {v: 0.0 for v in adj}
        while stack:
            w = stack.pop()
            for u in preds[w]:
                delta[u] += sigma[u] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    for got in by_path:
        for v in adj:
            assert abs(got[v] - bc[v] / 2.0) < 1e-5, (v, got[v], bc[v] / 2.0)
        top3 = sorted(got, key=lambda v: -got[v])[:3]
        assert 13 in top3 and 14 in top3  # the planted bridge dominates


def test_kn_bigram_random_fixture_matches_reference(spark):
    """r17 hardening (the croston random-fixture pattern): 60 docs of
    seeded-random tokens over a 25-word vocab with skewed context
    diversity — every doc's KN mean/min must match the dict-built
    pure-python model within the 6dp grid."""
    import math
    import random
    from collections import Counter

    from datalake_local_spark.llm import pipeline as llm_pipeline  # noqa: F401
    from datalake_local_spark.llm import text as llm_text

    rng = random.Random(77)
    vocab = [f"w{i}" for i in range(25)]
    docs = []
    for i in range(60):
        n = rng.randint(1, 30)
        # half the docs draw from a narrow slice (low context diversity)
        pool = vocab[:6] if i % 2 else vocab
        docs.append((i, " ".join(rng.choice(pool) for _ in range(n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in llm_text.kn_bigram_logprob(df).collect()}

    toks = {i: t.split() for i, t in docs}
    bi = Counter()
    for ts in toks.values():
        for a, b in zip(ts, ts[1:]):
            bi[(a, b)] += 1
    cstart, n1fw, n1bw = Counter(), Counter(), Counter()
    for (a, b), c in bi.items():
        cstart[a] += c
        n1fw[a] += 1
        n1bw[b] += 1
    T, d = len(bi), 0.75

    def p_kn(a, b):
        return max(bi[(a, b)] - d, 0.0) / cstart[a] + (
            d * n1fw[a] / cstart[a]
        ) * (n1bw[b] / T)

    checked = 0
    for i, ts in toks.items():
        prs = list(zip(ts, ts[1:]))
        r = got[i]
        assert r["n_bigrams"] == len(prs), i
        if not prs:
            assert r["mean_log10_p"] is None
            continue
        lps = [math.log10(p_kn(a, b)) for a, b in prs]
        assert abs(r["mean_log10_p"] - sum(lps) / len(lps)) < 2e-6, i
        assert abs(r["min_log10_p"] - min(lps)) < 2e-6, i
        checked += 1
    assert checked >= 55  # non-vacuous


def test_pack_sequences_bpe_matches_reference(spark):
    """r18 (tokenizer-aware packing): bin assignments and stats equal a
    pure-python replay (reference BPE train+encode per word, sharded
    prefix-sum packing both by subword and by whitespace counts), and
    the fixture is crafted so at least one document provably lands in a
    DIFFERENT window than whitespace packing puts it — the number the
    query exists to certify."""
    from collections import Counter

    texts = [
        "low low lower lowest",            # merge-friendly: few subwords
        "xq zv qj vx",                     # merge-hostile: ~1 subword/char
        "newest newest newest widest",
        "zz qq vv xx jj",
        "low newest low newest",
        "qjx vzq xjq",
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target, shards, merges_n = 8, 2, 4
    got = {
        (r["shard_id"], r["bin_id"]): (
            r["n_docs"], r["total_bpe_tokens"], r["total_ws_words"],
            r["n_moved_vs_ws"], r["first_doc"], r["last_doc"],
        )
        for r in text.pack_sequences_bpe(
            docs, target_tokens=target, n_shards=shards, n_merges=merges_n
        ).collect()
    }

    # reference BPE (Sennrich pseudocode, own transcription)
    vocab = Counter(w for t in texts for w in t.split())
    words = {w: list(w) for w in vocab}
    for _ in range(merges_n):
        counts = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += vocab[w]
        if not counts:
            break
        a, b = min(counts, key=lambda p: (-counts[p], p[0], p[1]))
        for w, syms in words.items():
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            words[w] = out

    def doc_counts(t):
        ws = t.split()
        return len(ws), sum(len(words[w]) for w in ws)

    # sharded prefix-sum packing, both budgets
    bins, ws_bins = {}, {}
    for shard in range(shards):
        ids = [i for i, _ in rows if i % shards == shard]
        run_bpe = run_ws = 0
        for i in sorted(ids):
            n_ws, n_bpe = doc_counts(texts[i])
            bins[i] = run_bpe // target
            ws_bins[i] = run_ws // target
            run_bpe += n_bpe
            run_ws += n_ws
    want = {}
    for i, t in rows:
        key = (i % shards, bins[i])
        n_ws, n_bpe = doc_counts(texts[i])
        cur = want.get(key, (0, 0, 0, 0, i, i))
        want[key] = (
            cur[0] + 1, cur[1] + n_bpe, cur[2] + n_ws,
            cur[3] + (1 if bins[i] != ws_bins[i] else 0),
            min(cur[4], i), max(cur[5], i),
        )
    assert got == want
    assert sum(v[3] for v in want.values()) > 0, "fixture must move a doc"


def test_census_guard_r18_new_plans(spark, tables):
    """CI guard for the r18 additions' plan shapes: the Hilbert
    skipping report stays at its single checkpointed projection (0
    residual finalized scans — the 3 truncated chain levels are
    row-local projections on the checkpoint), and text_pack_bpe rides
    the vocab-grain encode + two sharded prefix-sum windows over at
    most the documents scan pair (encode join + ws-bin join)."""
    from datalake_local_spark.llm import text as llm_text
    from datalake_local_spark.operators import layout as ops_layout

    bounds = [
        ("lake_hilbert_skipping",
         ops_layout.hilbert_skipping_report(tables["events"]), 1),
        ("text_pack_bpe",
         llm_text.pack_sequences_bpe(tables["documents"]), 4),
    ]
    for name, df, bound in bounds:
        n = _final_plan(df).count("FileScan parquet")
        assert n <= bound, f"{name}: {n} parquet scans (bound {bound})"


def test_exact_substring_spans_hand_computed(spark):
    """r19 ExactSubstr (Lee et al. 2022): hand-built corpus at k=10 —
    cross-doc prefix copy (one merged span), full-doc copy (one span
    covering everything), within-doc repeat (the canonical FIRST
    occurrence stays), two far-apart copied regions (gap > k -> two
    spans), and a doc shorter than k (all zeros, don't-vanish row)."""
    base = "abcdefghijklmnopqrstuvwxyz0123456789"  # 36 unique chars
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base[:20] + "Z" * 10),
            (2, base),
            (3, "PQRSTUVWXY" + "0a1b2c3d4e" + "PQRSTUVWXY"),
            (4, base[:15] + "!@#$%^&*()_+=[]" + base[20:35]),
            (5, "tiny"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_dup_grams"], r["n_dup_spans"], r["chars_removed"],
            r["total_chars"], r["removed_bps"],
        )
        for r in dedup.exact_substring_spans(docs, k=10).collect()
    }
    assert got == {
        0: (0, 0, 0, 36, 0),        # owner of everything
        1: (11, 1, 20, 30, 6666),   # copied prefix, Z-tail unique
        2: (27, 1, 36, 36, 10000),  # verbatim copy of doc 0
        3: (1, 1, 10, 30, 3333),    # within-doc repeat, first kept
        4: (12, 2, 30, 45, 6666),   # two regions, gap > k -> 2 spans
        5: (0, 0, 0, 4, 0),         # shorter than k
    }


def test_exact_substring_clean_hand_computed(spark):
    """r19 ExactSubstr rewrite: the cleaned text on the same k=10
    fixture as the spans test — canonical doc unchanged, copied prefix
    stripped to its unique tail, verbatim copy emptied, within-doc
    repeat keeps the first occurrence, two-span doc keeps the middle,
    short doc passes through; chars_removed agrees with the audit
    sibling on every doc."""
    base = "abcdefghijklmnopqrstuvwxyz0123456789"
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base[:20] + "Z" * 10),
            (2, base),
            (3, "PQRSTUVWXY" + "0a1b2c3d4e" + "PQRSTUVWXY"),
            (4, base[:15] + "!@#$%^&*()_+=[]" + base[20:35]),
            (5, "tiny"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["total_chars"], r["chars_removed"])
        for r in dedup.exact_substring_clean(docs, k=10).collect()
    }
    assert got == {
        0: (base, 36, 0),
        1: ("Z" * 10, 30, 20),
        2: ("", 36, 36),
        3: ("PQRSTUVWXY0a1b2c3d4e", 30, 10),
        4: ("!@#$%^&*()_+=[]", 45, 30),
        5: ("tiny", 4, 0),
    }
    audit = {
        r["doc_id"]: r["chars_removed"]
        for r in dedup.exact_substring_spans(docs, k=10).collect()
    }
    assert audit == {d: c for d, (_, _, c) in got.items()}


def test_exact_substring_randomized_against_bruteforce(spark):
    """r19: the whole ExactSubstr trilogy against an independent
    pure-python reference on seeded random corpora over a 2-letter
    alphabet (maximal gram collisions) — audit counts, cleaned text,
    and probe hits all derived definitionally (dict of gram
    occurrences, canonical min (doc, pos), char-interval merge with
    the gap <= k adjacency rule)."""
    import random

    K = 5

    def reference(texts):
        occ = {}
        for d, t in texts:
            for p in range(max(0, len(t) - K + 1)):
                occ.setdefault(t[p:p + K], []).append((d, p))
        dup = {}
        for g, places in occ.items():
            canon = min(places)
            for d, p in places:
                if (d, p) != canon:
                    dup.setdefault(d, []).append(p)
        out = {}
        for d, t in texts:
            ps = sorted(dup.get(d, []))
            spans = []
            for p in ps:
                if spans and p - spans[-1][1] <= K:
                    spans[-1][1] = p
                else:
                    spans.append([p, p])
            n_spans = len(spans)
            chars = sum(e - s + K for s, e in spans)
            removed = set()
            for s, e in spans:
                removed.update(range(s, e + K))
            clean = "".join(ch for i, ch in enumerate(t) if i not in removed)
            out[d] = (len(ps), n_spans, chars, len(t), clean)
        return out

    rng = random.Random(1234)
    for trial in range(6):
        texts = [
            (d, "".join(rng.choice("ab") for _ in range(rng.randint(0, 25))))
            for d in range(rng.randint(3, 7))
        ]
        docs = spark.createDataFrame(texts, "doc_id long, text string")
        want = reference(texts)

        audit = {
            r["doc_id"]: (r["n_dup_grams"], r["n_dup_spans"],
                          r["chars_removed"], r["total_chars"])
            for r in dedup.exact_substring_spans(docs, k=K).collect()
        }
        assert audit == {d: w[:4] for d, w in want.items()}, (trial, texts)

        clean = {
            r["doc_id"]: (r["clean_text"], r["chars_removed"])
            for r in dedup.exact_substring_clean(docs, k=K).collect()
        }
        assert clean == {d: (w[4], w[2]) for d, w in want.items()}, (
            trial, texts)

    # probe reference: incoming hits = positions whose gram is in the
    # existing corpus's gram set, same interval merge
    def probe_reference(texts, split):
        idx = {
            t[p:p + K]
            for d, t in texts if d < split
            for p in range(max(0, len(t) - K + 1))
        }
        out = {}
        for d, t in texts:
            if d < split:
                continue
            ps = [
                p for p in range(max(0, len(t) - K + 1))
                if t[p:p + K] in idx
            ]
            spans = []
            for p in ps:
                if spans and p - spans[-1][1] <= K:
                    spans[-1][1] = p
                else:
                    spans.append([p, p])
            chars = sum(e - s + K for s, e in spans)
            out[d] = (len(ps), len(spans), chars, len(t))
        return out

    for trial in range(4):
        texts = [
            (d, "".join(rng.choice("ab") for _ in range(rng.randint(0, 25))))
            for d in range(6)
        ]
        docs = spark.createDataFrame(texts, "doc_id long, text string")
        want = probe_reference(texts, split=3)
        got = {
            r["doc_id"]: (r["n_hit_grams"], r["n_spans"],
                          r["chars_covered"], r["total_chars"])
            for r in dedup.exact_substring_probe(
                docs, split_doc_id=3, k=K
            ).collect()
        }
        assert got == want, (trial, texts)


def test_exact_substring_hashed_matches_string_kernel(spark):
    """r20 (r19 verdict #3): the xxhash64-screen variant is
    value-IDENTICAL to the string-keyed kernel — on the hand fixture
    (k=10) and on seeded 2-letter random corpora (k=5, maximal gram
    repetition so the hash screen's >= 2 filter and the exact regroup
    both carry real load). The string kernel is itself certified
    against the definitional brute-force reference, so equality here
    transitively certifies the hashed path; the shared DuckDB oracle
    then hash-gates both registry rows at every SF."""
    import random

    base = "abcdefghijklmnopqrstuvwxyz0123456789"
    hand = [
        (0, base),
        (1, base[:20] + "Z" * 10),
        (2, base),
        (3, "PQRSTUVWXY" + "0a1b2c3d4e" + "PQRSTUVWXY"),
        (4, base[:15] + "!@#$%^&*()_+=[]" + base[20:35]),
        (5, "tiny"),
    ]
    rng = random.Random(4321)
    fixtures = [(10, hand)]
    for _ in range(4):
        fixtures.append(
            (5, [
                (d, "".join(rng.choice("ab") for _ in range(rng.randint(0, 25))))
                for d in range(rng.randint(3, 7))
            ])
        )
    for k, texts in fixtures:
        docs = spark.createDataFrame(texts, "doc_id long, text string")
        want = sorted(
            tuple(r) for r in dedup.exact_substring_spans(docs, k=k).collect()
        )
        got = sorted(
            tuple(r)
            for r in dedup.exact_substring_spans_hashed(docs, k=k).collect()
        )
        assert got == want, (k, texts)


def test_exact_substring_probe_hand_computed(spark):
    """r19 incremental ExactSubstr probe: only INCOMING docs emit;
    hits come only from the EXISTING corpus's gram index (two verbatim
    incoming twins both report just the indexed gram — incoming docs
    are not probed against each other); a no-overlap doc keeps its
    don't-vanish zero row."""
    docs = spark.createDataFrame(
        [
            (0, "abcdefghijklmnopqrst"),       # existing corpus
            (10, "abcdefghij!@#$%^&*()"),      # 1 indexed gram at pos 0
            (11, "abcdefghij!@#$%^&*()"),      # twin of 10 — same result
            (12, "no overlap at all 123"),     # zeros
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_hit_grams"], r["n_spans"], r["chars_covered"],
            r["total_chars"], r["covered_bps"],
        )
        for r in dedup.exact_substring_probe(
            docs, split_doc_id=5, k=10
        ).collect()
    }
    assert got == {
        10: (1, 1, 10, 20, 5000),
        11: (1, 1, 10, 20, 5000),
        12: (0, 0, 0, 21, 0),
    }


def test_quality_scores_empty_text_null_alpha_ratio(spark):
    """r19 proactive: whitespace-only text normalizes to 0 chars —
    alpha_ratio's 0/0 raised under ANSI; now NULL (the oracle's x/0)."""
    docs = spark.createDataFrame(
        [(1, "   "), (2, "real words here")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in text.quality_scores(docs).collect()}
    assert got[1]["alpha_ratio"] is None
    assert got[2]["alpha_ratio"] is not None


def test_unpartitioned_window_classifier():
    """r19 (r18 verdict #3): the census's WindowExec classifier — a
    spec whose first top-level argument is a sort order or the frame
    itself is unpartitioned; a leading plain column means PARTITION BY
    is present. Pure string analysis, pinned on real plan spellings."""
    import os as _os
    import sys as _sys

    _sys.path.insert(0, _os.path.join(REPO, "tools"))
    from plan_census import count_unpartitioned_windows

    part = (
        "   +- Window [sum(c1#72L) windowspecdefinition(bkt#114L, "
        "c#69L ASC NULLS FIRST, specifiedwindowframe(RowFrame, "
        "unboundedpreceding$(), currentrow$())) AS _we0#178L], [bkt#114L]"
    )
    unpart_sorted = (
        "   +- Window [sum(b1#115L) windowspecdefinition(bkt#169L ASC "
        "NULLS FIRST, specifiedwindowframe(RowFrame, "
        "unboundedpreceding$(), -1)) AS _we0#127L, sum(b2#116L) "
        "windowspecdefinition(bkt#169L ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), -1)) "
        "AS _we1#128L], [bkt#169L ASC NULLS FIRST]"
    )
    unpart_global = (
        "   +- Window [count(1) windowspecdefinition("
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "unboundedfollowing$())) AS n#1L]"
    )
    assert count_unpartitioned_windows(part) == 0
    # one NODE with two functions over the same spec counts ONCE
    assert count_unpartitioned_windows(unpart_sorted) == 1
    assert count_unpartitioned_windows(unpart_global) == 1
    plan = "\n".join([part, unpart_sorted, unpart_global, "+- Exchange"])
    assert count_unpartitioned_windows(plan) == 2


def test_census_guard_r19_unpartitioned_windows(spark, tables):
    """r19 (r18 verdict #3): pin the unpartitioned-WindowExec counts of
    the adjudicated benign sites most likely to regress — the two
    two-level bucket-cumsum tests (exactly ONE bucket-grain offsets
    frame each; a second one means the data-scaled window came back)
    and two calendar-spine sites. New entrants across the full registry
    are caught by the round-end census run against
    plan_census.UPW_BENIGN."""
    import os as _os
    import sys as _sys

    _sys.path.insert(0, _os.path.join(REPO, "tools"))
    from plan_census import UPW_BENIGN, count_unpartitioned_windows

    from datalake_local_spark.operators import quality

    orders = tables["orders"]
    pinned = {
        "dq_ks_test": quality.ks_two_sample(orders),
        "dq_mann_whitney": quality.mann_whitney_u(orders),
        "dq_pettitt_changepoint": quality.pettitt_changepoint(orders),
        "dq_runs_test": quality.runs_test(orders),
    }
    for name, df in pinned.items():
        got = count_unpartitioned_windows(_final_plan(df))
        assert got <= UPW_BENIGN.get(name, 0), (
            f"{name}: {got} unpartitioned WindowExec nodes "
            f"(pinned {UPW_BENIGN.get(name, 0)}) — a data-scaled "
            "single-partition window regressed in"
        )


def test_hits_walk_centrality_hand_computed_and_random(spark):
    """r18 integer HITS: exact alternating-walk counts match (a) a
    hand-folded diamond DAG (1->2, 1->3, 2->4, 3->4: after 3 double
    steps hubs are 8/8/8/0, authorities 0/4/4/8) and (b) a seeded
    random DAG against an independent pure-python DP. Scores are the
    single final division, checked against python round()."""
    import random

    def reference(edges, k=3):
        nodes = sorted({x for e in edges for x in e})
        hub = {n: 1 for n in nodes}
        auth = {}
        for _ in range(k):
            auth = {n: 0 for n in nodes}
            for s, d in edges:
                auth[d] += hub[s]
            hub = {n: 0 for n in nodes}
            for s, d in edges:
                hub[s] += auth[d]
        return hub, auth

    def run(edges):
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        return {
            r["doc_id"]: (r["hub_walks"], r["auth_walks"],
                          r["hub_score"], r["auth_score"])
            for r in dedup.hits_walk_centrality(
                spark.createDataFrame([(0, "x")], "doc_id long, text string"),
                pairs=pairs,
            ).collect()
        }

    diamond = [(1, 2), (1, 3), (2, 4), (3, 4)]
    got = run(diamond)
    assert {n: (v[0], v[1]) for n, v in got.items()} == {
        1: (8, 0), 2: (8, 4), 3: (8, 4), 4: (0, 8)
    }
    assert got[1][2] == 1.0 and got[4][2] == 0.0   # hub scores
    assert got[2][3] == 0.5 and got[4][3] == 1.0   # auth scores

    rng = random.Random(20260816)
    nodes = list(range(1, 41))
    edges = sorted({
        (a, b)
        for a in nodes
        for b in nodes
        if a < b and rng.random() < 0.08
    })
    got = run(edges)
    hub, auth = reference(edges)
    hmax, amax = max(hub.values()), max(auth.values())
    for n in hub:
        assert got[n][0] == hub[n] and got[n][1] == auth[n], n
        want_h = round(hub[n] / hmax, 6) if hmax > 0 else None
        want_a = round(auth[n] / amax, 6) if amax > 0 else None
        assert got[n][2] == want_h and got[n][3] == want_a, n


def test_good_turing_counts_hand_computed(spark):
    """r18 Good-Turing table: hand-computed count-of-counts on a
    7-token corpus (a x3, b x2, c, d): N_1=2, N_2=1, N_3=1, so
    r*=(r+1)N_{r+1}/N_r gives 1.0 and 3.0, the r=3 tail is NULL (raw
    GT undefined at N_4=0), and the r=1 mass share IS the missing-mass
    estimate P0 = N_1/N = 2/7."""
    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "b c d")], "doc_id long, text string"
    )
    got = {r["r"]: r for r in text.good_turing_counts(docs).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[1]["n_r"], got[1]["n_r_plus1"]) == (2, 1)
    assert got[1]["r_star"] == 1.0
    assert got[1]["mass_share"] == round(2 / 7, 6)  # P0: Good's estimate
    assert got[2]["r_star"] == 3.0
    assert got[3]["n_r_plus1"] == 0 and got[3]["r_star"] is None
    assert got[3]["mass_share"] == round(3 / 7, 6)
