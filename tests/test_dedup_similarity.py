"""North-star dedup + similarity tests: approximate methods validated
against their exact counterparts (the production path vs the oracle path)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cse_datapipeline_and_mls_spark.operators import dedup as D
from cse_datapipeline_and_mls_spark.operators import similarity as S
from cse_datapipeline_and_mls_spark.sources import load_table


def test_shingle_short_and_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, "")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["shingles"] for r in D.shingle(df, "text", n=3).collect()}
    assert got[1] == ["a b c", "b c d"]
    assert got[2] == []  # shorter than n -> empty, not garbage
    assert got[3] == []


def test_exact_dedup_normalized_content(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different doc")],
        "doc_id long, text string",
    )
    out = {r["doc_id"] for r in D.exact_dedup_by_content(df).collect()}
    # 1 and 2 normalize identically -> min-id survivor 1
    assert out == {1, 3}


def test_simhash_identical_texts_and_banding(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"), (3, "zzz yyy xxx www vvv")],
        "doc_id long, text string",
    )
    pairs = D.simhash_neardup_pairs(df, max_hamming=3).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got == {(1, 2): 0}  # identical -> hamming 0; unrelated doc not paired


def test_minhash_recall_vs_exact_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_neardup_pairs(docs, jaccard_threshold=0.5).collect()
    }
    assert exact, "test corpus should contain planted near-dups"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"MinHash recall {recall:.2f} vs exact Jaccard"


def test_lsh_topk_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(emb, queries, k=10)
    approx = S.lsh_topk(emb, queries, k=10)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.7, f"LSH top-k recall {recall:.2f} vs brute force"


def test_ivf_topk_recall_and_self_hit(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    centroids = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    ]
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(emb, queries, k=5)
    approx = S.ivf_topk(emb, queries, centroids, k=5, nprobe=2)
    a_rows = approx.collect()
    # a query probing its own cell always finds itself at rank 1
    self_hits = {r["query_id"] for r in a_rows if r["vec_id"] == r["query_id"] and r["rnk"] == 1}
    assert self_hits == {0, 1, 2}
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in a_rows}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF top-k recall {recall:.2f} vs brute force"


def test_ivf_with_kmeans_codebook_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    codebook = S.fit_codebook(emb, k=4)
    assert len(codebook) == 4 and len(codebook[0][1]) == 64
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(emb, queries, k=5)
    approx = S.ivf_topk(emb, queries, codebook, k=5, nprobe=2)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # probing half the trained cells must do at least as well as chance;
    # trained codebooks routinely hit > 0.6 on this data
    assert recall >= 0.5, f"IVF(kmeans) recall {recall:.2f}"


def test_ivf_numpy_assign_matches_expr_and_recall(spark, sf_dir):
    """The mapInPandas matmul assignment must agree with the codegen
    expression assignment cell-for-cell (same centroids, same tie rule
    modulo 6dp rounding), and the k=32 registered path must keep recall
    vs brute force."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    centroids = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    ]
    by_np = {
        r["vec_id"]: r["_cell"]
        for r in S.assign_cells_np(emb, centroids).select("vec_id", "_cell").collect()
    }
    expr_assigned = emb.withColumn("_cell", S._best_cells("embedding", centroids, 1)[0])
    by_expr = {r["vec_id"]: r["_cell"] for r in expr_assigned.select("vec_id", "_cell").collect()}
    n_same = sum(1 for k_ in by_expr if by_np[k_] == by_expr[k_])
    # 6dp-rounding ties may flip a handful of boundary rows, nothing more
    assert n_same / len(by_expr) >= 0.99, f"{n_same}/{len(by_expr)} cells agree"

    codebook = S.fit_codebook(emb, k=32, seed=42, max_iter=10)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(emb, queries, k=5)
    approx = S.ivf_topk(emb, queries, codebook, k=5, nprobe=4, assign="numpy")
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF(kmeans k=32, numpy) recall {recall:.2f}"


def test_cosine_self_similarity_is_one(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>")
    out = S.brute_force_topk(
        df, df.select(F.col("vec_id").alias("query_id"), "embedding"), k=1
    ).collect()
    assert out[0]["cosine_sim"] == 1.0 and out[0]["rnk"] == 1


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4 (one component), island 10-11, singleton edge 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["label"]
        for r in D.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_rp_banded_neardup_recall_vs_exact(spark, sf_dir):
    """The banded production path (x_embedding_neardup_banded) must find
    >= 90% of the exact crossJoin oracle's pairs, and every pair it emits
    must be a true pair (precision 1.0: the rerank is exact cosine)."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    planes = S.rp_hyperplanes(64, 64, seed=42)
    exact = {
        (r["id_a"], r["id_b"])
        for r in S.embedding_neardup_pairs(emb, "vec_id", "embedding", threshold=0.4).collect()
    }
    banded = {
        (r["id_a"], r["id_b"])
        for r in S.rp_band_neardup_pairs(
            emb, planes, threshold=0.4, n_bands=16, band_bits=4
        ).collect()
    }
    assert exact, "test corpus should contain planted near-dup embeddings"
    recall = len(exact & banded) / len(exact)
    assert recall >= 0.9, f"banded near-dup recall {recall:.2f} vs exact"
    assert banded <= exact, "rerank is exact cosine, so precision must be 1.0"


def test_simhash_onefold_bit_identical_to_multifold(spark, sf_dir):
    """The one-fold counter-array SimHash must produce the exact same
    64-bit fingerprints as the one-fold-per-bit reference form."""
    docs = load_table(spark, sf_dir, "documents").limit(100)
    fast = {r["doc_id"]: r["simhash"] for r in D.with_simhash(docs).collect()}
    slow = {r["doc_id"]: r["simhash"] for r in D._with_simhash_multifold(docs).collect()}
    assert fast == slow


def test_simhash_banding_rejects_uncovered_hamming(spark):
    import pytest

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        D.simhash_neardup_pairs(df, max_hamming=5, n_bands=4)
    with pytest.raises(ValueError, match="divide"):
        D.simhash_neardup_pairs(df, max_hamming=2, n_bands=5)


def test_connected_components_raises_on_nonconvergence(spark):
    import pytest

    # a 12-node path needs ~11 min-label rounds; 3 must fail loudly,
    # enough rounds must converge to a single component.
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        D.connected_components(chain, max_iter=3, small_graph_max_edges=0)
    labels = {
        r["node"]: r["label"]
        for r in D.connected_components(chain, small_graph_max_edges=0).collect()
    }
    assert set(labels.values()) == {1}


def test_connected_components_star_matches_propagation(spark, count_jobs):
    import random

    rng = random.Random(11)
    # random sparse graph + a 60-node chain (deep diameter: the case
    # min-label propagation needs O(n) rounds for and star handles in
    # O(log n))
    edges = [(rng.randint(0, 99), rng.randint(0, 99)) for _ in range(80)]
    edges += [(1000 + i, 1000 + i + 1) for i in range(60)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    star = {
        r["node"]: r["label"]
        for r in D.connected_components_star(pairs, max_iter=20).collect()
    }
    prop = {
        r["node"]: r["label"]
        for r in D.connected_components(
            pairs, max_iter=200, small_graph_max_edges=0
        ).collect()
    }
    assert star == prop
    # chain collapses to one component labeled by its min node
    assert all(star[1000 + i] == 1000 for i in range(61))
    # the bounded driver union-find fast path must agree with both, in
    # a fixed number of jobs: materialize, probe, collect — no rounds
    fast, jobs = count_jobs(
        lambda: {r["node"]: r["label"] for r in D.connected_components(pairs).collect()}
    )
    assert fast == prop
    assert jobs == 6


def test_exact_pair_oracles_guard_against_large_input(spark):
    """The exact all-pairs oracles refuse corpus-scale input: above
    max_rows they raise with a pointer to the banded production path;
    max_rows=None restores the unguarded oracle behavior."""
    import pytest

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(10)], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="minhash_neardup_pairs"):
        D.ngram_jaccard_pairs(docs, "text", "doc_id", max_rows=5).collect()
    # under the bound (and with the guard off) the oracle still runs
    assert D.ngram_jaccard_pairs(docs, "text", "doc_id", max_rows=None).count() >= 0

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0]) for i in range(10)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="rp_band_neardup_pairs"):
        S.embedding_neardup_pairs(emb, "vec_id", "embedding", max_rows=5).collect()
    assert S.embedding_neardup_pairs(emb, "vec_id", "embedding", max_rows=None).count() >= 0


def test_ivf_index_persist_roundtrip(spark, sf_dir, tmp_path):
    """save_ivf_index/load_ivf_index: the inverted file lands as a
    _cell-partitioned parquet table + codebook; querying the loaded
    index is bit-identical to the in-memory ivf_topk on the same
    corpus/codebook, and the on-disk layout is partitioned so probe
    joins can prune to the probed cells."""
    import os

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    centroids = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    ]
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "ivf_index")
    S.save_ivf_index(emb, centroids, path)
    # cell-partitioned layout on disk
    cells = [d for d in os.listdir(f"{path}/inverted") if d.startswith("_cell=")]
    assert len(cells) > 1
    inv, cents = S.load_ivf_index(spark, path)
    assert cents == [(int(c), [float(x) for x in v]) for c, v in sorted(centroids)]
    from_index = {
        (r["query_id"], r["vec_id"], r["rnk"], r["cosine_sim"])
        for r in S.ivf_topk_from_index(inv, cents, queries, k=5, nprobe=2).collect()
    }
    in_memory = {
        (r["query_id"], r["vec_id"], r["rnk"], r["cosine_sim"])
        for r in S.ivf_topk(emb, queries, centroids, k=5, nprobe=2).collect()
    }
    assert from_index == in_memory


def test_pq_topk_recall_and_self_hit(spark, sf_dir):
    """PQ ADC + exact rerank: every query's own vector survives the
    compressed candidate cut (a vector reconstructs closest to itself),
    recall@5 vs brute force clears the bar, and the returned scores are
    exact cosines (self-similarity == 1.0)."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    books = S.fit_pq_codebooks(emb, m=8, k=32, seed=42)
    assert len(books) == 8 and len(books[0][0]) == 8  # 64-dim / 8 subspaces
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(emb, queries, k=5)
    approx = S.pq_topk(emb, queries, books, k=5, refine=8)
    a_rows = approx.collect()
    self_rows = [r for r in a_rows if r["vec_id"] == r["query_id"]]
    assert {r["query_id"] for r in self_rows} == {0, 1, 2}
    assert all(r["rank"] == 1 and r["cosine_sim"] == 1.0 for r in self_rows)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in a_rows}
    recall = len(e & a) / len(e)
    assert recall >= 0.7, f"PQ top-k recall {recall:.2f} vs brute force"


def test_pq_encode_is_deterministic_and_compact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    books = S.fit_pq_codebooks(emb, m=8, k=32, seed=42)
    enc1 = {r["vec_id"]: tuple(r["codes"]) for r in S.pq_encode(emb, books).collect()}
    enc2 = {r["vec_id"]: tuple(r["codes"]) for r in S.pq_encode(emb, books).collect()}
    assert enc1 == enc2
    assert all(len(c) == 8 and all(0 <= x < 32 for x in c) for c in enc1.values())


def test_pq_index_save_load_round_trip(spark, sf_dir, tmp_path):
    """Persisted PQ index (codes + codebooks tables) reproduces the
    direct pq_topk results bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    books = S.fit_pq_codebooks(emb, m=8, k=32, seed=42)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    direct = {
        (r["query_id"], r["vec_id"], r["rank"], r["cosine_sim"])
        for r in S.pq_topk(emb, queries, books, k=5, refine=8).collect()
    }
    path = str(tmp_path / "pq_index")
    S.save_pq_index(emb, books, path)
    codes, books2 = S.load_pq_index(spark, path)
    assert books2 == books
    loaded = {
        (r["query_id"], r["vec_id"], r["rank"], r["cosine_sim"])
        for r in S.pq_topk_from_codes(codes, emb, queries, books2, k=5, refine=8).collect()
    }
    assert loaded == direct


def test_exact_dedup_incremental_semantics(spark):
    """Batch-vs-corpus dedup: corpus content drops, intra-batch dups
    keep the lowest id, corpus rows are never emitted, and duplicate
    CORPUS content doesn't multiply batch rows (distinct fingerprints
    on the anti-join side)."""
    seen = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon"), (3, "alpha  beta   gamma")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "Alpha beta GAMMA"),   # normalized dup of corpus content
            (11, "zeta eta theta"),     # fresh, duplicated in-batch
            (12, "zeta eta theta"),
            (13, "iota kappa"),         # fresh, unique
        ],
        "doc_id long, text string",
    )
    from cse_datapipeline_and_mls_spark.operators.dedup import exact_dedup_incremental

    out = sorted(r["doc_id"] for r in exact_dedup_incremental(new, seen).collect())
    assert out == [11, 13]


def test_minhash_incremental_equals_full_run_restricted_to_batch(spark, sf_dir):
    """Incremental batch-vs-corpus MinHash must reproduce EXACTLY the
    full-corpus run's pairs that touch a batch member (the seed-pinned
    hash family makes signatures identical either way)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}

    full = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_neardup_pairs(docs, jaccard_threshold=0.5).collect()
    }
    expected = {
        p for p in full if p[0] in batch_ids or p[1] in batch_ids
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_neardup_incremental(
            batch, corpus, jaccard_threshold=0.5
        ).collect()
    }
    assert expected, "planted near-dups should cross the batch split"
    assert got == expected


def test_minhash_incremental_empty_batch_returns_empty(spark, sf_dir):
    """'No new docs this ingest' must yield an empty pair frame, not an
    LSH.fit crash (Spark's LSH reads the input dimension from the first
    row) — both for a literally-empty batch and for one emptied by the
    size(shingles)>0 filter."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.limit(50)
    empty = docs.filter(F.lit(False))
    out = D.minhash_neardup_incremental(empty, corpus)
    assert out.columns == ["id_a", "id_b", "jaccard_dist"]
    assert out.count() == 0

    blank = spark.createDataFrame(
        [(1, ""), (2, "   ")], "doc_id long, text string"
    )
    out2 = D.minhash_neardup_incremental(blank, corpus)
    assert out2.count() == 0


def test_connected_components_warm_start_append_only(spark, count_jobs):
    """Warm-start CC on an append-only pair stream: prior labels seed
    propagation, the min-id contract is preserved through component
    merges, and convergence takes fewer rounds than a cold run."""
    chain = [(i, i + 1) for i in range(0, 12)]  # one long chain: 0..12
    p1 = spark.createDataFrame(chain[:6], "id_a long, id_b long")
    l1 = D.connected_components(p1, small_graph_max_edges=0)
    # append pairs that EXTEND and MERGE components
    p2 = spark.createDataFrame(chain, "id_a long, id_b long")
    cold, cold_jobs = count_jobs(
        lambda: {
            r["node"]: r["label"]
            for r in D.connected_components(p2, small_graph_max_edges=0).collect()
        }
    )
    warm, warm_jobs = count_jobs(
        lambda: {
            r["node"]: r["label"]
            for r in D.connected_components(
                p2, init_labels=l1, small_graph_max_edges=0
            ).collect()
        }
    )
    # and the fast path (which ignores init_labels by design) must match
    fast = {
        r["node"]: r["label"]
        for r in D.connected_components(p2, init_labels=l1).collect()
    }
    assert fast == cold
    assert warm == cold  # same clustering, min-id labels
    assert set(warm.values()) == {0}
    # fewer propagation rounds, each a fixed number of jobs
    assert warm_jobs < cold_jobs, (warm_jobs, cold_jobs)


def test_bracket_verdicts_flip_on_regressions(spark, sf_dir):
    """The recall-verdict wiring must be LIVE: an approximate path that
    loses its candidates has to flip the boolean (a vacuously-true
    verdict would let real regressions hash-pass)."""
    from cse_datapipeline_and_mls_spark.queries.northstar import (
        _ann_recall_verdict,
    )

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(emb, queries, k=5)
    empty = spark.createDataFrame([], "query_id long, vec_id long")
    out = _ann_recall_verdict(exact, empty, 0.7, "recall_ok").collect()
    assert out and all(r["recall_ok"] is False for r in out)

    # and with the true candidates back, the same wiring passes
    ok = _ann_recall_verdict(exact, exact.select("query_id", "vec_id"), 0.7,
                             "recall_ok").collect()
    assert ok and all(r["recall_ok"] is True for r in ok)


def test_int8_quantize_error_within_half_step(spark):
    """Affine int8 quantization guarantee |x' - x| <= scale/2 holds for
    every vector in the fixture corpus, and scale is (max-min)/255."""
    from cse_datapipeline_and_mls_spark.queries import QUERIES

    rows = QUERIES["x_embedding_int8_quantize"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 500
    assert all(r["within_half_step"] for r in rows)
    assert all(r["max_abs_err"] <= r["qscale"] * 0.51 for r in rows)


def test_pca_power_topvec_closed_form(spark):
    """Rank-1 corpus: every vector is a scalar multiple of u, so the top
    eigenvector is u/|u| exactly and the eigenvalue is the eigenvalue of
    A = (Σ c_i²)·(u uᵀ)/... — checked against numpy's eigh on the exact
    Gram matrix."""
    import numpy as np

    from cse_datapipeline_and_mls_spark.operators.similarity import pca_power_topvec

    rng = [1.0, 2.0, -1.5, 0.5]
    u = np.arange(1, 9, dtype=float)  # dim 8
    rows = [(i, (c * u).tolist()) for i, c in enumerate(rng)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["component"]: r for r in pca_power_topvec(df, dim=8, iters=3).collect()}
    X = np.stack([c * u for c in rng])
    gram = X.T @ X
    evals, evecs = np.linalg.eigh(gram)
    top = evecs[:, -1] * np.sign(evecs[:, -1].sum())
    for j in range(8):
        assert abs(got[j + 1]["loading"] - top[j]) < 1e-6, j
    assert abs(got[1]["eigenvalue"] - evals[-1]) < 1e-3


def test_pca_power_topvec_validates_iters(spark):
    import pytest

    from cse_datapipeline_and_mls_spark.operators.similarity import pca_power_topvec

    df = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="iters"):
        pca_power_topvec(df, dim=2, iters=1)


def test_simhash_incremental_equals_full_restricted(spark, sf_dir):
    """Incremental batch-vs-corpus SimHash must reproduce EXACTLY the
    full run's pairs that touch a batch member (simhash is
    per-document-deterministic; band matching is per-pair local), and
    an empty batch must yield an empty frame, not a crash."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}

    full = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.simhash_neardup_pairs(docs, max_hamming=3).collect()
    }
    expected = {p for p in full if p[0] in batch_ids or p[1] in batch_ids}
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.simhash_neardup_incremental(batch, corpus, max_hamming=3).collect()
    }
    assert got == expected
    assert D.simhash_neardup_incremental(
        docs.filter(F.lit(False)), corpus, max_hamming=3
    ).count() == 0


def test_simhash_incremental_validates_bands(spark, sf_dir):
    import pytest

    docs = load_table(spark, sf_dir, "documents").limit(5)
    with pytest.raises(ValueError, match="pigeonhole"):
        D.simhash_neardup_incremental(docs, docs, max_hamming=4, n_bands=4)


def test_ivf_tombstone_filters_before_topk(spark):
    """The classic tombstone bug filters AFTER the top-k cut and
    returns k - dead results; ivf_apply_tombstones anti-joins the
    postings themselves, so deleting a query's top-1 must (a) remove
    it from the results, (b) still return a full k, and (c) promote
    the next-best vector into the set."""
    import numpy as np

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(40, 8)).astype("float64")
    # vector 0 is the query; vector 1 is a near-duplicate of it (the
    # guaranteed top-1 among non-self candidates), vector 2 next-best
    vecs[1] = vecs[0] + 0.01 * rng.normal(size=8)
    vecs[2] = vecs[0] + 0.05 * rng.normal(size=8)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    codebook = S.fit_codebook(emb, k=4, seed=42, max_iter=5)
    inv = S.assign_cells_np(emb, codebook)
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    k = 5
    before = S.ivf_topk_from_index(inv, codebook, queries, k=k, nprobe=4)
    ids_before = {r["vec_id"] for r in before.collect()}
    assert 1 in ids_before  # the near-dup is in the top-k pre-delete

    tomb = spark.createDataFrame([(1,)], "vec_id long")
    live = S.ivf_apply_tombstones(inv, tomb)
    after = S.ivf_topk_from_index(live, codebook, queries, k=k, nprobe=4)
    rows_after = after.collect()
    ids_after = {r["vec_id"] for r in rows_after}
    assert 1 not in ids_after            # (a) dead posting gone
    assert len(rows_after) == k          # (b) full k, not k-1
    assert 2 in ids_after                # (c) next-best promoted


def test_ivf_compaction_equals_rebuild(spark):
    import numpy as np

    rng = np.random.default_rng(13)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    codebook = S.fit_codebook(emb, k=4, seed=7, max_iter=5)
    inv = S.assign_cells_np(emb, codebook)
    tomb = emb.filter(F.col("vec_id") % 4 == 1).select("vec_id")
    compacted = S.compact_ivf_index(inv, tomb)
    rebuilt = S.assign_cells_np(
        emb.join(tomb, ["vec_id"], "left_anti"), codebook
    )
    a = compacted.select("vec_id", "_cell")
    b = rebuilt.select("vec_id", "_cell")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # compaction really dropped the dead postings
    assert compacted.count() == 45


def test_connected_components_mixed_endpoint_types(spark):
    """ADVICE r12: an int src with a bigint dst must widen to bigint in
    both paths (not truncate or crash in the union-find createDataFrame),
    and a non-integral mix must raise loudly."""
    pairs = spark.createDataFrame(
        [(1, 2**40), (2, 2**40 + 1)], "id_a int, id_b long"
    )
    fast = {r["node"]: r["label"] for r in D.connected_components(pairs).collect()}
    assert fast[2**40] == 1 and fast[2**40 + 1] == 2
    slow = {
        r["node"]: r["label"]
        for r in D.connected_components(pairs, small_graph_max_edges=0).collect()
    }
    assert slow == fast

    bad = spark.createDataFrame([(1, "x")], "id_a int, id_b string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="endpoint types differ"):
        D.connected_components(bad)


def test_ngram_jaccard_fused_sizes_brute_force_parity(spark):
    """r14 optimization pin: ngram_jaccard_pairs folds per-doc shingle
    sizes into the pair aggregation (min of a per-id constant riding
    the exploded gram rows) instead of re-deriving the shingle pass for
    two separate size frames. The denominator must remain the DISTINCT
    STRING shingle count (array_distinct before explode), bit-identical
    to a brute-force python recompute — including docs with repeated
    grams, where a per-occurrence count would differ."""
    rows = [
        (1, "a b c a b c a b c"),        # repeated grams: 3 distinct of 7 raw
        (2, "a b c a b c x y z"),        # shares 'a b c' family with 1
        (3, "a b c d e f"),
        (4, "q r s t u v"),              # no overlap
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def grams(text, n=3):
        w = text.split()
        return set(" ".join(w[i : i + n]) for i in range(len(w) - n + 1))

    import math

    expect = {}
    for i, (ida, ta) in enumerate(rows):
        for idb, tb in rows[i + 1 :]:
            ga, gb = grams(ta), grams(tb)
            inter = len(ga & gb)
            if not inter:
                continue
            j = math.floor(inter / (len(ga) + len(gb) - inter) * 1e6 + 0.5) / 1e6
            if j >= 0.1:
                expect[(ida, idb)] = j
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(df, threshold=0.1).collect()
    }
    assert got == expect


def test_ngram_containment_fused_sizes_brute_force_parity(spark):
    """Same pin for the containment flavors: self-pairs carry BOTH
    directions' distinct-string sizes through the fused aggregation;
    the cross-corpus form carries the eval side's."""
    rows = [
        (1, "a b c d e"),                # contained in 2's grams
        (2, "a b c d e f g h"),
        (3, "z z z z z"),                # degenerate: 1 distinct gram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["id_a"], r["id_b"]): (r["cont_a_in_b"], r["cont_b_in_a"])
        for r in D.ngram_containment_self_pairs(df, n=3, threshold=0.5).collect()
    }
    # doc1: grams {abc,bcd,cde} all inside doc2's 6 -> c(1 in 2)=1.0, c(2 in 1)=0.5
    assert out[(1, 2)] == (1.0, 0.5)
    ev = spark.createDataFrame([rows[0]], "doc_id long, text string")
    tr = spark.createDataFrame(rows[1:], "doc_id long, text string")
    cross = {
        (r["eval_id"], r["train_id"]): (r["n_shared"], r["containment"])
        for r in D.ngram_containment_pairs(ev, tr, n=3, min_shared=2).collect()
    }
    assert cross == {(1, 2): (3, 1.0)}
