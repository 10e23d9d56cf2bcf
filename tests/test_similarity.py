"""Similarity: exact cosine top-k vs numpy, SRP/IVF-ANN recall."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from newsraag_crawler_spark.operators.similarity import cosine_topk, srp_topk

DIM = 16


def _emb_df(spark, n=200, seed=7):
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, DIM))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]), vecs


def test_cosine_topk_matches_numpy(spark):
    df, vecs = _emb_df(spark)
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = cosine_topk(df, queries, k=5)
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    for q in range(3):
        order = np.lexsort((np.arange(len(vecs)), -sims[q]))[:5]
        got_ids = [
            r.vec_id
            for r in got.filter(F.col("query_id") == q).orderBy("rank").collect()
        ]
        assert got_ids == list(order), q


def test_cosine_topk_refuses_large_query_sets(spark):
    """r4 VERDICT #5: a non-broadcastable query set must raise, not build
    an O(N×Q) cross product; an explicit cap raise is honored."""
    import pytest

    df, _ = _emb_df(spark, n=60)
    queries = df.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    with pytest.raises(ValueError, match="max_queries"):
        cosine_topk(df, queries, k=5, max_queries=50)
    assert cosine_topk(df, queries, k=1, max_queries=60).count() == 60


def test_srp_topk_recall(spark):
    """Recall on CLUSTERED data (the regime ANN is for): 20 tight clusters;
    a query's true top-10 are its cluster-mates, which SRP buckets keep."""
    rng = np.random.default_rng(3)
    centers = rng.standard_normal((20, DIM)) * 4
    vecs = np.concatenate(
        [c + 0.1 * rng.standard_normal((10, DIM)) for c in centers]
    )
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id").isin([0, 10, 20, 30, 40])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk(df, queries, k=10)
    approx = srp_topk(df, queries, k=10, n_bits=10, dim=DIM)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.8, recall


def test_srp_bucket_rejects_non_integral_coeffs(spark, monkeypatch):
    """Coefficients are formatted into a SQL-text literal; a value that is
    not an integer in [-1000, 1000] must be refused before it is printed."""
    import pytest

    from newsraag_crawler_spark.operators import similarity

    n_bits = 4
    monkeypatch.setattr(
        similarity, "srp_coeffs",
        lambda dim, n_bits: [[1e-7] + [0] * (n_bits - 1)] + [[0] * n_bits] * (dim - 1),
    )
    with pytest.raises(AssertionError, match="srp_coeffs"):
        similarity.srp_bucket(F.col("embedding"), DIM, n_bits)


def test_ivf_topk_good_recall_on_clusters(spark):
    """IVF with seeded centroids on clustered data: the query's cluster-mates
    live in its nearest cells, so 4-probe recall vs exact must be high."""
    from newsraag_crawler_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(7)
    centers = rng.standard_normal((10, DIM)) * 4
    vecs = np.concatenate([c + 0.1 * rng.standard_normal((12, DIM)) for c in centers])
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id").isin([0, 12, 24])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk(df, queries, k=10)
    approx = ivf_topk(df, queries, k=10, n_cells=16, n_probe=4)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.8, recall


def test_bucket_candidates_are_unique_pairs(spark):
    """The r6 dead-exchange removal rests on this invariant: a corpus vector
    carries exactly ONE bucket and the multiprobe values per query are
    pairwise distinct, so the candidate join can never produce a duplicate
    (query, vec) pair — pinned here so a future probe-scheme change that
    breaks it fails loudly instead of silently duplicating rank inputs."""
    from newsraag_crawler_spark.operators.similarity import srp_bucket

    df, _ = _emb_df(spark, n=300)
    n_bits = 6
    c = df.withColumn("bucket", srp_bucket(F.col("embedding"), DIM, n_bits))
    q = df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        srp_bucket(F.col("embedding"), DIM, n_bits).alias("_qb"),
    )
    probes = q.select(
        "query_id",
        F.explode(
            F.array(
                F.col("_qb"),
                *[F.col("_qb").bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)],
            )
        ).alias("bucket"),
    )
    cand = c.join(probes, "bucket").groupBy("query_id", "vec_id").count()
    assert cand.filter(F.col("count") > 1).isEmpty()


def test_ivf_candidates_are_unique_pairs(spark):
    """Same invariant for IVF: cells partition the corpus and the probed
    cells per query are distinct, so candidates are unique pairs."""
    from newsraag_crawler_spark.operators.similarity import ivf_topk

    df, _ = _emb_df(spark, n=300)
    queries = df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = ivf_topk(df, queries, k=300, n_cells=8, n_probe=3)
    dup = got.groupBy("query_id", "vec_id").count().filter(F.col("count") > 1)
    assert dup.isEmpty()
