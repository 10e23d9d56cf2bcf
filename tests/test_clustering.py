"""Exact-integer Lloyd k-means: parallelism invariance, seeding, progress."""

from __future__ import annotations

from pyspark.sql import functions as F

from newsraag_crawler_spark.operators.clustering import kmeans_assign, quantize_vec

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", quantize_vec("embedding").alias("qvec")
    )


def test_assignments_parallelism_invariant(spark):
    """The whole point of the integer construction: the result is a pure
    function of the data — identical under adversarial repartitioning
    (float-sum order cannot leak into any comparison)."""
    emb = _emb(spark)
    a = kmeans_assign(emb, iters=2)
    b = kmeans_assign(emb.repartition(13, F.col("vec_id")), iters=2)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_seeds_assign_to_themselves_in_pass_one(spark):
    """With iters=1 (seed centroids are actual points, n=1), each seed's
    distance to itself is exactly 0 — it must land in its own cluster."""
    got = {
        r.vec_id: r.cluster
        for r in kmeans_assign(_emb(spark), iters=1).filter(F.col("vec_id") < 4).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_iteration_reduces_or_holds_cost(spark):
    """Lloyd monotonicity on the quantized data: total squared distance to
    the assigned centroid MEAN must not increase from pass 1 to pass 2
    (computed exactly from integer sums, evaluated in python)."""
    emb = _emb(spark)
    pts = {r.vec_id: r.qvec for r in emb.collect()}

    def cost(assign_df):
        groups: dict[int, list[int]] = {}
        for r in assign_df.collect():
            groups.setdefault(r.cluster, []).append(r.vec_id)
        total = 0.0
        for members in groups.values():
            n = len(members)
            dim = len(next(iter(pts.values())))
            s = [sum(pts[m][i] for m in members) for i in range(dim)]
            for m in members:
                total += sum((pts[m][i] - s[i] / n) ** 2 for i in range(dim))
        return total

    c1 = cost(kmeans_assign(emb, iters=1))
    c2 = cost(kmeans_assign(emb, iters=2))
    assert c2 <= c1 + 1e-6, (c1, c2)


def test_out_of_spec_inputs_error_loudly(spark):
    """r4 ADVICE: beyond |q| ≤ 2^13 / dim ≤ 512, Spark's int64 wraps while
    DuckDB promotes to HUGEINT — silent cross-engine drift. Out-of-spec
    inputs must therefore RAISE, not drift."""
    import pytest
    from pyspark.sql.utils import PythonException

    emb = _emb(spark)
    hot = emb.withColumn(
        "qvec", F.transform("qvec", lambda x: x + F.lit(1 << 20))
    )
    with pytest.raises(Exception) as ei:
        kmeans_assign(hot, iters=1).collect()
    assert "2^13" in str(ei.value)

    with pytest.raises(ValueError, match="dim"):
        kmeans_assign(emb, iters=1, dim=513)


def test_centroids_match_final_assignment_sums(spark):
    """kmeans_centroids must equal per-cluster integer sums + counts of the
    final assignment — verified in python (exact integers both sides)."""
    from newsraag_crawler_spark.operators.clustering import kmeans_centroids

    emb = _emb(spark)
    assigns = {r.vec_id: r.cluster for r in kmeans_assign(emb, iters=2).collect()}
    pts = {r.vec_id: list(r.qvec) for r in emb.collect()}
    cents = {r.cid: (list(r.svec), r.n) for r in kmeans_centroids(emb, iters=2).collect()}
    for cid, (svec, n) in cents.items():
        members = [v for v, c in assigns.items() if c == cid]
        assert n == len(members)
        dim = len(svec)
        expect = [sum(pts[m][i] for m in members) for i in range(dim)]
        assert svec == expect


def test_kmeans_clusters_pins_no_blocks(spark):
    """Building and running the catalog's kmeans_clusters query twice leaves
    the session's persistent-RDD set as it was: no checkpoint block is
    pinned per build."""
    from newsraag_crawler_spark.queries import q_kmeans_clusters

    def pinned():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = pinned()
    for _ in range(2):
        q_kmeans_clusters(spark, SF).collect()
    assert pinned() == before
