"""Iterative k-means (Lloyd) clustering with EXACT cross-engine semantics.

Iterative algorithms are where SQL-oracle verification usually gives up:
after one centroid update, float summation ORDER diverges between engines
and every subsequent assignment drifts. This operator makes Lloyd's
algorithm exactly replayable in DuckDB:

1. Vectors are quantized once with ``floor(x · 2^13)`` — a power-of-two
   multiply of a float32-widened-to-double is exact, and floor carries no
   round-half ambiguity, so both engines produce the SAME integers.
2. Centroids are stored as (integer sum vector s_c, member count n_c) —
   never divided, so centroid state stays exactly representable.
3. Assignment ranks by the squared distance to the mean,
   |x − s_c/n_c|² = D_c / n_c²  with  D_c = n_c²·|x|² − 2·n_c·⟨x,s_c⟩ + |s_c|²
   computed entirely in int64 (exact; per-dim terms stay ≤ ~2^56 at the
   gated scales: |q| ≤ 2^13, n_c ≤ 2^13, dim 64), then divided by n_c² as
   ONE IEEE double division of two integer-agreed operands — identical
   bit pattern in every engine — with the centroid id as a deterministic
   tie-break. No accumulation of floats ever happens, so no order
   divergence is possible.
4. Centroid update = per-dimension integer sums + a count (map-side
   combinable groupBy on k keys).

Scale shape per iteration: broadcast the k-row centroid table, map-side
distance/argmin over the points, one k-key aggregation — the classic
Lloyd-on-Spark layout (MLlib's KMeans broadcasts centers per iteration
the same way at any cluster size). The quantization grid is part of this
operator's spec, like any production ANN quantizer (IVF/PQ cluster on
quantized vectors as a matter of course).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QSCALE = 1 << 13  # power-of-two quantization: floor(x·2^13) is exact for f32


def quantize_vec(vec_col) -> F.Column:
    """array<float> → array<long> via floor(x·2^13): exact and identical in
    Spark and DuckDB (no round-half semantics involved)."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        c, lambda x: F.floor(x.cast("double") * F.lit(float(QSCALE))).cast("long")
    )


def _dist_num(qvec, svec, n):
    """Exact int64 numerator D = n²|x|² − 2n⟨x,s⟩ + |s|² (left-fold over
    dimensions — integer addition is order-free, so the fold shape is for
    Catalyst compile size, not correctness)."""
    term = F.zip_with(
        qvec, svec, lambda x, s: n * n * x * x - F.lit(2) * n * x * s + s * s
    )
    return F.aggregate(term, F.lit(0).cast("long"), lambda acc, v: acc + v)


def _kmeans_final(
    emb: DataFrame,
    id_col: str = "vec_id",
    qvec_col: str = "qvec",
    k: int = 4,
    iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Lloyd's k-means over pre-quantized integer vectors, seeded from the
    k lowest ids, running ``iters`` assignment passes with centroid
    recomputation between passes. Internal: returns the final assignment
    aggregate (_id, cid, _q) — the quantized vector rides along so
    kmeans_centroids can recompute sums WITHOUT re-joining the input
    (kmeans_assign projects it away for its public (id, cluster) contract).

    The plan is fully lazy: iteration i's plan NESTS every earlier
    iteration's subtree, so plan size grows with iters and a consumer that
    references the result twice re-runs the whole chain — such a caller
    materializes the result itself (the catalog's ivf_kmeans_topk
    checkpoints kmeans_centroids' k rows).

    Out-of-spec inputs ERROR instead of silently drifting (r4 ADVICE):
    the int64 exactness of ``_dist_num`` needs |q| ≤ 2^13, per-cluster
    n ≤ 2^13 and dim ≤ 512 (term bound dim·4·n²·q² < 2^63) — beyond
    those, Spark's long arithmetic wraps (ANSI off) while DuckDB promotes
    to HUGEINT, so the engines would diverge without failing. Each bound
    is enforced at runtime via an assert_true threaded through the value
    column (so Catalyst cannot prune it away).
    """
    if dim * 4 * (QSCALE**2) * (QSCALE**2) >= 2**63:
        raise ValueError(
            f"kmeans_assign: dim={dim} overflows the int64 distance bound "
            f"(dim·4·2^26·2^26 must stay < 2^63, i.e. dim ≤ 512)"
        )
    q_ok = ~F.exists(
        F.col(qvec_col), lambda x: (x > QSCALE) | (x < -QSCALE) | x.isNull()
    )
    q_checked = F.when(
        F.assert_true(
            q_ok, F.lit("kmeans_assign: |q| > 2^13 breaks int64 exactness")
        ).isNull(),
        F.col(qvec_col),
    )
    pts = emb.select(F.col(id_col).alias("_id"), q_checked.alias("_q"))
    cent = pts.filter(F.col("_id") < k).select(
        F.col("_id").cast("int").alias("cid"),
        F.col("_q").alias("svec"),
        F.lit(1).cast("long").alias("n"),
    )

    def assign(c: DataFrame) -> DataFrame:
        """Zero-exchange argmin (the same packed-codebook shape ivf_topk
        uses for cell assignment): the k centroids are collapsed into ONE
        row holding array<struct(cid, svec, n)> sorted by cid, broadcast-
        nested-loop joined (1 row — no shuffle of the points), and each
        point takes array_min over struct(d, cid) — lexicographic struct
        ordering, identical to the former min_by(cid, struct(d, cid))
        aggregation key, so assignments are bit-for-bit the same while the
        per-iteration N-row groupBy(_id) exchange disappears entirely (the
        only remaining per-iteration shuffle is update()'s k-key partial
        aggregation). ``_q`` rides along for update()/kmeans_centroids."""
        n_checked = F.when(
            F.assert_true(
                F.col("n") <= QSCALE,
                F.lit("kmeans_assign: cluster count n > 2^13 breaks int64 exactness"),
            ).isNull(),
            F.col("n"),
        ).alias("n")
        cent_row = c.select("cid", "svec", n_checked).agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("cid"), F.col("svec"), F.col("n")))
            ).alias("_cents")
        )

        def score(cc):
            # one IEEE division of two exactly-agreed integers per
            # candidate: bit-identical ranking in every engine
            d = _dist_num(F.col("_q"), cc["svec"], cc["n"]).cast("double") / (
                cc["n"] * cc["n"]
            ).cast("double")
            return F.struct(d.alias("d"), cc["cid"].alias("cid"))

        best = F.array_min(F.transform(F.col("_cents"), score))
        return pts.crossJoin(F.broadcast(cent_row)).select(
            "_id", best["cid"].alias("cid"), "_q"
        )

    def update(a: DataFrame) -> DataFrame:
        # ONE parsed expression for the dim per-dimension sums: the Column
        # API form (F.array of dim F.sum(F.col(...)[i]) nodes) cost ~250
        # py4j round trips per iteration on the driver; the parsed tree —
        # and the k-key partial aggregation it compiles to — is identical
        return a.groupBy("cid").agg(
            F.expr(
                "array(" + ", ".join(f"sum(_q[{i}])" for i in range(dim)) + ")"
            ).alias("svec"),
            F.count("*").alias("n"),
        )

    for _ in range(iters - 1):
        cent = update(assign(cent))
    return assign(cent)


def kmeans_assign(
    emb: DataFrame,
    id_col: str = "vec_id",
    qvec_col: str = "qvec",
    k: int = 4,
    iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    final = _kmeans_final(emb, id_col, qvec_col, k=k, iters=iters, dim=dim)
    return final.select(F.col("_id").alias(id_col), F.col("cid").alias("cluster"))


def kmeans_centroids(
    emb: DataFrame,
    id_col: str = "vec_id",
    qvec_col: str = "qvec",
    k: int = 4,
    iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Trained centroids: the integer (sum vector, count) recomputed from
    the FINAL assignment of ``kmeans_assign`` — still never divided, so
    downstream consumers that are scale-invariant (cosine quantizers: the
    IVF coarse router) can use the sum vector directly as the centroid
    direction with zero float drift. Returns (cid, svec array<long>, n)."""
    # the final assignment already carries each point's quantized vector —
    # all k candidate copies are identical — so the sums are a straight
    # re-aggregation: no shuffle-join of the assignment back onto the
    # input table
    final = _kmeans_final(emb, id_col, qvec_col, k=k, iters=iters, dim=dim)
    return final.groupBy("cid").agg(
        # same single-parse array-of-sums as update() (py4j-light)
        F.expr(
            "array(" + ", ".join(f"sum(_q[{i}])" for i in range(dim)) + ")"
        ).alias("svec"),
        F.count("*").alias("n"),
    )
