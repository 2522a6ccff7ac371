"""Approximate-nearest-neighbor search over an embedding column.

Two paths:
- :func:`ann_bruteforce_topk` — exact cosine top-k: broadcast the query
  set, crossJoin, window-rank.  The correctness baseline; at 100 TB it
  is the *per-query-batch* inner loop, not the corpus scan.
- :func:`ann_ivf_topk` — IVF: vectors pre-bucketed by nearest centroid
  (one pass, deterministic centroid seed-set), queries probe only the
  ``n_probe`` nearest buckets.  With ``n_probe >= n_centroids`` the
  result is exactly brute force (tested); with small ``n_probe`` the
  scan cost drops to ~n_probe/n_centroids of the corpus — the scale
  path (recall measured in tests).

Cosine is computed over array<double> with a sequential fold so any
engine reproduces it bit-for-bit (see dedup.cosine_expr).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from parserpdf_spark.operators.dedup import cosine_expr, double_vecs


def ann_bruteforce_topk(embeddings: DataFrame, queries: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank) — exact top-5 by cosine,
    self-matches excluded, ties broken by neighbor_id (total order)."""
    base = double_vecs(embeddings, "neighbor_id")
    q = double_vecs(queries, "query_id")
    scored = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine", cosine_expr(F.col("query_id_v"), F.col("neighbor_id_v"))
        )
    )
    return _top_k(scored, 5)


def ivf_centroids(embeddings: DataFrame, every: int = 100) -> DataFrame:
    """Deterministic centroid seed-set: every ``every``-th vector by id;
    tighten with :func:`lloyd_refine` (``ann_ivf_topk(lloyd_iters=…)``)."""
    return double_vecs(
        embeddings.filter(F.col("vec_id") % every == 0), "centroid_id"
    )


def lloyd_refine(
    embeddings: DataFrame, centroids: DataFrame, iters: int = 1
) -> DataFrame:
    """Lloyd/k-means refinement of the IVF centroid set, fully
    relational: assign every vector to its nearest centroid (broadcast),
    recompute each centroid as the element-wise mean of its members
    (posexplode → per-(centroid, dim) avg → re-assemble).  One shuffle
    of (centroid_id, dim, x) triples per iteration — never materializes
    vectors on the driver, so it scales with the corpus."""
    base = double_vecs(embeddings, "member_id")
    for _ in range(int(iters)):
        assigned = _nearest_centroids(base, centroids, "member_id", 1)
        dims = assigned.select(
            "centroid_id", F.posexplode("member_id_v").alias("pos", "x")
        )
        centroids = (
            dims.groupBy("centroid_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("centroid_id_v")
            )
        )
    return centroids


def _nearest_centroids(
    vectors: DataFrame, centroids: DataFrame, vec_prefix: str, n: int
) -> DataFrame:
    """Attach the ``n`` nearest centroid ids to each vector (broadcast
    centroids — they are tiny by construction)."""
    scored = vectors.crossJoin(F.broadcast(centroids)).withColumn(
        "c_cos", cosine_expr(F.col(f"{vec_prefix}_v"), F.col("centroid_id_v"))
    )
    w = W.partitionBy(vec_prefix).orderBy(
        F.col("c_cos").desc(), F.col("centroid_id").asc()
    )
    return (
        scored.withColumn("c_rank", F.row_number().over(w))
        .filter(F.col("c_rank") <= n)
        .select(vec_prefix, f"{vec_prefix}_v", "centroid_id")
    )


def ann_ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    every: int = 100,
    n_probe: int = 2,
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF top-k: search only the buckets of the n_probe nearest
    centroids per query.  Join key = centroid_id, so the pair space is
    Σ bucket×probe, not corpus×queries.  ``lloyd_iters`` k-means passes
    tighten the seed centroids (better balanced buckets → better recall
    at small n_probe)."""
    centroids = ivf_centroids(embeddings, every=every)
    if lloyd_iters:
        centroids = lloyd_refine(embeddings, centroids, iters=lloyd_iters)
    base = double_vecs(embeddings, "neighbor_id")
    q = double_vecs(queries, "query_id")

    assigned = _nearest_centroids(base, centroids, "neighbor_id", 1)
    probed = _nearest_centroids(q, centroids, "query_id", n_probe)

    # the probe table is queries × n_probe — broadcast it so the bucket
    # join never shuffles the corpus-sized assigned table
    scored = (
        assigned.join(F.broadcast(probed), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine", cosine_expr(F.col("query_id_v"), F.col("neighbor_id_v"))
        )
        # a (query, neighbor) pair can meet via several probed buckets
        .groupBy("query_id", "neighbor_id")
        .agg(F.first("cosine").alias("cosine"))
    )
    return _top_k(scored, k)


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): the ``k`` best-scored
    neighbors per query, ties broken by neighbor_id (a total order),
    cosine rounded to 6 places."""
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cosine"), 6).alias("cosine"),
            "rank",
        )
    )
