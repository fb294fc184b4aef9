"""IVF (inverted-file) approximate nearest neighbor search.

The coarse quantizer is a deterministic Lloyd's k-means trained
driver-side on a corpus sample (standard IVF practice — the trained
state is tiny: k x dim floats — then broadcast as literals). Vectors
are assigned to their nearest centroid (the "inverted list"); a query
probes its own centroid's list (nprobe=1) or the nearest few.

At 100 TB the assignment is one narrow map over the corpus, the
inverted lists are the partitioning key, and a top-k probe touches
1/k-th of the data per probe — the same shape as the LSH variant
(operators/similarity.py) but with data-adaptive cells instead of
random hyperplanes.

All distance math is float64 with sequential folds (bit-identical to
the DuckDB oracle); centroids are rounded to 6 decimals so the same
literals embed exactly in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import cosine_expr, key_pairs
from .extract_pipeline import spread


def train_centroids(df: DataFrame, k: int = 8, iters: int = 5,
                    sample: int = 2048, seed: int = 42,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> list[list[float]]:
    """Deterministic Lloyd's k-means on a fixed sample (ordered by id,
    so the same corpus always yields the same centroids). Empty cells
    keep their previous centroid."""
    import numpy as np

    rows = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy("id").limit(sample).collect()
    )
    x = np.asarray([r["v"] for r in rows], dtype=np.float64)
    rng = np.random.default_rng(seed)
    centroids = x[rng.choice(len(x), size=k, replace=False)].copy()
    for _ in range(iters):
        d = ((x[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return [[round(float(v), 6) for v in c] for c in centroids]


def _sq_dist(vec_col: str, centroid: list[float]):
    arr = F.array(*[F.lit(x) for x in centroid])
    return F.aggregate(
        F.zip_with(F.col(vec_col), arr,
                   lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dists_expr(vec_col: str, centroids: list[list[float]]):
    """Distances to ALL centroids as one transform over an
    array<array<double>> literal — same sequential float64 folds as
    _sq_dist, but the generated code is one generic loop instead of
    k x dim inlined terms (k=8, dim=64 inlined was ~10x slower to
    codegen/optimize than to execute)."""
    cents = F.array(*[F.array(*[F.lit(x) for x in c]) for c in centroids])
    return F.transform(
        cents,
        lambda c: F.aggregate(
            F.zip_with(F.col(vec_col), c,
                       lambda a, b: (a.cast("double") - b)
                       * (a.cast("double") - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )


def ivf_assign(df: DataFrame, centroids: list[list[float]],
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, cluster) — argmin of squared L2 distance to each centroid;
    ties (exact fp equality) go to the lowest cluster index."""
    dists = _dists_expr(vec_col, centroids)
    cluster = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    return spread(df, id_col).select(
        F.col(id_col).alias("id"), cluster.alias("cluster")
    )


def ivf_topk(df: DataFrame, centroids: list[list[float]],
             query_ids: list[int], k: int = 3, nprobe: int = 1,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: candidates come from the query's nprobe
    nearest inverted lists; exact cosine rank within candidates.
    Output: (query_id, rank, neighbor_id)."""
    v = spread(df, id_col).select(F.col(id_col).alias("id"),
                                  F.col(vec_col).alias("v"))
    # materialize the distance array ONCE as a column; cluster and the
    # probe list both derive from it (inlining the 8x64-term expression
    # into each consumer doubles codegen size and optimizer time)
    with_d = v.withColumn("dists", _dists_expr("v", centroids))
    assigned = with_d.select(
        "id", "v",
        (F.array_position("dists", F.array_min("dists")) - 1).cast("int")
        .alias("cluster"),
    )
    probe_lists = F.slice(
        F.expr("array_sort(transform(dists, (d, i) -> struct(d as d, i as i)))"),
        1, nprobe,
    )
    q = (
        with_d.filter(F.col("id").isin([int(x) for x in query_ids]))
        .select(
            F.col("id").alias("query_id"), F.col("v").alias("qv"),
            F.transform(probe_lists, lambda s: s["i"]).alias("probes"),
        )
    )
    scored = (
        F.broadcast(q)
        .join(assigned, F.array_contains(F.col("probes"), F.col("cluster")))
        .filter(F.col("id") != F.col("query_id"))
        .withColumn("cos", cosine_expr("qv", "v"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", F.col("id").alias("neighbor_id"))
    )


def semdedup_prune(df: DataFrame, centroids: list[list[float]],
                   threshold: float = 0.45,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public literature; the reference has no
    embedding surface): assign every vector to its nearest coarse
    centroid, then look for near-duplicate pairs ONLY within each
    cluster and drop the higher-id member of every pair.

    Output: (id, cluster, keep) for EVERY input vector — keep is an
    INT flag (1 = survives, 0 = pruned as a semantic duplicate of a
    lower-id same-cluster vector).

    Scale shape: the quadratic candidate search is confined to
    intra-cluster pairs (an equi-join on the cluster id — ~1/k of all
    pairs, and the clusters are the partitioning key), which is
    exactly the SemDeDup trick that makes semantic dedup feasible on
    web-scale corpora; the keep-list is one distinct + one left join.
    """
    v = spread(df, id_col).select(F.col(id_col).alias("id"),
                                  F.col(vec_col).alias("v"))
    assigned = v.withColumn("dists", _dists_expr("v", centroids)).select(
        "id", "v",
        (F.array_position("dists", F.array_min("dists")) - 1)
        .cast("int").alias("cluster"),
    )
    pruned = (
        key_pairs(assigned.select("id", "cluster", "v"), "cluster")
        .filter(cosine_expr("v_a", "v_b") >= F.lit(threshold))
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("dup", F.lit(1))
    )
    return (
        assigned.join(pruned, "id", "left")
        .select(
            "id", "cluster",
            (F.lit(1) - F.coalesce(F.col("dup"), F.lit(0)))
            .cast("int").alias("keep"),
        )
    )
