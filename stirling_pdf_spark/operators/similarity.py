"""Approximate-nearest-neighbor search over embedding columns.

Two tiers:
  * brute-force cosine top-k — the exact baseline; O(queries x corpus),
    fine when the query set is small (queries broadcast to every
    executor, corpus never shuffles);
  * random-hyperplane LSH buckets — the scale path: sign-bit bucket per
    vector (one narrow map), candidates = same-bucket rows, so the
    pairwise work drops from O(n^2) to O(sum bucket^2). Multi-probe /
    multi-table variants are the standard recall knob (add tables by
    calling with different seeds).

All float math is float64 with sequential left-to-right folds so
results are bit-identical to the DuckDB oracle (see
operators/dedup.cosine_expr).

An IVF variant (k-means coarse quantizer) is a natural follow-up; LSH
was chosen first because it is deterministic from a seed — no trained
state to persist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import cosine_expr, key_pairs
from .extract_pipeline import spread


def make_planes(seed: int, n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes, rounded to 6 decimals so
    the same literals embed exactly in both Spark expressions and the
    DuckDB oracle SQL text (decimal->float64 parse is correctly rounded
    in both)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    return [[round(float(x), 6) for x in row] for row in planes]


def _plane_sign(vec_col: str, plane: list[float]):
    """Sign bit of <vec, plane> with a sequential float64 fold."""
    arr = F.array(*[F.lit(x) for x in plane])
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), arr, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.when(dot > 0, F.lit("1")).otherwise(F.lit("0"))


def bucket_expr(vec_col: str, planes: list[list[float]]):
    """All sign bits as one transform over an array<array<double>>
    literal joined to the bucket string — identical float64 folds to
    _plane_sign, but one generic codegen loop instead of n_planes x dim
    inlined terms (the inline form cost seconds of optimizer time)."""
    arr = F.array(*[F.array(*[F.lit(x) for x in p]) for p in planes])
    bits = F.transform(
        arr,
        lambda p: F.when(
            F.aggregate(
                F.zip_with(F.col(vec_col), p,
                           lambda a, b: a.cast("double") * b),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ) > 0,
            F.lit("1"),
        ).otherwise(F.lit("0")),
    )
    return F.array_join(bits, "")


def lsh_buckets(df: DataFrame, planes: list[list[float]],
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, bucket) — bucket is the concatenated sign-bit string of the
    vector against each hyperplane."""
    return spread(df, id_col).select(
        F.col(id_col).alias("id"),
        bucket_expr(vec_col, planes).alias("bucket"),
    )


def embedding_near_dup_lsh(df: DataFrame, planes: list[list[float]],
                           threshold: float = 0.45,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Scale path for embedding near-dup pairs: candidates share an LSH
    bucket (O(sum bucket^2) instead of O(n^2)); exact cosine verifies.
    Output (id_a, id_b) is a SUBSET of dedup.embedding_near_dup_pairs —
    recall rises with fewer planes or more tables."""
    v = spread(df, id_col).select(F.col(id_col).alias("id"),
                                  F.col(vec_col).alias("v"))
    vb = v.join(lsh_buckets(df, planes, id_col, vec_col), "id")
    return (
        key_pairs(vb.select("id", "bucket", "v"), "bucket")
        .filter(cosine_expr("v_a", "v_b") >= F.lit(threshold))
        .select("id_a", "id_b")
    )


def cosine_topk(df: DataFrame, query_ids: list[int], k: int = 3,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k neighbors by cosine for each query id.

    Output: (query_id, rank, neighbor_id) — rank 1..k, ties broken by
    neighbor id ascending; self excluded. The query side is tiny and
    broadcast; the corpus side is scanned once, no shuffle before the
    per-query top-k (a windowed rank over query_id partitions)."""
    v = spread(df, id_col).select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    q = v.filter(F.col("id").isin([int(x) for x in query_ids])).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        F.broadcast(q).crossJoin(v)
        .filter(F.col("id") != F.col("query_id"))
        .withColumn("cos", cosine_expr("qv", "v"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", F.col("id").alias("neighbor_id"))
    )


def lsh_topk(df: DataFrame, query_ids: list[int], planes: list[list[float]],
             k: int = 3, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """LSH-bucketed approximate top-k: candidates share the query's
    bucket; exact cosine rank within candidates. Output shape matches
    cosine_topk. Recall < 1 by construction — add tables/probes to
    raise it; at 100 TB the bucket join replaces the full cross join."""
    v = spread(df, id_col).select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    b = lsh_buckets(df, planes, id_col, vec_col)
    vb = v.join(b, "id")
    q = vb.filter(F.col("id").isin([int(x) for x in query_ids])).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        F.broadcast(q)
        .join(vb, F.col("bucket") == F.col("qbucket"))
        .filter(F.col("id") != F.col("query_id"))
        .withColumn("cos", cosine_expr("qv", "v"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", F.col("id").alias("neighbor_id"))
    )


def pq_dist_lists(vec_col: str, codebooks: list[list[list[float]]]):
    """Per-subspace squared-L2 distance lists to every codeword:
    dls[m][j] = ||v[m*sub : (m+1)*sub] - codebooks[m][j]||^2 as an
    array<array<double>> column — one generic two-level transform over
    the codebook literal (the same sequential float64 folds and
    codegen-size discipline as ivf._dists_expr)."""
    sub = len(codebooks[0][0])
    cb = F.array(*[
        F.array(*[F.array(*[F.lit(x) for x in cw]) for cw in book])
        for book in codebooks])
    return F.transform(
        cb,
        lambda book, m: F.transform(
            book,
            lambda cw: F.aggregate(
                F.zip_with(
                    F.slice(F.col(vec_col), m * F.lit(sub) + 1, sub),
                    cw,
                    lambda a, b: (a.cast("double") - b)
                    * (a.cast("double") - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        ),
    )


def pq_topk(df: DataFrame, codebooks: list[list[list[float]]],
            query_ids: list[int], k: int = 3,
            id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search" — public literature):
    vectors compress to one codeword index per subspace (M small ints
    instead of dim floats — the 100-TB story is BYTES: a 64-float
    embedding column becomes M=8 codes, a 32x scan-size cut), queries
    score against codes only via the asymmetric distance computation
    (ADC): approx ||q - x||^2 = sum_m qdls[m][code_m], where qdls is
    the query's per-subspace distance LUT — M table lookups per
    candidate, no full-vector reads.

    Output: (query_id, rank, neighbor_id) by ascending approx
    distance, fp-exact against the DuckDB oracle (explicit
    left-associated M-term sum). Like the brute-force cosine baseline
    the scan is O(queries x corpus) — PQ cuts bytes and FLOPs per
    candidate, not candidates; compose with the IVF cells for IVF-PQ
    when both dials are needed."""
    v = spread(df, id_col).select(F.col(id_col).alias("id"),
                                  F.col(vec_col).alias("v"))
    coded = v.select("id", pq_codes_expr("v", codebooks))
    q = (
        v.filter(F.col("id").isin([int(x) for x in query_ids]))
        .select(F.col("id").alias("query_id"),
                pq_dist_lists("v", codebooks).alias("qdls"))
    )
    m_terms = None
    for m in range(len(codebooks)):
        term = F.element_at(
            F.element_at(F.col("qdls"), m + 1),
            F.element_at(F.col("codes"), m + 1))
        m_terms = term if m_terms is None else m_terms + term
    scored = (
        coded.join(F.broadcast(q),
                   F.col("id") != F.col("query_id"))
        .withColumn("approx", m_terms)
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("approx"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", F.col("id").alias("neighbor_id"))
    )


def pq_codes_expr(vec_col: str, codebooks):
    """PQ encode: 1-BASED argmin codeword per subspace off the
    distance lists (first occurrence on fp ties — array_position
    semantics, matching DuckDB list_indexof). Aliased 'codes'."""
    dls = pq_dist_lists(vec_col, codebooks)
    return F.transform(
        dls, lambda dl: F.array_position(dl, F.array_min(dl)).cast("int")
    ).alias("codes")


def ivfpq_topk(df: DataFrame, centroids: list[list[float]],
               codebooks: list[list[list[float]]],
               query_ids: list[int], k: int = 3, nprobe: int = 2,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """IVF-PQ — the production ANN shape (FAISS's default index
    family, Jégou et al. 2011 §V): the IVF coarse quantizer prunes
    CANDIDATES to the query's nprobe nearest cells (touch nprobe/k of
    the corpus) while PQ prunes BYTES per candidate (M code lookups
    instead of a dim-float scan). Candidates rank by the ADC LUT sum;
    output (query_id, rank, neighbor_id), fp-exact vs the oracle.

    At 100 TB the inverted list is the partitioning key and the code
    table is the only per-row payload read — both dials compose
    multiplicatively."""
    from .ivf import _dists_expr

    v = spread(df, id_col).select(F.col(id_col).alias("id"),
                                  F.col(vec_col).alias("v"))
    with_d = v.withColumn("cdists", _dists_expr("v", centroids))
    coded = with_d.select(
        "id",
        (F.array_position("cdists", F.array_min("cdists")) - 1)
        .cast("int").alias("cluster"),
        pq_codes_expr("v", codebooks),
    )
    probe_lists = F.slice(
        F.expr("array_sort(transform(cdists,"
               " (d, i) -> struct(d as d, i as i)))"),
        1, nprobe,
    )
    q = (
        with_d.filter(F.col("id").isin([int(x) for x in query_ids]))
        .select(
            F.col("id").alias("query_id"),
            F.transform(probe_lists, lambda s: s["i"]).alias("probes"),
            pq_dist_lists("v", codebooks).alias("qdls"),
        )
    )
    m_terms = None
    for m in range(len(codebooks)):
        term = F.element_at(
            F.element_at(F.col("qdls"), m + 1),
            F.element_at(F.col("codes"), m + 1))
        m_terms = term if m_terms is None else m_terms + term
    scored = (
        F.broadcast(q)
        .join(coded, F.array_contains(F.col("probes"), F.col("cluster")))
        .filter(F.col("id") != F.col("query_id"))
        .withColumn("approx", m_terms)
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("approx"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", F.col("id").alias("neighbor_id"))
    )


def train_pq_codebooks(df: DataFrame, m: int = 8, k: int = 8,
                       iters: int = 5, sample: int = 2048,
                       seed: int = 42, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> list[list[list[float]]]:
    """Deterministic per-subspace Lloyd's k-means on a fixed sample
    (ordered by id) — the trained counterpart of the gate's literal
    codebooks; same bounded driver-side collect as ivf.train_centroids
    (the one sanctioned collect: the trained state is m*k*sub floats).
    Rounded to 6 decimals so literals embed exactly in both engines."""
    import numpy as np

    rows = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy("id").limit(sample).collect()
    )
    x = np.asarray([r["v"] for r in rows], dtype=np.float64)
    sub = x.shape[1] // m
    books = []
    for mi in range(m):
        xs = x[:, mi * sub:(mi + 1) * sub]
        rng = np.random.default_rng(seed + mi)
        cents = xs[rng.choice(len(xs), size=k, replace=False)].copy()
        for _ in range(iters):
            d = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(k):
                members = xs[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append([[round(float(v), 6) for v in c] for c in cents])
    return books


def emb_dim_stats(df: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Per-dimension embedding distribution report — the feature-drift
    monitor an embedding pipeline runs per snapshot (compare against
    the previous table's stats to catch model or data drift): each
    dimension's count, fixed-point sum, sum of squares and min/max in
    exact micro-units (fx = floor(v * 10^6) as int64, the repo-wide
    fixed-point rule), so the reader derives mean/variance exactly.

    Scale shape: one posexplode + map-side partial agg onto the
    DIMENSION universe (64 keys) — constant exchange at any corpus
    size. sum_fx2 is the overflow ceiling (~10^12 per row); rescale
    the fixed point at >10^6-row-per-dim corpora if values exceed
    unit range. Output: (dim, n, sum_fx, sum_fx2, min_fx, max_fx)."""
    fx = F.floor(F.col("val").cast("double") * 1000000.0).cast("long")
    exploded = df.select(
        F.posexplode(F.col(vec_col)).alias("dim", "val")
    ).select(F.col("dim").cast("long").alias("dim"), fx.alias("fx"))
    return exploded.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("fx").cast("long").alias("sum_fx"),
        F.sum(F.col("fx") * F.col("fx")).cast("long").alias("sum_fx2"),
        F.min("fx").cast("long").alias("min_fx"),
        F.max("fx").cast("long").alias("max_fx"),
    )


def mutual_knn_pairs(df: DataFrame, k: int = 3, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Mutual-kNN pair mining — the alignment stage of margin-based
    bitext/paired-data construction (Artetxe & Schwenk, "Margin-based
    Parallel Corpus Mining"): the corpus is split into side A (even
    id) and side B (odd id) modelling two sources to be paired
    (languages, modalities, snapshot generations), and a pair
    (a, b) survives only if b is within a's cosine top-k over B AND a
    is within b's top-k over A. The mutual constraint is what removes
    the hubness false-positives a one-directional top-k (ann_cosine_topk)
    keeps.

    Output: (id_a, id_b, rank_ab, rank_ba) — integer-exact (ranks, no
    float columns), ties broken by partner id ascending like the ANN
    family.

    This is the labeled EXACT baseline (bipartite all-pairs cosine,
    like embedding_near_dup_pairs): at 100 TB the candidate pairs come
    from lsh_buckets / IVF probes restricted to each side, and the
    mutual rank filter below is unchanged — both directions' ranks are
    windowed over the SAME scored frame, so candidates are scored
    once, not once per direction."""
    v = spread(df, id_col).select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    a = v.filter(F.col("id") % 2 == 0).select(
        F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = v.filter(F.col("id") % 2 == 1).select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"))
    scored = a.crossJoin(b).withColumn("cos", cosine_expr("va", "vb"))
    w_ab = Window.partitionBy("id_a").orderBy(F.desc("cos"), F.asc("id_b"))
    w_ba = Window.partitionBy("id_b").orderBy(F.desc("cos"), F.asc("id_a"))
    return (
        scored
        .withColumn("rank_ab", F.row_number().over(w_ab).cast("long"))
        .withColumn("rank_ba", F.row_number().over(w_ba).cast("long"))
        .filter((F.col("rank_ab") <= k) & (F.col("rank_ba") <= k))
        .select("id_a", "id_b", "rank_ab", "rank_ba")
    )
