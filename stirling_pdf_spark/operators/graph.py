"""Distributed PageRank in integer fixed-point — exactly reproducible
link analysis for web-corpus curation (domain authority feeds crawl
prioritization and quality priors in public web-pipeline recipes).

Same determinism trick as kmeans.py: rank mass lives in integer micro
units, per-edge contributions are floor divisions and the damping mix
is integer arithmetic, so every iteration is bit-identical between
Spark and the DuckDB oracle and across any executor count. The
simplification relative to textbook PageRank: dangling-node mass is
dropped rather than redistributed (total mass decays slightly per
iteration) — the ORDERING, which is what curation consumes, is
unaffected for the graphs this ranks.

Per iteration: one join of ranks onto the edge list (rank side keyed
by node, edge side by src — co-partitioned after the first shuffle)
and one groupBy(dst). Driver holds no graph state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MASS = 1_000_000  # total rank mass in micro units


def pagerank(edges: DataFrame, iters: int = 3,
             damping_x1000: int = 850) -> DataFrame:
    """``edges``: (src, dst) — multi-edges must be pre-deduplicated by
    the caller if unweighted semantics are wanted. Returns
    (node, rank_micro, out_deg) after ``iters`` iterations from the
    uniform start; out_deg 0 marks dangling nodes."""
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count("*").cast("long").alias("out_deg"))

    n_nodes = nodes.count()  # one scalar; the graph's node count
    base = MASS // n_nodes
    teleport = (1000 - damping_x1000) * base // 1000

    ranks = nodes.withColumn("rank_micro", F.lit(base).cast("long"))
    for _ in range(iters):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_micro DIV out_deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("in_mass"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (F.lit(teleport)
             + F.expr(f"{damping_x1000} * coalesce(in_mass, 0) DIV 1000"))
            .cast("long").alias("rank_micro"),
        )

    return ranks.join(deg.withColumnRenamed("src", "node"), "node", "left") \
        .select("node", "rank_micro",
                F.coalesce("out_deg", F.lit(0)).cast("long")
                .alias("out_deg"))


def hits(edges: DataFrame, iters: int = 3) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) with integer
    max-normalization: scores live in micro units and each half-step
    rescales by the current maximum via floor division (the L2 norm of
    the textbook algorithm is float; max-normalization preserves the
    ORDERING, which is what curation consumes, and keeps every
    operation integer — bit-identical across engines and executor
    counts). Nodes with no in-edges hold authority 0, no out-edges hub
    0. Per half-step: one rank-edge join + one groupBy + one bounded
    scalar max.

    Returns (node, hub_x, auth_x) after ``iters`` iterations.
    """
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    from ..runtime.staging import stage

    # e and nodes are re-joined every half-step (4 x iters consumers)
    e = stage(e)
    nodes = stage(nodes)
    hubs = nodes.withColumn("h", F.lit(MASS).cast("long"))

    auth = None
    for _ in range(iters):
        # each half-step's raw sums feed BOTH the scalar max and the
        # normalized projection — persist them or every max collect
        # recomputes the whole iteration chain from the scan
        a_raw = stage(
            e.join(hubs.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("h").cast("long").alias("ar"))
        )
        max_a = a_raw.agg(F.max("ar")).collect()[0][0] or 1
        auth = nodes.join(a_raw, "node", "left").select(
            "node",
            F.expr(f"coalesce(ar, 0) * {MASS} DIV {max_a}")
            .cast("long").alias("a"),
        )
        h_raw = stage(
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("a").cast("long").alias("hr"))
        )
        max_h = h_raw.agg(F.max("hr")).collect()[0][0] or 1
        hubs = nodes.join(h_raw, "node", "left").select(
            "node",
            F.expr(f"coalesce(hr, 0) * {MASS} DIV {max_h}")
            .cast("long").alias("h"),
        )

    return (
        hubs.join(auth, "node")
        .select("node", F.col("h").alias("hub_x"),
                F.col("a").alias("auth_x"))
    )


def triangles(edges: DataFrame) -> DataFrame:
    """Exact triangle enumeration over an undirected graph given as a
    (src, dst) edge list — the MapReduce degree-ordering algorithm
    (Suri & Vassilvitskii, WWW'11): orient every edge from its
    lower-(degree, id) endpoint to the higher, emit wedges at each
    apex, and close them against the edge set. Orientation bounds
    every out-neighborhood by O(sqrt(m)) regardless of raw degree, so
    the wedge self-join never explodes on celebrity nodes — the
    property that makes triangle counting feasible on a web-scale
    domain graph (clustering-coefficient / community signals for
    crawl curation).

    Multi-edges, self-loops and direction are normalized away first.
    Each triangle appears exactly once, as (n1, n2, n3) sorted
    lexicographically. Plan: two groupBys (dedup + degrees), one
    broadcast-or-shuffle join of degrees onto edges, the wedge
    self-join keyed on the apex, and the closing equi-join keyed on
    the canonical pair — all equi-joins, no cartesian."""
    # canonical undirected edges: lexicographic (u, v), u < v
    u, v = F.col("src").cast("string"), F.col("dst").cast("string")
    e = (
        edges.select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    from ..runtime.staging import stage

    e = stage(e)
    deg = (
        e.select(F.col("u").alias("n"))
        .unionByName(e.select(F.col("v").alias("n")))
        .groupBy("n").agg(F.count("*").cast("long").alias("d"))
    )
    # orient low-(degree, id) -> high-(degree, id)
    du = deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du")
    dv = deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv")
    withdeg = e.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = stage(withdeg.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    ))
    # wedges at apex a: unordered out-neighbor pairs, canonical lex
    w1 = oriented.select(F.col("a"), F.col("b").alias("x"))
    w2 = oriented.select(F.col("a"), F.col("b").alias("y"))
    wedges = w1.join(w2, "a").filter(F.col("x") < F.col("y"))
    # close the wedge: the (x, y) edge exists iff the canonical pair
    # is in e (orientation direction is irrelevant to existence)
    closing = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closing, ["x", "y"])
    s = F.array_sort(F.array("a", "x", "y"))
    return tri.select(s[0].alias("n1"), s[1].alias("n2"),
                      s[2].alias("n3"))


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient (Watts & Strogatz 1998)
    in exact integer micro-units: coeff = 2*triangles(n) /
    (deg(n)*(deg(n)-1)), floor-divided at 1e6 scale so Spark and the
    SQL oracle agree bit-for-bit. Triangle membership comes from the
    degree-ordered enumeration (triangles()); degrees from the
    canonical undirected edge set — nodes of degree < 2 score 0.
    Output: (node, degree, tri_count, coeff_micro).

    Scale shape: triangles() already bounds the wedge join; the
    per-node attribution is one explode of the triangle list (3 rows
    per triangle) + one groupBy — both keyed on the node, no new skew
    beyond what orientation already handled."""
    u, v = F.col("src").cast("string"), F.col("dst").cast("string")
    e = (
        edges.select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node").agg(F.count("*").cast("long").alias("degree"))
    )
    tn = (
        triangles(edges)
        .select(F.explode(F.array("n1", "n2", "n3")).alias("node"))
        .groupBy("node").agg(F.count("*").cast("long").alias("t"))
    )
    return deg.join(tn, "node", "left").select(
        "node", "degree",
        F.coalesce("t", F.lit(0)).cast("long").alias("tri_count"),
        F.when(
            F.col("degree") >= 2,
            F.expr("2 * coalesce(t, 0) * 1000000"
                   " DIV (degree * (degree - 1))"),
        ).otherwise(F.lit(0)).cast("long").alias("coeff_micro"),
    )


def cocitation(edges: DataFrame, min_common: int = 2,
               max_out: int | None = None) -> DataFrame:
    """Co-citation similarity over a DIRECTED edge list (Small 1973 —
    the classic link-structure relatedness signal HITS/PageRank don't
    give you: two pages are related when the same sources link to
    BOTH). Pairs (id_a < id_b) of targets sharing at least
    ``min_common`` distinct citing sources, with the shared count.

    Scale shape: distinct edges, then ONE self-join keyed on the
    citing source (``dedup.key_pairs``) + a pair groupBy — candidate
    work is sum(out_degree^2) over sources, so ``max_out`` drops hub
    sources above an out-degree cap BEFORE the join (``key_pairs``'
    hot-key cap; a directory page linking half the web carries no
    similarity signal anyway). All equi-joins, no cartesian. Output:
    (id_a, id_b, common)."""
    from .dedup import key_pairs

    e = (edges.select(F.col("dst").cast("string").alias("dst"),
                      F.col("src").cast("string").alias("src"))
         .filter(F.col("src") != F.col("dst"))
         .distinct())
    return (
        key_pairs(e, "src", max_out)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("common"))
        .filter(F.col("common") >= min_common)
    )
