"""BM25 retrieval over the documents table.

The training-data-pipeline retrieval stage (dense retrieval's sparse
sibling; used for decontamination lookups, quality-by-query probes and
RAG corpus audits — public Okapi BM25, Robertson & Walker 1994; the
reference has no retrieval surface, this extends the engine the way
SURVEY.md's training-pipeline section calls for).

Integer-exact scoring so Spark and DuckDB agree bit-for-bit (the repo
discipline — no floats anywhere): k1 = 1.2 and b = 0.75 are carried
as x10/x100 integers, every division is a floor div on positives, and
the logarithmic IDF is replaced by the monotone rational surrogate
idf_x1000 = (1000 * (2*(N - df) + 1)) div (2*df + 1) — same ranking
structure (rare terms weigh more, tf saturates at k1, length
normalization by b), deterministic across engines.

Scale shape: the query list is a literal broadcast; term statistics
(df) are vocabulary-sized and broadcast; the postings aggregation is
one (id, term) partial-agg'd groupBy; the final top-k windows
partition BY QUERY over candidate docs only (docs sharing at least
one query term) — for web-scale corpora with broad queries, swap the
window for a per-partition heap + merge, which this plan's
partitioning already permits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .extract_pipeline import map_rows, spread
from .textstats import words_col

# (query_id, terms) — vocabulary terms of the synthetic documents table
BM25_QUERIES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("q0", ("hash", "join")),
    ("q1", ("window", "agg", "batch")),
    ("q2", ("slow", "scan", "filter")),
)

K1_X10 = 12   # Okapi k1 = 1.2
B_X100 = 75   # Okapi b = 0.75


def _bm25_scored(df: DataFrame, q: DataFrame,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(query_id, id, score_x1e6) for every candidate doc sharing at
    least one term with a query — the shared integer-exact Okapi
    scoring core behind bm25_topk and bm25_hard_negatives. ``q`` is a
    (query_id, term) DataFrame; duplicate query terms contribute
    twice (standard query-tf weighting)."""
    toks = (
        spread(df, id_col)
        .select(F.col(id_col).cast("long").alias("id"),
                F.explode(words_col(text_col)).alias("term"))
        .filter(F.col("term") != "")
    )
    dl = toks.groupBy("id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("tot")
    ).select("n_docs", F.expr("(100 * tot) div n_docs").alias("avgdl_x100"))
    tf = toks.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dft = tf.groupBy("term").agg(F.count("*").alias("df"))

    joined = (
        F.broadcast(q)
        .join(tf, "term")
        .join(F.broadcast(dft), "term")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .withColumn("norm_x100",
                    F.lit(100 - B_X100)
                    + F.expr(f"({B_X100} * 100 * dl) div avgdl_x100"))
        .withColumn("denom_x1000",
                    1000 * F.col("tf") + K1_X10 * F.col("norm_x100"))
        .withColumn("ratio_x1000",
                    F.expr(f"(1000 * (1000 + 100 * {K1_X10}) * tf) "
                           "div denom_x1000"))
        .withColumn("idf_x1000",
                    F.expr("(1000 * (2 * (n_docs - df) + 1)) "
                           "div (2 * df + 1)"))
    )
    return joined.groupBy("query_id", "id").agg(
        F.sum(F.col("idf_x1000") * F.col("ratio_x1000"))
        .cast("long").alias("score_x1e6"))


def bm25_topk(df: DataFrame,
              queries: tuple[tuple[str, tuple[str, ...]], ...] = BM25_QUERIES,
              k: int = 10,
              id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """(query_id, rank, doc_id, score_x1e6): the top-k docs per query
    by integer-exact Okapi BM25 (rational IDF), rank ties broken by
    doc_id asc. Docs with no query term never enter the ranking; N
    and avgdl count every doc with at least one token."""
    q = df.sparkSession.createDataFrame(
        [(qid, t) for qid, terms in queries for t in terms],
        ["query_id", "term"])
    scored = _bm25_scored(df, q, id_col=id_col, text_col=text_col)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_x1e6"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", F.col("id").alias("doc_id"),
                "score_x1e6")
    )


def bm25_hard_negatives(df: DataFrame, every: int = 100,
                        n_terms: int = 3, k: int = 5,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Hard-negative mining for retrieval training (the standard
    recipe behind DPR/contrastive fine-tuning data, Karpukhin et al.
    2020 arXiv:2004.04906 — negatives that a sparse ranker scores
    HIGH but that are not the gold document): every doc whose id is
    divisible by ``every`` becomes a query (its first ``n_terms``
    tokens, duplicates keeping their query-tf weight), the gold is
    the source doc itself, and the negatives are the top-k OTHER docs
    by the same integer-exact Okapi BM25 as bm25_topk.

    Output: (query_doc_id, rank, neg_doc_id, score_x1e6) — rank 1 is
    the hardest negative; the gold doc is excluded BEFORE ranking so
    ranks stay dense.

    Scale shape: the sampled query table is corpus_size/every rows
    (broadcast); scoring shares bm25's postings aggregations; the
    final top-k windows per query over candidate docs only."""
    base = (
        spread(df, id_col)
        .select(F.col(id_col).cast("long").alias("query_id"),
                words_col(text_col).alias("w"))
        .filter(F.col("query_id") % every == 0)
    )
    q = (base.select("query_id",
                     F.explode(F.slice("w", 1, n_terms)).alias("term"))
         .filter(F.col("term") != ""))
    scored = _bm25_scored(df, q, id_col=id_col, text_col=text_col)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_x1e6"), F.asc("id"))
    return (
        scored.filter(F.col("id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(F.col("query_id").alias("query_doc_id"), "rank",
                F.col("id").alias("neg_doc_id"), "score_x1e6")
    )


# (bm25 query id, dense query vec id) pairs fused per query number —
# dense ids chosen from the embeddings table's id space
RRF_DENSE_IDS: tuple[int, ...] = (7, 21, 42)
RRF_K = 60          # the standard reciprocal-rank-fusion constant
RRF_SCALE = 1_000_000_000  # integer-exact 1/(k + rank) via floor div


def rrf_fusion(docs: DataFrame, emb: DataFrame, k: int = 10,
               pool: int = 20) -> DataFrame:
    """Reciprocal-rank fusion of sparse (BM25) and dense (cosine)
    rankings — the standard hybrid-retrieval merge (Cormack, Clarke &
    Buettcher 2009): score(d) = sum over lists of 1 / (60 + rank_d),
    carried as RRF_SCALE // (60 + rank) so both engines agree
    bit-for-bit.  Query number i fuses BM25 query ``q{i}`` with dense
    query vector RRF_DENSE_IDS[i]; both id spaces are the 0..N-1
    synthetic corpus ids, the realistic shape where the embedding of
    doc d indexes the same document d.

    Scale shape: both inputs are already top-``pool`` lists (bounded
    at queries x pool rows), so the fusion itself — one union, one
    (query, doc) partial agg, one per-query window — never touches
    the corpus again.  The expensive parts are the two upstream
    retrieval stages, each already documented (bm25_topk /
    cosine_topk).

    Output: (query_no, rank, doc_id, rrf_x1e9, n_lists) — rank 1..k
    by fused score desc then doc_id asc; n_lists counts how many of
    the two rankings surfaced the doc (the hybrid-overlap
    diagnostic)."""
    from .similarity import cosine_topk

    sparse = bm25_topk(docs, k=pool).select(
        F.expr("cast(substring(query_id, 2) as long)").alias("query_no"),
        F.col("doc_id"), F.col("rank"))
    dense_map = {vid: i for i, vid in enumerate(RRF_DENSE_IDS)}
    dense = cosine_topk(emb, list(RRF_DENSE_IDS), k=pool).select(
        F.element_at(
            F.create_map(*[F.lit(x) for kv in dense_map.items()
                           for x in kv]),
            F.col("query_id").cast("int")).cast("long").alias("query_no"),
        F.col("neighbor_id").alias("doc_id"), F.col("rank"))
    both = sparse.unionByName(dense).select(
        "query_no", "doc_id",
        F.expr(f"{RRF_SCALE} div ({RRF_K} + rank)").alias("contrib"))
    fused = both.groupBy("query_no", "doc_id").agg(
        F.sum("contrib").cast("long").alias("rrf_x1e9"),
        F.count("*").cast("long").alias("n_lists"))
    w = Window.partitionBy("query_no").orderBy(
        F.desc("rrf_x1e9"), F.asc("doc_id"))
    return (fused.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_no", "rank", "doc_id", "rrf_x1e9", "n_lists"))


def mmr_topk(df: DataFrame, query_ids: list[int], k: int = 5,
             pool: int = 10, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998) — the diversity-aware retrieval stage layered over exact
    cosine top-pool: greedily pick k results maximizing
    0.7 * rel(q, d) - 0.3 * max_{s in picked} sim(d, s).

    Distributed shape: relevance pool (broadcast queries x one corpus
    scan, windowed top-``pool``) and the pool's pairwise similarity
    matrix (pool x pool self-join per query, bounded at pool^2 rows)
    are both JVM-side ``cosine_expr`` folds — bit-identical to the
    DuckDB oracle. Only the greedy CONTROL FLOW runs in Python: one
    ``map_rows`` call per query over its pool's (id, rel) list and its
    pairs' (ia, ib, sim) list, both collected JVM-side and bounded by
    ``pool`` candidates — never corpus-sized. Output (query_id,
    mmr_rank, doc_id), rank 1..k, score ties broken by id ascending.
    """
    from .dedup import cosine_expr

    v = spread(df, id_col).select(F.col(id_col).alias("id"),
                                  F.col(vec_col).alias("v"))
    q = v.filter(F.col("id").isin([int(x) for x in query_ids])).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"))
    scored = (
        F.broadcast(q).crossJoin(v)
        .filter(F.col("id") != F.col("query_id"))
        .withColumn("rel", cosine_expr("qv", "v"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("id"))
    # the pool (queries x pool rows, tiny) feeds three consumers —
    # pair a-side, pair b-side, and the pool lists — so persist it once
    # instead of re-running the corpus scan + window per consumer
    from ..runtime.staging import stage

    pooled = stage(
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= pool)
        .select("query_id", "id", "v", "rel")
    )
    a = pooled.select(F.col("query_id").alias("qa"),
                      F.col("id").alias("ia"), F.col("v").alias("va"))
    b = pooled.select(F.col("query_id").alias("qb"),
                      F.col("id").alias("ib"), F.col("v").alias("vb"))
    pairs = (
        a.join(b, (F.col("qa") == F.col("qb"))
               & (F.col("ia") != F.col("ib")))
        .withColumn("sim", cosine_expr("va", "vb"))
        .select(F.col("qa").alias("query_id"), "ia", "ib", "sim")
    )

    def greedy(qid, cands, sims):
        rel = dict(cands)
        # a one-candidate pool has no pairs: the left join gives null
        sim = {(ia, ib): s for ia, ib, s in sims or ()}
        picked: list[int] = []
        while len(picked) < k and len(picked) < len(rel):
            best_id, best_score = None, None
            for cand in sorted(rel):
                if cand in picked:
                    continue
                ms = max((sim[(cand, p)] for p in picked), default=0.0)
                # same literals / op order as the oracle SQL — float64
                # ops on float64 inputs are bit-identical across engines
                score = 0.7 * rel[cand] - 0.3 * ms
                if best_score is None or score > best_score:
                    best_id, best_score = cand, score
            picked.append(best_id)
            yield qid, len(picked), best_id

    lists = pooled.groupBy("query_id").agg(
        F.collect_list(F.struct("id", "rel")).alias("cands")).join(
        pairs.groupBy("query_id").agg(
            F.collect_list(F.struct("ia", "ib", "sim")).alias("sims")),
        "query_id", "left")
    return map_rows(lists, greedy, "query_id long, mmr_rank long, doc_id long")


def section_chunks(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Heading-aware section chunking with breadcrumb paths — the RAG
    corpus-prep stage (split at '#'/'##' markdown headings, prefix
    each chunk with its 'H1 > H2' ancestry so embedded chunks keep
    document context; the chunk-with-breadcrumbs recipe from the
    public RAG literature). Complements kernel/chunker.py's
    fixed-window sentence packing with structure-aware splits.

    One posexplode over lines, two running last-heading windows and
    one per-(doc, section) aggregate — every stage partitions by the
    document key only, so the plan holds at corpus scale (sections
    are bounded by document length, never by corpus size).

    Output: (id, section_idx, breadcrumb, n_lines, chunk_text) —
    section_idx is 0-based in document order; preamble text before
    the first heading gets an empty breadcrumb.
    """
    lines = spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), r"\n")).alias("pos", "line"),
    )
    line = F.col("line")
    lvl = (F.when(line.startswith("## "), 2)
           .when(line.startswith("# "), 1).otherwise(0))
    title = (F.when(lvl == 2, F.substring(line, 4, 1_000_000))
             .when(lvl == 1, F.substring(line, 3, 1_000_000)))
    w = (Window.partitionBy("id").orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    marked = lines.select(
        "id", "pos", "line", lvl.alias("lvl"), title.alias("title"))
    sec = marked.select(
        "id", "pos", "line", "lvl",
        F.max(F.when(F.col("lvl") == 1, F.col("pos"))).over(w)
        .alias("h1_pos"),
        F.last(F.when(F.col("lvl") == 1, F.col("title")), True).over(w)
        .alias("h1"),
        F.max(F.when(F.col("lvl") == 2, F.col("pos"))).over(w)
        .alias("h2_pos"),
        F.last(F.when(F.col("lvl") == 2, F.col("title")), True).over(w)
        .alias("h2"),
    )
    sec_pos = F.greatest(F.coalesce(F.col("h1_pos"), F.lit(-1)),
                         F.coalesce(F.col("h2_pos"), F.lit(-1)))
    h2_active = F.col("h2_pos") > F.coalesce(F.col("h1_pos"), F.lit(-1))
    crumb = F.concat_ws(
        " > ", F.col("h1"), F.when(h2_active, F.col("h2")))
    body = sec.select(
        "id", "pos", "line", sec_pos.alias("sec_pos"),
        crumb.alias("breadcrumb"),
    ).filter((F.col("pos") != F.col("sec_pos"))
             & (F.trim(F.col("line")) != ""))
    grouped = body.groupBy("id", "sec_pos").agg(
        F.max("breadcrumb").alias("breadcrumb"),
        F.count("*").cast("long").alias("n_lines"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"]),
            "\n").alias("chunk_text"),
    )
    idx = Window.partitionBy("id").orderBy("sec_pos")
    return grouped.select(
        "id",
        (F.dense_rank().over(idx) - 1).cast("long").alias("section_idx"),
        "breadcrumb", "n_lines", "chunk_text",
    )


def ict_pairs(df: DataFrame, max_len: int = 128, overlap: int = 32,
              id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Inverse-cloze-task contrastive pairs (Lee et al. 2019,
    arXiv:1906.00300 — the standard self-supervised retrieval
    pre-training recipe): each document chunks into fixed-stride
    windows; (query = chunk i, positive = chunk i+1) for every
    adjacent pair, negative = the FIRST chunk of the document's
    id-XOR-1 partner (a deterministic cross-document draw — documents
    without a partner in the corpus drop, keeping the join inner and
    the recipe closed-form).

    Scale shape: chunking is map-only column math; the only shuffle
    is the partner equi-join on the id key. Output:
    (id, pair_no, query, positive, negative)."""
    from ..kernel.chunker import chunk_text_windows

    chunks = spread(df, id_col).select(
        F.col(id_col).alias("id"),
        chunk_text_windows(F.col(text_col), max_len, overlap)
        .alias("c"),
    )
    pairs = chunks.filter(F.size("c") >= 2).select(
        "id",
        F.explode(F.expr(
            "transform(sequence(0, size(c) - 2), i ->"
            " struct(cast(i as long) as pair_no,"
            " c[i] as query, c[i + 1] as positive))")).alias("p"),
        F.expr("id ^ 1").alias("partner"),
    ).select("id", "partner", "p.pair_no", "p.query", "p.positive")
    negs = chunks.select(F.col("id").alias("partner"),
                         F.expr("c[0]").alias("negative"))
    return pairs.join(negs, "partner").select(
        "id", "pair_no", "query", "positive", "negative")


# literal phrase queries over the synthetic documents vocabulary —
# mixed lengths so the join chain depth varies (2-gram, 2-gram, 3-gram)
PHRASE_QUERIES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("p0", ("table", "table")),
    ("p1", ("fast", "sort")),
    ("p2", ("scan", "slow", "fast")),
)


def phrase_search(df: DataFrame,
                  phrases: tuple[tuple[str, tuple[str, ...]], ...]
                  = PHRASE_QUERIES,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Exact phrase search over a POSITIONAL inverted index — the IR
    op BM25's bag-of-words scoring cannot express (public positional-
    postings design, Manning et al. IIR §2.4; the reference's text
    search, PDFText­Stripper-based, is per-document — this is the
    corpus-level indexed form).

    Per phrase t0..t(m-1): postings lists (id, pos) for each term,
    chained on pos_i = pos_0 + i — an (m-1)-deep equi-join on
    (id, position), never a scan of non-matching docs. Output one row
    per (query_id, doc) with the match count and first hit position.

    Scale shape: the postings table is filtered to the union of
    phrase terms AT THE SCAN (literal IN-list pushdown) before any
    shuffle, so the joins touch only candidate postings; each join is
    an equi-join on (id, pos) — broadcast-able per-term when a term
    is rare, shuffle-hash otherwise, Catalyst/AQE's call. No windows,
    no driver state; phrase literals are plan constants."""

    all_terms = sorted({t for _, ts in phrases for t in ts})
    toks = (
        spread(df, id_col)
        .select(F.col(id_col).cast("long").alias("id"),
                F.posexplode(words_col(text_col)).alias("pos", "term"))
        .filter(F.col("term").isin(all_terms))
    )
    from ..runtime.staging import stage

    toks = stage(toks)  # consumed once per distinct phrase term
    parts = []
    for qid, terms in phrases:
        cur = (toks.filter(F.col("term") == terms[0])
               .select("id", F.col("pos").alias("p0")))
        for i, t in enumerate(terms[1:], start=1):
            nxt = (toks.filter(F.col("term") == t)
                   .select(F.col("id").alias("ni"),
                           F.col("pos").alias(f"p{i}")))
            cur = cur.join(
                nxt, (F.col("id") == F.col("ni"))
                & (F.col(f"p{i}") == F.col("p0") + i)).drop("ni")
        parts.append(cur.select(F.lit(qid).alias("query_id"),
                                "id", "p0"))
    hits = parts[0]
    for p in parts[1:]:
        hits = hits.unionByName(p)
    return (hits.groupBy("query_id", "id")
            .agg(F.count("*").cast("long").alias("n_matches"),
                 F.min("p0").cast("long").alias("first_pos"))
            .select("query_id", F.col("id").alias("doc_id"),
                    "n_matches", "first_pos"))
