"""Deduplication operators for the training-data pipeline.

Five families, each a first-class operator over the ``documents`` /
``embeddings`` tables (and any DataFrame with the same column shapes):

  * exact          — content-hash groupBy (one shuffle on md5(text))
  * n-gram Jaccard — shingle inverted index self-join, exact integer
                     threshold arithmetic (no float compares)
  * MinHash + LSH  — K minhashes (string-min over md5(seed:shingle)),
                     banded buckets, bucket self-join for candidates,
                     exact Jaccard verification of candidates
  * SimHash        — per-bit majority vote over token md5 hex digits
  * embedding cos  — pairwise cosine over array<float> (brute force;
                     the LSH-bucketed scale path is
                     operators/similarity.py::lsh_buckets)

Scale notes (100 TB):
  - exact dedup is one hash-partitioned shuffle; identical-boilerplate
    mega-groups skew the key — we only aggregate counts/min per key
    (map-side partial agg), never collect members, so a hot key costs
    one reducer a count, not memory.
  - every pair generator (shingle, band-bucket, fingerprint, term and
    title-block families here; co-citation, embedding LSH and SemDeDup
    elsewhere) finds its candidates through ONE shared-key self-join,
    ``key_pairs``, and each verifies its own pairs. ``key_pairs`` owns
    the hot-key cap too (see its docstring).
  - MinHash/LSH is the intended scale path: candidate generation is
    linear in (docs x bands), the verify join touches only candidates.

The reference (Stirling-PDF) deduplicates embedded images by content
hash across pages (ExtractImagesController.java:123-128,
PdfJsonConversionService.java:5256-5278); these operators generalize
that content-hash dedup to document text and embeddings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .extract_pipeline import spread

# ---------------------------------------------------------------- helpers

def words_col(text_col: str = "text"):
    """Whitespace tokenization: split on runs of ``\\s`` after
    ``trim``. Unlike Python's ``str.split()``, ``trim`` strips spaces
    only, so a text that starts or ends with a tab or newline gets an
    empty first or last token (``"  \\t "`` gives ``["", ""]``) and a
    blank text gives ``[""]``. The DuckDB oracles tokenize the same
    way."""
    return F.split(F.trim(F.col(text_col)), r"\s+")


def shingles_expr(n: int = 2, words: str = "w"):
    """Distinct word n-grams as an array<string> column (0-based Spark
    array indexing; the DuckDB oracle uses 1-based lists)."""
    if n == 1:
        return F.array_distinct(F.col(words))
    joined = " || ' ' || ".join(f"{words}[i + {k}]" for k in range(n))
    return F.when(
        F.size(words) >= n,
        F.array_distinct(
            F.expr(f"transform(sequence(0, size({words}) - {n}), i -> {joined})")
        ),
    ).otherwise(F.array().cast("array<string>"))


def _shingled(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    # spread AFTER tokenizing: the shuffle materializes the split
    # word array, so Catalyst's project-collapse can't inline the regex
    # split into the shingle lambda (which would re-split the text for
    # every w[i] access — measured ~10x slower on long texts)
    words = df.select(F.col(id_col).alias("id"), words_col(text_col).alias("w"))
    return spread(words, "id").select(
        "id", shingles_expr(n, "w").alias("shingles")
    )


def _shingle_index(df: DataFrame, id_col: str, text_col: str, n: int,
                   index: DataFrame | None = None) -> DataFrame:
    """The exploded distinct-shingle index (id, sh) of ``df``: one row
    per distinct word n-gram of each doc. A caller-built ``index`` is
    returned as it is once its columns are checked to be exactly
    ``["id", "sh"]`` (ValueError otherwise); it must have been built
    with this call's ``n`` and text column, which the frame cannot
    show."""
    if index is not None:
        if index.columns != ["id", "sh"]:
            raise ValueError(
                f"index must have columns ['id', 'sh'], got {index.columns}")
        return index
    # explode_outer + scalar post-filter instead of explode: a plain
    # explode makes Catalyst infer `size(shingles) > 0` and push it to
    # the SCAN with the whole shingle expression inlined — the regex
    # split then re-executes per lambda element on the input split,
    # before the spread (measured 11s vs 0.5s on sf0.1)
    return (
        _shingled(df, id_col, text_col, n)
        .select("id", F.explode_outer("shingles").alias("sh"))
        .filter(F.col("sh").isNotNull())
    )


def _sized(pairs: DataFrame, index: DataFrame) -> DataFrame:
    """``pairs`` with each side's distinct-shingle count from the
    (id, sh) ``index`` as ``size_a``/``size_b`` (long). Docs with no
    shingle have no size row, and they can never reach a pair either."""
    sizes = index.groupBy("id").agg(F.count("*").cast("long").alias("sz"))
    return (
        pairs.join(sizes.withColumnRenamed("id", "id_a")
                   .withColumnRenamed("sz", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b")
              .withColumnRenamed("sz", "size_b"), "id_b")
    )


def key_pairs(rows: DataFrame, key: str | list[str],
              max_df: int | None = None) -> DataFrame:
    """The one shared-key self-join of the near-duplicate family: every
    pair of rows with equal ``key`` and ``id_a < id_b``.

    ``rows`` holds ``(id, *key, *payload)``: the first column is the
    id, ``key`` names the key column(s) and every other column is
    payload. Output: ``id_a``, ``id_b``, the key columns, then each
    payload column as ``<col>_a``, ``<col>_b`` — one row per shared
    key, so a pair sharing k keys appears k times; callers count,
    collapse or verify the pairs themselves.

    Hot-key cap: a key held by w rows costs w² pair rows, so at corpus
    scale one boilerplate shingle or fingerprint, a hub source linking
    half the web or a stopword-led title block must never reach the
    join. ``max_df`` drops every key held by more than ``max_df`` rows
    before the join (one partial-agg'd width count joined back on the
    key) — deterministic, and the dropped mass is exactly the head of
    the key distribution. Left None (keep every key) where an exact
    oracle must match."""
    keys = [key] if isinstance(key, str) else list(key)
    cols = rows.columns
    payload = [c for c in cols[1:] if c not in keys]
    if max_df is not None:
        width = rows.groupBy(*keys).agg(F.count("*").alias("_width"))
        rows = (rows.join(width.filter(F.col("_width") <= max_df), keys)
                .select(*cols))

    def side(s: str) -> DataFrame:
        return rows.select(F.col(cols[0]).alias(f"id_{s}"), *keys,
                           *[F.col(c).alias(f"{c}_{s}") for c in payload])

    return (
        side("a").join(side("b"), keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *keys,
                *[f"{c}_{s}" for c in payload for s in "ab"])
    )


# ---------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, canonical_id, group_size, is_dup) — canonical = min id per
    md5(text) group. One shuffle, partial-agg friendly."""
    key = F.md5(F.col(text_col))
    w = Window.partitionBy("content_key")
    return (
        df.select(F.col(id_col).alias("id"), key.alias("content_key"))
        .withColumn("canonical_id", F.min("id").over(w))
        .withColumn("group_size", F.count("*").over(w))
        .withColumn("is_dup", (F.col("id") != F.col("canonical_id")).cast("int"))
        .select("id", "canonical_id", "group_size", "is_dup")
    )


# ---------------------------------------------------------------- jaccard

def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 2,
                        threshold_pct: int = 50,
                        max_df: int | None = None,
                        index: DataFrame | None = None) -> DataFrame:
    """Pairs (id_a < id_b) with n-gram Jaccard >= threshold_pct/100.

    Threshold test is exact integer arithmetic:
        common * 100 >= threshold_pct * (size_a + size_b - common)
    Output: (id_a, id_b, common, size_a, size_b) — all integers.

    ``index``: optional pre-built (id, sh) exploded distinct-shingle
    index (minhash_quality_report shares ONE staged index between this
    exact path and the LSH path instead of tokenizing + shingling the
    corpus twice); see ``_shingle_index`` for its check. ``max_df``
    caps hot shingles (``key_pairs``); sizes count every shingle.
    """
    inv = _shingle_index(df, id_col, text_col, n, index)
    pairs = (
        key_pairs(inv, "sh", max_df)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    return (
        _sized(pairs, inv)
        .filter(
            F.col("common") * 100
            >= F.lit(threshold_pct) * (F.col("size_a") + F.col("size_b") - F.col("common"))
        )
        .select("id_a", "id_b", "common", "size_a", "size_b")
    )


# ---------------------------------------------------------------- minhash

def minhash_signature_cols(num_hashes: int):
    """num_hashes min-hash aggregate expressions over an exploded
    shingle column ``sh``. Each md5 yields four independent 32-bit
    (8-hex-char) slices, so hash k reads slice k%4 of md5('{k//4}:'||sh)
    — 4x fewer digest computations than one md5 per hash function.
    String-min over lowercase hex orders identically in Spark and
    DuckDB."""
    return [
        F.min(
            F.substring(
                F.md5(F.concat(F.lit(f"{k // 4}:"), F.col("sh"))),
                (k % 4) * 8 + 1, 8,
            )
        ).alias(f"mh{k}")
        for k in range(num_hashes)
    ]


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 2,
                      num_hashes: int = 8, bands: int = 4,
                      threshold_pct: int = 50,
                      index: DataFrame | None = None) -> DataFrame:
    """MinHash+LSH candidate generation, then exact-Jaccard verify.

    Signature: num_hashes string-min hashes; bands of
    num_hashes//bands rows each; band key = md5(concat of the band's
    hashes). Candidates = pairs sharing any band bucket; verified with
    exact integer-threshold Jaccard on distinct shingle sets.
    Output: (id_a, id_b, common, size_a, size_b).

    ``index``: optional pre-built (id, sh) exploded distinct-shingle
    index, expected already persisted by the caller (see
    ngram_jaccard_pairs; same ``["id", "sh"]`` check).
    """
    from ..runtime.staging import stage

    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes
    exploded = _shingle_index(df, id_col, text_col, n, index)
    if index is None:
        # the exploded inverted index feeds FOUR consumers (signatures,
        # sizes, and both sides of the verify join); without staging it
        # the regex tokenization + shingle transform re-runs per
        # consumer — persist is the intermediate-table shape,
        # spill-safe. Registered with runtime.staging so long-lived
        # sessions can release it between queries instead of leaking
        # to the ContextCleaner.
        exploded = stage(exploded)
    sig = exploded.groupBy("id").agg(*minhash_signature_cols(num_hashes))

    band_keys = [
        F.md5(F.concat_ws("|", *[
            F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)
        ])).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select("id", *band_keys)
    buckets = banded.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("key"))
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("id", F.col("bk.band_id").alias("band_id"), F.col("bk.key").alias("key"))

    cand = (
        key_pairs(buckets, ["band_id", "key"])
        .select("id_a", "id_b")
        .distinct()
    )
    # size-ratio prune BEFORE the expensive shingle-join verify:
    # common <= min(size_a, size_b), so Jaccard >= t/100 requires
    # 100*min >= t*max — candidates failing that can never pass, and
    # dropping them here cuts the verify fan-out (candidates x shingles)
    # without changing the result. Sizes come off the staged index
    # (shingles are distinct per doc), one tiny row per doc.
    cand_sized = _sized(cand, exploded).filter(
        F.least("size_a", "size_b") * 100
        >= F.lit(threshold_pct) * F.greatest("size_a", "size_b")
    )
    # verify via the exploded inverted index rather than carrying whole
    # shingle arrays through the join: candidate x shingle fan-out, then
    # a hash join on (id_b, shingle) and a count — every stage stays
    # key-partitioned and parallel (an array_intersect variant funnels
    # the wide arrays through a few coalesced partitions)
    ea = exploded.select(F.col("id").alias("id_a"), "sh")
    eb = exploded.select(F.col("id").alias("id_b"), "sh")
    common = (
        cand_sized.join(ea, "id_a")
        .join(eb, ["id_b", "sh"])
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count("*").alias("common"))
    )
    return (
        common.filter(
            F.col("common") * 100
            >= F.lit(threshold_pct) * (F.col("size_a") + F.col("size_b") - F.col("common"))
        )
        .select("id_a", "id_b", "common", "size_a", "size_b")
    )


# ---------------------------------------------------------------- simhash

def simhash_bit_votes(bits: int = 32):
    """bits aggregate expressions over exploded token column ``tok_md5``
    (md5 hex of the token): vote_i = sum(+1 if hex digit i's top bit is
    set else -1). 32 hex digits of md5 give up to 32 independent bits."""
    assert bits <= 32
    high = ("8", "9", "a", "b", "c", "d", "e", "f")
    return [
        F.sum(
            F.when(F.substring("tok_md5", i + 1, 1).isin(*high), 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 32) -> DataFrame:
    """(id, simhash) — simhash as a '01...' bitstring of length ``bits``.
    Token multiplicity counts (term-frequency weighting), matching the
    classic Charikar construction. Bit = 1 iff vote sum > 0."""
    toks = spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(words_col(text_col)).alias("tok"),
    ).select("id", F.md5("tok").alias("tok_md5"))
    votes = toks.groupBy("id").agg(*simhash_bit_votes(bits))
    bitcols = [
        F.when(F.col(f"v{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(bits)
    ]
    return votes.select("id", F.concat(*bitcols).alias("simhash"))


def simhash_groups(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", bits: int = 32) -> DataFrame:
    """Exact-simhash duplicate groups: (id, simhash, group_size)."""
    sh = simhash(df, id_col, text_col, bits)
    w = Window.partitionBy("simhash")
    return sh.withColumn("group_size", F.count("*").over(w))


# ------------------------------------------------- components / clustering

def connected_components(pairs: DataFrame, nodes: DataFrame | None = None,
                         max_iter: int = 12,
                         dedup_edges: bool = True) -> DataFrame:
    """Connected components over near-duplicate pairs — the stage that
    turns pairwise dedup output into keep-lists: (id, component) with
    component = min id in the component.

    Algorithm: min-label propagation WITH pointer jumping. Each round
    every node takes the min label among itself and its neighbors
    (reach +1 hop), then replaces its label by its label's label
    (comp := comp[comp] — path halving). The jump step doubles how far
    the component minimum has effectively propagated, so O(log
    diameter) rounds suffice (plain propagation alone is O(diameter)).
    Each round is two shuffles-on-id joins + one groupBy; no
    driver-side state beyond the convergence counter (the per-round
    ``count()`` is inherent to convergence detection). At 100 TB the
    same loop runs with the edge list bucketed by src.

    Round accounting: round 0 (one min-neighbor step against the
    identity labeling, no pointer jump) is folded into the seed labels,
    so ``max_iter`` counts the propagate-and-jump rounds AFTER it — the
    default 12 allows 13 propagation steps in all (the seed step plus 12
    rounds). Raises RuntimeError when the last of those ``max_iter``
    rounds still changed a label — a silent fall-through would return
    SPLIT components; with pointer jumping, 12 rounds cover diameters
    to ~2^12, far beyond any near-dup cluster.

    ``pairs``: (id_a, id_b). ``nodes``: optional (id) universe so
    singletons appear in the output; defaults to ids present in pairs.
    ``dedup_edges``: min-propagation is idempotent, so duplicate edges
    never change the RESULT — the distinct() only bounds per-round
    join width. Callers whose pair generators already emit each
    unordered pair once (every groupBy-produced pair set in this
    module: minhash/jaccard/winnow pairs, the banded Hamming pairs)
    pass False and skip that full edge-list shuffle.
    """
    from ..runtime.staging import stage

    # Stage the symmetrized edge list BEFORE the loop: edges feed every
    # round's join, and without a persist each round re-executes the
    # whole upstream pair-generation DAG (the minhash verify join, or a
    # full image decode + DCT for the perceptual-hash pairs) — measured
    # 12.3 s -> 3.6 s on dedup_keep_best and 14.1 s -> 3.4 s on
    # image_dedup_keep at sf0.1 once edges materialize exactly once.
    # symmetrize with ONE pass over pairs (explode into both
    # directions) — a union of two projections would execute the
    # pair-generation subtree twice (no exchange reuse across the
    # swapped projections), doubling the decode/verify work that
    # dominates these graphs.
    edges = pairs.select(F.explode(F.array(
        F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
    )).alias("e")).select("e.src", "e.dst")
    if dedup_edges:
        edges = edges.distinct()
    edges = stage(edges)
    if nodes is None:
        nodes = edges.select(F.col("src").alias("id")).distinct()
    # Seed labels with round 0's pre-jump state, least(id, min
    # neighbor): round 0's neigh_min joins edges against the IDENTITY
    # labeling, so the join is a no-op and the round reduces to this
    # one groupBy + left join — folding it into the seed saves one
    # full (join + groupBy + join + checkpoint + count) round. The
    # label sequence from round 1 on is identical by construction.
    neigh0 = edges.groupBy("src").agg(F.min("dst").alias("nmin"))
    labels = (
        nodes.join(neigh0, nodes.id == neigh0.src, "left")
        .select("id", F.least(F.col("id"), F.coalesce("nmin", F.col("id")))
                .alias("comp"))
    )
    ckpt = labels  # the frame holding the current round's checkpoint
    converged = False
    for _ in range(max_iter):
        neigh_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("comp").alias("ncomp"))
        )
        prop = (
            labels.join(neigh_min, labels.id == neigh_min.src, "left")
            .select(
                "id",
                F.col("comp").alias("prev"),
                F.least(F.col("comp"), F.coalesce("ncomp", F.col("comp")))
                .alias("comp"),
            )
        )
        # pointer jump: comp := comp[comp] (labels are node ids, so the
        # label table doubles as the parent pointer table)
        parent = prop.select(F.col("id").alias("pid"),
                             F.col("comp").alias("pcomp"))
        new_labels = (
            prop.join(parent, prop.comp == parent.pid, "left")
            .select(
                "id",
                "prev",
                F.least(F.col("comp"), F.coalesce("pcomp", F.col("comp")))
                .alias("comp"),
            )
        )
        # localCheckpoint, not persist: an iterative loop's logical plan
        # otherwise CONTAINS every prior round's plan, and Catalyst
        # analysis time grows superlinearly with rounds (measured: a
        # 6-round run spent 12 minutes in the driver with persist, ~40 s
        # with checkpoint truncation). On a production cluster use a
        # reliable checkpoint dir instead (localCheckpoint does not
        # survive executor loss).
        new_labels = new_labels.localCheckpoint(eager=True)
        # convergence check reads the checkpointed frame directly (the
        # prior label travelled through the round as ``prev``), instead
        # of a join back against the previous round's table — one fewer
        # shuffle join per round, identical changed-count semantics.
        changed = new_labels.filter(F.col("comp") != F.col("prev")).count()
        ckpt.unpersist()  # no-op on the initial unpersisted frame
        ckpt = new_labels
        labels = new_labels.select("id", "comp")
        if changed == 0:
            converged = True
            break
    if not converged:
        ckpt.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (components would be split otherwise)")
    from ..runtime.staging import _STAGED

    _STAGED.append(ckpt)  # release via runtime.staging.release_staged()
    return labels.select("id", F.col("comp").alias("component"))


# ------------------------------------------------------------- embeddings

def cosine_expr(a: str, b: str):
    """Cosine similarity between two array<float> columns, computed in
    float64 with a sequential left-to-right fold — bit-identical to
    DuckDB's list_dot_product over DOUBLE[] (verified empirically)."""
    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    return dot(F.col(a), F.col(b)) / (
        F.sqrt(dot(F.col(a), F.col(a))) * F.sqrt(dot(F.col(b), F.col(b)))
    )


def embedding_near_dup_pairs(df: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             threshold: float = 0.45) -> DataFrame:
    """Pairs (id_a < id_b) with cosine >= threshold. Brute-force O(n^2)
    baseline — correct at any scale but quadratic; the scale path
    pre-buckets with similarity.lsh_buckets and joins within buckets.
    Output: (id_a, id_b) — ids only, no float columns."""
    v = spread(df, id_col).select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine_expr("va", "vb"))
        .filter(F.col("cos") >= F.lit(threshold))
        .select("id_a", "id_b")
    )


def paragraph_dedup(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    words_per_para: int = 8) -> DataFrame:
    """Intra-corpus PARAGRAPH-level exact dedup — the C4-style "dedup
    at the span level, not the document level" hygiene pass (the
    reference has no analogue; doc-level exact dedup is
    exact_dedup_groups). Paragraphs are consecutive
    ``words_per_para``-word windows (the corpus' line model). A
    paragraph survives at its FIRST occurrence in (id, para_idx) order
    and is dropped everywhere else — repeated boilerplate collapses to
    one copy corpus-wide.

    Output per doc: (id, n_paras, n_kept, kept_md5) where kept_md5
    hashes the surviving paragraphs joined in document order. One
    shuffle on the paragraph hash (the window) + one on id (the
    final groupBy); no UDFs, no driver state. At 100 TB the paragraph
    hash is the natural bucketing key and the first-occurrence window
    becomes a min-aggregation broadcast."""
    from pyspark.sql import Window

    w = words_col(text_col)
    n_paras = F.ceil(F.size(w) / F.lit(words_per_para)).cast("long")
    paras = F.transform(
        F.sequence(F.lit(0), (n_paras - 1).cast("int")),
        lambda i: F.array_join(
            F.slice(w, i * words_per_para + 1, words_per_para), " "),
    )
    exploded = (
        spread(df, id_col)
        # empty/whitespace-only text yields ZERO paragraphs (split of
        # '' is [''], which would fake one empty window)
        .filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col).alias("id"), paras.alias("paras"))
        .filter(F.size("paras") > 0)
        .select("id", F.posexplode("paras").alias("idx", "para"))
    )
    first = Window.partitionBy(F.md5("para")).orderBy("id", "idx")
    marked = exploded.select(
        "id", "idx", "para",
        (F.row_number().over(first) == 1).alias("kept"),
    )
    kept_sorted = F.transform(
        F.array_sort(F.collect_list(F.when(
            F.col("kept"), F.struct("idx", "para")))),
        lambda s: s["para"],
    )
    return marked.groupBy("id").agg(
        F.count("*").cast("long").alias("n_paras"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long")
        .alias("n_kept"),
        F.md5(F.array_join(kept_sorted, "\n")).alias("kept_md5"),
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 13,
                  id_col: str = "doc_id", text_col: str = "text",
                  bench_id_col: str = "doc_id",
                  bench_text_col: str = "text") -> DataFrame:
    """Benchmark decontamination — the standard training-data guard
    against test-set leakage: a document is CONTAMINATED when it
    shares any word ``n``-gram (n=13 is the common published choice)
    with any benchmark text. Output: one row per document with
    (id, n_contaminated bigint, contaminated boolean, n_shingles
    bigint) — n_contaminated counts the doc's DISTINCT overlapping
    n-grams, so thresholded variants (e.g. >=2 hits) compose on top.

    Scale shape: benchmark suites are tiny next to a 100 TB corpus, so
    the benchmark n-gram set is BROADCAST and the probe is a
    map-side-only hash join against the exploded corpus shingles — no
    corpus shuffle at all beyond the per-doc aggregation; docs with
    fewer than n words yield zero shingles and pass clean."""
    d = _shingled(docs, id_col, text_col, n)
    b = (
        _shingled(benchmark, bench_id_col, bench_text_col, n)
        .select(F.explode("shingles").alias("sh"))
        .distinct()
    )
    probe = d.select("id", F.size("shingles").cast("long")
                     .alias("n_shingles"),
                     F.explode_outer("shingles").alias("sh"))
    hits = probe.join(F.broadcast(b).withColumn("hit", F.lit(1)),
                      "sh", "left")
    return (
        hits.groupBy("id")
        .agg(F.max("n_shingles").alias("n_shingles"),
             F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long")
             .alias("n_contaminated"))
        .select("id", "n_contaminated",
                (F.col("n_contaminated") > 0).alias("contaminated"),
                "n_shingles")
    )


# ------------------------------------------------- visual near-dup (dHash)

DHASH_BANDS = 8  # 8 bands x 8 bits over the 64-bit hash


def _box_average(luma, ys: list[int], xs: list[int]):
    """Grid box-average of an integer luma plane over the cell
    boundaries ``ys`` x ``xs`` — the vectorized (two reduceat passes)
    form of the per-cell slice-.mean() double loop, bit-identical to
    it: integer segment sums are exact in both paths, and int64
    slice.mean() is exactly sum/count in float64 (every partial sum is
    an exact small integer). Falls back to the loop when a boundary
    repeats (image smaller than the grid; reduceat cannot express the
    empty slice whose .mean() is the loop's NaN)."""
    import numpy as np

    rows, cols = len(ys) - 1, len(xs) - 1
    if all(ys[i] < ys[i + 1] for i in range(rows)) and \
            all(xs[i] < xs[i + 1] for i in range(cols)):
        rsum = np.add.reduceat(luma, ys[:-1], axis=0)
        csum = np.add.reduceat(rsum, xs[:-1], axis=1)
        counts = np.multiply.outer(np.diff(ys), np.diff(xs))
        return csum / counts
    cells = np.empty((rows, cols))
    for r in range(rows):
        for c in range(cols):
            cells[r, c] = luma[ys[r]:ys[r + 1], xs[c]:xs[c + 1]].mean()
    return cells


def image_dhash(media: DataFrame, payload_col: str = "payload",
                ref_col: str = "media_ref") -> DataFrame:
    """Perceptual difference hash over DECODED rasters — the standard
    image-dedup stage in training pipelines (the reference only
    byte-hash-dedups images, ExtractImagesController.java:123-128;
    dHash catches re-encoded/resized duplicates byte hashing misses).

    Per image: real decode (multimodal.decode_pixels — PNG/JPEG/GIF/
    PPM/BMP), BT.601 integer luma, box-average down to the 9x8 dHash
    grid, bit r*8+c = cell[r][c+1] > cell[r][c]. One narrow
    map_rows stage, no shuffle; undecodable payloads yield null hashes
    (per-row error isolation). Output: (media_ref, dhash int64,
    width, height)."""
    import numpy as np

    from pyspark.sql import types as T

    from .multimodal import map_luma

    schema = T.StructType([
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("dhash", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ])

    def dhash(w, h, luma):
        # box-average to 8 rows x 9 cols (exact on cell-aligned
        # fixtures, standard area sampling otherwise)
        ys = [int(r * h / 8) for r in range(9)]
        xs = [int(c * w / 9) for c in range(10)]
        cells = _box_average(luma, ys, xs)
        v = np.uint64(0)
        for r in range(8):
            for c in range(8):
                if cells[r, c + 1] > cells[r, c]:
                    v |= np.uint64(1) << np.uint64(r * 8 + c)
        return int(v.astype(np.int64)), w, h

    return map_luma(media, payload_col, ref_col, dhash, schema)


def dhash_near_dup_pairs(hashes: DataFrame, max_distance: int = 7,
                         id_col: str = "media_ref",
                         hash_col: str = "dhash",
                         n_bands: int = DHASH_BANDS,
                         band_bits: int = 8) -> DataFrame:
    """Visual near-dup pairs by banded Hamming LSH: the hash splits
    into n_bands bands of band_bits bits; candidates are pairs equal
    in at least one band (bucket self-join — linear in images x bands,
    never all-pairs), verified by bit_count(xor) <= max_distance. For
    max_distance < n_bands the pigeonhole makes banding EXACT: that
    many differing bits cannot touch every band, so every qualifying
    pair collides somewhere. Defaults fit the 64-bit dHash/aHash
    (8x8); the 63-bit pHash passes n_bands=7, band_bits=9. Output:
    (id_a, id_b, distance)."""
    if max_distance >= n_bands:
        raise ValueError(
            f"banding is only exact for max_distance < {n_bands}")
    from ..runtime.staging import stage

    mask = (1 << band_bits) - 1
    # stage the (id, hash) table before the self-join: the join plans
    # as a broadcast (the banded side is tiny), and a broadcast side
    # is a SEPARATE subtree — without the persist the whole upstream
    # decode + perceptual-hash pipeline executed once per join side
    # (verified in the physical plan: two MapInPandas/MapInArrow
    # chains). The staged table is one ~20-byte row per image.
    src = stage(
        hashes.select(F.col(id_col).alias("id"),
                      F.col(hash_col).alias("dhash"))
        .filter(F.col("dhash").isNotNull())
    )
    bands = F.array(*[
        F.struct(F.lit(i).alias("band"),
                 F.shiftrightunsigned("dhash", band_bits * i)
                 .bitwiseAND(F.lit(mask)).alias("v"))
        for i in range(n_bands)
    ])
    banded = src.select("id", "dhash", F.explode(bands).alias("b")) \
        .select("id", "b.band", "b.v", "dhash")
    # A pair colliding in k bands used to surface k times and get
    # collapsed by a distinct() — a shuffle of every (pair x band) row.
    # Both hashes are already on the joined row, so keep only the row
    # whose band is the FIRST colliding band (xor has all-zero bits in
    # that band and a non-zero band below it collides in none): every
    # qualifying pair survives exactly once and the distinct shuffle
    # disappears. Same pair set, one less Exchange.
    xr = F.col("dhash_a").bitwiseXOR(F.col("dhash_b"))
    first_band = F.array_position(
        F.array(*[
            (F.shiftrightunsigned(xr, band_bits * i)
             .bitwiseAND(F.lit(mask)) == 0)
            for i in range(n_bands)
        ]), True) - 1
    dist = F.bit_count(xr)
    return (
        key_pairs(banded, ["band", "v"])
        .filter((F.col("band") == first_band) & (dist <= max_distance))
        .select("id_a", "id_b", dist.cast("long").alias("distance"))
    )


def image_ahash(media: DataFrame, payload_col: str = "payload",
                ref_col: str = "media_ref") -> DataFrame:
    """Average hash (aHash) over DECODED rasters — the
    brightness-threshold sibling of image_dhash (both standard
    members of the perceptual-hash family training pipelines run
    side by side; dHash ranks gradients, aHash ranks absolute
    brightness, so each catches near-dups the other misses).

    Per image: real decode (multimodal.decode_pixels), BT.601 integer
    luma, box-average down to the 8x8 aHash grid, bit r*8+c =
    cell[r][c] > mean(all 64 cells). Same narrow map_rows shape as
    image_dhash — no shuffle, undecodable payloads yield null hashes.
    Output: (media_ref, ahash int64, width, height); pair generation
    reuses dhash_near_dup_pairs(hash_col='ahash') — the banded
    Hamming LSH is hash-family agnostic."""
    import numpy as np

    from pyspark.sql import types as T

    from .multimodal import map_luma

    schema = T.StructType([
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("ahash", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ])

    def ahash(w, h, luma):
        ys = [int(r * h / 8) for r in range(9)]
        xs = [int(c * w / 8) for c in range(9)]
        cells = _box_average(luma, ys, xs)
        mean = cells.mean()
        v = np.uint64(0)
        for r in range(8):
            for c in range(8):
                if cells[r, c] > mean:
                    v |= np.uint64(1) << np.uint64(r * 8 + c)
        return int(v.astype(np.int64)), w, h

    return map_luma(media, payload_col, ref_col, ahash, schema)


def image_phash(media: DataFrame, payload_col: str = "payload",
                ref_col: str = "media_ref") -> DataFrame:
    """Perceptual DCT hash (pHash) over DECODED rasters — the third
    member of the perceptual-hash family (dHash ranks gradients,
    aHash ranks absolute brightness, pHash ranks the SIGN STRUCTURE
    of the low-frequency 2D-DCT block, which survives blur/resize/
    re-encode better than either; standard in image-dedup stages of
    training pipelines; the reference only byte-hash-dedups images,
    ExtractImagesController.java:123-128).

    Per image: real decode (multimodal.decode_pixels), BT.601 integer
    luma, box-average to the 32x32 pHash plane, orthonormal 2D DCT
    (two 32x32 matmuls), bit i = sign of the i-th low-frequency AC
    coefficient (8x8 block minus DC, row-major — 63 bits). Same
    narrow map_rows shape as image_dhash: no shuffle, undecodable
    payloads yield null hashes. Output: (media_ref, phash int64,
    width, height); pairs via dhash_near_dup_pairs(hash_col='phash',
    n_bands=7, band_bits=9) — exact for distance <= 6."""
    import numpy as np

    from pyspark.sql import types as T

    from ..corpus.media import PHASH_DIM, PHASH_LOW, _dct_mat
    from .multimodal import map_luma

    schema = T.StructType([
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("phash", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ])

    m = _dct_mat()

    def phash(w, h, luma):
        d = PHASH_DIM
        if (h, w) == (d, d):
            plane = luma.astype(np.float64)
        elif h >= d and w >= d:
            # area sampling on integer boundaries (exact on
            # cell-aligned fixtures)
            ys = [int(r * h / d) for r in range(d + 1)]
            xs = [int(c * w / d) for c in range(d + 1)]
            plane = _box_average(luma, ys, xs)
        else:
            # upsample small rasters by nearest pixel
            iy = (np.arange(d) * h) // d
            ix = (np.arange(d) * w) // d
            plane = luma[np.ix_(iy, ix)].astype(np.float64)
        coef = m @ plane @ m.T
        v = np.uint64(0)
        i = 0
        for u in range(PHASH_LOW):
            for vv in range(PHASH_LOW):
                if u == 0 and vv == 0:
                    continue
                if coef[u, vv] > 0:
                    v |= np.uint64(1) << np.uint64(i)
                i += 1
        return int(v.astype(np.int64)), w, h

    return map_luma(media, payload_col, ref_col, phash, schema)


def substring_dup_coverage(df: DataFrame, w: int = 8,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """ExactSubstr-style duplicate-substring coverage (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499 — public literature; the suffix-array pass is
    replaced by the Spark-native equivalent: every duplicated
    substring of >= w tokens contains a duplicated w-token shingle,
    so fixed-w shingle matching detects exactly the >= w repeats).

    Per document: every w-token shingle position; a shingle is DUP
    when its global corpus frequency >= 2 (cross-doc or self-repeat,
    like ExactSubstr); covered tokens = union length of the [pos,
    pos+w-1] intervals at dup positions (sorted-positions fold:
    min(w, next_pos - pos), last takes w). Output one row per doc —
    (doc_id, n_tokens, dup_starts, dup_cov, keep) with keep = 1 when
    dup coverage is under half the doc (INT flag, house style).

    Scale shape: one explode + one partial-agg'd groupBy on the
    shingle (the inverted-index shuffle, same as the n-gram Jaccard
    family), one join back, one per-doc window. No driver state; the
    shingle-frequency table is corpus-vocabulary-sized, not
    position-sized, after the partial agg."""
    toks = df.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col).alias("id"),
        words_col(text_col).alias("wd"),
    ).withColumn("n_tokens", F.size("wd").cast("long"))
    sh = toks.select(
        "id", "n_tokens",
        F.posexplode(
            F.when(
                F.size("wd") >= w,
                F.expr(f"transform(sequence(0, size(wd) - {w}),"
                       f" i -> concat_ws(' ', slice(wd, i + 1, {w})))"),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "sh"),
    )
    from ..runtime.staging import stage

    sh = stage(sh)  # two consumers: frequency table + position join
    dup = sh.groupBy("sh").agg(F.count("*").alias("n")) \
        .filter(F.col("n") >= 2).select("sh")
    p = sh.join(dup, "sh").select("id", "pos")
    nxt = F.lead("pos").over(Window.partitionBy("id").orderBy("pos"))
    g = (
        p.withColumn("nxt", nxt)
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("dup_starts"),
            F.sum(F.least(F.lit(w),
                          F.coalesce(F.col("nxt") - F.col("pos"),
                                     F.lit(w))))
            .cast("long").alias("dup_cov"),
        )
    )
    return (
        toks.select("id", "n_tokens")
        .join(g, "id", "left")
        .select(
            F.col("id").alias(id_col), "n_tokens",
            F.coalesce("dup_starts", F.lit(0)).cast("long")
            .alias("dup_starts"),
            F.coalesce("dup_cov", F.lit(0)).cast("long")
            .alias("dup_cov"),
            F.when(F.coalesce("dup_cov", F.lit(0)) * 2
                   < F.col("n_tokens"), 1).otherwise(0)
            .cast("int").alias("keep"),
        )
    )


def dedup_incremental(new_df: DataFrame, existing_df: DataFrame,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Incremental-crawl exact dedup — the production shape: every
    ingest batch dedups against the ALREADY-ACCEPTED corpus (by
    content hash) AND within itself (first occurrence by id wins).
    Output one row per NEW doc: (id, in_existing, batch_first, keep)
    with keep = not-in-existing AND first-in-batch (INT flags).

    Scale shape: the existing side reduces to its DISTINCT hash set
    (one partial-agg'd projection of the accepted corpus — hashes
    only, never text) joined on the content hash; at 10^13 accepted
    docs the standard optimization is a bloom filter broadcast with
    this exact join verifying the positives — the semantics gated
    here are the verifier's."""
    h_new = F.md5(F.col(text_col).cast("binary"))
    ex = existing_df.select(
        F.md5(F.col(text_col).cast("binary")).alias("h")
    ).distinct().withColumn("in_ex", F.lit(1))
    n = new_df.select(F.col(id_col).alias("id"), h_new.alias("h"))
    firsts = n.groupBy("h").agg(F.min("id").alias("fid"))
    return (
        n.join(ex, "h", "left")
        .join(firsts, "h")
        .select(
            "id",
            F.coalesce("in_ex", F.lit(0)).cast("int")
            .alias("in_existing"),
            F.when(F.col("id") == F.col("fid"), 1).otherwise(0)
            .cast("int").alias("batch_first"),
            F.when(F.col("in_ex").isNull()
                   & (F.col("id") == F.col("fid")), 1).otherwise(0)
            .cast("int").alias("keep"),
        )
    )


# ---------------------------------------------------------------- winnowing

def winnow_fingerprints(df: DataFrame, k: int = 3, w: int = 4,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm, public literature): hash every
    k-word shingle, slide a window of w consecutive hashes, keep the
    minimum of each window, dedup per document. Guarantees every
    shared token run of >= w + k - 1 words produces a shared
    fingerprint while the retained set is ~2/(w+1) of all shingle
    hashes — the index-size reduction that makes fingerprint joins
    affordable at 100 TB where a full shingle index is not.

    Docs shorter than k words yield no fingerprints; docs with fewer
    than w shingles yield the single global minimum (the standard
    short-document convention). Hash = first 8 hex chars of md5, the
    repo-standard portable integer hash. Output: (id, fp bigint),
    distinct per document.

    Scale shape: whole-stage-codegen higher-order functions (hash +
    window-min inside the JVM, no Python), one explode; the only
    shuffle is whatever the consumer does with the (id, fp) index."""
    words = df.select(F.col(id_col).alias("id"),
                      words_col(text_col).alias("w"))
    # spread AFTER tokenizing, same reason as _shingled: the
    # shuffle materializes the split array so the hash lambda can't
    # inline the regex split per element
    base = spread(words, "id")
    joined = " || ' ' || ".join(f"w[i + {j}]" for j in range(k))
    hs_expr = (
        f"transform(sequence(0, size(w) - {k}), i -> "
        f"cast(conv(substr(md5(cast(({joined}) as binary)), 1, 8),"
        f" 16, 10) as bigint))"
    )
    hs = base.select(
        "id",
        F.when(F.size("w") >= k, F.expr(hs_expr))
        .otherwise(F.array().cast("array<bigint>")).alias("hs"),
    )
    sel_expr = (
        f"array_distinct(transform("
        f"sequence(1, CASE WHEN size(hs) < {w} THEN 1"
        f" ELSE size(hs) - {w} + 1 END), "
        f"j -> array_min(slice(hs, j, {w}))))"
    )
    fps = hs.select(
        "id",
        F.when(F.size("hs") > 0, F.expr(sel_expr))
        .otherwise(F.array().cast("array<bigint>")).alias("fps"),
    )
    return (
        fps.select("id", F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
    )


def winnow_match_pairs(df: DataFrame, k: int = 3, w: int = 4,
                       min_shared: int = 2, max_df: int | None = None,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Document pairs sharing >= min_shared winnowing fingerprints —
    the MOSS similarity report. The inverted-index self-join runs on
    the winnowed index (~2/(w+1) the size of the full shingle index,
    the whole point of winnowing at corpus scale); max_df optionally
    drops fingerprints appearing in more than max_df docs
    (``key_pairs``' hot-key cap). Output: (id_a, id_b, n_shared),
    id_a < id_b."""
    fps = winnow_fingerprints(df, k=k, w=w, id_col=id_col,
                              text_col=text_col)
    return (
        key_pairs(fps, "fp", max_df)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def keep_best_corpus(docs: DataFrame, pairs: DataFrame,
                     id_col: str = "doc_id",
                     score_col: str = "text") -> DataFrame:
    """Quality-aware canonical selection — the keep-BEST idiom from
    published LLM dedup recipes (keep the longest / highest-quality
    member of each near-dup cluster, not the arbitrary min id; cf.
    keep_corpus in q_dedup_keep_corpus which keeps the label).

    ``score_col`` names a text column whose byte length ranks members
    (longest wins, min-id ties). Components + one score join + one
    window per component: the window input per component is bounded by
    cluster size, so the plan holds at corpus scale.

    Output: (doc_id, doc_bytes, n_absorbed) — one row per kept doc.
    """
    comp = connected_components(
        pairs, docs.select(F.col(id_col).alias("id")),
        dedup_edges=False)
    scored = comp.join(
        docs.select(
            F.col(id_col).alias("id"),
            F.octet_length(F.col(score_col)).cast("long")
            .alias("doc_bytes"),
        ),
        "id",
    )
    w = Window.partitionBy("component")
    wr = Window.partitionBy("component").orderBy(
        F.desc("doc_bytes"), F.asc("id"))
    return (
        scored
        .withColumn("n_absorbed", (F.count("*").over(w) - 1).cast("long"))
        .withColumn("_rn", F.row_number().over(wr))
        .filter(F.col("_rn") == 1)
        .select(F.col("id").cast("long").alias("doc_id"),
                "doc_bytes", "n_absorbed")
    )


def minhash_quality_report(docs: DataFrame, n: int, num_hashes: int,
                           bands: int, threshold_pct: int) -> DataFrame:
    """Recall report for the MinHash/LSH dedup stage — the tuning
    table a pipeline owner reads before committing band/row parameters
    at corpus scale: banded-LSH survivors vs the exact n-gram Jaccard
    ground truth. Because the LSH stage post-verifies candidates with
    the exact threshold, its pairs are a SUBSET of the ground truth —
    precision_x1000 = 1000 is therefore an invariant this gate
    enforces, and recall_x1000 is the banding loss being measured.

    One row, integer-exact; one full-outer join over the two bounded
    pair sets, aggregated in a single job (no driver-side counts).

    Both sides consume ONE staged exploded shingle index — the corpus
    is tokenized and shingled once, not once per side.
    """
    from ..runtime.staging import stage

    index = stage(_shingle_index(docs, "doc_id", "text", n))
    exact = ngram_jaccard_pairs(docs, n=n, threshold_pct=threshold_pct,
                                index=index) \
        .select("id_a", "id_b", F.lit(1).alias("e"))
    lsh = minhash_lsh_pairs(docs, n=n, num_hashes=num_hashes,
                            bands=bands, threshold_pct=threshold_pct,
                            index=index) \
        .select("id_a", "id_b", F.lit(1).alias("c"))
    j = exact.join(lsh, ["id_a", "id_b"], "full_outer")
    agg = j.agg(
        F.coalesce(F.sum("e"), F.lit(0)).cast("long").alias("n_exact"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_lsh"),
        F.coalesce(F.sum(F.col("e") * F.col("c")), F.lit(0)).cast("long")
        .alias("n_true_pos"),
    )
    return agg.select(
        "n_exact", "n_lsh", "n_true_pos",
        F.when(F.col("n_lsh") > 0,
               (F.col("n_true_pos") * 1000).cast("long") / F.col("n_lsh"))
        .otherwise(F.lit(1000)).cast("long").alias("precision_x1000"),
        F.when(F.col("n_exact") > 0,
               (F.col("n_true_pos") * 1000).cast("long") / F.col("n_exact"))
        .otherwise(F.lit(1000)).cast("long").alias("recall_x1000"),
    )


def incremental_minhash_dedup(existing: DataFrame, batch: DataFrame,
                              id_col: str = "doc_id",
                              text_col: str = "text", n: int = 2,
                              num_hashes: int = 8, bands: int = 4,
                              threshold_pct: int = 50) -> DataFrame:
    """NEAR-dup admission of a new crawl batch against an accepted
    corpus (the fuzzy sibling of dedup_incremental's exact anti-join):
    a batch document is rejected when it near-matches ANY accepted
    document, or any earlier batch document (id order — the standard
    conservative first-wins rule; ids must be unique across sides).

    Production shape: the accepted corpus's banded signature table is
    a MAINTAINED index (computed once, stored beside the corpus); the
    batch computes fresh signatures and probes the same band buckets.
    Here both sides run through one pair pass — every join is that
    same bucket probe, so the plan transfers.

    Output per batch doc: (id, n_match_existing, n_match_prior,
    keep:int).
    """
    ex = existing.select(F.col(id_col).alias("doc_id"),
                         F.col(text_col).alias("text"),
                         F.lit(0).alias("is_new"))
    nw = batch.select(F.col(id_col).alias("doc_id"),
                      F.col(text_col).alias("text"),
                      F.lit(1).alias("is_new"))
    uni = ex.unionByName(nw)
    pairs = minhash_lsh_pairs(uni, n=n, num_hashes=num_hashes,
                              bands=bands, threshold_pct=threshold_pct)
    sides = uni.select(F.col("doc_id").alias("id"), "is_new")
    edges = (
        pairs.select(F.col("id_a").alias("id"), F.col("id_b").alias("partner"))
        .unionByName(
            pairs.select(F.col("id_b").alias("id"),
                         F.col("id_a").alias("partner")))
        .join(sides.select(F.col("id").alias("partner"),
                           F.col("is_new").alias("partner_new")),
              "partner")
    )
    batch_ids = sides.filter(F.col("is_new") == 1).select("id")
    agg = (
        edges.join(batch_ids, "id")
        .groupBy("id")
        .agg(
            F.sum(F.when(F.col("partner_new") == 0, 1).otherwise(0))
            .cast("long").alias("n_match_existing"),
            F.sum(F.when((F.col("partner_new") == 1)
                         & (F.col("partner") < F.col("id")), 1)
                  .otherwise(0)).cast("long").alias("n_match_prior"),
        )
    )
    return (
        batch_ids.join(agg, "id", "left")
        .select(
            "id",
            F.coalesce("n_match_existing", F.lit(0)).cast("long")
            .alias("n_match_existing"),
            F.coalesce("n_match_prior", F.lit(0)).cast("long")
            .alias("n_match_prior"),
            ((F.coalesce("n_match_existing", F.lit(0))
              + F.coalesce("n_match_prior", F.lit(0))) == 0)
            .cast("int").alias("keep"),
        )
    )


def normalized_exact_dedup(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Exact dedup over a CANONICALIZED text key — the C4-style
    normalization that catches reformatting-only duplicates plain
    md5(text) misses: lowercase, strip all non-alphanumeric (unicode
    classes), collapse runs of whitespace-turned-gaps, trim. Same
    one-shuffle group shape as exact_dedup.

    Output: (id, canonical_id, group_size, is_dup, norm_key_md5).
    """
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9]+", " "),
        r" +", " "))
    key = F.md5(norm)
    w = Window.partitionBy("content_key")
    return (
        df.select(F.col(id_col).alias("id"), key.alias("content_key"))
        .withColumn("canonical_id", F.min("id").over(w))
        .withColumn("group_size", F.count("*").over(w))
        .withColumn("is_dup",
                    (F.col("id") != F.col("canonical_id")).cast("int"))
        .select("id", "canonical_id", "group_size", "is_dup",
                F.col("content_key").alias("norm_key_md5"))
    )


def dedup_global_sentences(df: DataFrame, max_df: int = 2,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Corpus-global sentence boilerplate removal — the C4/CCNet rule
    applied at sentence granularity across the WHOLE corpus (not
    within documents, which dedup_paragraphs covers): any sentence
    whose exact text occurs in more than ``max_df`` documents is
    boilerplate (cookie banners, footers, licence blurbs) and is
    dropped from every document; survivors reassemble in original
    order.

    Scale shape: sentences explode once, aggregate onto the DISTINCT
    sentence universe (vocabulary-sized, partial-agg'd), the
    over-limit set joins back on the sentence key, and one groupBy
    per doc reassembles — two content-keyed exchanges total, no
    windows. Output: (id, n_sentences, n_kept, text_clean)."""
    # the RE2-safe sentence chunker shared with textstats.qa_mine
    from .textstats import _SENTENCE_RE

    sents = F.expr(
        f"transform(regexp_extract_all({text_col},"
        f" '({_SENTENCE_RE})', 1), s -> trim(s))")
    exploded = spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(sents).alias("pos", "sent"),
    )
    # document frequency per distinct sentence (count each doc once)
    docfreq = exploded.select("id", "sent").distinct() \
        .groupBy("sent").agg(F.count("*").cast("long").alias("df"))
    boiler = docfreq.filter(F.col("df") > max_df).select("sent")
    kept = exploded.join(boiler.withColumn("_b", F.lit(1)),
                         "sent", "left") \
        .withColumn("_keep", F.col("_b").isNull())
    return kept.groupBy("id").agg(
        F.count("*").cast("long").alias("n_sentences"),
        F.sum(F.col("_keep").cast("long")).cast("long")
        .alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(F.col("_keep"),
                           F.struct("pos", "sent")))),
                lambda s: s["sent"]), " ").alias("text_clean"),
    )


def edit_distance_pairs(df: DataFrame, id_col: str = "doc_id",
                        title_col: str = "title", max_dist: int = 2,
                        band: int = 8,
                        max_block: int | None = None) -> DataFrame:
    """Edit-distance near-duplicate pairs over a short-string column
    (titles / headings), the record-linkage companion to the
    shingle-based text dedups: block on (leading token, length band),
    self-join inside blocks only, prune by the length-difference lower
    bound, then exact Levenshtein — JVM-side ``F.levenshtein``, no
    Python in the pair loop.

    Reference anchor: Stirling-PDF's auto-rename infers titles from
    the largest-font line (AutoRenameController / the E18 gate here);
    dedup-by-inferred-title with small edit tolerance is the
    corresponding curation stage for scanned/OCR'd collections where
    the same work resurfaces with typo-level title noise.

    Scale shape: the only corpus-keyed shuffle is the block-key
    repartition; pair work is quadratic strictly WITHIN a block. The
    leading-token key can skew on stopword-led titles ('the ...'), so
    ``max_block`` drops blocks larger than the cap outright
    (``key_pairs``' hot-key cap). Output: (id_a, id_b, dist) with
    id_a < id_b."""
    t = F.col(title_col)
    keyed = df.select(
        F.col(id_col).alias("id"),
        F.concat(
            F.lower(F.substring_index(t, " ", 1)),
            F.lit("#"),
            (F.length(t).cast("long") / band).cast("long")
            .cast("string"),
        ).alias("bk"),
        t.alias("t"),
        F.length(t).cast("long").alias("ln"),
    )
    return (
        key_pairs(keyed, "bk", max_block)
        # |len(a)-len(b)| is a Levenshtein lower bound: prune before
        # the O(len^2) distance kernel runs
        .filter(F.abs(F.col("ln_a") - F.col("ln_b")) <= max_dist)
        .select(
            "id_a", "id_b",
            F.levenshtein(F.col("t_a"), F.col("t_b")).cast("long")
            .alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def tfidf_cosine_pairs(df: DataFrame, threshold_pct: int = 75,
                       max_df: int | None = None,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Weighted near-dup pairs by TF-IDF cosine — the similarity axis
    the shingle family cannot see (MinHash/Jaccard treat every term
    equally; tf-idf cosine keys on DISTINCTIVE vocabulary overlap, the
    classic sparse-vector dedup from IR).

    Integer-exact: w(d, t) = tf * idf_x100 with idf_x100 =
    (100 * N) div df; a pair qualifies iff cos >= threshold_pct/100,
    decided WITHOUT floats or square roots by the cross-multiplied
    square 10^4 * dot^2 >= t^2 * norm_a * norm_b (valid since all
    weights are non-negative), evaluated in decimal(38,0) so the
    squares cannot overflow int64 silently. Output: (id_a, id_b, dot,
    norm_a, norm_b) — the oracle restates the same inequality in
    HUGEINT.

    Scale shape: inverted-index self-join on the term key
    (``key_pairs``; linear in postings, never an all-pairs crossJoin).
    ``max_df`` drops terms with document frequency above the cap from
    the weights themselves, not only from the join: the capped
    document frequency feeds idf and the norms, so it is applied here
    and not through ``key_pairs``. Per-doc norms are one extra
    partial-agg'd groupBy, broadcast-joined back."""
    toks = (
        spread(df, id_col)
        .select(F.col(id_col).cast("long").alias("id"),
                F.explode(words_col(text_col)).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy("id", "term").agg(F.count("*").alias("tf"))
    from ..runtime.staging import stage

    tf = stage(tf)  # consumed by df-counts, N and the pair join
    dft = tf.groupBy("term").agg(F.count("*").alias("dfreq"))
    nd = tf.agg(F.countDistinct("id").alias("n_docs"))
    if max_df is not None:
        dft = dft.filter(F.col("dfreq") <= max_df)
    w = (tf.join(F.broadcast(dft), "term")
         .crossJoin(F.broadcast(nd))
         .withColumn("idf_x100", F.expr("(100 * n_docs) div dfreq"))
         .select("id", "term",
                 (F.col("tf") * F.col("idf_x100")).cast("long")
                 .alias("w")))
    w = stage(w)  # consumed by norms and both join sides
    norms = w.groupBy("id").agg(
        F.sum(F.col("w") * F.col("w")).cast("long").alias("norm"))
    dots = (
        key_pairs(w, "term")
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("w_a") * F.col("w_b")).cast("long").alias("dot"))
    )
    na = norms.select(F.col("id").alias("id_a"),
                      F.col("norm").alias("norm_a"))
    nb = norms.select(F.col("id").alias("id_b"),
                      F.col("norm").alias("norm_b"))
    dec = "decimal(38,0)"
    lhs = (F.lit(10000).cast(dec) * F.col("dot").cast(dec)
           * F.col("dot").cast(dec))
    rhs = (F.lit(threshold_pct * threshold_pct).cast(dec)
           * F.col("norm_a").cast(dec) * F.col("norm_b").cast(dec))
    return (dots.join(na, "id_a").join(nb, "id_b")
            .filter(lhs >= rhs)
            .select("id_a", "id_b", "dot", "norm_a", "norm_b"))


def containment_pairs(df: DataFrame, n: int = 2,
                      threshold_pct: int = 80,
                      max_df: int | None = None,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Asymmetric near-dup pairs by n-gram CONTAINMENT — the
    quote/subset detector symmetric Jaccard misses (a short doc fully
    embedded in a long one has tiny Jaccard but containment 1.0;
    Broder's original resemblance-vs-containment distinction,
    "On the resemblance and containment of documents", 1997).

    Pairs (id_a < id_b) with common / min(size_a, size_b) >=
    threshold_pct/100, decided integer-exactly:
        100 * common >= threshold_pct * least(size_a, size_b)
    Output: (id_a, id_b, common, size_a, size_b).

    Scale shape: identical to ngram_jaccard_pairs — one shingle
    inverted-index self-join (never all-pairs), optional ``max_df``
    hot-shingle cap, per-doc sizes partial-agg'd and joined back."""
    inv = _shingle_index(df, id_col, text_col, n)
    pairs = (
        key_pairs(inv, "sh", max_df)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    return (
        _sized(pairs, inv)
        .filter(F.col("common") * 100
                >= F.lit(threshold_pct)
                * F.least(F.col("size_a"), F.col("size_b")))
        .select("id_a", "id_b", F.col("common").cast("long").alias("common"),
                "size_a", "size_b")
    )
