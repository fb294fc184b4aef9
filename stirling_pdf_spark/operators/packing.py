"""Training-sequence packing (concat-and-chunk) for LLM pretraining.

The standard pretraining batcher (GPT-2/3 style; also the default in
most open dataloaders) concatenates all documents in a deterministic
order into one token stream and slices it into fixed-length training
sequences; a document that straddles a boundary is split across the
two sequences. This is the canonical "pack the corpus into 2048-token
rows" op a 100-TB training pipeline runs LAST, after dedup/filtering.

`pack_sequences` assigns every document its sequence span without
materializing the token stream:

  1. tokens per doc = whitespace token count (the corpus convention
     shared with textstats.token_counts);
  2. the GLOBAL token offset of each doc is ``prefix_sums`` over the
     order key, the module's one global prefix sum (also used by
     ``shard_plan`` and textstats.token_budget_select); no
     single-partition window anywhere;
  3. each doc explodes into the sequences it overlaps:
     seq_id in [start div L, (end-1) div L], with the token offset
     inside the sequence and the contributed token count as closed-
     form column arithmetic.

Output: one row per (doc, overlapped sequence) —
(doc_id, n_tokens, seq_id, tok_start, n_in_seq) where tok_start is
the document's first token position WITHIN that sequence and
n_in_seq how many of its tokens land there; sum(n_in_seq) per doc ==
n_tokens, and sum(n_in_seq) per seq_id == L for every full sequence.

Scale shape: ``prefix_sums``' two shuffles + one explode; the collect
is bounded by the range count, never by corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..runtime.staging import stage
from .dedup import words_col


def prefix_sums(df: DataFrame, order: list[Column],
                sums: dict[str, Column]) -> DataFrame:
    """``df`` plus, for each ``name: value`` of ``sums``, a long column
    ``name``: the sum of ``value`` over every row before this one in
    ``order`` (an exclusive running sum; 0 on the first row).

    ``order`` must be a STRICT total order (add a unique tie-break key):
    rows with equal keys may fall on either side of a range cut, and
    their sums would then depend on where the cut lands.

    Two phases, no single-partition window. ``repartitionByRange(*order)``
    takes its range count from ``spark.sql.shuffle.partitions`` and AQE
    coalescing; a window per range (``_pid``, the partition id) gives
    each row its sum within its range; the per-range totals (one row per
    range) are collected and added back as literal offsets. The executed
    plan has two exchanges, ``rangepartitioning`` on ``order`` and then
    ``hashpartitioning(_pid)`` for the window, which cannot know that
    ``_pid`` already is the partition id, so every row is shuffled
    twice. The ranged frame is staged: the totals and the result must
    read the same ``_pid`` of each row."""
    ranged = df.repartitionByRange(*order).withColumn("_pid", F.spark_partition_id())
    before = Window.partitionBy("_pid").orderBy(*order) \
        .rowsBetween(Window.unboundedPreceding, -1)
    local = stage(ranged.select(
        "*", *[F.coalesce(F.sum(v).over(before), F.lit(0)).alias(n)
               for n, v in sums.items()]))
    totals = sorted(local.groupBy("_pid")
                    .agg(*[F.sum(v).alias(n) for n, v in sums.items()]).collect())
    for n in sums:
        acc, offsets = 0, []
        for r in totals:
            offsets += [F.lit(r["_pid"]), F.lit(acc).cast("long")]
            acc += int(r[n] or 0)
        off = F.element_at(F.create_map(*offsets), F.col("_pid")) if offsets else F.lit(0)
        local = local.withColumn(n, (F.col(n) + off).cast("long"))
    return local.drop("_pid")


def pack_sequences(df: DataFrame, seq_len: int = 512,
                   id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Assign each document its spans in the packed token stream."""
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    # split(trim('')) yields [''] (size 1), so whitespace-only docs
    # must be dropped on the trimmed text, not the token count
    toks = df.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col),
        F.size(words_col(text_col)).cast("long").alias("n_tokens"),
    )
    spanned = prefix_sums(toks, [F.col(id_col)], {"tok_off": F.col("n_tokens")}) \
        .withColumn("seq_id", F.explode(F.sequence(
            F.expr(f"tok_off DIV {seq_len}"),
            F.expr(f"(tok_off + n_tokens - 1) DIV {seq_len}"))))
    seq_base = F.col("seq_id") * seq_len
    doc_end = F.col("tok_off") + F.col("n_tokens")
    first_in_seq = F.greatest(F.col("tok_off"), seq_base)
    return spanned.select(
        id_col, "n_tokens", "seq_id",
        (first_in_seq - seq_base).cast("long").alias("tok_start"),
        (F.least(doc_end, seq_base + seq_len) - first_in_seq)
        .cast("long").alias("n_in_seq"),
    )


def pack_seq_boundaries(df: DataFrame, seq_len: int = 512,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Per-sequence document boundaries — the attention-reset
    metadata a trainer consumes alongside the packed stream (each
    boundary offset is where cross-document attention masking
    resets). One groupBy over pack_sequences' output: (seq_id,
    n_docs, boundaries sorted ascending, n_tokens); every full
    sequence has n_tokens == seq_len."""
    packed = pack_sequences(df, seq_len=seq_len, id_col=id_col,
                            text_col=text_col)
    return packed.groupBy("seq_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.array_sort(F.collect_list("tok_start")).alias("boundaries"),
        F.sum("n_in_seq").cast("long").alias("n_tokens"),
    )


FIM_PRE, FIM_SUF, FIM_MID = "<|fim_pre|>", "<|fim_suf|>", "<|fim_mid|>"


def fim_transform(df: DataFrame, rate_x256: int = 128,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Fill-in-the-middle transformation (Bavarian et al. 2022, the
    public FIM pretraining recipe): a deterministic id-hash subset of
    documents (``rate_x256``/256, same bucket idiom as
    domain_mix_sample) is rewritten PSM-style —

        <|fim_pre|> prefix <|fim_suf|> suffix <|fim_mid|> middle

    with token cut points at floor(n/3) and floor(2n/3); docs outside
    the subset, or with fewer than 3 tokens, pass through unchanged.
    Pure column expressions (split / slice / array_join / concat), no
    shuffle — the transform rides the scan.

    Output: (id, fim:int, n_tokens, out_text).
    """
    sid = F.col(id_col).cast("string")
    bucket = F.conv(F.substring(F.md5(sid), 1, 2), 16, 10).cast("int")
    w = words_col(text_col)
    n = F.size(w)
    cut1 = F.floor(n / 3).cast("int")
    cut2 = F.floor(n * 2 / 3).cast("int")
    do_fim = (bucket < rate_x256) & (n >= 3)
    psm = F.concat(
        F.lit(FIM_PRE + " "),
        F.array_join(F.slice(w, 1, cut1), " "),
        F.lit(" " + FIM_SUF + " "),
        F.array_join(F.slice(w, cut2 + 1, n - cut2), " "),
        F.lit(" " + FIM_MID + " "),
        F.array_join(F.slice(w, cut1 + 1, cut2 - cut1), " "),
    )
    return df.select(
        F.col(id_col).alias("id"),
        do_fim.cast("int").alias("fim"),
        n.cast("long").alias("n_tokens"),
        F.when(do_fim, psm).otherwise(F.col(text_col)).alias("out_text"),
    )


SPAN_CORRUPT_PERIOD = 13   # one candidate span per 13-token block
SPAN_CORRUPT_LEN = 3       # T5's mean noise-span length


def span_corrupt_transform(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Span-corruption objective transform (T5, Raffel et al. 2020
    arXiv:1910.10683): mask contiguous token spans and rewrite each
    document as (input with one sentinel per span, target = sentinel +
    masked tokens per span). The deterministic schedule replaces T5's
    random draw: every SPAN_CORRUPT_PERIOD-token block masks one
    SPAN_CORRUPT_LEN-token span whose in-block start s =
    md5(doc_id) % 11 — spans never straddle blocks (11 + 3 <= 13+1),
    the mask rate is the paper's ~15% (3/13), and the whole rewrite
    is a closed-form function of (doc_id, token index). Sentinels are
    `<extra_id_g>` with g = the block index, mirroring T5's vocabulary.

    Scale shape: pure column expressions (transform/filter over the
    token array), map-only, no shuffle, no UDF — the transform rides
    the scan like fim_transform. Output: (id, n_tokens, n_masked,
    input_text, target_text)."""
    sid = F.col(id_col).cast("string")
    s = (F.conv(F.substring(F.md5(sid), 1, 8), 16, 10)
         .cast("long") % 11)
    w = words_col(text_col)
    n = F.size(w)
    p, ln = SPAN_CORRUPT_PERIOD, SPAN_CORRUPT_LEN
    idx = F.sequence(F.lit(0), n - 1)

    def sentinel(i):
        return F.concat(F.lit("<extra_id_"),
                        F.floor(i / p).cast("string"), F.lit(">"))

    def tok(t, i):
        off = i % p - s
        return (
            F.when(off == 0, sentinel(i))
            .when((off > 0) & (off < ln), F.lit(None).cast("string"))
            .otherwise(F.element_at(w, (i + 1).cast("int")))
        )

    def tgt(t, i):
        off = i % p - s
        return (
            F.when(off == 0,
                   F.concat(sentinel(i), F.lit(" "),
                            F.element_at(w, (i + 1).cast("int"))))
            .when((off > 0) & (off < ln),
                  F.element_at(w, (i + 1).cast("int")))
            .otherwise(F.lit(None).cast("string"))
        )

    empty = n <= 0
    inp = F.array_join(
        F.filter(F.transform(idx, tok), lambda x: x.isNotNull()), " ")
    target = F.array_join(
        F.filter(F.transform(idx, tgt), lambda x: x.isNotNull()), " ")
    n_masked = F.size(F.filter(
        idx, lambda i: (i % p >= s) & (i % p < s + ln)))
    return df.select(
        F.col(id_col).alias("id"),
        F.when(empty, F.lit(0)).otherwise(n).cast("long")
        .alias("n_tokens"),
        F.when(empty, F.lit(0)).otherwise(n_masked).cast("long")
        .alias("n_masked"),
        F.when(empty, F.lit("")).otherwise(inp).alias("input_text"),
        F.when(empty, F.lit("")).otherwise(target).alias("target_text"),
    )


def shard_plan(df: DataFrame, target_bytes: int = 16384,
               id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Equal-byte output sharding plan — the 'write the final corpus
    as N balanced files' op every released dataset runs last: docs in
    ``id_col`` order are assigned whole (never split) to shard =
    cumulative_byte_offset div ``target_bytes``, and the plan reports
    each shard's doc count, byte total and contiguous id range.

    Scale shape: ``prefix_sums`` over ``id_col`` (its two shuffles and
    one collect bounded by the range count), then the rollup onto the
    shard universe. No global single-partition window.

    Output: (shard_id, n_docs, sum_bytes, min_doc, max_doc)."""
    if target_bytes <= 0:
        raise ValueError(
            f"target_bytes must be positive, got {target_bytes}")
    sized = df.select(
        F.col(id_col),
        F.octet_length(F.col(text_col)).cast("long").alias("n_bytes"),
    )
    assigned = prefix_sums(sized, [F.col(id_col)], {"_off": F.col("n_bytes")}) \
        .withColumn("shard_id", F.expr(f"_off div {target_bytes}").cast("long"))
    return assigned.groupBy("shard_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_bytes").cast("long").alias("sum_bytes"),
        F.min(id_col).cast("long").alias("min_doc"),
        F.max(id_col).cast("long").alias("max_doc"),
    )
