"""Corpus serialization & holdout assignment — the last-mile ops of a
training-data pipeline.

``hash_split``: deterministic content-hash train/val/test assignment.
Splitting by hash OF THE TEXT (not by row number or random()) is the
standard trick that keeps the holdout stable under re-shuffles,
re-partitioning and dedup re-runs, and puts exact duplicates in the
same split (no train/test leakage through copies). Pure column
algebra: md5 -> first 4 bytes as an integer -> permille bucket.

``to_jsonl``: one JSON object per document — the serialization LLM
training corpora actually ship as. Uses Spark's native to_json
(JVM-side JacksonGenerator, no UDF); key order is the struct field
order, so the line shape is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SPLIT_PERMILLE = (980, 990)  # train < 980 <= val < 990 <= test


def hash_split(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """(id, bucket, split) — bucket = permille of the first 4 md5
    bytes of the text; split thresholds 98.0%/1.0%/1.0%."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(text_col).cast("binary")), 1, 8),
               16, 10).cast("long") % 1000
    )
    train, val = SPLIT_PERMILLE
    return df.select(
        F.col(id_col),
        bucket.alias("bucket"),
        F.when(bucket < train, "train")
        .when(bucket < val, "val")
        .otherwise("test").alias("split"),
    )


def to_jsonl(df: DataFrame, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """(id, line) — the {"doc_id":...,"text":...} JSONL record."""
    return df.select(
        F.col(id_col),
        F.to_json(F.struct(F.col(id_col), F.col(text_col)))
        .alias("line"),
    )


def build_training_corpus(df: DataFrame, seq_len: int = 512,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """The composed end-to-end training-corpus pipeline — each stage
    is the already-gated operator, chained the way a real pretraining
    data build runs them:

      1. Gopher quality rules (textstats.gopher_quality_filter),
      2. exact dedup, first occurrence per content hash wins,
      3. content-hash holdout split, train slice only (hash_split),
      4. concat-and-chunk sequence packing (packing.pack_sequences).

    Output = pack_sequences' schema over the surviving docs. The gate
    over this function pins COMPOSITION (stage order, join keys,
    survivor sets), not the per-stage rules — those have their own
    oracles. Plan shape: the quality and split filters are map-only;
    the dedup groupBy and the keep-list joins shuffle on the content
    hash and on the doc id; the packer's ``packing.prefix_sums`` adds
    its range shuffle and its hash shuffle on the range id."""
    from .packing import pack_sequences
    from .textstats import gopher_quality_filter

    kept = (
        gopher_quality_filter(df, id_col=id_col, text_col=text_col)
        .filter(F.col("keep") == 1)
        .select(F.col("id").alias(id_col))
    )
    base = df.join(kept, id_col).select(id_col, text_col)
    firsts = base.groupBy(
        F.md5(F.col(text_col).cast("binary")).alias("h")
    ).agg(F.min(id_col).alias(id_col))
    dd = base.join(firsts.select(id_col), id_col)
    train = (
        hash_split(dd, id_col=id_col, text_col=text_col)
        .filter(F.col("split") == "train").select(id_col)
    )
    final = dd.join(train, id_col)
    return pack_sequences(final, seq_len=seq_len,
                          id_col=id_col, text_col=text_col)


CHAT_SYSTEM = "<|system|>You are a helpful assistant.<|end|>\n"


def chat_format_records(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        prompt_words: int = 8) -> DataFrame:
    """SFT chat-template serialization with loss-mask offsets — the
    instruction-tuning last-mile op. Each document becomes one
    deterministic exchange: the first ``prompt_words`` whitespace
    words are the user turn, the remainder the assistant turn,
    rendered with a fixed ChatML-style template. Alongside the
    rendered string the operator emits the HALF-OPEN character span
    [loss_start, loss_end) of the assistant CONTENT — exactly the
    region a trainer unmasks for loss — computed from the built
    prefix's length, so offsets stay correct for any template or
    content width. Pure column algebra (split/slice/concat/length):
    map-only, no shuffle, no UDF.

    Output: (id, rendered, loss_start, loss_end, n_loss_chars).
    """
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    q = F.array_join(F.slice(w, 1, prompt_words), " ")
    a = F.array_join(
        F.slice(w, prompt_words + 1,
                F.greatest(F.lit(0), F.size(w) - prompt_words)), " ")
    prefix = F.concat(
        F.lit(CHAT_SYSTEM), F.lit("<|user|>"), q,
        F.lit("<|end|>\n<|assistant|>"))
    rendered = F.concat(prefix, a, F.lit("<|end|>"))
    loss_start = F.length(prefix).cast("long")
    loss_end = (F.length(prefix) + F.length(a)).cast("long")
    return df.select(
        F.col(id_col).alias("id"), rendered.alias("rendered"),
        loss_start.alias("loss_start"), loss_end.alias("loss_end"),
        (loss_end - loss_start).alias("n_loss_chars"),
    )


def shuffle_order(df: DataFrame, seed: str = "epoch0",
                  n_shards: int = 8,
                  id_col: str = "doc_id") -> DataFrame:
    """Deterministic global training-order shuffle — the final stage
    of every data pipeline (a training run must visit documents in a
    pseudo-random order that is REPRODUCIBLE across reruns and
    resumable mid-epoch; rand() is neither): every doc gets a shuffle
    key md5(seed || ':' || id), lands in shard = first byte mod
    n_shards, and takes its 0-based position by key order WITHIN the
    shard. A new ``seed`` ("epoch1", ...) reshuffles everything
    deterministically.

    Scale shape: the shard assignment is map-only; the only shuffle
    is the per-shard window (partitionBy shard — n_shards reducers,
    each ordering corpus/n_shards keys, NEVER a single global sort).
    Output: (id, shard, pos, key)."""
    from pyspark.sql import Window

    key = F.md5(F.concat(F.lit(seed), F.lit(":"),
                         F.col(id_col).cast("string")))
    shard = (F.conv(F.substring(key, 1, 2), 16, 10).cast("long")
             % n_shards)
    w = Window.partitionBy("shard").orderBy("key")
    return (df.select(F.col(id_col).cast("long").alias("id"),
                      key.alias("key"), shard.cast("long").alias("shard"))
            .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
            .select("id", "shard", "pos", "key"))
