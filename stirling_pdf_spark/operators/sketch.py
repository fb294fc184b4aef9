"""Deterministic mergeable sketches: HyperLogLog and Bloom filters.

At 10^12 documents, exact COUNT(DISTINCT) and raw-set membership both
shuffle the full key universe; production pipelines carry *sketches*
instead — tiny, mergeable summaries whose per-partition pieces combine
associatively (the classic Flajolet et al. 2007 HLL and Bloom 1970
designs, as deployed in Spark's own approx_count_distinct and
BloomFilterAggregate). Spark's built-ins are not reproducible across
engines, so these versions are *bit-deterministic*: every hash is an
md5 slice and every register/bit is integer arithmetic, which lets the
DuckDB oracle recompute the identical sketch — the gates check the
sketch itself, not a tolerance band.

HLL here: 256 registers keyed by the first md5 byte, rank = leading
zeros of the next 48 hash bits. The register table IS the shuffle
payload: ``groupBy(key, bucket).max(rho)`` partial-aggregates
map-side, so each executor contributes at most 256 rows per group key
regardless of input size. Bloom: m = 2^16 bits, k = 3 probes from md5
slices; the bit table (< 65536 rows) broadcasts, so membership tests
against a benchmark corpus are a map-side-only join — the scale path
for decontamination when the benchmark n-gram set itself is too hot to
replicate raw.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _shingled

HLL_BUCKETS = 256  # first md5 byte
HLL_RANK_BITS = 48  # next 12 hex chars; rho in 1..49
_ALPHA = 0.7213 / (1 + 1.079 / HLL_BUCKETS)
# alpha * m^2 * 2^50 precomputed as ONE float literal so both engines
# do a single IEEE divide + floor on identical inputs
HLL_NUMERATOR = _ALPHA * HLL_BUCKETS * HLL_BUCKETS * float(2 ** 50)
# Flajolet et al. small-range correction E = m*ln(m/V), precomputed to
# integers per possible empty-bucket count V so no engine evaluates ln
import math as _math

HLL_LC_TABLE = [round(HLL_BUCKETS * _math.log(HLL_BUCKETS / v))
                for v in range(1, HLL_BUCKETS + 1)]
HLL_LC_THRESHOLD = 5 * HLL_BUCKETS // 2  # apply LC when raw E < 2.5m


def hll_registers(df: DataFrame, key_col: str,
                  value_col: str) -> DataFrame:
    """(key, bucket, reg): the 256-register HLL sketch per key.
    Mergeable: max() over matching (key, bucket) combines partial
    sketches from any partitioning or engine."""
    h = F.md5(F.col(value_col).cast("string").cast("binary"))
    hashed = df.select(
        F.col(key_col).alias("key"),
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("bucket"),
        F.substring(h, 3, 12).alias("w"))
    rho = hashed.select(
        "key", "bucket",
        F.expr("length(regexp_extract(w, '^0*', 0))").alias("z"),
        F.expr("conv(substr(w, length(regexp_extract(w, '^0*', 0)) + 1, 1),"
               " 16, 10)").cast("int").alias("v"),
    ).select(
        "key", "bucket",
        F.when(F.col("z") == 12, F.lit(49)).otherwise(
            4 * F.col("z")
            + F.when(F.col("v") >= 8, 0).when(F.col("v") >= 4, 1)
               .when(F.col("v") >= 2, 2).otherwise(3)
            + 1).cast("int").alias("rho"))
    return rho.groupBy("key", "bucket") \
        .agg(F.max("rho").cast("int").alias("reg"))


def hll_distinct(df: DataFrame, key_col: str,
                 value_col: str) -> DataFrame:
    """Per-key HLL cardinality rollup, integer-exact register sum
    S = sum(2^(50-reg)) with empty buckets contributing 2^50, plus the
    single-division estimate and the exact distinct for an accuracy
    column (the exact path exists for the gate; at scale only the
    registers run)."""
    regs = hll_registers(df, key_col, value_col)
    agg = regs.groupBy("key").agg(
        F.count("*").cast("long").alias("n_buckets_used"),
        (F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 50 - reg)"))
         + (F.lit(HLL_BUCKETS) - F.count("*"))
         * F.lit(2 ** 50).cast("long")).cast("long").alias("reg_sum"))
    raw = F.floor(F.lit(HLL_NUMERATOR)
                  / F.col("reg_sum").cast("double")).cast("long")
    v_empty = (F.lit(HLL_BUCKETS) - F.col("n_buckets_used")).cast("int")
    lc = F.element_at(
        F.array(*[F.lit(int(x)) for x in HLL_LC_TABLE]), v_empty)
    est = agg.select(
        "key", "n_buckets_used", "reg_sum",
        F.when((v_empty > 0) & (raw < HLL_LC_THRESHOLD),
               lc.cast("long")).otherwise(raw).alias("est_distinct"))
    exact = df.groupBy(F.col(key_col).alias("key")) \
        .agg(F.countDistinct(value_col).cast("long").alias("exact_distinct"))
    out = est.join(exact, "key")
    return out.select(
        "key", "n_buckets_used", "reg_sum", "est_distinct",
        "exact_distinct",
        F.expr("(abs(est_distinct - exact_distinct) * 10000)"
               " div exact_distinct").cast("long").alias("err_bp"))


BLOOM_BITS = 1 << 16
BLOOM_K = 3


def _bit_positions(gram_col: str = "g"):
    """k=3 bit positions, each a 16-bit md5 slice — an array column."""
    h = F.md5(F.col(gram_col).cast("binary"))
    return F.array(*[
        F.conv(F.substring(h, 1 + 4 * i, 4), 16, 10).cast("int")
        for i in range(BLOOM_K)])


def bloom_decontaminate(docs: DataFrame, benchmark: DataFrame,
                        n: int = 8, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Benchmark decontamination through a broadcast Bloom filter:
    the benchmark's word-n-gram bit set (<= 2^16 rows) broadcasts and
    every candidate n-gram needs all k probes present to flag. Output
    keeps the ground-truth exact flag next to the bloom flag so the
    gate (and BENCH.md) reports the false-positive rate instead of
    hiding it. Flags are INT (driver-compare bool quirk)."""
    bench_grams = _shingled(benchmark, id_col, text_col, n) \
        .select(F.explode("shingles").alias("g")).distinct()
    bits = bench_grams.select(
        F.explode(_bit_positions("g")).alias("bit")).distinct()

    d = _shingled(docs, id_col, text_col, n)
    sizes = d.select("id", F.size("shingles").cast("long").alias("n_grams"))
    grams = d.select("id", F.explode("shingles").alias("g"))
    probes = grams.select(
        "id", "g", F.explode(_bit_positions("g")).alias("bit"))
    gram_hits = probes.join(F.broadcast(bits), "bit") \
        .groupBy("id", "g") \
        .agg(F.count("*").alias("k_hits")) \
        .filter(F.col("k_hits") == BLOOM_K)
    bloom = gram_hits.groupBy("id") \
        .agg(F.count("*").cast("long").alias("n_bloom_hits"))
    exact = grams.join(F.broadcast(bench_grams), "g") \
        .select("id").distinct().withColumn("exact_flag", F.lit(1))
    return sizes.join(bloom, "id", "left").join(exact, "id", "left") \
        .select(
            "id", "n_grams",
            F.coalesce("n_bloom_hits", F.lit(0)).cast("long")
            .alias("n_bloom_hits"),
            (F.coalesce("n_bloom_hits", F.lit(0)) > 0).cast("int")
            .alias("bloom_flag"),
            F.coalesce("exact_flag", F.lit(0)).cast("int")
            .alias("exact_flag"))


CMS_DEPTH = 4
CMS_WIDTH = 256


def cms_cells(df: DataFrame, key_col: str,
              depth: int = CMS_DEPTH,
              width: int = CMS_WIDTH) -> DataFrame:
    """Count-Min sketch cells (Cormode & Muthukrishnan 2005) — the
    fixed-size mergeable FREQUENCY summary next to HLL's cardinality
    one: depth x width counters, row r hashing every key by the first
    8 hex chars of md5('cms{r}:' || key). Per-partition pieces merge
    by plain cell-wise SUM, so the shuffle payload is at most
    depth*width rows per executor REGARDLESS of input size — the
    point of carrying a sketch at 10^12 tokens. Deterministic md5
    hashing keeps the sketch bit-identical across engines (Spark's
    own CountMinSketchAgg seeds differently per run).

    Output: (row, col, cnt) — at most depth*width rows total."""
    cells = []
    for r in range(depth):
        h = F.conv(F.substring(
            F.md5(F.concat(F.lit(f"cms{r}:"), F.col(key_col))), 1, 8),
            16, 10).cast("long") % width
        cells.append(F.struct(F.lit(r).alias("row"),
                              h.cast("int").alias("col")))
    return (df.select(F.explode(F.array(*cells)).alias("c"))
            .groupBy(F.col("c.row").alias("row"),
                     F.col("c.col").alias("col"))
            .agg(F.count("*").cast("long").alias("cnt")))


def cms_heavy_estimates(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 10,
                        depth: int = CMS_DEPTH,
                        width: int = CMS_WIDTH) -> DataFrame:
    """Point-query audit of the Count-Min sketch against ground
    truth: build the sketch over every token occurrence, then for the
    top-k true-count terms (ties by term asc) report the CMS estimate
    est = min over rows of cell[r][h_r(term)] next to the true count.
    CMS never underestimates, so est - true_cnt >= 0 is part of the
    gate's checked output.

    Scale shape: one token groupBy for truth (partial-agg'd), the
    bounded-cell sketch aggregation, and a broadcast join of the
    top-k terms against depth rows each — the sketch table never
    exceeds depth*width rows."""
    from pyspark.sql import Window

    from .dedup import words_col
    from .extract_pipeline import spread

    toks = (spread(df, id_col)
            .select(F.explode(words_col(text_col)).alias("term"))
            .filter(F.col("term") != ""))
    from ..runtime.staging import stage

    toks = stage(toks)  # consumed by truth and the sketch
    truth = toks.groupBy("term").agg(
        F.count("*").cast("long").alias("true_cnt"))
    w = Window.orderBy(F.desc("true_cnt"), F.asc("term"))
    top = (truth.withColumn("rank", F.row_number().over(w).cast("long"))
           .filter(F.col("rank") <= k))
    cells = cms_cells(toks, "term", depth=depth, width=width)
    probes = []
    for r in range(depth):
        h = F.conv(F.substring(
            F.md5(F.concat(F.lit(f"cms{r}:"), F.col("term"))), 1, 8),
            16, 10).cast("long") % width
        probes.append(F.struct(F.lit(r).alias("row"),
                               h.cast("int").alias("col")))
    probed = (top.select("term", "true_cnt", "rank",
                         F.explode(F.array(*probes)).alias("p"))
              .select("term", "true_cnt", "rank",
                      F.col("p.row").alias("row"),
                      F.col("p.col").alias("col")))
    est = (probed.join(F.broadcast(cells), ["row", "col"])
           .groupBy("term", "true_cnt", "rank")
           .agg(F.min("cnt").cast("long").alias("est_cnt")))
    return est.select("rank", "term", "true_cnt", "est_cnt",
                      (F.col("est_cnt") - F.col("true_cnt"))
                      .cast("long").alias("overestimate"))
