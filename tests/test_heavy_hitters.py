"""Tests for the Misra-Gries two-phase heavy hitters and the
integer-lift collocation miner."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stirling_pdf_spark.operators.textstats import (
    collocation_lift_topk,
    heavy_hitters,
)


def _docs(spark, rows, parts=None):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return df.repartition(parts) if parts else df


def test_heavy_hitters_exact_threshold(spark):
    # 100 tokens total: 'hot' x 50, 'warm' x 2 (exactly N/50... use
    # threshold_frac=4 -> cutoff 25): only 'hot' qualifies
    rows = [(i, "hot " * 5 + "cold" + str(i)) for i in range(10)]
    out = heavy_hitters(_docs(spark, rows), threshold_frac=4).collect()
    assert len(out) == 1
    r = out[0]
    assert r["word"] == "hot"
    assert r["total"] == 50
    # N = 60 tokens (5 hot + 1 cold per doc)
    assert r["share_ppm"] == 50 * 1_000_000 // 60


def test_heavy_hitters_parallelism_invariant(spark):
    # vocabulary much larger than sketch capacity, heavy word mixed
    # in; answer must be identical at 1, 3 and 8 partitions
    rows = [(i, " ".join(["big"] * 3 + [f"rare{i}_{j}"
                                        for j in range(7)]))
            for i in range(60)]
    results = []
    for parts in (1, 3, 8):
        out = heavy_hitters(_docs(spark, rows, parts),
                            threshold_frac=20, capacity=40)
        results.append(sorted((r["word"], r["total"], r["share_ppm"])
                              for r in out.collect()))
    assert results[0] == results[1] == results[2]
    assert ("big", 180, 180 * 1_000_000 // 600) in results[0]


def test_heavy_hitters_sketch_never_drops_true_heavy(spark):
    # adversarial: tiny capacity, long tail pressuring the sketch;
    # the true heavy hitter must still surface (pigeonhole + exact
    # verify pass)
    tail = " ".join(f"t{j}" for j in range(500))
    rows = [(0, ("key " * 100) + tail), (1, "key " * 60)]
    out = heavy_hitters(_docs(spark, rows, 2), threshold_frac=8,
                        capacity=16).collect()
    words = {r["word"] for r in out}
    assert "key" in words
    # N = 760, cutoff 95: nothing in the tail qualifies
    assert words == {"key"}


def test_heavy_hitters_null_and_blank_text(spark):
    # a null text has no tokens; a whitespace-only text is one empty
    # token (split of ''), counted in N as the oracle counts it but
    # never a candidate. N = 0 + 1 + 3 + 2 = 6, cutoff 6 / 2 = 3
    rows = [(0, None), (1, "   "), (2, "hot hot cold"), (3, "hot warm")]
    for capacity in (2, None):
        out = heavy_hitters(_docs(spark, rows, 2), threshold_frac=2,
                            capacity=capacity).collect()
        assert [tuple(r) for r in out] == [("hot", 3, 3 * 1_000_000 // 6)]


def test_heavy_hitters_rejects_capacity_below_threshold_frac(spark):
    # one counter cannot hold a token with count >= N/2 through the
    # sketch's shrink: these rows would silently answer [] at
    # capacity=1, so the call raises before any Spark work
    rows = [(0, None), (1, "   "), (2, "hot hot cold"), (3, "hot warm")]
    with pytest.raises(ValueError, match="capacity 1 < threshold_frac 2"):
        heavy_hitters(_docs(spark, rows, 2), threshold_frac=2, capacity=1)


def test_collocation_lift_closed_form(spark):
    # 'new york' always adjacent; 'a b' co-occur at chance level.
    # doc = 'new york a b' x 5 docs -> N=20, c(new)=c(york)=5,
    # c_ab(new york)=5 -> lift = (5*20 div 5)*1000 div 5 = 4000
    rows = [(i, "new york a b") for i in range(5)]
    out = collocation_lift_topk(_docs(spark, rows), k=10,
                                min_count=5).collect()
    by_pair = {r["pair"]: r for r in out}
    assert by_pair["new york"]["lift_x1000"] == 4000
    assert by_pair["new york"]["c_ab"] == 5
    # ranks are 1..n with the deterministic (lift desc, pair asc) order
    ranks = [r["rank"] for r in
             sorted(out, key=lambda r: (-r["lift_x1000"], r["pair"]))]
    assert ranks == list(range(1, len(out) + 1))


def test_collocation_min_count_filter(spark):
    rows = [(0, "x y"), (1, "x y"), (2, "p q " * 5)]
    out = collocation_lift_topk(_docs(spark, rows), k=10,
                                min_count=3).collect()
    pairs = {r["pair"] for r in out}
    assert "x y" not in pairs  # count 2 < 3
    assert "p q" in pairs      # count 5


def test_corpus_drift_identical_slices(spark):
    from stirling_pdf_spark.operators.textstats import corpus_drift
    # both slices identical text -> identical counts, l1 only from
    # smoothing remainder (equal totals => exactly 0)
    rows = [(i, "alpha beta gamma") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = corpus_drift(df, F.col("doc_id") % 2 == 0).collect()
    assert all(r["c_a"] == r["c_b"] for r in out)
    assert all(r["l1_ppm"] == 0 for r in out)


def test_corpus_drift_detects_shift(spark):
    from stirling_pdf_spark.operators.textstats import corpus_drift
    rows = ([(2 * i, "aaa aaa aaa") for i in range(5)]
            + [(2 * i + 1, "zzz zzz zzz") for i in range(5)])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = corpus_drift(df, F.col("doc_id") % 2 == 0).collect()
    # totals 15/15, denominator 15 + 128: hot bucket ppm =
    # 16e6 // 143, cold = 1e6 // 143; two fully-separated buckets
    hot, cold = 16_000_000 // 143, 1_000_000 // 143
    assert sorted((r["c_a"], r["c_b"]) for r in out) \
        == [(0, 15), (15, 0)]
    assert all(r["l1_ppm"] == hot - cold for r in out)


def test_qa_mine_pairs(spark):
    from stirling_pdf_spark.operators.textstats import qa_mine
    rows = [
        (0, "Intro here. What is X? X is a thing. Trailer."),
        (1, "No questions at all. Just statements."),
        (2, "First Q? A1. Second Q? A2."),
        (3, "Dangling question at the end?"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = qa_mine(df).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(
            (r["pair_no"], r["question"], r["answer"]))
    assert by_id[0] == [(0, "What is X?", "X is a thing.")]
    assert 1 not in by_id
    assert sorted(by_id[2]) == [(0, "First Q?", "A1."),
                                (1, "Second Q?", "A2.")]
    assert 3 not in by_id  # no successor sentence
