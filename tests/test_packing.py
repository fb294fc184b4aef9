"""Sequence packing (operators/packing.py): concat-and-chunk
invariants — per-doc token conservation, full sequences tile to
exactly seq_len, boundary-straddling docs split correctly, and the
global prefix sum is independent of the range-partition count."""

from __future__ import annotations

from collections import defaultdict

from stirling_pdf_spark.operators.packing import pack_sequences


def _docs(spark, counts):
    rows = [(i, " ".join("w%d" % k for k in range(n)))
            for i, n in enumerate(counts)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _collect(df):
    return sorted((r["doc_id"], r["n_tokens"], r["seq_id"],
                   r["tok_start"], r["n_in_seq"])
                  for r in df.collect())


def test_token_conservation_and_tiling(spark):
    counts = [3, 10, 1, 25, 7, 2, 18, 5, 9, 4]
    out = _collect(pack_sequences(_docs(spark, counts), seq_len=16))
    per_doc = defaultdict(int)
    per_seq = defaultdict(list)
    for did, n, seq, start, k in out:
        assert n == counts[did]
        assert 0 <= start < 16 and 1 <= k <= 16
        per_doc[did] += k
        per_seq[seq].append((start, k))
    assert per_doc == {i: n for i, n in enumerate(counts)}
    total = sum(counts)
    n_seqs = (total + 15) // 16
    assert set(per_seq) == set(range(n_seqs))
    for seq, spans in per_seq.items():
        spans.sort()
        # contiguous tiling from 0, no overlap
        pos = 0
        for start, k in spans:
            assert start == pos
            pos += k
        assert pos == (16 if seq < n_seqs - 1 else total - 16 * seq)


def test_straddle_concrete(spark):
    # doc of 10 tokens starting at offset 12 with seq_len 8 spans
    # sequences 1 and 2: 4 tokens at offset 4, then 6 at offset 0
    out = _collect(pack_sequences(_docs(spark, [12, 10]), seq_len=8))
    assert out == [
        (0, 12, 0, 0, 8), (0, 12, 1, 0, 4),
        (1, 10, 1, 4, 4), (1, 10, 2, 0, 6),
    ]


def test_partition_count_invariance(spark, shuffle_partitions):
    counts = [5, 13, 2, 40, 1, 1, 31, 8, 22, 3, 17, 6]
    df = _docs(spark, counts)
    runs = []
    for n in (1, 5, 16):
        with shuffle_partitions(n):
            runs.append(_collect(pack_sequences(df, seq_len=10)))
    assert runs[0] == runs[1] == runs[2]


def test_empty_docs_dropped(spark):
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "   "), (2, "d e")],
        "doc_id long, text string")
    out = _collect(pack_sequences(df, seq_len=4))
    assert [r[0] for r in out] == [0, 2, 2]
    # doc 1 contributes nothing; stream is a b c d e -> d straddles
    assert out == [(0, 3, 0, 0, 3), (2, 2, 0, 3, 1), (2, 2, 1, 0, 1)]
