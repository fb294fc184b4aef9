"""E7 run coalescing, the structured-elements operator, and the
streaming ingest path (foreachBatch + lineage commit protocol)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from stirling_pdf_spark.corpus.spark_synth import synth_docs_df
from stirling_pdf_spark.kernel.coalesce import coalesce_runs
from stirling_pdf_spark.kernel.model import TextRun
from stirling_pdf_spark.operators.elements import extract_elements
from stirling_pdf_spark.runtime.checkpoint import (
    read_committed_spans,
    run_extract_with_checkpoint,
)
from stirling_pdf_spark.streaming.ingest import stream_extract


def _run(x, content, y=100.0, fs=11.0, font="Helvetica"):
    return TextRun(1, x, y, fs, font, content)


# --------------------------------------------------------- E7 coalescing

def test_coalesce_contiguous_same_style():
    # width of "ab" at fs 11 = 2*0.5*11 = 11 -> next run starts exactly
    # at the right edge (gap 0, not a word gap) -> merges
    a = _run(10.0, "ab")
    b = _run(21.0, "cd")
    out = coalesce_runs([a, b])
    assert len(out) == 1
    el = out[0]
    assert el.text == "abcd"
    assert el.x == 10.0 and el.width == 22.0
    assert el.z_order == 1_000_000


def test_coalesce_splits_on_style_change_and_baseline():
    a = _run(10.0, "ab")
    bold = TextRun(1, 21.0, 100.0, 11.0, "Helvetica-Bold", "cd")
    out = coalesce_runs([a, bold])
    assert [e.text for e in out] == ["ab", "cd"]
    c = _run(21.0, "cd", y=100.6)  # baseline off by > 0.5
    assert [e.text for e in coalesce_runs([a, c])] == ["ab", "cd"]
    d = _run(21.0, "cd", y=100.4)  # within 0.5 -> merges
    assert [e.text for e in coalesce_runs([a, d])] == ["abcd"]


def test_coalesce_word_gap_splits():
    a = _run(10.0, "ab")          # right edge 21, avg char width 5.5
    near = _run(23.0, "cd")       # gap 2.0 <= 2.75 -> merge
    far = _run(27.0, "cd")        # gap 6.0 > 2.75 -> split
    assert len(coalesce_runs([a, near])) == 1
    assert len(coalesce_runs([a, far])) == 2


def test_coalesce_width_formula():
    # overlapping fragments: endX - startX smaller than sum of widths
    a = _run(10.0, "abcd")        # w 22
    b = _run(30.0, "ef", y=100.0)  # gap -2 -> merge; end 41; span 31 < 33
    out = coalesce_runs([a, b])
    assert out[0].width == 33.0   # max(sum_w, end-start) = sum


# ------------------------------------------------------ elements operator

def test_extract_elements_order_and_zorder(spark):
    docs = synth_docs_df(spark, 24, seed=42, mega_pages=(6, 9),
                         num_partitions=4)
    els = extract_elements(docs)
    rows = els.filter(F.col("doc_id") == els.select("doc_id").first()[0]) \
              .orderBy("page", "seq").collect()
    assert rows, "no elements"
    # per page: media (negative z) strictly before text (positive z)
    by_page: dict[int, list] = {}
    for r in rows:
        by_page.setdefault(r["page"], []).append(r)
    for page_rows in by_page.values():
        signs = [0 if r["z_order"] < 0 else 1 for r in page_rows]
        assert signs == sorted(signs)
        seqs = [r["seq"] for r in page_rows]
        assert seqs == list(range(len(seqs)))
    # text elements carry geometry + style
    t = next(r for r in rows if r["kind"] == "text")
    assert t["font"] and t["font_size"] > 0 and t["width"] > 0


# ----------------------------------------------------------- streaming

def test_stream_extract_drains_and_commits(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs = synth_docs_df(spark, 30, mega_pages=(6, 9), num_partitions=3)
    docs.write.parquet(in_dir)

    q = stream_extract(spark, in_dir, out, ckpt)
    q.awaitTermination(120)
    assert read_committed_spans(spark, out).count() == 30

    # new files arrive -> a second availableNow drain picks up ONLY them
    more = synth_docs_df(spark, 45, mega_pages=(6, 9), num_partitions=3) \
        .filter(F.element_at(F.split(F.col("doc_id"), "-"), -1)
                .cast("long") >= 30)
    more.write.mode("append").parquet(in_dir)
    q2 = stream_extract(spark, in_dir, out, ckpt)
    q2.awaitTermination(120)
    committed = read_committed_spans(spark, out)
    assert committed.count() == 45
    assert committed.select("doc_id").distinct().count() == 45


def test_checkpoint_replay_same_run_id_is_safe(spark, tmp_path):
    out = str(tmp_path / "out")
    docs = synth_docs_df(spark, 12, mega_pages=(6, 9), num_partitions=2)
    r1 = run_extract_with_checkpoint(spark, docs, out, run_id="rX")
    assert r1["docs_done"] == 12
    # replay with the SAME run_id (streaming retry shape): must be a
    # no-op and must not clobber committed spans
    r2 = run_extract_with_checkpoint(spark, docs, out, run_id="rX")
    assert r2["docs_done"] == 0
    assert read_committed_spans(spark, out).count() == 12
