"""H4 media blob table + resolution, and E23 bookmark spans."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from stirling_pdf_spark.corpus.media import (
    fmt_for_ref,
    media_table,
    payload_for_ref,
)
from stirling_pdf_spark.corpus.spark_synth import synth_docs_df
from stirling_pdf_spark.operators.extract_pipeline import extract_spans
from stirling_pdf_spark.operators.multimodal import (
    media_metadata,
    resolve_media,
)


@pytest.fixture(scope="module")
def corpus(spark):
    docs = synth_docs_df(spark, 80, seed=42, mega_pages=(40, 50),
                         num_partitions=4)
    return docs, extract_spans(docs, salt_threshold=200)


def test_payloads_deterministic():
    p1, p2 = payload_for_ref("media-abc123"), payload_for_ref("media-abc123")
    assert p1 == p2 and 256 <= len(p1) <= 2303
    assert payload_for_ref("media-zzz") != p1
    assert fmt_for_ref("media-abc123") in ("png", "jpg", "gif", "bin")


def test_media_table_covers_all_refs(spark, corpus):
    docs, _ = corpus
    media = media_table(docs)
    n_refs = (
        docs.select(F.explode("spans").alias("s"))
        .filter(F.col("s.media_ref") != "")
        .select("s.media_ref").distinct().count()
    )
    assert media.count() == n_refs > 0
    row = media.first()
    assert bytes(row["payload"]) == payload_for_ref(row["media_ref"])


def test_resolve_media_no_dangling_refs(spark, corpus):
    docs, out = corpus
    resolved = resolve_media(out, media_table(docs))
    assert resolved.count() > 0
    assert resolved.filter(F.col("fmt").isNull()).count() == 0
    assert resolved.filter(F.col("n_bytes") <= 0).count() == 0
    kinds = {r["kind"] for r in resolved.select("kind").distinct().collect()}
    assert kinds <= {"media", "attachment"}


def test_media_metadata_over_blob_table(spark, corpus):
    docs, _ = corpus
    meta = media_metadata(media_table(docs))
    bad = meta.filter(
        (F.col("n_bytes") < 256) | (F.col("n_bytes") > 2303)
        | F.col("oversize")
    ).count()
    assert bad == 0


def test_bookmarks_extracted_in_tree_order(spark, corpus):
    _, out = corpus
    rows = out.filter(
        F.exists("spans", lambda s: s["kind"] == "bookmark")
    ).collect()
    assert rows, "corpus must contain bookmark-bearing docs"
    for r in rows:
        spans = r["spans"]
        kinds = [s["kind"] for s in spans]
        # bookmarks form a contiguous block before the attachments tail
        bm_idx = [i for i, k in enumerate(kinds) if k == "bookmark"]
        assert bm_idx == list(range(bm_idx[0], bm_idx[0] + len(bm_idx)))
        after = set(kinds[bm_idx[-1] + 1:])
        assert after <= {"attachment"}
        for s in spans:
            if s["kind"] == "bookmark":
                depth, _, title = s["text"].partition("|")
                assert depth.isdigit() and title


def test_set_outline_replaces_and_clamps(spark):
    """EditTableOfContentsController.java:161-227: set REPLACES the
    outline; target pages clamp into [1, n_pages]; children append in
    pre-order; a doc with no page content clamps everything to 1."""
    from pyspark.sql import functions as F

    from stirling_pdf_spark.kernel.model import TextRun
    from stirling_pdf_spark.kernel import wire
    from stirling_pdf_spark.operators.pageops import set_outline

    def doc(doc_id, n_pages):
        spans = [{"kind": "bookmark", "text": "0|1|old chapter",
                  "media_ref": "", "offset": 0}]
        for p in range(1, n_pages + 1):
            spans.append({"kind": "text",
                          "text": wire.encode_text_run(
                              TextRun(p, 72.0, 72.0, 11.0, "F", "x")),
                          "media_ref": "", "offset": len(spans)})
        return (doc_id, spans)

    df = spark.createDataFrame(
        [doc("d3", 3), doc("d0", 0)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    out = set_outline(df, [("A", 2, [("A1", 99, [])]), ("B", -5, [])])
    rows = {r["doc_id"]: r["spans"] for r in out.collect()}

    bms = [s["text"] for s in rows["d3"] if s["kind"] == "bookmark"]
    assert bms == ["0|2|A", "1|3|A1", "0|1|B"]  # old dropped, 99->3, -5->1
    assert "old chapter" not in " ".join(bms)
    bms0 = [s["text"] for s in rows["d0"] if s["kind"] == "bookmark"]
    assert bms0 == ["0|1|A", "1|1|A1", "0|1|B"]  # pageless doc -> all 1
    for spans in rows.values():  # offsets re-packed dense
        assert [s["offset"] for s in spans] == list(range(len(spans)))
