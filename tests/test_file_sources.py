"""File ingestion sources: .html / .txt / .eml files -> docs table ->
extraction (the reference's upload surface as a Spark source)."""

from __future__ import annotations

from email.message import EmailMessage

import pytest
from pyspark.sql import functions as F

from stirling_pdf_spark.operators.extract_pipeline import (
    explode_spans, extract_spans,
)


@pytest.fixture(scope="module")
def file_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("ingest")
    (d / "a.html").write_text(
        "<html><body><nav><a href='/h'>home</a></nav>"
        "<article><h1>Title A</h1>"
        "<p>the quick brown fox paragraph body one with enough text "
        "to score as main content for the extractor</p>"
        "</article></body></html>")
    (d / "b.txt").write_text("alpha beta gamma delta epsilon zeta eta "
                             "theta iota kappa")
    msg = EmailMessage()
    msg["Subject"] = "hello sübject"
    msg["From"] = "sender@example.com"
    msg.set_content("plain body visit https://example.com/x now")
    msg.add_attachment(b"PAYLOAD", maintype="application",
                       subtype="octet-stream", filename="p.bin")
    (d / "c.eml").write_bytes(msg.as_bytes())
    return str(d)


def test_html_file_source_extracts_main_content(spark, file_dir):
    from stirling_pdf_spark.sources.files import docs_from_html_files

    docs = docs_from_html_files(spark, file_dir)
    flat = explode_spans(extract_spans(docs)).collect()
    texts = [r["text"] for r in flat if r["kind"] == "text"]
    assert any("Title A" in t for t in texts)
    assert any("quick brown fox" in t for t in texts)
    assert not any("home" in t for t in texts)  # nav boilerplate dropped


def test_text_file_source_canonical_layout(spark, file_dir):
    from stirling_pdf_spark.sources.files import docs_from_text_files

    docs = docs_from_text_files(spark, file_dir)
    rows = docs.collect()
    assert [r["doc_id"] for r in rows] == ["b.txt"]
    out = explode_spans(extract_spans(docs)).collect()
    texts = [r["text"] for r in out if r["kind"] == "text"]
    # 10 words -> two 8-word-capped lines of the canonical layout
    assert texts == ["alpha beta gamma delta epsilon zeta eta theta",
                     "iota kappa"]


def test_eml_file_source_headers_body_attachments(spark, file_dir):
    from stirling_pdf_spark.sources.files import docs_from_eml_files

    docs = docs_from_eml_files(spark, file_dir)
    flat = explode_spans(extract_spans(docs)).collect()
    by_kind = {}
    for r in flat:
        by_kind.setdefault(r["kind"], []).append(r)
    metas = {r["text"].split("|", 1)[0]: r["text"].split("|", 1)[1]
             for r in by_kind["meta"]}
    assert metas["subject"] == "hello sübject"  # RFC 2047 decoded
    assert metas["from"] == "sender@example.com"
    assert [r["text"] for r in by_kind["attachment"]] == ["p.bin"]
    assert by_kind["attachment"][0]["media_ref"].startswith("media-")
    texts = " ".join(r["text"] for r in by_kind.get("text", []))
    assert "plain body" in texts


def test_text_to_html_py_matches_reference_chain():
    """EmlProcessingUtils.java:256-284: escape, CRLF normalization,
    newline -> <br>, then URL and mailto autolinking — plain EML bodies
    keep line structure and links through ingestion."""
    from stirling_pdf_spark.functions.html import text_to_html_py

    out = text_to_html_py("a & b\r\nvisit https://x.io/z\nmail a@b.co")
    assert out == ('a &amp; b<br>'
                   'visit <a href="https://x.io/z">https://x.io/z</a><br>'
                   'mail <a href="mailto:a@b.co">a@b.co</a>')
