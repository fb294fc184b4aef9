"""PDF -> HTML export (kernel/html_export.py): the Markdown block
pipeline re-emitted as tags, with HTML-specific behaviors pinned —
entity escaping, bullet grouping into <ul>, thead/tbody tables, the
standalone document wrapper, and the shared cross-page merge quirk."""

from __future__ import annotations

from stirling_pdf_spark.kernel import wire
from stirling_pdf_spark.kernel.html_export import html_doc
from stirling_pdf_spark.kernel.model import TextRun


def _doc(runs, media=()):
    spans = [("text", wire.encode_text_run(r), "", i)
             for i, r in enumerate(runs)]
    for m in media:
        spans.append(("media", m, "media-x", len(spans)))
    return spans


def _run(page, y, text, size=11.0, font="Helvetica", x=72.0):
    return TextRun(page, x, y, size, font, text)


def _body(html: str) -> str:
    inner = html.split("<body>\n", 1)[1].rsplit("\n</body>", 1)[0]
    return inner


def test_wrapper_and_heading_paragraph():
    runs = [_run(1, 40.0, "huge title", size=16.0)]
    runs += [_run(1, 80.0 + 14 * i, f"body line {i}") for i in range(10)]
    html = html_doc(_doc(runs))
    assert html.startswith("<!DOCTYPE html>\n<html>\n<body>\n")
    assert html.endswith("\n</body>\n</html>")
    blocks = _body(html).split("\n")
    assert blocks[0] == "<h1>huge title</h1>"
    assert blocks[1].startswith("<p>body line 0 body line 1")


def test_entity_escaping():
    runs = [_run(1, 72.0, "a < b & c > d")]
    html = html_doc(_doc(runs))
    assert "<p>a &lt; b &amp; c &gt; d</p>" in html


def test_bold_label_and_bullets_group():
    runs = [_run(1, 40.0, "Key Point", font="Helvetica-Bold"),
            _run(1, 72.0, "• first item"),
            _run(1, 86.0, "• second item"),
            _run(1, 100.0, "after list")]
    runs += [_run(1, 120.0 + 14 * i, f"pad {i}") for i in range(6)]
    html = _body(html_doc(_doc(runs)))
    assert "<p><strong>Key Point</strong></p>" in html
    assert "<ul><li>first item</li><li>second item</li></ul>" in html


def test_image_placeholder_alt():
    runs = [_run(1, 72.0, "text")]
    html = _body(html_doc(_doc(runs, media=["1|10.0|20.0|200.0|120.0"])))
    assert '<img alt="image redacted: 200x120pt">' in html


def test_cross_page_merge_lowercase_continuation():
    runs = [_run(1, 72.0, "first page ends here"),
            _run(2, 72.0, "and continues lowercase")]
    html = _body(html_doc(_doc(runs)))
    assert "<p>first page ends here and continues lowercase</p>" in html


def test_cross_page_no_merge_after_punctuation():
    runs = [_run(1, 72.0, "sentence done."),
            _run(2, 72.0, "next para")]
    html = _body(html_doc(_doc(runs)))
    assert "<p>sentence done.</p>\n<p>next para</p>" in html


def test_stream_table_renders_thead_tbody():
    # three rows x three whitespace-separated columns, x-aligned so
    # the E14 stream detector fires (same layout as the md table test)
    rows = [("h1", "h2", "h3"), ("a1", "a2", "a3"), ("b1", "b2", "b3")]
    runs = []
    for r, cells in enumerate(rows):
        for c, cell in enumerate(cells):
            runs.append(_run(1, 72.0 + 14 * r, cell, x=72.0 + 120 * c))
    html = _body(html_doc(_doc(runs)))
    assert html.startswith("<table><thead><tr><th>h1</th><th>h2</th>"
                           "<th>h3</th></tr></thead><tbody>")
    assert "<tr><td>a1</td><td>a2</td><td>a3</td></tr>" in html
    assert html.endswith("</tbody></table>")


def test_empty_doc_returns_empty():
    assert html_doc([]) == ""


def test_operator_skips_empty_docs(spark):
    from stirling_pdf_spark.operators.markdown import to_html

    runs = [_run(1, 40.0, "solo title line", size=16.0)]
    rows = [("doc-1", [dict(kind="text",
                            text=wire.encode_text_run(runs[0]),
                            media_ref="", offset=0)]),
            ("doc-2", [])]
    schema = ("doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")
    df = spark.createDataFrame(rows, schema)
    out = to_html(df).collect()
    assert [r["doc_id"] for r in out] == ["doc-1"]
    assert "<body>" in out[0]["html"]


def _label_then_continuation(label):
    """Five body lines, a bold label ending page 1, and page 2 opening
    with a lowercase sentence (the same doc the Markdown test pins)."""
    runs = [_run(1, 72.0 + 14 * i, f"body line {i}") for i in range(5)]
    runs.append(_run(1, 142.0, label, font="Helvetica-Bold"))
    runs.append(_run(2, 72.0, "continues here and ends."))
    return _doc(runs)


def test_bold_label_ending_in_colon_keeps_page_continuation_apart():
    # the typed path tests the label's own text: 'Note:' ends in ':',
    # so the continuation stays a separate paragraph (Markdown merges)
    html = _body(html_doc(_label_then_continuation("Note:")))
    assert html.split("\n")[1:] == ["<p><strong>Note:</strong></p>",
                                    "<p>continues here and ends.</p>"]


def test_bold_label_absorbs_page_continuation_into_strong():
    html = _body(html_doc(_label_then_continuation("Note")))
    assert html.split("\n")[1:] == [
        "<p><strong>Note continues here and ends.</strong></p>"]
