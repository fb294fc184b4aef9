"""Markdown -> HTML ingestion (/markdown/pdf path)."""

from __future__ import annotations

from stirling_pdf_spark.functions.markdown_ingest import markdown_to_html
from stirling_pdf_spark.kernel.html_extract import extract_all_blocks


def test_headings_paragraphs_lists_tables():
    md = ("# Title Here\n\npara one\nstill para\n\n- a\n- b\n\n"
          "| h1 | h2 |\n|----|----|\n| c1 | c2 |")
    blocks = extract_all_blocks(markdown_to_html(md))
    assert blocks == ["Title Here", "para one still para", "a", "b",
                      "h1", "h2", "c1", "c2"]


def test_heading_levels_render_distinct_tags():
    html = markdown_to_html("# one\n\n### three\n\n###### six")
    assert "<h1>one</h1>" in html
    assert "<h3>three</h3>" in html
    assert "<h6>six</h6>" in html


def test_inline_markup_and_escaping():
    html = markdown_to_html(
        "**bold** *em* `x < y` [go](https://e.x) & <raw>")
    assert "<strong>bold</strong>" in html
    assert "<em>em</em>" in html
    assert "<code>x &lt; y</code>" in html
    assert '<a href="https://e.x">go</a>' in html
    assert "&amp;" in html and "&lt;raw&gt;" in html


def test_escaped_pipe_cells_roundtrip_with_exporter():
    from stirling_pdf_spark.kernel.markdown import render_markdown_table

    md = render_markdown_table([["a|b", "x"], ["c", "y"]])
    blocks = extract_all_blocks(markdown_to_html(md))
    assert blocks == ["a|b", "x", "c", "y"]


def test_code_span_contents_stay_literal():
    # commonmark precedence: code spans bind first, so emphasis/link
    # markup INSIDE a code span must not be substituted
    html = markdown_to_html("`a*b*c` and `[x](y)`")
    assert "<code>a*b*c</code>" in html
    assert "<code>[x](y)</code>" in html
    assert "<em>" not in html and "<a " not in html


def test_link_urls_protected_from_emphasis():
    html = markdown_to_html("[t](http://e.com/a*b*) tail")
    assert '<a href="http://e.com/a*b*">t</a>' in html
    assert "<em>" not in html


def test_emphasis_still_applies_inside_link_text():
    html = markdown_to_html("[see *this*](http://e.com/x)")
    assert '<a href="http://e.com/x">see <em>this</em></a>' in html


def test_table_requires_separator_row():
    # a lone pipe line with no dashed separator is a paragraph
    blocks = extract_all_blocks(markdown_to_html("| not | table |"))
    assert blocks == ["| not | table |"]


def test_ordered_lists_blockquotes_fences():
    md = ("> quoted words\n> more quote\n\n1. first\n2. second\n\n"
          "```py\nx = 1 < 2\n```")
    html = markdown_to_html(md)
    assert ("<blockquote><p>quoted words\nmore quote</p></blockquote>"
            in html)
    assert "<ol><li>first</li><li>second</li></ol>" in html
    assert "<pre><code>x = 1 &lt; 2</code></pre>" in html
    blocks = extract_all_blocks(html)
    # the HTML parser decodes the &lt; entity back on extraction
    assert blocks == ["quoted words more quote", "first", "second",
                      "x = 1 < 2"]


def test_unmodeled_setext_degrades_to_paragraph():
    blocks = extract_all_blocks(markdown_to_html("Title\n====="))
    assert blocks == ["Title ====="]


def test_file_and_string_sources(spark, tmp_path):
    from stirling_pdf_spark.operators.extract_pipeline import extract_spans
    from stirling_pdf_spark.sources.files import (
        docs_from_markdown_files,
        docs_from_markdown_strings,
    )

    (tmp_path / "a.md").write_text("# Hi\n\nbody text")
    (tmp_path / "b.md").write_text("- one\n- two")
    docs = docs_from_markdown_files(spark, str(tmp_path))
    out = {r["doc_id"]: [s["text"] for s in r["spans"]
                         if s["kind"] == "text"]
           for r in extract_spans(docs).collect()}
    assert out["a.md"] == ["Hi", "body text"]
    assert out["b.md"] == ["one", "two"]

    df = spark.createDataFrame([("d1", "# T\n\np")],
                               "doc_id string, md string")
    [row] = docs_from_markdown_strings(df).collect()
    assert row["spans"][0]["kind"] == "htmlbody"
    assert "<h1>T</h1><p>p</p>" == row["spans"][0]["text"]
