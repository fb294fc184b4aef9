"""PDF -> Markdown conversion (kernel/markdown.py + the operator).

Pins every branch of the PdfMarkdownConverter body pipeline: heading
ratios against the glyph-median baseline, bold labels, bullets,
paragraph gap breaks, quote-joining, soft hyphens, markdown escaping
(inline + leading block markers), image placeholders, and the
cross-page sentence merge incl. its trailing-heading quirk.
"""

from __future__ import annotations

from stirling_pdf_spark.kernel import wire
from stirling_pdf_spark.kernel.markdown import (
    _escape_markdown,
    markdown_doc,
)
from stirling_pdf_spark.kernel.model import TextRun


def _doc(runs, media=()):
    spans = [("text", wire.encode_text_run(r), "", i)
             for i, r in enumerate(runs)]
    for m in media:
        spans.append(("media", m, "media-x", len(spans)))
    return spans


def _run(page, y, text, size=11.0, font="Helvetica", x=72.0):
    return TextRun(page, x, y, size, font, text)


def test_heading_levels_by_ratio():
    runs = [_run(1, 40.0, "huge title", size=16.0),
            _run(1, 60.0, "medium heading", size=14.0)]
    runs += [_run(1, 80.0 + 14 * i, f"body line {i}") for i in range(10)]
    md = markdown_doc(_doc(runs))
    blocks = md.split("\n\n")
    assert blocks[0] == "# huge title"        # 16/11 = 1.45 > 1.4
    assert blocks[1] == "## medium heading"   # 14/11 = 1.27 > 1.2


def test_heading_guards_words_and_sentence():
    long = " ".join(["w"] * 13)
    runs = [_run(1, 40.0, long, size=20.0),
            _run(1, 70.0, "ends like prose.", size=20.0)]
    runs += [_run(1, 100.0 + 14 * i, f"b {i}") for i in range(10)]
    md = markdown_doc(_doc(runs))
    assert "# " not in md and "## " not in md


def test_bold_label_not_promoted():
    runs = [_run(1, 40.0, "Key Point", font="Helvetica-Bold")]
    runs += [_run(1, 72.0 + 14 * i, f"body {i}") for i in range(6)]
    md = markdown_doc(_doc(runs))
    assert md.startswith("**Key Point**\n\n")


def test_bullets_stand_alone():
    runs = [_run(1, 72.0, "intro text"),
            _run(1, 86.0, "• first item"),
            _run(1, 100.0, "◦ second item")]
    md = markdown_doc(_doc(runs))
    assert md == "intro text\n\n• first item\n\n◦ second item"


def test_paragraph_gap_break_and_quote_join():
    runs = [_run(1, 72.0, "alpha"),
            _run(1, 86.0, "'beta"),          # quote start joins w/o space
            _run(1, 130.0, "gamma")]          # gap 33 > 8.8 -> break
    md = markdown_doc(_doc(runs))
    assert md == "alpha'beta\n\ngamma"


def test_escape_markdown_rules():
    assert _escape_markdown("a*b_c[d]e") == r"a\*b\_c\[d\]e"
    assert _escape_markdown("#head") == r"\#head"
    assert _escape_markdown("- item") == r"\- item"
    assert _escape_markdown("12. list") == r"12\. list"
    assert _escape_markdown("3) x") == r"3\) x"
    assert _escape_markdown("plain") == "plain"
    assert _escape_markdown("a|b~c") == r"a\|b\~c"


def test_image_placeholders_after_text():
    runs = [_run(1, 72.0, "text")]
    md = markdown_doc(_doc(runs, media=["1|100.0|300.0|200.0|120.0"]))
    assert md == "text\n\n<image redacted: 200x120pt>"


def test_cross_page_merge_lowercase_continuation():
    runs = [_run(1, 72.0, "page one ends mid"),
            _run(2, 72.0, "sentence continues"),
            _run(3, 72.0, "Capital start")]
    md = markdown_doc(_doc(runs))
    assert md == "page one ends mid sentence continues\n\nCapital start"


def test_cross_page_no_merge_after_punctuation():
    runs = [_run(1, 72.0, "done here."),
            _run(2, 72.0, "next page")]
    md = markdown_doc(_doc(runs))
    assert md == "done here.\n\nnext page"


def test_trailing_heading_absorbs_continuation_like_reference():
    # the reference merges into ANY trailing string block, headings
    # included (PdfMarkdownConverter.java:907-923) — kept faithfully
    runs = [_run(1, 40.0, "final heading", size=16.0)]
    runs += [_run(1, 72.0 + 14 * i, f"b{i} c d") for i in range(12)]
    runs += [_run(1, 400.0, "lone big line", size=16.0),
             _run(2, 72.0, "continues lowercase")]
    md = markdown_doc(_doc(runs))
    assert "# lone big line continues lowercase" in md


def test_soft_hyphen_repair():
    runs = [_run(1, 72.0, "hyphen-\nated word")]
    md = markdown_doc(_doc(runs))
    assert md == "hyphenated word"


def test_operator_over_spark(spark):
    from stirling_pdf_spark.corpus.spark_synth import synth_docs_df
    from stirling_pdf_spark.operators.markdown import to_markdown

    docs = synth_docs_df(spark, 24, seed=3, mega_pages=(4, 6),
                         num_partitions=4)
    out = to_markdown(docs)
    rows = out.collect()
    assert 0 < len(rows) <= 24
    assert all(r["markdown"] for r in rows)


def test_trailing_image_placeholder_absorbs_continuation_like_reference():
    # reference image placeholders are plain strings in the output
    # list, so mergeAcrossPageBoundary glues a lowercase continuation
    # onto them exactly like onto any text block — faithful quirk
    runs = [_run(1, 72.0, "intro text"),
            _run(2, 72.0, "continues lower")]
    md = markdown_doc(_doc(runs, media=["1|100.0|300.0|200.0|120.0"]))
    assert md == ("intro text\n\n"
                  "<image redacted: 200x120pt> continues lower")


def test_glyph_median_tie_demotes_heading_to_bold_label():
    # equal title/body glyph counts -> median (11+16)/2 = 13.5,
    # ratio 16/13.5 < 1.2 -> bold label, not heading
    from stirling_pdf_spark.corpus.synth import rich_from_text

    t = "alpha beta gamma delta eps zeta"
    _, spans = rich_from_text("d", t)
    assert markdown_doc(spans) == f"**{t}**\n\n{t}"


def test_table_page_renders_as_pipe_table():
    from stirling_pdf_spark.corpus.synth import stream_table_from_text

    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    _, spans = stream_table_from_text("d", t)
    md = markdown_doc(spans)
    lines = md.split("\n")
    assert lines[0] == "| alpha | beta    | gamma |"
    assert lines[1] == "|-------|---------|-------|"
    assert len(lines) == 5
    # every row has aligned pipes
    assert len({len(ln) for ln in lines}) == 1


def test_table_cells_escape_pipes_and_min_width():
    from stirling_pdf_spark.kernel.markdown import render_markdown_table

    md = render_markdown_table([["a|b", "x"], ["c", "y"]])
    assert md.split("\n")[0] == "| a\\|b | x   |"
    # min width 3 on the short column
    assert md.split("\n")[1] == "|------|-----|"


def test_single_row_grid_degrades_to_plain_lines():
    from stirling_pdf_spark.kernel.markdown import render_markdown_table

    assert render_markdown_table([["only", "row"]]) == "only\nrow"


def test_tables_stitch_across_pages_and_drop_repeated_header():
    sp = []
    for page, rows in ((1, [["h1", "h2"], ["x", "y"]]),
                       (2, [["h1", "h2"], ["a", "b"]])):
        for r, row in enumerate(rows):
            for c, cell in enumerate(row):
                sp.append(("text", wire.encode_text_run(
                    TextRun(page, 72.0 + 250 * c, 100.0 + 20 * r, 11.0,
                            "Helvetica", cell)), "", len(sp)))
    md = markdown_doc(sp)
    assert md.count("h1") == 1            # repeated header dropped
    assert "| x   | y   |" in md and "| a   | b   |" in md
    assert "\n\n" not in md               # ONE stitched table block


def test_no_merge_of_continuation_into_table():
    sp = []
    for r, row in enumerate([["h1", "h2"], ["x", "y"]]):
        for c, cell in enumerate(row):
            sp.append(("text", wire.encode_text_run(
                TextRun(1, 72.0 + 250 * c, 100.0 + 20 * r, 11.0,
                        "Helvetica", cell)), "", len(sp)))
    sp.append(("text", wire.encode_text_run(
        TextRun(2, 72.0, 72.0, 11.0, "Helvetica", "lowercase text")),
        "", len(sp)))
    md = markdown_doc(sp)
    blocks = md.split("\n\n")
    assert len(blocks) == 2
    assert blocks[1] == "lowercase text"


def test_two_column_page_linearizes_in_column_order():
    """Markdown x column layout: the scrambled-emission two-column
    corpus restores the ORIGINAL word sequence (left column top-down,
    then right), pages merge, and the two-column guard keeps the
    stream-table detector OFF two-column prose (the reference skips
    findTableBlocks on twoColumn pages)."""
    from stirling_pdf_spark.corpus.spark_synth import twocol_from_text

    words = [f"wrd{i % 10}x" for i in range(150)]  # every line votes
    text = " ".join(words)
    _, spans = twocol_from_text("d", text)
    md = markdown_doc(spans)
    assert md == text
    assert "|" not in md


def test_table_detection_still_fires_on_non_voting_columns():
    # stream-table cells are short (< 100pt) so they never vote two-column;
    # the guard must not suppress genuine table pages
    from stirling_pdf_spark.corpus.synth import stream_table_from_text

    _, spans = stream_table_from_text("d", "aa bb cc dd ee ff")
    assert markdown_doc(spans).startswith("| aa ")


def _label_then_continuation(label):
    """Five body lines, a bold label ending page 1, and page 2 opening
    with a lowercase sentence (the same doc the HTML test pins)."""
    runs = [_run(1, 72.0 + 14 * i, f"body line {i}") for i in range(5)]
    runs.append(_run(1, 142.0, label, font="Helvetica-Bold"))
    runs.append(_run(2, 72.0, "continues here and ends."))
    return _doc(runs)


def test_bold_label_absorbs_page_continuation_even_after_colon():
    # the continuation test reads the RENDERED block, and '**Note:**'
    # ends in '*', not ':' -> the lowercase page start merges into it
    md = markdown_doc(_label_then_continuation("Note:"))
    assert md.split("\n\n")[1:] == ["**Note:** continues here and ends."]


def test_bold_label_without_colon_absorbs_page_continuation():
    md = markdown_doc(_label_then_continuation("Note"))
    assert md.split("\n\n")[1:] == ["**Note** continues here and ends."]
