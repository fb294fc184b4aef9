"""E13 positional search and S12 redaction over handcrafted elements."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from stirling_pdf_spark.operators.elements import ELEMENTS_SCHEMA
from stirling_pdf_spark.operators.extract_pipeline import SPANS_OUT_SCHEMA
from stirling_pdf_spark.operators.search import (
    match_offsets,
    redact_spans,
    text_search_elements,
)


@pytest.fixture(scope="module")
def elements(spark):
    # width model: char width = width / len(text); here 10 pt/char
    rows = [
        ("d1", 1, "text", "data and data again", None, "F", 11.0,
         100.0, 50.0, 190.0, 1_000_000, 0),
        ("d1", 2, "text", "no match here", None, "F", 11.0,
         100.0, 50.0, 130.0, 1_000_000, 0),
        ("d2", 1, "text", "database", None, "F", 11.0,
         0.0, 0.0, 80.0, 1_000_000, 0),
    ]
    return spark.createDataFrame(rows, ELEMENTS_SCHEMA)


def test_search_first_match_bbox(elements):
    out = {r["doc_id"]: r for r in
           text_search_elements(elements, "data").collect()}
    r = out["d1"]
    assert r["n_matches"] == 2
    assert r["x1"] == 100.0 and r["x2"] == 140.0   # chars 0..4 at 10pt
    assert r["y1"] == 50.0 and r["y2"] == 61.0
    assert out["d2"]["n_matches"] == 1             # substring of 'database'


def test_search_whole_word(elements):
    out = {r["doc_id"]: r for r in
           text_search_elements(elements, "data", whole_word=True).collect()}
    assert out["d1"]["n_matches"] == 2
    assert "d2" not in out                          # \bdata\b skips 'database'


def test_whole_word_one_char_lookarounds():
    """TextFinder.java:79-88: 1-char whole-word terms use lookarounds,
    not \\b — a digit term must not match inside decimals/thousands
    groupings, and any 1-char term must not touch word chars."""
    import re

    from stirling_pdf_spark.kernel.textfind import build_pattern

    pat5 = build_pattern("5", whole_word=True)
    assert re.findall(pat5, "3.5") == []          # \b would match here
    assert re.findall(pat5, "7,5 5,7") == []      # grouping digits
    assert re.findall(pat5, "x5 w5") == []        # word-char neighbors
    assert len(re.findall(pat5, " 5 (5) .5 5.")) == 4
    # non-digit 1-char: plain word-char lookarounds
    pate = build_pattern("e", whole_word=True)
    assert re.findall(pate, "be e.g") == ["e"]
    # multi-char terms keep \b
    assert build_pattern("data", whole_word=True) == r"\b(?:data)\b"
    # the reference trims the term before quoting (TextFinder.java:73)
    assert build_pattern(" data ", whole_word=True) == r"\b(?:data)\b"


def test_search_elements_one_char_digit(spark):
    """Column path (text_search_elements) honors the digit lookarounds
    — Spark's Java regex supports them; the count and first-offset must
    skip '3.5' and land on '.5'."""
    rows = [("d1", 1, "text", "w3 3.5 x5 7,5 5,7 .5 5. (5) 5", None, "F",
             11.0, 72.0, 72.0, 29 * 5.5, 1_000_000, 0)]
    els = spark.createDataFrame(rows, ELEMENTS_SCHEMA)
    [r] = text_search_elements(els, "5", whole_word=True).collect()
    assert r["n_matches"] == 4
    assert r["x1"] == 72.0 + 19 * 5.5 and r["x2"] == 72.0 + 20 * 5.5


def test_match_offsets_all_occurrences(elements):
    rows = match_offsets(elements, "data").filter(
        F.col("doc_id") == "d1").orderBy("match_no").collect()
    assert [(r["off"], r["match_len"]) for r in rows] == [(0, 4), (9, 4)]
    assert rows[1]["x1"] == 100.0 + 9 * 10.0


def test_redact_spans_masks_text_only(spark):
    rows = [("d1", [
        {"kind": "text", "text": "keep data safe", "media_ref": "", "order": 0},
        {"kind": "media", "text": "data", "media_ref": "m-1", "order": 1},
        {"kind": "attachment", "text": "data.bin", "media_ref": "m-2", "order": 2},
    ])]
    df = spark.createDataFrame(rows, SPANS_OUT_SCHEMA)
    out = redact_spans(df, "data").collect()[0]["spans"]
    assert out[0]["text"] == "keep ████ safe"
    assert out[1]["text"] == "data"          # media wire untouched
    assert out[2]["text"] == "data.bin"      # attachment name untouched
    assert [s["order"] for s in out] == [0, 1, 2]


def test_auto_redact_term_list_and_flags(spark):
    from stirling_pdf_spark.operators.search import auto_redact

    rows = [("d1", [
        {"kind": "text", "text": "report reports data id 1234 x 56",
         "media_ref": "", "order": 0},
        {"kind": "media", "text": "1|0|0|9|9", "media_ref": "m-1",
         "order": 1},
    ])]
    df = spark.createDataFrame(rows, SPANS_OUT_SCHEMA)
    # whole-word: 'report' masks, 'reports' survives
    [row] = auto_redact(df, "report", whole_word_search=True).collect()
    assert row["spans"][0]["text"] == "██████ reports data id 1234 x 56"
    # regex list: variable-length digit runs mask per-match length,
    # blank/whitespace list entries are dropped
    [row] = auto_redact(df, "data\n  \n[0-9]+\n",
                        use_regex=True).collect()
    assert row["spans"][0]["text"] == \
        "report reports ████ id ████ x ██"
    assert row["spans"][1]["text"] == "1|0|0|9|9"  # media untouched


def test_auto_redact_no_match_is_identity(spark):
    from stirling_pdf_spark.operators.search import auto_redact

    rows = [("d1", [{"kind": "text", "text": "plain line",
                     "media_ref": "", "order": 0}])]
    df = spark.createDataFrame(rows, SPANS_OUT_SCHEMA)
    [row] = auto_redact(df, "absent").collect()
    assert row["spans"][0]["text"] == "plain line"


def test_auto_redact_empty_list_rejected(spark):
    from stirling_pdf_spark.operators.search import auto_redact

    rows = [("d1", [{"kind": "text", "text": "x", "media_ref": "",
                     "order": 0}])]
    df = spark.createDataFrame(rows, SPANS_OUT_SCHEMA)
    with pytest.raises(ValueError):
        auto_redact(df, "\n  \n")


def test_textfind_glyph_union_and_fallback():
    """TextFinder.java:115-158 semantics: bbox = glyph union; a match
    landing entirely on an inserted separator uses the FIRST nearby
    glyph (±5) alone."""
    from stirling_pdf_spark.kernel.model import TextRun
    from stirling_pdf_spark.kernel.textfind import assemble_page, find_matches

    # one line, two runs, gap 10 > 0.5*avg_char_width (5.5) -> a word
    # space is INSERTED between them (separator null position)
    a = TextRun(1, 72.0, 100.0, 11.0, "F", "alpha")
    b = TextRun(1, 72.0 + 5 * 5.5 + 10.0, 100.0, 11.0, "F", "beta")
    text, boxes = assemble_page([a, b])
    assert text == "alpha beta"
    assert boxes[5] is None  # the inserted space carries no glyph

    # cross-separator match: union of real glyphs on both sides
    [m] = find_matches([a, b], "a b")
    assert m.text == "a b"
    assert m.x1 == 72.0 + 4 * 5.5            # 'a' of alpha (index 4)
    assert m.x2 == b.x + 5.5                 # 'b' of beta
    assert (m.y1, m.y2) == (100.0, 111.0)

    # separator-only match (via regex mode — a literal whitespace term
    # is trimmed to empty and skipped, TextFinder.java:73-77): the ±5
    # fallback picks ONE nearby glyph
    [sp] = find_matches([a, b], "[ ]", regex=True)
    assert sp.text == " "
    assert sp.x2 - sp.x1 == 5.5              # exactly one glyph's box

    # multi-line: newline separator, fallback still resolves
    c = TextRun(2, 72.0, 100.0, 11.0, "F", "x")
    d = TextRun(2, 72.0, 130.0, 11.0, "F", "y")
    [nl] = find_matches([c, d], r"\n", regex=True)
    assert nl.x2 - nl.x1 == 5.5

    # all-whitespace literal term: reference returns early after trim
    assert find_matches([a, b], " ") == []


def test_text_search_pages_operator(spark):
    from stirling_pdf_spark.kernel import wire
    from stirling_pdf_spark.kernel.model import TextRun
    from stirling_pdf_spark.operators.search import text_search_pages

    spans = []
    for p in (1, 2):
        run = TextRun(p, 72.0, 72.0, 11.0, "F", f"needle here needle p{p}")
        spans.append(("text", wire.encode_text_run(run), "", len(spans)))
    df = spark.createDataFrame(
        [("d", [dict(zip(("kind", "text", "media_ref", "offset"), s))
                for s in spans])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    rows = text_search_pages(df, "needle").collect()
    assert len(rows) == 4  # 2 per page
    by_page = {}
    for r in rows:
        by_page.setdefault(r["page"], []).append(r)
    for p, ms in by_page.items():
        assert [m["match_no"] for m in sorted(ms, key=lambda r: r["match_no"])] \
            == [0, 1]
        for m in ms:
            assert m["x2"] > m["x1"] and m["y2"] == m["y1"] + 11.0
