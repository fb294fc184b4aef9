"""E18 title inference + S4 chapter split direct-form semantics."""

from __future__ import annotations

import pyspark.sql.functions as F

from stirling_pdf_spark.kernel import wire
from stirling_pdf_spark.kernel.model import TextRun

SCHEMA = ("doc_id string, spans array<struct<kind:string,text:string,"
          "media_ref:string,offset:int>>")


def _doc(doc_id, spans):
    return (doc_id, [dict(zip(("kind", "text", "media_ref", "offset"), s))
                     for s in spans])


def _text(page, y, fs, content, x=72.0, font="F"):
    return ("text", wire.encode_text_run(TextRun(page, x, y, fs, font,
                                                 content)), "", 0)


def test_infer_titles_merges_adjacent_same_size(spark):
    from stirling_pdf_spark.operators.autoname import infer_titles
    from stirling_pdf_spark.operators.elements import extract_elements

    # two adjacent 18pt lines merge into one candidate; the later lone
    # 18pt line after a 10pt line is a SEPARATE candidate (adjacency
    # broken) and loses the stable tie to the first
    spans = [
        _text(1, 40.0, 18.0, "Big Title"),
        _text(1, 60.0, 18.0, "Continued"),
        _text(1, 80.0, 10.0, "body text here"),
        _text(1, 100.0, 18.0, "Later Heading"),
    ]
    spans = [(k, t, m, i) for i, (k, t, m, _o) in enumerate(spans)]
    df = spark.createDataFrame([_doc("d", spans)], SCHEMA)
    row = infer_titles(extract_elements(df)).collect()[0]
    assert row["title"] == "Big Title Continued"
    assert row["title_fs_x100"] == 1800
    assert row["usable"] == 1


def test_infer_titles_overlong_not_usable(spark):
    from stirling_pdf_spark.operators.autoname import infer_titles
    from stirling_pdf_spark.operators.elements import extract_elements

    spans = [_text(1, 40.0, 20.0, "x" * 300)]
    spans = [(k, t, m, 0) for (k, t, m, _o) in spans]
    df = spark.createDataFrame([_doc("d", spans)], SCHEMA)
    row = infer_titles(extract_elements(df)).collect()[0]
    assert row["usable"] == 0  # AutoRenameController.java:146 (< 255)


def test_split_by_chapters_levels_and_ranges(spark):
    from stirling_pdf_spark.operators.pageops import split_by_chapters

    spans = [
        _text(1, 72.0, 11.0, "p1"), _text(3, 72.0, 11.0, "p3"),
        _text(5, 72.0, 11.0, "p5"), _text(9, 72.0, 11.0, "p9"),
        ("bookmark", "0|1|intro", "", 0),
        ("bookmark", "1|3|sub", "", 0),
        ("bookmark", "0|5|main", "", 0),
        ("bookmark", "0|old-style-no-page", "", 0),  # legacy 2-field: skip
    ]
    spans = [(k, t, m, i) for i, (k, t, m, _o) in enumerate(spans)]
    df = spark.createDataFrame([_doc("d", spans)], SCHEMA)

    lvl0 = {r["chapter_no"]: r for r in
            split_by_chapters(df, max_level=0).collect()}
    assert len(lvl0) == 2
    assert (lvl0[1]["title"], lvl0[1]["start_page"], lvl0[1]["end_page"]) \
        == ("intro", 1, 4)
    # last chapter runs to the doc's last page (9)
    assert (lvl0[2]["title"], lvl0[2]["start_page"], lvl0[2]["end_page"]) \
        == ("main", 5, 9)

    lvl1 = {r["chapter_no"]: r for r in
            split_by_chapters(df, max_level=1).collect()}
    assert [lvl1[k]["title"] for k in sorted(lvl1)] == ["intro", "sub", "main"]
    assert (lvl1[1]["end_page"], lvl1[2]["end_page"], lvl1[3]["end_page"]) \
        == (2, 4, 9)


def test_split_by_chapters_same_page_ties(spark):
    """Two chapter starts on one page collapse to one chapter (least
    title) and never produce an inverted range; adjacent-page starts
    clamp to end_page >= start_page."""
    from stirling_pdf_spark.operators.pageops import split_by_chapters

    spans = [
        _text(1, 72.0, 11.0, "p1"), _text(4, 72.0, 11.0, "p4"),
        ("bookmark", "0|1|zeta", "", 0),
        ("bookmark", "0|1|alpha", "", 0),   # same-page duplicate start
        ("bookmark", "0|2|beta", "", 0),    # next page: 1-page chapter
        ("bookmark", "0|2|beta", "", 0),    # exact duplicate
    ]
    spans = [(k, t, m, i) for i, (k, t, m, _o) in enumerate(spans)]
    df = spark.createDataFrame([_doc("d", spans)], SCHEMA)
    ch = {r["chapter_no"]: r for r in
          split_by_chapters(df, max_level=0).collect()}
    assert len(ch) == 2
    assert (ch[1]["title"], ch[1]["start_page"], ch[1]["end_page"]) \
        == ("alpha", 1, 1)
    assert (ch[2]["title"], ch[2]["start_page"], ch[2]["end_page"]) \
        == ("beta", 2, 4)


def test_chapter_ranges_materialize_via_split(spark):
    """Chapter ranges compose with split_at_pages to produce the actual
    chapter documents (the reference's zip-of-PDFs output)."""
    from stirling_pdf_spark.operators.pageops import (
        split_at_pages, split_by_chapters,
    )

    spans = [_text(p, 72.0, 11.0, f"p{p}") for p in range(1, 7)]
    spans += [("bookmark", "0|1|a", "", 0), ("bookmark", "0|4|b", "", 0)]
    spans = [(k, t, m, i) for i, (k, t, m, _o) in enumerate(spans)]
    df = spark.createDataFrame([_doc("d", spans)], SCHEMA)
    ch = split_by_chapters(df, max_level=0).collect()
    cuts = sorted(r["end_page"] for r in ch)[:-1]  # cut after each chapter
    parts = split_at_pages(df, cuts)
    sizes = {r["doc_id"]: len([s for s in r["spans"] if s["kind"] == "text"])
             for r in parts.collect()}
    assert sizes == {"d#p0": 3, "d#p1": 3}
