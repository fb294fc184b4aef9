"""Annotation + AcroForm-formfield spans through the kernel, the page
operators, and the merge comparator set (reference:
PdfJsonConversionService.java:2553-2610 annotations,
AnalysisController.java /form-fields, MergeController.java:115-162)."""

from __future__ import annotations

from stirling_pdf_spark.kernel import extract_doc
from stirling_pdf_spark.kernel.model import TextRun
from stirling_pdf_spark.kernel import wire

SCHEMA = ("doc_id string, spans array<struct<kind:string,text:string,"
          "media_ref:string,offset:int>>")


def _doc(doc_id, spans):
    return (doc_id, [dict(zip(("kind", "text", "media_ref", "offset"), s))
                     for s in spans])


def _text(page, y, content):
    return ("text", wire.encode_text_run(
        TextRun(page, 72.0, y, 11.0, "Helvetica", content)), "", 0)


def _ann(page, subtype, contents="", author="", subject=""):
    return ("annotation",
            f"{page}|100.0|500.0|80.0|40.0\t{subtype}|{contents}|{author}|"
            f"{subject}", "", 0)


def _offsets(spans):
    return [(k, t, m, i) for i, (k, t, m, _o) in enumerate(spans)]


def test_kernel_annotation_formfield_order():
    """Output contract: meta, formfields, then per page content followed
    by that page's annotations; annotations re-keyed to
    '{page}|{subtype}|{contents}|{author}|{subject}'."""
    raw = _offsets([
        _text(1, 72.0, "page one line"),
        _ann(2, "Highlight"),
        _text(2, 72.0, "page two line"),
        _ann(1, "Text", "a note", "bob", "subj"),
        ("formfield", "field0|text|hello", "", 0),
        ("meta", "title|t", "", 0),
    ])
    out = [(s.kind, s.text) for s in extract_doc(raw)]
    assert out == [
        ("meta", "title|t"),
        ("formfield", "field0|text|hello"),
        ("text", "page one line"),
        ("annotation", "1|Text|a note|bob|subj"),
        ("text", "page two line"),
        ("annotation", "2|Highlight|||"),
    ]
    # order field is the list index
    assert [s.order for s in extract_doc(raw)] == list(range(6))


def test_kernel_annotation_only_page_enumerates():
    raw = _offsets([_text(1, 72.0, "x"), _ann(3, "Square", "late")])
    out = [(s.kind, s.text) for s in extract_doc(raw)]
    assert out == [("text", "x"), ("annotation", "3|Square|late||")]


def test_info_corpus_page_blocks():
    """info_from_text layers the GetInfoOnPDF Links/XObjects/Multimedia
    blocks (java :921-1037) deterministically: even pages carry 2 Link
    annotations sharing one URI, p%3==0 pages carry 1+(p%2) distinct
    image refs with the first drawn twice, p%4==3 a form XObject."""
    import hashlib

    from stirling_pdf_spark.corpus.synth import info_from_text

    text = " ".join(f"w{i}" for i in range(8 * 40 * 6))  # exactly 6 pages
    _did, spans = info_from_text("d", text)
    h = hashlib.sha256(text.encode()).hexdigest()

    links = [s for s in spans if s[0] == "annotation" and "\tLink|" in s[1]]
    by_page: dict[int, list[str]] = {}
    for s in links:
        p = int(s[1].split("|", 1)[0])
        by_page.setdefault(p, []).append(s[1].rsplit("|", 1)[-1])
    assert sorted(by_page) == [2, 4, 6]
    assert len(by_page[2]) == 2 and len(set(by_page[2])) == 1  # shared URI
    assert len(by_page[4]) == 3 and len(set(by_page[4])) == 2  # +distinct

    media = [(int(s[1].split("|", 1)[0]), s[2]) for s in spans
             if s[0] == "media"]
    img3 = [r for p, r in media if p == 3 and r.startswith("media-")]
    assert len(img3) == 3 and len(set(img3)) == 2   # 1+3%2 refs, 1st ×2
    img6 = [r for p, r in media if p == 6 and r.startswith("media-")]
    assert len(img6) == 2 and len(set(img6)) == 1   # 1+6%2 = 1 ref, ×2
    assert [p for p, r in media if r.startswith("form-")] == [3]

    rich = [s[1] for s in spans if s[0] == "annotation"
            and "\tRichMedia|" in s[1]]
    expect_p1 = int(h[1], 16) % 2 == 0
    assert len(rich) == (1 if expect_p1 else 0)  # no page ≡ 0 (mod 7) ≤ 6


def test_annotations_ride_page_operators(spark):
    """split_at_pages routes annotations by page; rotate/scale treat
    the rect like a media bbox (geometry changes, body survives)."""
    from pyspark.sql import functions as F

    from stirling_pdf_spark.operators.pageops import (
        rotate_pages_90, scale_pages, split_at_pages,
    )

    raw = _offsets([
        _text(1, 72.0, "p1"), _text(2, 72.0, "p2"),
        _ann(1, "Text", "first"), _ann(2, "Link", "second"),
    ])
    df = spark.createDataFrame([_doc("d", raw)], SCHEMA)
    parts = {r["doc_id"]: [s["text"] for s in r["spans"]
                           if s["kind"] == "annotation"]
             for r in split_at_pages(df, [1]).collect()}
    assert [t.split("\t")[1] for t in parts["d#p0"]] == ["Text|first||"]
    assert [t.split("\t")[1] for t in parts["d#p1"]] == ["Link|second||"]

    rot = rotate_pages_90(df).select(
        F.explode("spans").alias("s")
    ).filter(F.col("s.kind") == "annotation").collect()
    heads = {r["s"]["text"].split("\t")[0] for r in rot}
    # media-style bbox map: (x,y,w,h)=(100,500,80,40), H=792 ->
    # (792-500-40, 100, 40, 80)
    assert "1|252.0|100.0|40.0|80.0" in heads
    bodies = {r["s"]["text"].split("\t")[1] for r in rot}
    assert bodies == {"Text|first||", "Link|second||"}

    sc = scale_pages(df, 2.0).select(
        F.explode("spans").alias("s")
    ).filter(F.col("s.kind") == "annotation").collect()
    assert {r["s"]["text"].split("\t")[0] for r in sc} == {
        "1|200.0|1000.0|160.0|80.0", "2|200.0|1000.0|160.0|80.0"}


def test_merge_comparators(spark):
    """MergeController.java:115-162: date comparators sort newest
    first off the Info-dict meta spans; byPDFTitle is case-insensitive
    with null titles last; orderProvided follows the given list."""
    from stirling_pdf_spark.operators.pageops import merge_order

    def doc(doc_id, title, modified):
        spans = [_text(1, 72.0, "body"), _text(2, 72.0, "body2")]
        if title is not None:
            spans.append(("meta", f"title|{title}", "", 0))
        if modified is not None:
            spans.append(("meta", f"modified|{modified}", "", 0))
        return _doc(doc_id, _offsets(spans))

    df = spark.createDataFrame(
        [doc("doc-1", "Zebra", 100), doc("doc-2", "apple", 300),
         doc("doc-3", None, 200)],
        SCHEMA,
    )

    def order(comparator, provided=None):
        rows = merge_order(df, comparator, provided).collect()
        by_pos = sorted(rows, key=lambda r: r["doc_pos"])
        return [r["doc_id"] for r in by_pos], \
               [r["page_shift"] for r in by_pos]

    ids, shifts = order("byDateModified")
    assert ids == ["doc-2", "doc-3", "doc-1"]   # newest first
    assert shifts == [0, 2, 4]                  # 2 pages per doc
    assert order("byPDFTitle")[0] == ["doc-2", "doc-1", "doc-3"]
    assert order("byFileName")[0] == ["doc-1", "doc-2", "doc-3"]
    assert order("orderProvided", ["doc-3", "doc-1"])[0] \
        == ["doc-3", "doc-1", "doc-2"]  # unlisted docs follow


def test_merge_comparator_reference_edge_cases(spark):
    """MergeController divergence fixes: byDateCreated delegates to
    getPdfDateTimeSafe (:218-231), which PREFERS the modification date;
    byFileName is plain case-insensitive lexicographic (:118-123), so
    'doc-10' sorts before 'doc-2'."""
    from stirling_pdf_spark.operators.pageops import merge_order

    def doc(doc_id, created=None, modified=None):
        spans = [_text(1, 72.0, "body")]
        if created is not None:
            spans.append(("meta", f"created|{created}", "", 0))
        if modified is not None:
            spans.append(("meta", f"modified|{modified}", "", 0))
        return _doc(doc_id, _offsets(spans))

    # a: created=900 but modified=100 (modified WINS: effective 100)
    # b: created=500 only (fallback: effective 500) -> b is newer
    df = spark.createDataFrame(
        [doc("doc-1", created=900, modified=100),
         doc("doc-2", created=500)], SCHEMA)
    rows = sorted(merge_order(df, "byDateCreated").collect(),
                  key=lambda r: r["doc_pos"])
    assert [r["doc_id"] for r in rows] == ["doc-2", "doc-1"]

    df2 = spark.createDataFrame(
        [doc("doc-2"), doc("doc-10"), doc("DOC-3")], SCHEMA)
    rows2 = sorted(merge_order(df2, "byFileName").collect(),
                   key=lambda r: r["doc_pos"])
    assert [r["doc_id"] for r in rows2] == ["doc-10", "doc-2", "DOC-3"]


def test_merge_docs_by_title_page_shift(spark):
    """merge_docs consumes the comparator order: page numbers shift by
    the running page count in title order."""
    from pyspark.sql import functions as F

    from stirling_pdf_spark.operators.pageops import merge_docs

    def doc(doc_id, title, n_pages):
        spans = [_text(p, 72.0, f"{doc_id}:{p}")
                 for p in range(1, n_pages + 1)]
        spans.append(("meta", f"title|{title}", "", 0))
        return _doc(doc_id, _offsets(spans))

    df = spark.createDataFrame(
        [doc("doc-1", "bbb", 2), doc("doc-2", "AAA", 3)], SCHEMA)
    merged = merge_docs(df, comparator="byPDFTitle").collect()[0]
    texts = [(s["text"].split("|")[0], s["text"].split("\t")[1])
             for s in merged["spans"] if s["kind"] == "text"]
    assert texts == [
        ("1", "doc-2:1"), ("2", "doc-2:2"), ("3", "doc-2:3"),
        ("4", "doc-1:1"), ("5", "doc-1:2"),
    ]
