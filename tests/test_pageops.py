"""Page-structure operators (S2 split, S7 rotate, E10 predicates)
over the interleaved docs table."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from stirling_pdf_spark.corpus.spark_synth import synth_docs_df
from stirling_pdf_spark.kernel import wire
from stirling_pdf_spark.operators.extract_pipeline import extract_spans
from stirling_pdf_spark.operators.pageops import (
    has_media,
    has_text,
    rotate_pages_90,
    split_at_pages,
)


@pytest.fixture(scope="module")
def docs(spark):
    return synth_docs_df(spark, 24, seed=42, mega_pages=(6, 9),
                         num_partitions=4)


def test_split_preserves_spans_and_rebases_offsets(spark, docs):
    parts = split_at_pages(docs, [2])
    total_before = docs.agg(F.sum(F.size("spans"))).collect()[0][0]
    total_after = parts.agg(F.sum(F.size("spans"))).collect()[0][0]
    assert total_before == total_after
    # offsets dense 0..n-1 per part
    bad = parts.filter(
        F.expr("exists(spans, s -> s.offset != array_position("
               "transform(spans, x -> x.offset), s.offset) - 1)")
    ).count()
    assert bad == 0
    # every part id has the #pN suffix and parts re-extract cleanly
    assert parts.filter(~F.col("doc_id").contains("#p")).count() == 0
    out = extract_spans(parts)
    assert out.count() == parts.count()


def test_split_page_routing(spark):
    # handcrafted doc: pages 1..4, one line each; attachment sticks to
    # the last part
    spans = []
    for p in range(1, 5):
        run = wire.encode_text_run(
            __import__("stirling_pdf_spark.kernel.model",
                       fromlist=["TextRun"]).TextRun(p, 72.0, 72.0, 11.0,
                                                     "Helvetica", f"page {p}")
        )
        spans.append(("text", run, "", len(spans)))
    spans.append(("attachment", "a.bin", "media-deadbeef", len(spans)))
    df = spark.createDataFrame(
        [("doc-x", [dict(zip(("kind", "text", "media_ref", "offset"), s))
                    for s in spans])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    parts = {r["doc_id"]: r for r in split_at_pages(df, [2]).collect()}
    assert set(parts) == {"doc-x#p0", "doc-x#p1"}
    assert len(parts["doc-x#p0"]["spans"]) == 2          # pages 1-2
    assert len(parts["doc-x#p1"]["spans"]) == 3          # pages 3-4 + attach
    kinds = [s["kind"] for s in parts["doc-x#p1"]["spans"]]
    assert kinds[-1] == "attachment"


def test_rotate_90_transforms_geometry(spark, docs):
    rotated = rotate_pages_90(docs, page_height=792.0)
    row = docs.orderBy("doc_id").select(F.explode("spans").alias("s")) \
        .filter(F.col("s.kind") == "text").first()
    rrow = rotated.orderBy("doc_id") \
        .select(F.explode("spans").alias("s")) \
        .filter(F.col("s.kind") == "text").first()
    orig = wire.parse_text_run(row["s"]["text"])
    rot = wire.parse_text_run(rrow["s"]["text"])
    assert rot.x == 792.0 - orig.y  # rotation is about the page HEIGHT
    assert rot.y == orig.x
    assert rot.font_size == orig.font_size and rot.page == orig.page
    # structure preserved
    assert rotated.agg(F.sum(F.size("spans"))).collect()[0][0] == \
        docs.agg(F.sum(F.size("spans"))).collect()[0][0]
    # no negative coordinates anywhere (the page-width bug produced them
    # for y > 612 on 792pt Letter pages)
    geo = rotated.select(F.explode("spans").alias("s")).filter(
        F.col("s.kind").isin("text", "media", "rule"))
    neg = geo.filter(
        (F.split_part(F.substring_index("s.text", "\t", 1), F.lit("|"),
                      F.lit(2)).cast("double") < 0)
        | (F.split_part(F.substring_index("s.text", "\t", 1), F.lit("|"),
                        F.lit(3)).cast("double") < 0)
    ).count()
    assert neg == 0


def test_rotate_media_and_rule_extents(spark):
    from stirling_pdf_spark.kernel.model import MediaDraw
    from stirling_pdf_spark.kernel.tables import Rule, encode_rule

    spans = [
        ("media", wire.encode_media(MediaDraw(1, 100.0, 650.0, 200.0, 120.0,
                                              "m-1")), "m-1", 0),
        # horizontal rule y=700 from x=300..600
        ("rule", encode_rule(Rule(1, 300.0, 700.0, 600.0, 700.0)), "", 1),
    ]
    df = spark.createDataFrame(
        [("d", [dict(zip(("kind", "text", "media_ref", "offset"), s))
                for s in spans])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = rotate_pages_90(df, page_height=792.0).collect()[0]["spans"]
    m = wire.parse_media(out[0]["text"], out[0]["media_ref"])
    # bbox (100,650,w=200,h=120) -> top-left (792-650-120, 100), dims swap
    assert (m.x, m.y, m.w, m.h) == (22.0, 100.0, 120.0, 200.0)
    from stirling_pdf_spark.kernel.tables import parse_rule
    r = parse_rule(out[1]["text"])
    # horizontal rule becomes vertical at x = 792-700 = 92, y 300..600
    assert (r.x1, r.y1, r.x2, r.y2) == (92.0, 300.0, 92.0, 600.0)


def test_rotation_state_roundtrip_and_filter(spark, docs):
    from stirling_pdf_spark.operators.pageops import (
        filter_page_rotation, page_rotations, set_page_rotation,
    )

    rotated = set_page_rotation(docs, 90)
    rows = page_rotations(rotated)
    n_docs = docs.count()
    assert rows.count() == n_docs
    assert rows.filter(F.col("rotation") == 90).count() == n_docs
    assert filter_page_rotation(rotated, 90, "EQUAL").count() == n_docs
    assert filter_page_rotation(rotated, 90, "GREATER").count() == 0
    assert filter_page_rotation(rotated, 100, "LESS").count() == n_docs
    # docs without pagemeta default to rotation 0
    assert filter_page_rotation(docs, 0, "EQUAL").count() == n_docs
    # setting again replaces, not duplicates
    twice = set_page_rotation(rotated, 180)
    assert page_rotations(twice).count() == n_docs
    assert page_rotations(twice).filter(
        F.col("rotation") == 180).count() == n_docs


def test_set_rotation_extraction_invariant(spark, docs):
    """RotationController only sets /Rotate — PDFBox dir-adjusted text
    extraction is rotation-invariant, and so is the kernel."""
    from stirling_pdf_spark.operators.pageops import set_page_rotation

    base = extract_spans(docs)
    rot = extract_spans(set_page_rotation(docs, 270))
    a = base.select("doc_id", F.expr(
        "transform(spans, s -> struct(s.kind, s.text, s.media_ref, s.order))"
    ).alias("spans"))
    assert a.exceptAll(rot.select("doc_id", F.expr(
        "transform(spans, s -> struct(s.kind, s.text, s.media_ref, s.order))"
    ).alias("spans"))).count() == 0


def test_physical_rotate_four_times_identity(spark):
    from stirling_pdf_spark.kernel.model import TextRun

    # integral coordinates so float arithmetic stays exact
    spans = [
        ("text", wire.encode_text_run(
            TextRun(1, 72.0, 618.0, 11.0, "F", "deep line")), "", 0),
        ("pagemeta", wire.encode_pagemeta(1, 612.0, 792.0, 0), "", 1),
    ]
    df = spark.createDataFrame(
        [("d", [dict(zip(("kind", "text", "media_ref", "offset"), s))
                for s in spans])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = df
    for i in range(4):
        # page box swaps each quarter turn: H, W, H, W
        h = 792.0 if i % 2 == 0 else 612.0
        out = rotate_pages_90(out, page_height=h)
    got = out.collect()[0]["spans"]
    orig = df.collect()[0]["spans"]
    assert [s["text"] for s in got] == [s["text"] for s in orig]


def test_has_text_and_media_predicates(spark, docs):
    out = extract_spans(docs)
    n_media_docs = out.filter(
        F.exists("spans", lambda s: s["kind"] == "media")).count()
    assert has_media(out).count() == n_media_docs
    # phrase from the lorem vocabulary appears in some docs
    some = has_text(out, "lorem").count()
    assert 0 < some <= out.count()
    assert has_text(out, "zzz-not-present").count() == 0


def test_split_by_sections_conserves_and_scales(spark, docs):
    from stirling_pdf_spark.operators.pageops import split_by_sections

    parts = split_by_sections(docs, 1, 1)  # 2x2 grid
    total_before = docs.agg(F.sum(F.size("spans"))).collect()[0][0]
    total_after = parts.agg(F.sum(F.size("spans"))).collect()[0][0]
    assert total_before == total_after
    # geometry: every text/media span lands back inside the page box
    s = F.explode("spans").alias("s")
    geo = parts.select(s).filter(F.col("s.kind").isin("text", "media"))
    xy = geo.select(
        F.split_part(F.substring_index("s.text", "\t", 1), F.lit("|"),
                     F.lit(2)).cast("double").alias("x"),
        F.split_part(F.substring_index("s.text", "\t", 1), F.lit("|"),
                     F.lit(3)).cast("double").alias("y"),
    )
    bad = xy.filter((F.col("x") < 0) | (F.col("x") > 612 * 2)
                    | (F.col("y") < 0) | (F.col("y") > 792 * 2)).count()
    assert bad == 0
    # sections re-extract as standalone docs
    from stirling_pdf_spark.operators.extract_pipeline import extract_spans
    assert extract_spans(parts).count() == parts.count()


def test_blank_pages_detects_whitespace_only(spark):
    from stirling_pdf_spark.corpus.synth import synth_doc
    from stirling_pdf_spark.operators.pageops import blank_pages
    from stirling_pdf_spark.kernel.model import TextRun
    from stirling_pdf_spark.kernel import wire

    spans = [
        ("text", wire.encode_text_run(TextRun(1, 72.0, 72.0, 11.0, "F", "  ")), "", 0),
        ("text", wire.encode_text_run(TextRun(2, 72.0, 72.0, 11.0, "F", "real")), "", 1),
        ("media", wire.encode_media(
            __import__("stirling_pdf_spark.kernel.model",
                       fromlist=["MediaDraw"]).MediaDraw(3, 1.0, 1.0, 2.0, 2.0, "m-1")
        ), "m-1", 2),
    ]
    df = spark.createDataFrame(
        [("d", [dict(zip(("kind", "text", "media_ref", "offset"), s)) for s in spans])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    rows = {r["page"]: r for r in blank_pages(df).collect()}
    assert rows[1]["is_blank"] == 1          # whitespace-only
    assert rows[2]["is_blank"] == 0          # visible text
    assert rows[3]["is_blank"] == 1 and rows[3]["n_media"] == 1  # media only


def test_add_page_stamps(spark, docs):
    from stirling_pdf_spark.operators.pageops import add_page_stamps

    stamped = add_page_stamps(docs, "CONFIDENTIAL", number_pages=True)
    out = extract_spans(stamped)
    n_stamped_docs = out.filter(
        F.exists("spans", lambda s: s["text"].contains("CONFIDENTIAL"))
    ).count()
    n_page_docs = docs.filter(F.expr(
        "exists(spans, s -> s.kind in ('text', 'media'))")).count()
    assert n_stamped_docs == n_page_docs
    # page-numbered: stamp on page 2 carries ' 2'
    flat = out.select(F.explode("spans").alias("s")) \
        .filter(F.col("s.text").startswith("CONFIDENTIAL"))
    assert flat.filter(F.col("s.text") == "CONFIDENTIAL 2").count() > 0


def test_page_number_stamps_full_surface(spark):
    """PageNumbersController.java:59-185: DSL page selection with a
    per-selected-page running number, {n}/{total}/{filename} template +
    zero pad, the 9-position grid math, and the span-append path."""
    from stirling_pdf_spark.kernel.model import TextRun
    from stirling_pdf_spark.operators.pageops import (
        add_page_numbers,
        page_number_stamps,
    )

    spans = []
    for p in range(1, 6):  # 5 pages, one line each
        spans.append({"kind": "text",
                      "text": wire.encode_text_run(
                          TextRun(p, 72.0, 72.0, 11.0, "Helvetica", "body")),
                      "media_ref": "", "offset": len(spans)})
    docs = spark.createDataFrame(
        [("mydoc", spans)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")

    # DSL "2-4" numbers pages 2,3,4 with numbers 10,11,12 (start 10)
    out = {r["page"]: r for r in page_number_stamps(
        docs, position=7, starting_number=10, pages_to_number="2-4",
        custom_text="{filename} p{n}/{total}", zero_pad=2,
        custom_margin="large", font_size=10.0, font_type="courier",
    ).collect()}
    assert sorted(out) == [2, 3, 4]
    assert [out[p]["number"] for p in (2, 3, 4)] == [10, 11, 12]
    assert out[2]["text"] == "mydoc p10/5"   # zero_pad=2: 10 needs no pad

    # zero-pad never TRUNCATES (Java %0Nd semantics): a number wider
    # than the pad keeps all its digits
    [wide] = page_number_stamps(docs, starting_number=1234,
                                pages_to_number="1", zero_pad=3).collect()
    assert wide["text"] == "1234"
    # position 7 = bottom-left: x = 5% margin, y = screen bottom - margin
    assert out[2]["x"] == 0.05 * 612.0
    assert out[2]["y"] == 792.0 - 0.05 * 792.0
    assert out[2]["font"] == "Courier"

    # position 5 = dead center: optical middle via Courier metrics
    [c] = page_number_stamps(docs, position=5, pages_to_number="1",
                             font_size=10.0, font_type="courier").collect()
    tw = len("1") * 0.5 * 10.0
    assert c["x"] == 612.0 / 2.0 - tw / 2
    asc, desc = 629 / 1000.0 * 10.0, -157 / 1000.0 * 10.0
    assert c["y"] == 792.0 - (792.0 / 2.0 - (asc + desc) / 2.0)

    # position clamps to 1..9 (java :105)
    [t] = page_number_stamps(docs, position=99, pages_to_number="1").collect()
    assert t["y"] == 792.0 - 0.035 * 792.0   # row 3 bottom, medium margin

    # append path: stamps become kind='text' spans that ride extraction
    stamped = add_page_numbers(docs, pages_to_number="2-4",
                               starting_number=10)
    flat = extract_spans(stamped) \
        .select(F.explode("spans").alias("s")) \
        .filter(F.col("s.text").rlike("^1[012]$"))
    assert flat.count() == 3


def test_scale_pages_geometry(spark, docs):
    from stirling_pdf_spark.operators.pageops import scale_pages

    scaled = scale_pages(docs, 2.0)
    orig = docs.orderBy("doc_id").select(F.explode("spans").alias("s")) \
        .filter(F.col("s.kind") == "text").first()
    new = scaled.orderBy("doc_id").select(F.explode("spans").alias("s")) \
        .filter(F.col("s.kind") == "text").first()
    o = wire.parse_text_run(orig["s"]["text"])
    n = wire.parse_text_run(new["s"]["text"])
    assert n.x == 2 * o.x and n.y == 2 * o.y and n.font_size == 2 * o.font_size
    assert n.content == o.content
    # scaled docs still extract (structure intact; y-gaps scale up so
    # line separation is preserved)
    out_o = extract_spans(docs)
    out_s = extract_spans(scaled)
    assert out_s.count() == out_o.count()


def test_metadata_extraction(spark, docs):
    from stirling_pdf_spark.operators.extract_pipeline import extract_metadata

    out = extract_spans(docs)
    meta = extract_metadata(out)
    rows = meta.collect()
    assert rows, "synth corpus must contain meta-bearing docs"
    keys = {r["key"] for r in rows}
    assert keys <= {"title", "author", "producer"}
    assert all(r["value"] for r in rows)
    # meta spans come first in the output span array
    first_kinds = out.filter(
        F.exists("spans", lambda s: s["kind"] == "meta")
    ).select(F.col("spans")[0]["kind"].alias("k")).distinct().collect()
    assert {r["k"] for r in first_kinds} == {"meta"}


@pytest.fixture(scope="module")
def six_page_doc(spark):
    from stirling_pdf_spark.kernel.model import TextRun

    spans = []
    for p in range(1, 7):
        run = TextRun(p, 72.0, 72.0, 11.0, "F", f"page{p}")
        spans.append(("text", wire.encode_text_run(run), "", len(spans)))
    return spark.createDataFrame(
        [("d6", [dict(zip(("kind", "text", "media_ref", "offset"), s))
                 for s in spans])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )


def _page_order(df):
    """Content words in extracted reading order."""
    out = extract_spans(df).collect()[0]["spans"]
    return [s["text"] for s in out if s["kind"] == "text"]


def test_rearrange_modes(spark, six_page_doc):
    from stirling_pdf_spark.operators.pageops import rearrange_pages

    cases = {
        "REVERSE": ["page6", "page5", "page4", "page3", "page2", "page1"],
        # fronts 1-3 interleaved with reversed backs 6,5,4
        "DUPLEX_SORT": ["page1", "page6", "page2", "page5", "page3", "page4"],
        # booklet signature [1,6,2,5,3,4] — pairs (i, n-1-i); for
        # even n it coincides with duplex (the Java loops do too)
        "BOOKLET_SORT": ["page1", "page6", "page2", "page5", "page3", "page4"],
        "ODD_EVEN_SPLIT": ["page1", "page3", "page5", "page2", "page4", "page6"],
        "REMOVE_FIRST": ["page2", "page3", "page4", "page5", "page6"],
        "REMOVE_LAST": ["page1", "page2", "page3", "page4", "page5"],
        "REMOVE_FIRST_AND_LAST": ["page2", "page3", "page4", "page5"],
        "DUPLICATE": ["page1", "page1", "page2", "page2", "page3", "page3",
                      "page4", "page4", "page5", "page5", "page6", "page6"],
    }
    for mode, expected in cases.items():
        got = _page_order(rearrange_pages(six_page_doc, mode))
        assert got == expected, f"{mode}: {got}"


def test_rearrange_passes_non_page_spans(spark):
    from stirling_pdf_spark.operators.pageops import rearrange_pages
    from stirling_pdf_spark.kernel.model import TextRun

    spans = [
        ("meta", "title|t", "", 0),
        ("text", wire.encode_text_run(TextRun(1, 72.0, 72.0, 11.0, "F", "a")), "", 1),
        ("text", wire.encode_text_run(TextRun(2, 72.0, 72.0, 11.0, "F", "b")), "", 2),
        ("attachment", "x.bin", "media-ff", 3),
    ]
    df = spark.createDataFrame(
        [("d", [dict(zip(("kind", "text", "media_ref", "offset"), s))
                for s in spans])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = extract_spans(rearrange_pages(df, "REVERSE")).collect()[0]["spans"]
    kinds = [s["kind"] for s in out]
    assert kinds == ["meta", "text", "text", "attachment"]
    assert [s["text"] for s in out if s["kind"] == "text"] == ["b", "a"]


def test_merge_docs_filename_order_and_page_shift(spark):
    from stirling_pdf_spark.operators.pageops import merge_docs
    from stirling_pdf_spark.kernel.model import TextRun

    def mk(doc_id, pages, word):
        spans = []
        for p in range(1, pages + 1):
            run = TextRun(p, 72.0, 72.0, 11.0, "F", f"{word}{p}")
            spans.append(("text", wire.encode_text_run(run), "", len(spans)))
        return (doc_id, [dict(zip(("kind", "text", "media_ref", "offset"), s))
                         for s in spans])

    # byFileName is case-insensitive LEXICOGRAPHIC
    # (String.CASE_INSENSITIVE_ORDER, MergeController.java:118-123):
    # 'doc10' sorts before 'doc2'
    df = spark.createDataFrame(
        [mk("doc10", 1, "b"), mk("doc2", 2, "a")],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    merged = merge_docs(df)
    assert merged.count() == 1
    out = extract_spans(merged).collect()[0]["spans"]
    assert [s["text"] for s in out] == ["b1", "a1", "a2"]
    # pages shifted: a's pages became global pages 2,3 after b's 1
    raw = merged.collect()[0]["spans"]
    pages = [int(s["text"].split("|")[0]) for s in raw]
    assert sorted(pages) == [1, 2, 3]


@pytest.mark.parametrize("comparator,order", [
    ("byFileName", ["a1", "b1"]),
    ("byDateModified", ["b1", "a1"]),
])
def test_merge_docs_ids_without_digits(spark, comparator, order):
    """A doc_id with no digit has no numeric tie-break key and a date
    that is not a number counts as absent (t = 0, sorted last); neither
    fails the merge."""
    from stirling_pdf_spark.operators.pageops import merge_docs
    from stirling_pdf_spark.kernel.model import TextRun

    def mk(doc_id, modified):
        run = TextRun(1, 72.0, 72.0, 11.0, "F", f"{doc_id}1")
        return (doc_id, [("meta", f"modified|{modified}", "", 0),
                         ("text", wire.encode_text_run(run), "", 1)])

    df = spark.createDataFrame(
        [mk("a", "yesterday"), mk("b", "5")],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = extract_spans(merge_docs(df, comparator=comparator)).collect()
    assert [s["text"] for s in out[0]["spans"] if s["kind"] == "text"] == order


def test_overlay_docs_page_wise(spark):
    from stirling_pdf_spark.operators.pageops import overlay_docs
    from stirling_pdf_spark.kernel.model import TextRun

    def mk(doc_id, word, y):
        run = TextRun(1, 72.0, y, 11.0, "F", word)
        return (doc_id, [{"kind": "text", "text": wire.encode_text_run(run),
                          "media_ref": "", "offset": 0}])

    schema = ("doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")
    base = spark.createDataFrame([mk("d1", "base", 72.0)], schema)
    over = spark.createDataFrame([mk("d1", "stamp", 172.0)], schema)
    out = extract_spans(overlay_docs(base, over)).collect()
    texts = [s["text"] for s in out[0]["spans"]]
    assert texts == ["base", "stamp"]  # same page, reading order by y


def test_auto_split_at_markers_semantics(spark):
    """AutoSplitPdfController.java:320-352: dividers at page > 1 start
    a new doc and are dropped; page 1 ALWAYS lands in the first doc,
    divider or not (the `page == 0` branch :340-345); empty parts
    never materialize."""
    from stirling_pdf_spark.kernel.model import MediaDraw, TextRun
    from stirling_pdf_spark.operators.pageops import auto_split_at_markers

    def doc(doc_id, page_kinds):
        spans = []
        for p, k in enumerate(page_kinds, start=1):
            if k == "div":
                spans.append(("media", wire.encode_media(
                    MediaDraw(p, 1.0, 1.0, 2.0, 2.0, "qr-divider")),
                    "qr-divider", len(spans)))
            else:
                spans.append(("text", wire.encode_text_run(
                    TextRun(p, 72.0, 72.0, 11.0, "F", f"pg{p}")), "",
                    len(spans)))
        return (doc_id, [dict(zip(("kind", "text", "media_ref", "offset"), s))
                         for s in spans])

    df = spark.createDataFrame(
        [doc("a", ["t", "div", "t", "t", "div", "t"]),
         doc("b", ["div", "t", "div", "t"])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    rows = auto_split_at_markers(df, ["qr-divider"]).collect()
    parts = {r["doc_id"]: [s["text"].split("\t")[-1]
                           for s in r["spans"] if s["kind"] == "text"]
             for r in rows}
    # a: [p1][div][p3,p4][div][p6] -> three parts
    assert parts["a#q0"] == ["pg1"]
    assert parts["a#q1"] == ["pg3", "pg4"]
    assert parts["a#q2"] == ["pg6"]
    # b: page-1 divider stays as content of part 0 (with page 2);
    # the page-3 divider starts part 1
    assert set(k for k in parts if k.startswith("b")) == {"b#q0", "b#q1"}
    assert parts["b#q0"] == ["pg2"]
    assert parts["b#q1"] == ["pg4"]
    b0 = next(r for r in rows if r["doc_id"] == "b#q0")
    assert [s["kind"] for s in b0["spans"]] == ["media", "text"]


def test_crop_shifts_and_filters(spark):
    from stirling_pdf_spark.kernel.model import TextRun
    from stirling_pdf_spark.operators.pageops import crop_pages

    spans = [
        ("text", wire.encode_text_run(
            TextRun(1, 72.0, 100.0, 11.0, "F", "inside")), "", 0),
        ("text", wire.encode_text_run(
            TextRun(1, 5.0, 100.0, 11.0, "F", "left-of-box")), "", 1),
        ("pagemeta", wire.encode_pagemeta(1, 612.0, 792.0, 0), "", 2),
    ]
    df = spark.createDataFrame(
        [("d", [dict(zip(("kind", "text", "media_ref", "offset"), s))
                for s in spans])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = crop_pages(df, 50.0, 80.0, 400.0, 500.0).collect()[0]["spans"]
    kinds = [s["kind"] for s in out]
    assert kinds == ["text", "pagemeta"]  # out-of-box span dropped
    run = wire.parse_text_run(out[0]["text"])
    assert (run.x, run.y) == (22.0, 20.0)  # re-based to the box origin
    pm = wire.parse_pagemeta(out[1]["text"])
    assert (pm[1], pm[2]) == (350.0, 420.0)  # box dims become the page


def test_to_single_page_preserves_text_order(spark, docs):
    from stirling_pdf_spark.operators.pageops import to_single_page

    base = extract_spans(docs)
    single = extract_spans(to_single_page(docs))

    def texts(df):
        return df.select(
            "doc_id",
            F.expr("filter(spans, s -> s.kind = 'text')").alias("t"),
        ).select(
            "doc_id", F.expr("transform(t, s -> s.text)").alias("texts"))

    assert texts(base).exceptAll(texts(single)).count() == 0
    # everything landed on page 1 in the raw table
    pages = to_single_page(docs).select(F.explode("spans").alias("s")) \
        .filter(F.col("s.kind").isin("text", "media", "rule")) \
        .select(F.split_part(F.substring_index("s.text", "\t", 1),
                             F.lit("|"), F.lit(1)).cast("long").alias("p"))
    assert pages.filter(F.col("p") != 1).count() == 0


def test_page_text_budget_binds(spark):
    """E2's 4,000-char/page budget (PdfContentExtractor.java:50)."""
    from stirling_pdf_spark.kernel.model import TextRun
    from stirling_pdf_spark.operators.elements import extract_elements, page_text

    spans = []
    for m in range(30):  # 30 lines x 200 chars ~ 6,000 chars > 4,000
        run = TextRun(1, 72.0, 72.0 + 14.0 * m, 11.0, "F", "x" * 200)
        spans.append(("text", wire.encode_text_run(run), "", len(spans)))
    df = spark.createDataFrame(
        [("d", [dict(zip(("kind", "text", "media_ref", "offset"), s))
                for s in spans])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    row = page_text(extract_elements(df)).collect()[0]
    assert row["n_lines"] == 30
    assert len(row["text"]) == 4000
    row2 = page_text(extract_elements(df),
                     budget=100).collect()[0]
    assert len(row2["text"]) == 100


def test_n_up_and_booklet_imposition(spark):
    from stirling_pdf_spark.kernel.model import TextRun
    from stirling_pdf_spark.operators.pageops import booklet_impose, n_up

    spans = []
    for p in range(1, 7):
        run = TextRun(p, 72.0, 100.0, 11.0, "F", f"pg{p}")
        spans.append(("text", wire.encode_text_run(run), "", len(spans)))
    df = spark.createDataFrame(
        [("d", [dict(zip(("kind", "text", "media_ref", "offset"), s))
                for s in spans])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = n_up(df, cols=2, rows=1).collect()[0]["spans"]
    runs = [wire.parse_text_run(s["text"]) for s in out]
    # 6 pages -> 3 sheets; odd pages left (x=36), even pages right (342)
    assert [r.page for r in runs] == [1, 1, 2, 2, 3, 3]
    assert [r.x for r in runs] == [36.0, 342.0] * 3
    assert all(r.font_size == 5.5 for r in runs)
    assert all(0 <= r.x <= 612 and 0 <= r.y <= 792 for r in runs)

    # booklet: signature order [1,6,2,5,3,4] then 2-up ->
    # sheets (1,6), (2,5), (3,4)
    book = booklet_impose(df).collect()[0]["spans"]
    bruns = sorted((wire.parse_text_run(s["text"]) for s in book),
                   key=lambda r: (r.page, r.x))
    assert [(r.page, r.content) for r in bruns] == [
        (1, "pg1"), (1, "pg6"), (2, "pg2"), (2, "pg5"), (3, "pg3"), (3, "pg4"),
    ]


def test_side_stitch_booklet_sort(spark):
    """RearrangePagesPDFController.java:152-163: groups of 4 emit
    [begin+4, begin+1, begin+2, begin+3]; past-the-end sources clamp to
    the last page, so it repeats when n % 4 != 0."""
    from stirling_pdf_spark.kernel.model import TextRun
    from stirling_pdf_spark.operators.pageops import rearrange_pages

    def doc(doc_id, n):
        spans = [("text", wire.encode_text_run(
            TextRun(p, 72.0, 72.0, 11.0, "F", f"pg{p}")), "", p - 1)
            for p in range(1, n + 1)]
        return (doc_id, [dict(zip(("kind", "text", "media_ref", "offset"), s))
                         for s in spans])

    df = spark.createDataFrame(
        [doc("six", 6), doc("four", 4), doc("one", 1)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = rearrange_pages(df, "SIDE_STITCH_BOOKLET_SORT")
    order = {}
    for r in out.collect():
        seq = sorted(
            (int(s["text"].split("|")[0]), s["text"].split("\t")[1])
            for s in r["spans"]
        )
        order[r["doc_id"]] = [t for _, t in seq]
    assert order["six"] == ["pg4", "pg1", "pg2", "pg3",
                            "pg6", "pg5", "pg6", "pg6"]
    assert order["four"] == ["pg4", "pg1", "pg2", "pg3"]
    assert order["one"] == ["pg1", "pg1", "pg1", "pg1"]


def test_rearrange_custom_page_order(spark):
    """Custom mode = the F7 parsePageList DSL per document page count;
    dedup first-occurrence, unselected pages drop."""
    from stirling_pdf_spark.kernel.model import TextRun
    from stirling_pdf_spark.operators.pageops import rearrange_pages_custom

    def doc(doc_id, n):
        spans = [("text", wire.encode_text_run(
            TextRun(p, 72.0, 72.0, 11.0, "F", f"pg{p}")), "", p - 1)
            for p in range(1, n + 1)]
        spans.append(("meta", "title|t", "", n))
        return (doc_id, [dict(zip(("kind", "text", "media_ref", "offset"), s))
                         for s in spans])

    df = spark.createDataFrame(
        [doc("a", 5), doc("b", 2)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = {r["doc_id"]: r["spans"]
           for r in rearrange_pages_custom(df, "3,1,3").collect()}
    a = sorted((int(s["text"].split("|")[0]), s["text"].split("\t")[1])
               for s in out["a"] if s["kind"] == "text")
    assert [t for _, t in a] == ["pg3", "pg1"]  # deduped, listed order
    assert any(s["kind"] == "meta" for s in out["a"])  # passthrough
    b = sorted((int(s["text"].split("|")[0]), s["text"].split("\t")[1])
               for s in out["b"] if s["kind"] == "text")
    assert [t for _, t in b] == ["pg1"]  # page 3 out of range for n=2

    nfun = {r["doc_id"]: r["spans"]
            for r in rearrange_pages_custom(df, "2n-1").collect()}
    a2 = sorted((int(s["text"].split("|")[0]), s["text"].split("\t")[1])
                for s in nfun["a"] if s["kind"] == "text")
    assert [t for _, t in a2] == ["pg1", "pg3", "pg5"]


def _mkdoc(doc_id, spans):
    return (doc_id, [dict(zip(("kind", "text", "media_ref", "offset"), s))
                     for s in spans])


_DOCS_SCHEMA = ("doc_id string, spans array<struct<kind:string,text:string,"
                "media_ref:string,offset:int>>")


def test_overlay_modes(spark):
    """PdfOverlayController guide semantics: interleaved cycles files'
    FIRST pages; fixed-repeat covers counts[i]*pages_i base pages per
    file then stops; background prepends (media draw order shows it)."""
    from stirling_pdf_spark.kernel.model import TextRun
    from stirling_pdf_spark.operators.pageops import overlay_docs_multi

    def tline(p, content):
        return ("text", wire.encode_text_run(
            TextRun(p, 72.0, 72.0, 11.0, "F", content)), "", 0)

    base = spark.createDataFrame(
        [_mkdoc("b", [(k, t, m, i) for i, (k, t, m, _)
                      in enumerate(tline(p, f"pg{p}") for p in range(1, 6))])],
        _DOCS_SCHEMA)

    def ovdoc(doc_id, labels):
        spans = [("text", wire.encode_text_run(
            TextRun(p, 280.0, 760.0, 9.0, "F", lab)), "", p - 1)
            for p, lab in enumerate(labels, 1)]
        return _mkdoc(doc_id, spans)

    ovs = spark.createDataFrame(
        [ovdoc("ov-1", ["A1", "A2"]), ovdoc("ov-2", ["B1"])], _DOCS_SCHEMA)

    def overlay_by_page(out_rows):
        got = {}
        for r in out_rows:
            for s in r["spans"]:
                head, _, body = s["text"].partition("\t")
                if body in ("A1", "A2", "B1"):
                    got.setdefault(int(head.split("|")[0]), []).append(body)
        return got

    inter = overlay_by_page(
        overlay_docs_multi(base, ovs, "InterleavedOverlay").collect())
    # first pages of ov-1, ov-2 alternating
    assert inter == {1: ["A1"], 2: ["B1"], 3: ["A1"], 4: ["B1"], 5: ["A1"]}

    seq = overlay_by_page(
        overlay_docs_multi(base, ovs, "SequentialOverlay").collect())
    # rotated start (file index 1 first): run = [B1, A1, A2], cycling
    assert seq == {1: ["B1"], 2: ["A1"], 3: ["A2"], 4: ["B1"], 5: ["A1"]}

    fixed = overlay_by_page(
        overlay_docs_multi(base, ovs, "FixedRepeatOverlay",
                           counts=[1, 2]).collect())
    # ov-1 covers 1*2 pages (first page each), ov-2 covers 2*1; page 5 bare
    assert fixed == {1: ["A1"], 2: ["A1"], 3: ["B1"], 4: ["B1"]}


def test_overlay_background_prepends(spark):
    from stirling_pdf_spark.kernel.model import MediaDraw
    from stirling_pdf_spark.operators.extract_pipeline import (
        explode_spans, extract_spans,
    )
    from stirling_pdf_spark.operators.pageops import overlay_docs_multi

    base = spark.createDataFrame(
        [_mkdoc("b", [("media", wire.encode_media(
            MediaDraw(1, 10.0, 10.0, 5.0, 5.0, "m-base")), "m-base", 0)])],
        _DOCS_SCHEMA)
    ov = spark.createDataFrame(
        [_mkdoc("ov-1", [("media", wire.encode_media(
            MediaDraw(1, 20.0, 20.0, 5.0, 5.0, "m-ov")), "m-ov", 0)])],
        _DOCS_SCHEMA)
    for pos, expect in (("FOREGROUND", ["m-base", "m-ov"]),
                        ("BACKGROUND", ["m-ov", "m-base"])):
        out = extract_spans(
            overlay_docs_multi(base, ov, "InterleavedOverlay", position=pos))
        refs = [r["media_ref"] for r in
                explode_spans(out).orderBy("order").collect()]
        assert refs == expect, pos


def test_poster_grid_numbering_scale_and_rtl(spark):
    """PosterPdfController: row 0 = top, uniform min-scale, centered;
    rightToLeft flips column numbering."""
    from stirling_pdf_spark.kernel.model import TextRun
    from stirling_pdf_spark.operators.pageops import poster_pages

    spans = [
        ("text", wire.encode_text_run(
            TextRun(1, 100.0, 100.0, 10.0, "F", "topleft")), "", 0),
        ("text", wire.encode_text_run(
            TextRun(1, 400.0, 500.0, 10.0, "F", "botright")), "", 1),
        ("pagemeta", wire.encode_pagemeta(1, 612.0, 792.0, 0), "", 2),
    ]
    df = spark.createDataFrame([_mkdoc("d", spans)], _DOCS_SCHEMA)

    def tiles(out):
        got = {}
        for r in out.collect():
            for s in r["spans"]:
                if s["kind"] != "text":
                    continue
                head, _, body = s["text"].partition("\t")
                f = head.split("|")
                got[body] = (int(f[0]), float(f[1]), float(f[2]), float(f[3]))
        return got

    t = tiles(poster_pages(df, 2, 2))
    # 2x2 on Letter: cell 306x396, scale 2, no centering offsets
    assert t["topleft"] == (1, 200.0, 200.0, 20.0)
    # (400,500) -> col 1 row 1 -> page 4; rebased (94,104) scaled 2x
    assert t["botright"] == (4, 188.0, 208.0, 20.0)
    assert all(s["kind"] != "pagemeta"
               for r in poster_pages(df, 2, 2).collect()
               for s in r["spans"])

    rtl = tiles(poster_pages(df, 2, 2, right_to_left=True))
    assert rtl["topleft"][0] == 2      # col 0 numbers right-to-left
    assert rtl["botright"][0] == 3

    # asymmetric 2x1: cell 306x792 -> scale = min(2, 1) = 1, centered
    # horizontally by (612-306)/2 = 153
    asym = tiles(poster_pages(df, 2, 1))
    assert asym["topleft"] == (1, 100.0 + 153.0, 100.0, 10.0)
    assert asym["botright"] == (2, 94.0 + 153.0, 500.0, 10.0)


def test_remove_pages_and_duplicate_count(spark):
    """deletePages: DSL-selected pages drop, survivors renumber densely;
    DUPLICATE honors the pageOrder-carried count."""
    from stirling_pdf_spark.kernel.model import TextRun
    from stirling_pdf_spark.operators.pageops import (
        rearrange_pages, remove_pages,
    )

    spans = [("text", wire.encode_text_run(
        TextRun(p, 72.0, 72.0, 11.0, "F", f"pg{p}")), "", p - 1)
        for p in range(1, 6)]
    df = spark.createDataFrame([_mkdoc("d", spans)], _DOCS_SCHEMA)

    out = remove_pages(df, "2,4").collect()[0]["spans"]
    seq = sorted((int(s["text"].split("|")[0]), s["text"].split("\t")[1])
                 for s in out)
    assert seq == [(1, "pg1"), (2, "pg3"), (3, "pg5")]

    # n-expression removal: drop odd pages
    out2 = remove_pages(df, "2n-1").collect()[0]["spans"]
    seq2 = sorted((int(s["text"].split("|")[0]), s["text"].split("\t")[1])
                  for s in out2)
    assert seq2 == [(1, "pg2"), (2, "pg4")]

    two = spark.createDataFrame([_mkdoc("e", spans[:2])], _DOCS_SCHEMA)
    dup3 = rearrange_pages(two, "DUPLICATE", duplicate_count=3) \
        .collect()[0]["spans"]
    seq3 = sorted((int(s["text"].split("|")[0]), s["text"].split("\t")[1])
                  for s in dup3)
    assert seq3 == [(1, "pg1"), (2, "pg1"), (3, "pg1"),
                    (4, "pg2"), (5, "pg2"), (6, "pg2")]


def test_set_metadata_update_delete_wipe(spark):
    """MetadataController: replace existing keys, add new ones, delete
    with None, deleteAll wipes before applying."""
    from stirling_pdf_spark.operators.extract_pipeline import (
        extract_metadata, extract_spans,
    )
    from stirling_pdf_spark.operators.pageops import set_metadata

    spans = [
        ("meta", "title|old title", "", 0),
        ("meta", "author|alice", "", 1),
        ("meta", "producer|engine", "", 2),
        ("text", "1|72.0|72.0|11.0|F\tbody", "", 3),
    ]
    df = spark.createDataFrame([_mkdoc("d", spans)], _DOCS_SCHEMA)

    upd = set_metadata(df, {"title": "new title", "author": None,
                            "subject": "added"})
    meta = {r["key"]: r["value"] for r in extract_metadata(
        extract_spans(upd)).collect()}
    assert meta == {"title": "new title", "producer": "engine",
                    "subject": "added"}
    # body untouched
    kinds = [s["kind"] for s in upd.collect()[0]["spans"]]
    assert "text" in kinds

    wiped = set_metadata(df, {"title": "only"}, delete_all=True)
    meta2 = {r["key"]: r["value"] for r in extract_metadata(
        extract_spans(wiped)).collect()}
    assert meta2 == {"title": "only"}


def test_remove_images_drops_only_media(spark):
    from stirling_pdf_spark.operators.pageops import remove_images
    from stirling_pdf_spark.kernel.model import TextRun

    spans = [
        ("text", wire.encode_text_run(
            TextRun(1, 72.0, 72.0, 11.0, "F", "keep me")), "", 0),
        ("media", "1|100.0|650.0|200.0|120.0", "media-aa", 1),
        ("attachment", "a.bin", "media-bb", 2),
        ("media", "2|100.0|650.0|200.0|120.0", "media-cc", 3),
        ("bookmark", "0|1|ch", "", 4),
    ]
    df = spark.createDataFrame(
        [("d", [dict(zip(("kind", "text", "media_ref", "offset"), s))
                for s in spans])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    out = remove_images(df).collect()[0]["spans"]
    assert [s["kind"] for s in out] == ["text", "attachment", "bookmark"]
    assert [s["offset"] for s in out] == [0, 1, 2]  # re-packed densely


# one doc whose bodies hold the separators: a text run with a tab in its
# content, an annotation with a tab in its contents slot, and pagemeta
# labels holding a "|" — every page operator must keep each body (all
# after the first tab) and each label whole
_SEP_BODIES = {"text": {"A\tB", "two"},
               "annotation": {"Text|con\ttents|auth|subj"}}
_SEP_SPANS = [
    ("pagemeta", "1|612.0|792.0|0|lab|el", "", 0),
    ("text", "1|72.0|100.0|11.0|Helv\tA\tB", "", 1),
    ("annotation", "1|100.0|200.0|50.0|20.0\tText|con\ttents|auth|subj",
     "", 2),
    ("pagemeta", "2|612.0|792.0|0|lab|el", "", 3),
    ("text", "2|72.0|300.0|11.0|Helv\ttwo", "", 4),
]


def _sep_op(name):
    from stirling_pdf_spark.operators import pageops as P

    return {
        "rotate": P.rotate_pages_90,
        "scale": lambda d: P.scale_pages(d, 0.5),
        "crop": lambda d: P.crop_pages(d, 0.0, 0.0, 612.0, 792.0),
        "to_single_page": P.to_single_page,
        "n_up": P.n_up,
        "poster": P.poster_pages,
        "split_by_sections": P.split_by_sections,
        "rearrange_reverse": lambda d: P.rearrange_pages(d, "REVERSE"),
        "rearrange_custom": lambda d: P.rearrange_pages_custom(d, "2,1"),
        "merge": P.merge_docs,
        "overlay_multi": lambda d: P.overlay_docs_multi(
            d.filter(F.col("doc_id") == "d1"),
            d.filter(F.col("doc_id") == "d2")),
    }[name]


_SEP_KEEPS_PAGEMETA = ("rotate", "scale", "crop", "rearrange_reverse",
                       "rearrange_custom", "merge", "overlay_multi")


@pytest.mark.parametrize("name", [
    "rotate", "scale", "crop", "to_single_page", "n_up", "poster",
    "split_by_sections", "rearrange_reverse", "rearrange_custom", "merge",
    "overlay_multi"])
def test_page_ops_keep_bodies_after_first_tab(spark, name):
    df = spark.createDataFrame(
        [_mkdoc(d, _SEP_SPANS) for d in ("d1", "d2")], _DOCS_SCHEMA)
    if name not in ("merge", "overlay_multi"):
        df = df.filter(F.col("doc_id") == "d1")
    seen = {k: set() for k in _SEP_BODIES}
    labels = []
    for row in _sep_op(name)(df).collect():
        for s in row["spans"]:
            if s["kind"] == "pagemeta":
                labels.append(wire.parse_pagemeta(s["text"])[4])
                continue
            head, tab, body = s["text"].partition("\t")
            assert tab and len(head.split("|")) == 5, s["text"]
            assert body in _SEP_BODIES[s["kind"]], s["text"]
            if s["kind"] == "text":
                run = wire.parse_text_run(s["text"])
                assert (run.font, run.content) == ("Helv", body)
            seen[s["kind"]].add(body)
    assert seen == _SEP_BODIES
    assert all(lb == "lab|el" for lb in labels), labels
    assert bool(labels) == (name in _SEP_KEEPS_PAGEMETA)
