"""The batch kernel ``extract_docs`` against the per-document reference
``extract_doc``: equal output (or the same error) on every document,
whichever route a document takes, plus the ``_extract_sub`` plumbing
around it and the keying that feeds it."""

from __future__ import annotations

import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from stirling_pdf_spark.corpus.synth import synth_corpus
from stirling_pdf_spark.kernel import extract as kx
from stirling_pdf_spark.kernel import wire
from stirling_pdf_spark.kernel.extract import extract_doc, extract_docs, segment_of
from stirling_pdf_spark.kernel.model import MAX_CHUNKS_PER_DOC, MediaDraw, TextRun
from stirling_pdf_spark.operators import extract_pipeline as ep

RAW = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                          ("media_ref", pa.string()), ("offset", pa.int32())]))
FIELDS = ("kind", "text", "media_ref", "offset")


def _array(docs) -> pa.ListArray:
    return pa.array([None if d is None else [dict(zip(FIELDS, s)) for s in d]
                     for d in docs], RAW)


def _rows(out: pa.ListArray) -> list[list[tuple]]:
    return [[(s["kind"], s["text"], s["media_ref"], s["order"]) for s in d]
            for d in out.to_pylist()]


def _check(docs, budget, spans=None):
    """extract_docs over ``spans`` (default: ``docs`` as one array) equals
    extract_doc per doc, or raises the error extract_doc raises first."""
    spans = _array(docs) if spans is None else spans
    try:
        want = [[tuple(s) for s in extract_doc(d or [], budget)] for d in docs]
    except (ValueError, TypeError, AttributeError) as exc:
        with pytest.raises(type(exc)):
            extract_docs(spans, budget)
        return
    assert _rows(extract_docs(spans, budget)) == want


# --- generated documents ---------------------------------------------

# U+001C-U+001F, U+00A0 and U+3000 are whitespace to str.isspace
_CHARS = "ab yz|\t\x1c\x1d\x1e\x1f\xa0　é中\U0001F600"
_ODD_NUMERALS = (" 7", "+7", "7 ", "1_0", "٣", "0x10", "0X1f", "1.5 ",
                 " 1.5", "nan", "inf", "-inf", "nan(1)", "1e3", "", "-0",
                 "9223372036854775808", "１")
_XS = (0.0, 72.0, 72.5, 100.0, 270.0, 306.0, 330.0, 340.0, 400.0)
_YS = (72.0, 72.5, 74.0, 75.0, 75.5, 76.0, 86.0, 300.0)
_OTHER_KINDS = ("html", "htmlbody", "rule", "annotation", "formfield",
                "pagemeta", "unknown")


@st.composite
def _text_wire(draw) -> str:
    fields = [str(draw(st.sampled_from((1, 2, 3, -1, 0)))),
              repr(draw(st.one_of(st.sampled_from(_XS), st.floats(-50, 700)))),
              repr(draw(st.one_of(st.sampled_from(_YS), st.floats(-50, 800)))),
              repr(draw(st.sampled_from((9.0, 11.0, 40.0))))]
    if draw(st.integers(0, 19)) == 0:
        fields[draw(st.integers(0, 3))] = draw(st.sampled_from(_ODD_NUMERALS))
    head = "|".join(fields) + "|F"
    content = draw(st.text(alphabet=_CHARS, max_size=14))
    if draw(st.integers(0, 29)) == 0:
        return head + content  # no tab: empty content, or a bad header
    return head + "\t" + content


@st.composite
def _span(draw, other_kinds: bool):
    kinds = ["text"] * 6 + ["media", "meta", "bookmark", "attachment"]
    if other_kinds:
        kinds += list(_OTHER_KINDS)
    kind = draw(st.sampled_from(kinds))
    ref = draw(st.sampled_from(("", "media-0a1b2c3d", "media-ffff0000")))
    if kind == "text":
        text = draw(_text_wire())
    elif kind == "media":
        text = wire.encode_media(MediaDraw(draw(st.sampled_from((1, 2, 4))),
                                           10.0, 20.0, 30.0, 40.0, ref))
        if draw(st.integers(0, 19)) == 0:
            text = draw(st.sampled_from(("1|2|3|4", "1|2|3|4|nan(1)",
                                         "0x1|2|3|4|5", "1|2|3|4|5|6")))
    elif kind == "attachment":
        text = draw(st.sampled_from(("", "a.pdf", "a.pdf", "b")))
    elif kind == "html":
        text = "<p>" + "lorem ipsum dolor sit amet " * 2 + "</p>"
    elif kind in ("rule", "annotation", "pagemeta"):
        text = "1|10.0|20.0|300.0|20.0" + ("\tText|c|a|s" if kind == "annotation" else "")
    else:
        text = draw(st.text(alphabet="ab|", max_size=8))
    return kind, text, ref, draw(st.integers(0, 40))


def _docs(other_kinds: bool):
    return st.lists(st.one_of(st.none(),
                              st.lists(_span(other_kinds), max_size=25)),
                    min_size=0, max_size=6)


_BUDGETS = st.sampled_from((MAX_CHUNKS_PER_DOC, 0, 1, 3))


@settings(max_examples=300, deadline=None)
@given(_docs(other_kinds=False), _BUDGETS)
def test_batch_kinds_match_extract_doc(docs, budget):
    _check(docs, budget)


@settings(max_examples=150, deadline=None)
@given(_docs(other_kinds=True), _BUDGETS)
def test_routed_kinds_match_extract_doc(docs, budget):
    _check(docs, budget)


@settings(max_examples=100, deadline=None)
@given(_docs(other_kinds=True), st.integers(0, 3), st.integers(0, 3), _BUDGETS)
def test_sliced_list_array(docs, before, after, budget):
    pad = [[("text", "1|72.0|72.0|11.0|F\tpad", "", 0)]]
    whole = _array(pad * before + docs + pad * after)
    _check(docs, budget, whole.slice(before, len(docs)))


@st.composite
def _two_column_page(draw):
    """Wide lines in a left and a right column, some full-width lines
    between them, written in a random order."""
    lines = []
    for i in range(draw(st.integers(2, 8))):
        y = 72.0 + 14.0 * i
        lines.append((72.0, y, "x" * 40))
        lines.append((340.0, y, "y" * draw(st.sampled_from((30, 40)))))
    for _ in range(draw(st.integers(0, 3))):
        y = draw(st.sampled_from((60.0, 100.0, 130.5, 500.0)))
        lines.append((72.0, y, "w" * draw(st.sampled_from((60, 100)))))
    order = draw(st.permutations(range(len(lines))))
    return [("text", wire.encode_text_run(TextRun(1, x, y, 11.0, "F", c)), "", o)
            for o, (x, y, c) in zip(order, lines)]


@settings(max_examples=60, deadline=None)
@given(st.lists(_two_column_page(), min_size=1, max_size=3))
def test_two_column_and_full_width_lines(docs):
    _check(docs, MAX_CHUNKS_PER_DOC)


@st.composite
def _run_chain(draw):
    """Runs laid left to right with small y drifts, so lines hold many
    runs: gaps on the word-space (0.25 x font size) and column-gap (14)
    boundaries, and drifts that stay within 3.0 of the previous run but
    not of the line's first run."""
    spans, x, y = [], 72.0, 72.0
    for i in range(draw(st.integers(1, 30))):
        fs = draw(st.sampled_from((10.0, 11.0)))
        content = draw(st.text(alphabet="ab", min_size=1, max_size=4))
        spans.append(wire.encode_text_run(TextRun(1, x, y, fs, "F", content)))
        x += len(content) * 0.5 * fs + draw(st.sampled_from(
            (0.0, 1.0, 2.5, 2.75, 3.0, 14.0, 14.5, -30.0)))
        y += draw(st.sampled_from((0.0, 0.5, 1.0, 1.5, 2.0, 3.0, 3.5)))
    order = draw(st.permutations(range(len(spans))))
    return [("text", w, "", o) for w, o in zip(spans, order)]


@settings(max_examples=200, deadline=None)
@given(st.lists(_run_chain(), min_size=1, max_size=3))
def test_line_anchor_and_gap_boundaries(docs):
    _check(docs, MAX_CHUNKS_PER_DOC)


def test_empty_and_textless_docs():
    docs = [[], None, [("meta", "k|v", "", 0)],
            [("text", "1|72.0|72.0|11.0|F\t \x1c\xa0　", "", 0),
             ("media", "1|1.0|2.0|3.0|4.0", "media-1", 1)],
            [("attachment", "", "media-abc-123", 0),
             ("attachment", "", "media-abc-123", 1), ("bookmark", "0|T", "", 2)]]
    _check(docs, MAX_CHUNKS_PER_DOC)
    assert len(extract_docs(_array([]))) == 0


@pytest.mark.parametrize("doc", [
    [(None, "x", "", 0), ("meta", "k|v", "", 1)],
    [("meta", None, "", 0), ("bookmark", "0|t", None, 1)],
    [("media", "1|1.0|2.0|3.0|4.0", None, 0), ("attachment", None, None, 1)],
    [("text", None, "", 0)],
    [("text", "1|72.0|72.0|11.0|F\ta", "", None), ("meta", "k|v", "", 0)],
])
def test_null_fields(doc):
    ok = [("text", "1|72.0|72.0|11.0|F\tfine", "", 0)]
    _check([ok, doc, ok], MAX_CHUNKS_PER_DOC)


def test_extreme_page_numbers():
    """Page numbers far out in the int64 range still order as ints."""
    pages = (1 << 62, -(1 << 62), 5, 1 << 62)
    doc = [("text", f"{p}|72.0|{72.0 + i}|11.0|F\tw{i}", "", i)
           for i, p in enumerate(pages)]
    _check([doc, doc[::-1]], MAX_CHUNKS_PER_DOC)


def test_long_multibyte_line_is_cut_at_500_chars():
    run = TextRun(1, 72.0, 72.0, 11.0, "F", "中\U0001F600" * 300)
    docs = [[("text", wire.encode_text_run(run), "", 0),
             ("text", wire.encode_text_run(run._replace(x=72.0 + 3300.0)), "", 1)]]
    _check(docs, MAX_CHUNKS_PER_DOC)
    assert len(_rows(extract_docs(_array(docs)))[0][0][1]) == 500


def test_chunk_budget_boundary_with_html_after():
    lines = [("text", wire.encode_text_run(TextRun(1 + i // 50, 72.0, 72.0 + 14 * (i % 50),
                                                   11.0, "F", f"line {i}")), "", i)
             for i in range(MAX_CHUNKS_PER_DOC + 5)]
    html = ("html", "<p>" + "lorem ipsum dolor sit amet " * 3 + "</p>", "", len(lines))
    meta = ("meta", "k|v", "", -1)
    tail = ("bookmark", "0|end", "", len(lines) + 1)
    docs = [lines + [meta, tail], lines[:MAX_CHUNKS_PER_DOC - 1] + [html, tail],
            lines + [html]]
    _check(docs, MAX_CHUNKS_PER_DOC)


@pytest.mark.parametrize("field", range(4))
@pytest.mark.parametrize("numeral", _ODD_NUMERALS)
def test_non_canonical_numerals(field, numeral):
    fields = ["1", "72.0", "72.0", "11.0"]
    fields[field] = numeral
    bad = ("text", "|".join(fields) + "|F\tword", "", 1)
    good = [("text", "2|72.0|72.0|11.0|F\tother", "", 0)]
    _check([good, good + [bad], good], MAX_CHUNKS_PER_DOC)


@pytest.mark.parametrize("mega_pages,n_docs,budget", [
    ((300, 400), 700, MAX_CHUNKS_PER_DOC),
    ((1000, 1500), 250, MAX_CHUNKS_PER_DOC),
])
def test_seeded_corpora(mega_pages, n_docs, budget):
    docs = [spans for _, _, spans in synth_corpus(n_docs, seed=11, mega_pages=mega_pages)]
    _check(docs, budget)


# --- the Arrow stage around it ----------------------------------------

def _keyed_batch(docs, threshold):
    """(doc_id, bucket, salted, spans) rows as _key makes them."""
    rows = []
    for doc_id, spans in docs:
        if len(spans) <= threshold:
            rows.append((doc_id, 0, False, spans))
            continue
        segments: dict[int, list] = {}
        for s in spans:
            segments.setdefault(segment_of(s[0], s[1]), []).append(s)
        rows += [(doc_id, b, True, segments[b]) for b in sorted(segments)]
    return pa.RecordBatch.from_arrays(
        [pa.array([r[0] for r in rows]), pa.array([r[1] for r in rows], pa.int64()),
         pa.array([r[2] for r in rows]), _array([r[3] for r in rows])],
        names=["doc_id", "bucket", "salted", "spans"]), rows


def test_extract_sub_mixes_routed_batch_and_salted_rows():
    corpus = [(d, s) for d, _, s in synth_corpus(60, seed=5, mega_pages=(150, 180))]
    threshold = ep.DEFAULT_SALT_THRESHOLD // 4
    batch, rows = _keyed_batch(corpus, threshold)
    salted = [r for r in rows if r[2]]
    assert salted and any(s[0] == "html" for _, _, _, sp in rows for s in sp)
    assert sum(len(r[3]) for r in rows) > 2 * ep.DEFAULT_SALT_THRESHOLD
    (out,) = ep._extract_sub([batch])
    assert out.column("doc_id").equals(batch.column("doc_id"))
    assert out.column("bucket").equals(batch.column("bucket"))
    want = [[tuple(s) for s in extract_doc(sp)] for _, _, _, sp in rows]
    assert _rows(out.column("spans")) == want


def test_extract_sub_error_names_the_doc():
    good = [("text", "1|72.0|72.0|11.0|F\tfine", "", 0)]
    bad = good + [("text", "garbage", "", 1)]
    batch, _ = _keyed_batch([("doc-good", good), ("doc-bad", bad)], 100)
    with pytest.raises(ValueError, match="doc-bad"):
        list(ep._extract_sub([batch]))


def test_key_rows_follow_segment_of(spark, monkeypatch):
    """The SQL keying puts each span where kernel.extract.segment_of
    does; a doc with a page that does not parse stays one unsalted row."""
    monkeypatch.setattr(kx, "PAGES_PER_BUCKET", 7)
    spans = [("meta", "k|v", "", 0), ("text", "3|1.0|2.0|3.0|F\ta", "", 1),
             ("media", "15|1|2|3|4", "m", 2), ("annotation", "8|1|2|3|4\tx", "", 3),
             ("html", "<p>h</p>", "", 5),
             ("htmlbody", "<p>b</p>", "", 6), ("bookmark", "0|t", "", 7),
             ("attachment", "", "m", 8), ("formfield", "n|t|v", "", 9),
             ("pagemeta", "21|612.0|792.0|0|", "", 10), ("odd", "z", "", 11)]
    bad = ("text", "x|1.0|2.0|3.0|F\tbad", "", 4)

    def keyed(spans, threshold):
        df = spark.createDataFrame([("d", [dict(zip(FIELDS, s)) for s in spans])],
                                   "doc_id string, spans array<struct<kind:string,"
                                   "text:string,media_ref:string,offset:int>>")
        return sorted((r["bucket"], r["salted"], [tuple(s) for s in r["spans"]])
                      for r in ep._key(df, threshold).collect())

    want: dict[int, list] = {}
    for s in spans:
        want.setdefault(segment_of(s[0], s[1]), []).append(s)
    assert keyed(spans, 5) == [(b, True, ss) for b, ss in sorted(want.items())]
    assert keyed(spans, len(spans)) == [(0, False, spans)]
    assert keyed(spans + [bad], 5) == [(0, False, spans + [bad])]


def test_malformed_span_names_the_doc_on_both_routes(spark, monkeypatch):
    """One bad text header fails the job with the doc_id in the error,
    whether its doc takes the unsalted or the salted route. A page that
    does not parse keeps a large doc unsalted, so the salted case has a
    bad coordinate under a good page."""
    def doc(doc_id, pages, header):
        spans = [("text", wire.encode_text_run(TextRun(p, 72.0, 72.0, 11.0, "F", "w")), "", p)
                 for p in range(1, pages + 1)]
        spans.append(("text", header + "\tbroken", "", pages + 1))
        return doc_id, [dict(zip(FIELDS, s)) for s in spans]
    schema = ("doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")
    monkeypatch.setattr(kx, "PAGES_PER_BUCKET", 10)
    for doc_id, pages, header in (("doc-small-bad", 3, "seven|1.0|bad-y|11.0|F"),
                                  ("doc-unsalted-bad", 40, "seven|1.0|bad-y|11.0|F"),
                                  ("doc-salted-bad", 40, "7|1.0|bad-y|11.0|F")):
        df = spark.createDataFrame([doc(doc_id, pages, header), ("doc-ok", [])], schema)
        with pytest.raises(Exception, match=doc_id):
            ep.extract_spans(df, salt_threshold=20).collect()
