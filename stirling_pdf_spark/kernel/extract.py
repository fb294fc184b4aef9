"""The extraction kernel: raw interleaved segments -> ordered spans.

``extract_doc`` is THE per-document semantics of the engine: the pytest
oracle and the benchmark's expected output (SURVEY.md §5).
``extract_docs`` is the body of the Spark Arrow stage
(operators/extract_pipeline.py): the same layout for a whole Arrow list
array of docs in one call, on columns, for the kinds in BATCH_KINDS;
every other doc goes through ``extract_doc``. Its differential tests
(tests/test_extract_docs.py) and every checked benchmark job hold it
equal to ``extract_doc``.

Output contract (SURVEY.md §2.1.6, the reference's reading order):
  1. pages ascending;
  2. per page: media draws first in draw order (zOrder -1_000_000+i),
     then text lines (+1_000_000+i) — mergeDrawables sorts
     (zOrder, sequence), PdfJsonConversionService.java:5174,5378-5421;
  3. text lines in reading order: line clustering (dy 3.0 / x-gap 14),
     column vote, column-major order on two-column pages;
  4. word spacing: gap > 0.5 x previous fragment's avg char width;
  5. text chunks capped at 500 chars each, 2000 per document
     (PdfTextChunkExtractor.java:28-31);
  6. HTML raw spans -> boilerplate-stripped kind='text' blocks in
     document order;
  7. attachments last, name-tree order, fallback + unique-suffix names.

Annotations (kind='annotation', PdfJsonConversionService.java:
2553-2610) pass through per page AFTER the page's content, re-keyed to
"{page}|{subtype}|{contents}|{author}|{subject}" — a page-scoped side
list like the reference's annotationsByPage, not a drawable. AcroForm
fields (kind='formfield', AnalysisController.java /form-fields) are
document state and follow the metadata block, offset order.
"""

from __future__ import annotations

from collections import defaultdict
from itertools import groupby
from operator import itemgetter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import wire
from .attachments import fallback_name, unique_names
from .html_extract import extract_all_blocks, extract_main_blocks
from .tables import extract_table_csvs, parse_rule
from .lines import cluster_lines
from .columns import reading_order
from .model import (
    CHAR_WIDTH_FACTOR,
    COLUMN_GAP_X,
    GUTTER_SLACK,
    LINE_Y_TOLERANCE,
    MAX_CHARS_PER_CHUNK,
    MAX_CHUNKS_PER_DOC,
    MIN_COLUMN_LINE_WIDTH,
    MIN_SIDE_LINES,
    PAGE_WIDTH,
    WORD_SPACE_FACTOR,
    MediaDraw,
    Span,
    TextRun,
)


def extract_doc(raw_spans, chunk_budget: int = MAX_CHUNKS_PER_DOC) -> list[Span]:
    """raw_spans: iterable of (kind, text, media_ref, offset) tuples (or
    objects indexable the same way). Returns extraction-result spans in
    reading order; ``order`` == list index; at most ``chunk_budget``
    text chunks."""
    ordered = sorted(raw_spans, key=lambda s: s[3])

    runs_by_page: dict[int, list[TextRun]] = defaultdict(list)
    media_by_page: dict[int, list[MediaDraw]] = defaultdict(list)
    attachments: list[tuple[str, str]] = []  # (raw name, media_ref)
    html_parts: list[str] = []
    bookmarks: list[str] = []  # "depth|title" wire strings, tree order
    metas: list[str] = []      # "key|value" wire strings (E15)
    rules_by_page: dict[int, list] = defaultdict(list)  # E14 lattice rules
    annots_by_page: dict[int, list[str]] = defaultdict(list)  # E17 side list
    formfields: list[str] = []  # "name|type|value" wire strings (E16)

    for kind, text, media_ref, _off in ordered:
        if kind == "text":
            run = wire.parse_text_run(text)
            runs_by_page[run.page].append(run)
        elif kind == "media":
            draw = wire.parse_media(text, media_ref)
            media_by_page[draw.page].append(draw)
        elif kind == "attachment":
            attachments.append((text, media_ref))
        elif kind == "html":
            html_parts.append((text, True))
        elif kind == "htmlbody":
            # EML bodies: rendered whole (EmlToPdf), never
            # boilerplate-stripped — only scripts/styles drop
            html_parts.append((text, False))
        elif kind == "bookmark":
            bookmarks.append(text)
        elif kind == "meta":
            metas.append(text)
        elif kind == "rule":
            rule = parse_rule(text)
            rules_by_page[rule.page].append(rule)
        elif kind == "annotation":
            head, _, body = text.partition("\t")
            page_s = head.split("|", 1)[0]
            annots_by_page[int(page_s)].append(f"{page_s}|{body}")
        elif kind == "formfield":
            formfields.append(text)
        # unknown kinds are ignored (forward compatibility)

    out: list[Span] = []

    # document metadata first (E15: Info-dict key/value pairs precede
    # content, PdfJsonConversionService.java:2781-2810), then AcroForm
    # fields (document state, AnalysisController.java /form-fields)
    for m in metas:
        out.append(Span("meta", m, "", len(out)))
    for ff in formfields:
        out.append(Span("formfield", ff, "", len(out)))

    for page in sorted(set(runs_by_page) | set(media_by_page)
                       | set(rules_by_page) | set(annots_by_page)):
        # images first, draw order (zOrder -1_000_000 + i)
        for draw in media_by_page.get(page, ()):  # already in offset order
            out.append(Span("media", "", draw.media_ref, len(out)))
        # then text lines, reading order (zOrder 1_000_000 + i)
        lines = cluster_lines(runs_by_page.get(page, []))
        for line in reading_order(lines):
            if chunk_budget <= 0:
                break
            text = line.text()[:MAX_CHARS_PER_CHUNK]
            out.append(Span("text", text, "", len(out)))
            chunk_budget -= 1
        # lattice tables (E14): derived from ruled lines, one span per
        # rule component in (top, left) order, emitted after the page's
        # text (unbudgeted — summary objects, not chunks)
        if page in rules_by_page:
            for csv in extract_table_csvs(rules_by_page[page],
                                          runs_by_page.get(page, [])):
                out.append(Span("table", csv, "", len(out)))
        # annotations close the page (side list, offset order —
        # GetInfoOnPDF.java:865-879 reads them per page after content)
        for ann in annots_by_page.get(page, ()):
            out.append(Span("annotation", ann, "", len(out)))

    for html, strip_boiler in html_parts:
        blocks = (extract_main_blocks(html) if strip_boiler
                  else extract_all_blocks(html))
        for block in blocks:
            if chunk_budget <= 0:
                break
            out.append(Span("text", block[:MAX_CHARS_PER_CHUNK], "", len(out)))
            chunk_budget -= 1

    # bookmarks: outline-tree walk order == raw offset order (E23,
    # EditTableOfContentsController.java:56-134); depth stays encoded in
    # the "depth|title" wire text, unaffected by the text-chunk budget
    for bm in bookmarks:
        out.append(Span("bookmark", bm, "", len(out)))

    names = unique_names([fallback_name(n, ref) for n, ref in attachments])
    for name, (_, ref) in zip(names, attachments):
        out.append(Span("attachment", name, ref, len(out)))

    return out


# Reading-order segments: the one rule for splitting a document so that
# extract_doc over the whole equals the concatenation, in ascending
# segment order, of extract_doc over each segment's raw spans, with the
# text-chunk budget then applied again across the whole (the salted
# mega-doc path, operators/extract_pipeline.py). A segment's text chunks
# are a run of the document's, so a chunk past a segment's budget is
# past the document's too. It follows the output order above: metadata;
# AcroForm fields, which open segment 0; page-scoped kinds by wire
# page // PAGES_PER_BUCKET (a kind's page is the first "|" field of its
# text); html blocks; bookmarks; attachments. Any other kind falls in
# segment 0.
PAGE_KINDS = ("text", "media", "rule", "pagemeta", "annotation")
PAGES_PER_BUCKET = 100
FIXED_SEGMENTS = {
    "meta": -1,
    "html": (1 << 30) - 1,
    "htmlbody": (1 << 30) - 1,
    "bookmark": 1 << 30,
    "attachment": (1 << 30) + 1,
}


def segment_of(kind: str, text: str) -> int:
    """Reading-order segment of one raw span (see PAGE_KINDS)."""
    if kind in PAGE_KINDS:
        return int(text.split("|", 1)[0]) // PAGES_PER_BUCKET
    return FIXED_SEGMENTS.get(kind, 0)


# The batch kernel: extract_doc over every doc of an Arrow list array in
# one call, laid out on columns (pyarrow.compute parse, numpy sorts and
# segment reductions) instead of per-run Python objects. It takes the
# kinds in BATCH_KINDS; a doc with any other kind (html, rule,
# annotation, formfield, pagemeta, or one added to extract_doc later) or
# a null field goes through ``per_doc``, i.e. extract_doc, as does every
# doc of a call whose wire headers Arrow would not parse exactly as
# Python's int()/float() do.
BATCH_KINDS = ("text", "media", "meta", "bookmark", "attachment")
_KIND_SET = pa.array(BATCH_KINDS)
_TEXT, _MEDIA, _META, _BOOKMARK, _ATTACHMENT = range(len(BATCH_KINDS))
SPAN_TYPE = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()), ("order", pa.int32())])


class _Unbatchable(Exception):
    """A wire header the batch parse cannot read as Python would."""


def extract_docs(spans: pa.ListArray,
                 chunk_budget: int = MAX_CHUNKS_PER_DOC,
                 per_doc=None) -> pa.ListArray:
    """``[extract_doc(doc, chunk_budget) for doc in spans]`` as one
    ``list<SPAN_TYPE>`` array. ``spans`` is a list array of raw span
    structs (kind, text, media_ref, offset), sliced or not; a null doc
    is empty. ``per_doc(docs)`` returns the output of the docs at
    positions ``docs`` (an int array into ``spans``) that the batch
    layout does not take, as a list array in that order; by default
    each goes through extract_doc."""
    if per_doc is None:
        def per_doc(docs):
            return _extract_each(spans.take(docs), chunk_budget)
    n = len(spans)
    vals = spans.flatten()
    doc = np.repeat(np.arange(n), _lengths(spans))
    bad = pc.invert(pc.is_in(vals.field("kind"), value_set=_KIND_SET))
    for name in ("text", "media_ref", "offset"):
        bad = pc.or_(bad, pc.is_null(vals.field(name)))
    routed = np.zeros(n, bool)
    routed[doc[bad.to_numpy(zero_copy_only=False)]] = True
    batch = np.flatnonzero(~routed)
    try:
        laid = _layout(spans.take(batch) if routed.any() else spans,
                       chunk_budget)
    except (pa.ArrowInvalid, _Unbatchable):
        # extract_doc gives these docs its result or its ValueError
        routed[:] = True
        batch = batch[:0]
        laid = pa.array([], pa.list_(SPAN_TYPE))
    if not routed.any():
        return laid
    rest = np.flatnonzero(routed)
    pos = np.empty(n, np.int64)
    pos[batch] = np.arange(len(batch))
    pos[rest] = len(batch) + np.arange(len(rest))
    return pa.concat_arrays([laid, per_doc(rest)]).take(pos)


def _extract_each(spans: pa.ListArray, chunk_budget) -> pa.ListArray:
    """extract_doc per doc, through Python objects."""
    out = []
    for doc in spans.to_pylist():
        raw = [(s["kind"], s["text"], s["media_ref"], s["offset"])
               for s in doc or ()]
        out.append(extract_doc(raw, chunk_budget))
    return pa.array(out, pa.list_(SPAN_TYPE))


def _lengths(spans: pa.ListArray) -> np.ndarray:
    return pc.fill_null(pc.list_value_length(spans), 0).to_numpy()


def _header(wires: pa.Array, n_floats: int):
    """(page, float fields, "|" parts flattened five per wire) of
    "page|f|f|f|..." wire headers, read as wire.parse_* read them: split
    at the first four "|", int page, float fields. Raises _Unbatchable
    where Arrow and Python might disagree: Arrow reads "0x" ints as hex,
    and non-finite floats sort differently."""
    if not len(wires):
        return np.zeros(0, np.int64), np.zeros((n_floats, 0)), wires
    parts = pc.split_pattern(wires, "|", max_splits=4)
    if (pc.list_value_length(parts).to_numpy() != 5).any():
        raise _Unbatchable("fewer than five header fields")
    parts = pc.list_flatten(parts)
    at = np.arange(0, len(parts), 5)
    page = parts.take(at)
    if pc.any(pc.or_(pc.starts_with(page, "0x"), pc.starts_with(page, "0X"))).as_py():
        raise _Unbatchable("hex page number")
    floats = pc.cast(parts.take((at[:, None] + np.arange(1, 1 + n_floats)).ravel()),
                     pa.float64()).to_numpy().reshape(-1, n_floats)
    if not np.isfinite(floats).all():
        raise _Unbatchable("non-finite coordinate")
    return pc.cast(page, pa.int64()).to_numpy(), floats.T, parts


def _layout(spans: pa.ListArray, chunk_budget) -> pa.ListArray:
    """extract_docs over docs whose kinds are all in BATCH_KINDS."""
    n = len(spans)
    vals = spans.flatten()
    doc = np.repeat(np.arange(n), _lengths(spans))
    text, ref = vals.field("text"), vals.field("media_ref")
    # offset order within each doc, stable (extract_doc's sort)
    o = np.lexsort((vals.field("offset").to_numpy(), doc))
    code = pc.index_in(vals.field("kind"), value_set=_KIND_SET).to_numpy()[o]

    def of(kind):  # (rank in offset order, position in vals) of a kind
        rank = np.flatnonzero(code == kind)
        return rank, o[rank]

    # output pieces: (doc, section, page, sub, seq, kind, text, media_ref)
    # sorted by the first five; section 0 meta, 1 pages, 2 bookmarks,
    # 3 attachments; within a page media (sub 0) precede lines (sub 1)
    pieces = []

    def piece(docs, section, kind, seq, texts, refs, page=0, sub=0):
        k = len(docs)
        pieces.append((docs, np.full(k, section), np.broadcast_to(page, k),
                       np.full(k, sub), seq, np.full(k, kind), texts, refs))

    rank, pos = of(_META)
    piece(doc[pos], 0, _META, rank, text.take(pos), _blank(len(pos)))
    rank, pos = of(_MEDIA)
    page = _header(text.take(pos), 4)[0]
    piece(doc[pos], 1, _MEDIA, rank, _blank(len(pos)), ref.take(pos), page)
    _, pos = of(_TEXT)
    ld, lp, line_rank, line_text = _lines(text.take(pos), doc[pos])
    piece(ld, 1, _TEXT, line_rank, line_text, _blank(len(ld)), lp, sub=1)
    rank, pos = of(_BOOKMARK)
    piece(doc[pos], 2, _BOOKMARK, rank, text.take(pos), _blank(len(pos)))
    rank, pos = of(_ATTACHMENT)
    names = []
    raw = zip(doc[pos].tolist(), text.take(pos).to_pylist(), ref.take(pos).to_pylist())
    for _, group in groupby(raw, key=itemgetter(0)):
        names += unique_names([fallback_name(nm, r) for _, nm, r in group])
    piece(doc[pos], 3, _ATTACHMENT, rank, pa.array(names, pa.string()),
          ref.take(pos))

    odoc, section, opage, sub, seq, kind = (
        np.concatenate([p[i] for p in pieces]) for i in range(6))
    perm = np.lexsort((seq, sub, opage, section, odoc))
    odoc, kind = odoc[perm], kind[perm]
    is_line = kind == _TEXT
    seen = np.cumsum(is_line)
    start = np.searchsorted(odoc, odoc)  # each doc's first output
    keep = ~is_line | (seen - seen[start] + is_line[start] <= chunk_budget)
    perm, odoc, kind = perm[keep], odoc[keep], kind[keep]
    offsets = np.zeros(n + 1, np.int32)
    np.cumsum(np.bincount(odoc, minlength=n), out=offsets[1:])
    order = np.arange(len(perm), dtype=np.int32) - offsets[odoc]
    out = pa.StructArray.from_arrays(
        [_KIND_SET.take(kind),
         pa.concat_arrays([p[6] for p in pieces]).take(perm),
         pa.concat_arrays([p[7] for p in pieces]).take(perm),
         pa.array(order, pa.int32())],
        fields=list(SPAN_TYPE))
    return pa.ListArray.from_arrays(pa.array(offsets), out,
                                    type=pa.list_(SPAN_TYPE))


def _blank(k: int) -> pa.Array:
    return pa.repeat(pa.scalar("", pa.string()), k)


def _lines(wires: pa.Array, doc: np.ndarray):
    """Text-run wires (offset order) -> (doc, page, reading-order rank,
    text) of their visual lines: cluster_lines, Line.text and
    columns.reading_order per (doc, page), on columns. Float operations
    and their order are the reference's, so results are bit-identical."""
    page, (x, y, fs), parts = _header(wires, 3)
    # content: after the first tab of "font\tcontent", "" without one
    font_content = pc.split_pattern(parts.take(np.arange(4, len(parts), 5)),
                                    "\t", max_splits=1)
    content = pc.binary_join(pc.list_slice(font_content, 1), "")
    nchar = pc.utf8_length(content).to_numpy()
    visible = (nchar > 0) & ~pc.utf8_is_space(content).to_numpy(zero_copy_only=False)
    v = np.flatnonzero(visible)
    # (y, x) order per page, stable from offset order
    v = v[np.lexsort((x[v], y[v], page[v], doc[v]))]
    m = len(v)
    if not m:
        empty = np.zeros(0, np.int64)
        return empty, empty, empty, _blank(0)
    d, pg, x, y, fs, nchar = doc[v], page[v], x[v], y[v], fs[v], nchar[v]
    w = nchar * CHAR_WIDTH_FACTOR * fs
    right = x + w
    group = np.ones(m, bool)
    group[1:] = (d[1:] != d[:-1]) | (pg[1:] != pg[:-1])
    # a line breaks at a page, an x-gap, or |y - line anchor| > tolerance;
    # y ascends within a page, so a y step over the tolerance always
    # breaks, and only runs within tolerance of their predecessor need
    # the anchor test, walked where it fires
    starts = group.copy()
    starts[1:] |= ((x[1:] - right[:-1]) > COLUMN_GAP_X) | (
        (y[1:] - y[:-1]) > LINE_Y_TOLERANCE)
    first = np.flatnonzero(starts)
    seg = np.cumsum(starts) - 1
    fire = np.abs(y - y[first[seg]]) > LINE_Y_TOLERANCE
    if fire.any():
        ys = y.tolist()
        ends = np.append(first[1:], m).tolist()
        for s in np.unique(seg[fire]).tolist():
            anchor = int(first[s])
            for i in range(anchor + 1, ends[s]):
                if abs(ys[i] - ys[anchor]) > LINE_Y_TOLERANCE:
                    starts[i] = True
                    anchor = i
        first = np.flatnonzero(starts)
    # line text: a space before a run whose gap to the previous run
    # exceeds WORD_SPACE_FACTOR x that run's average char width
    space = np.zeros(m, bool)
    space[1:] = ~starts[1:] & ((x[1:] - right[:-1])
                               > WORD_SPACE_FACTOR * (w[:-1] / nchar[:-1]))
    at = np.arange(m) + np.cumsum(space)  # each run's slot after the spaces
    pieces = np.full(m + int(space.sum()), len(content))  # " " by default
    pieces[at] = v
    line_text = pc.binary_join(pa.ListArray.from_arrays(
        pa.array(np.append(at[first], len(pieces)), pa.int32()),
        pa.concat_arrays([content, pa.array([" "])]).take(pieces)), "")
    line_text = pc.utf8_slice_codeunits(line_text, 0, MAX_CHARS_PER_CHUNK)
    # line geometry (Line's bbox) and the column vote per page
    x1 = np.minimum.reduceat(x, first)
    x2 = np.maximum.reduceat(right, first)
    ly, ld, lp = y[first], d[first], pg[first]
    pgi = np.cumsum(group[first]) - 1
    mid = PAGE_WIDTH / 2.0
    xm = (x1 + x2) / 2.0
    vote = (x2 - x1) >= MIN_COLUMN_LINE_WIDTH
    left = vote & (xm < mid - GUTTER_SLACK)
    right_side = vote & ~left & (xm > mid + GUTTER_SLACK)
    n_pages = pgi[-1] + 1
    two = ((np.bincount(pgi[left], minlength=n_pages) >= MIN_SIDE_LINES)
           & (np.bincount(pgi[right_side], minlength=n_pages) >= MIN_SIDE_LINES))
    # reading order: (y, x1) per page; on a two-column page full-width
    # lines open bands, and within a band the left column reads first
    by = np.lexsort((x1, ly, pgi))
    g = pgi[by]
    two_b = two[g]
    full = two_b & (x1[by] < mid - GUTTER_SLACK) & (x2[by] > mid + GUTTER_SLACK)
    band = np.cumsum(full)
    opens = np.flatnonzero(np.r_[True, g[1:] != g[:-1]])
    band -= np.repeat(band[opens] - full[opens], np.diff(np.append(opens, len(g))))
    column_line = two_b & ~full
    col = np.where(column_line, xm[by] >= mid, False)
    ro = by[np.lexsort((x1[by], ly[by], col, column_line, band, g))]
    line_rank = np.empty(len(ro), np.int64)
    line_rank[ro] = np.arange(len(ro))
    return ld, lp, line_rank, line_text
