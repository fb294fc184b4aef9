"""The extraction kernel: raw interleaved segments -> ordered spans.

``extract_doc`` is THE per-document semantics of the engine. It is the
body of the Spark Arrow UDF stage (operators/extract_pipeline.py) AND
the pytest oracle, so Spark-vs-oracle equality tests check plumbing +
determinism, not two diverging implementations (SURVEY.md §5).

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

from . import wire
from .attachments import fallback_name, unique_names
from .html_extract import extract_all_blocks, extract_main_blocks
from .tables import extract_table_csvs, parse_rule
from .lines import cluster_lines
from .columns import reading_order
from .model import (
    MAX_CHARS_PER_CHUNK,
    MAX_CHUNKS_PER_DOC,
    MediaDraw,
    Span,
    TextRun,
)


def extract_doc(raw_spans, chunk_budget: int | None = MAX_CHUNKS_PER_DOC) -> list[Span]:
    """raw_spans: iterable of (kind, text, media_ref, offset) tuples (or
    objects indexable the same way). Returns extraction-result spans in
    reading order; ``order`` == list index.

    ``chunk_budget=None`` disables the 2000-text-chunk cap — used by the
    salted mega-doc path, where the cap is re-applied globally at
    reassembly (operators/extract_pipeline.py) so that
    salted == unsalted == oracle."""
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
    budget = float("inf") if chunk_budget is None else chunk_budget

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
            if budget <= 0:
                break
            text = line.text()[:MAX_CHARS_PER_CHUNK]
            out.append(Span("text", text, "", len(out)))
            budget -= 1
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
            if budget <= 0:
                break
            out.append(Span("text", block[:MAX_CHARS_PER_CHUNK], "", len(out)))
            budget -= 1

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
# segment order, of extract_doc(chunk_budget=None) over each segment's
# raw spans, with the text-chunk budget then applied across the whole
# (the salted mega-doc path, operators/extract_pipeline.py). It follows
# the output order above: metadata; AcroForm fields, which open segment
# 0; page-scoped kinds by wire page // pages_per_bucket (a kind's page
# is the first "|" field of its text); html blocks; bookmarks;
# attachments. Any other kind falls in segment 0.
PAGE_KINDS = ("text", "media", "rule", "pagemeta", "annotation")
FIXED_SEGMENTS = {
    "meta": -1,
    "html": (1 << 30) - 1,
    "htmlbody": (1 << 30) - 1,
    "bookmark": 1 << 30,
    "attachment": (1 << 30) + 1,
}


def segment_of(kind: str, text: str, pages_per_bucket: int) -> int:
    """Reading-order segment of one raw span (see PAGE_KINDS)."""
    if kind in PAGE_KINDS:
        return int(text.split("|", 1)[0]) // pages_per_bucket
    return FIXED_SEGMENTS.get(kind, 0)
