"""PDF -> Markdown conversion (reference: PdfMarkdownConverter.java).

Reproduces the reference's TextLine-driven body pipeline over the raw
span model:

  * per-GLYPH median font size across the document is the heading
    baseline (HeadingDetector.java:126-137; fallback 12 when empty);
    a line is '# ' when its dominant size > 1.4x the median, '## '
    above 1.2x — but only when it is at most 12 words and does not
    end like a sentence (. ! ?), never by text matching
    (HeadingDetector.java:36-66);
  * bold-but-not-larger short lines render as **bold labels**, not
    headings (:73-81; bold inferred from the font name containing
    bold/black/heavy/semibold);
  * bullet lines (• ▪ ◦) flush the paragraph and stand alone;
  * body lines join into paragraphs; a vertical gap above a line
    greater than 0.8x the previous line height breaks the paragraph
    (PdfMarkdownConverter.java:416); an appended fragment starting
    with a quote glyph joins without a space (:437-441);
  * soft hyphens repair per line ((\\w+)-\\n([a-z]) -> join, :17);
  * image draws append after a page's text blocks as
    '<image redacted: WxHpt>' placeholders — available metadata only,
    missing fields omitted (:869-905);
  * a paragraph continuing across a page break merges when the next
    page starts lowercase and the previous block does not end with
    sentence punctuation . ? ! : (:907-923 — the reference checks any
    trailing STRING block, and its image placeholders and headings ARE
    strings, so a trailing heading or image placeholder absorbs a
    lowercase continuation too; both quirks kept faithfully and pinned
    in tests);
  * markdown control characters escape before emission: inline
    \\ ` * _ [ ] < > | ~ anywhere, and leading block markers
    (#, -, +, 1. / 1)) at line start (:800-848);
  * blocks join with a blank line.

Table pages render as GitHub-flavoured pipe tables via TableRenderer
semantics (widths = max(3, longest escaped cell), right-padded cells,
a dashed separator under the header row, | escaped as \\|; a
single-row grid degrades to plain lines, :TableRenderer.java:8-78),
with the reference's cross-page table stitching (consecutive table
blocks with matching column counts merge and a repeated header row on
the continuation drops, :924-950) and its never-merge-into-a-table
rule for sentence continuations. Detection uses the already-gated E14
STREAM (whitespace-column) detector page-level in place of the
reference's word-grid block detector (:480-720) — a documented
simplification: a detected table page renders wholly as a table; the
reference can carve a table block out of a prose page.

This module is the one block pipeline of every document export.
``typed_pages`` parses a doc once (kernel/tables.by_page) into
per-page typed blocks; ``_stitch_pages`` runs the cross-page sentence
continuation and then the table stitching. Markdown renders each
block to its string before the stitch; the HTML, XML, DOCX and EPUB
emitters render the stitched typed blocks (``typed_doc_blocks``), and
PPTX renders ``typed_pages`` one slide per page.
"""

from __future__ import annotations

import re
from collections import defaultdict

from . import wire
from .columns import is_two_column, reading_order
from .lines import Line, cluster_lines
from .tables import by_page, stream_table_grid

SOFT_HYPHEN = re.compile(r"(\w+)-\n([a-z])")
ORDERED_MARKER = re.compile(r"^(\d+)([.)])")
INLINE_ESCAPES = set("\\`*_[]<>|~")
MAX_HEADING_WORDS = 12
FALLBACK_MEDIAN = 12.0
_HEADING_MARKS = {"heading1": "# ", "heading2": "## "}


def _escape_markdown(text: str) -> str:
    if not text:
        return text
    out = []
    for c in text:
        if c in INLINE_ESCAPES:
            out.append("\\")
        out.append(c)
    s = "".join(out)
    # leading block markers (positions align: inline escaping never
    # alters the leading chars these rules match)
    if text[0] in "#-+":
        s = "\\" + s
    else:
        m = ORDERED_MARKER.match(text)
        if m:
            i = len(m.group(1))
            s = s[:i] + "\\" + s[i:]
    return s


def _median(values: list[float], fallback: float) -> float:
    if not values:
        return fallback
    values = sorted(values)
    mid = len(values) // 2
    if len(values) % 2 == 0:
        return (values[mid - 1] + values[mid]) / 2.0
    return values[mid]


def _weighted_median(counts: dict[float, int], fallback: float) -> float:
    """Median of a multiset given value -> multiplicity — O(distinct
    values) instead of materializing one float per glyph (this runs
    per document inside the hot mapInArrow kernel)."""
    total = sum(counts.values())
    if total == 0:
        return fallback
    ordered = sorted(counts)
    lo_idx, hi_idx = (total - 1) // 2, total // 2  # 0-based middles
    lo = hi = None
    seen = 0
    for v in ordered:
        seen += counts[v]
        if lo is None and seen > lo_idx:
            lo = v
        if seen > hi_idx:
            hi = v
            break
    return (lo + hi) / 2.0


def _dominant(line: Line, attr: str) -> object:
    """Most common glyph attribute in a line (weighted by run length),
    first-seen wins ties — size for the heading ratio, font name for
    the bold check."""
    counts: dict[object, int] = {}
    order: list[object] = []
    for run in line.runs:
        v = getattr(run, attr)
        if v not in counts:
            order.append(v)
        counts[v] = counts.get(v, 0) + len(run.content)
    return max(order, key=lambda v: counts[v])


def _is_bold(line: Line) -> bool:
    name = str(_dominant(line, "font")).lower()
    return any(t in name for t in ("bold", "black", "heavy", "semibold"))


def _ends_like_sentence(text: str) -> bool:
    return bool(text) and text[-1] in ".!?"


def _ends_with_sentence_punct(text: str) -> bool:
    return bool(text) and text[-1] in ".?!:"


def _heading_kind(line: Line, text: str, median_size: float,
                  median_height: float) -> str:
    if (not text or len(text.split()) > MAX_HEADING_WORDS
            or _ends_like_sentence(text)):
        return ""
    dominant = float(_dominant(line, "font_size"))
    if dominant > 2.0 and median_size > 2.0:
        value, baseline = dominant, median_size
    else:
        value, baseline = line.y2 - line.y1, median_height
    if baseline <= 0.0:
        return ""
    ratio = value / baseline
    if ratio > 1.4:
        return "heading1"
    if ratio > 1.2:
        return "heading2"
    return ""


def _is_bold_label(line: Line, text: str) -> bool:
    if (not text or len(text.split()) > MAX_HEADING_WORDS
            or _ends_like_sentence(text)):
        return False
    return _is_bold(line)


def _typed_page_blocks(lines: list[Line], median_size: float,
                       median_height: float) -> list[tuple[str, str]]:
    """One page's body lines -> TYPED, unescaped blocks (kind, text),
    kind in heading1/heading2/bold/bullet/para."""
    out: list[tuple[str, str]] = []
    para: list[str] = []
    prev_bottom = None
    prev_height = 0.0

    def flush() -> None:
        if para:
            out.append(("para", "".join(para)))
            para.clear()

    for line in lines:
        text = SOFT_HYPHEN.sub(r"\1\2", line.text()).strip()
        if not text:
            continue
        gap = (line.y1 - prev_bottom) if prev_bottom is not None else 0.0
        paragraph_break = prev_height > 0.0 and gap > prev_height * 0.8
        heading = _heading_kind(line, text, median_size, median_height)
        if heading:
            flush()
            out.append((heading, text))
        elif text[0] in "•▪◦":
            flush()
            out.append(("bullet", text))
        elif _is_bold_label(line, text):
            flush()
            out.append(("bold", text))
        elif paragraph_break:
            flush()
            para.append(text)
        else:
            if para:
                joiner = "" if text[0] in "'’‘\"" else " "
                para.append(joiner + text)
            else:
                para.append(text)
        prev_bottom = line.y2
        prev_height = line.y2 - line.y1
    flush()
    return out


def _escape_cell(cell: str) -> str:
    return cell.replace("|", "\\|")


def render_markdown_table(grid: list[list[str]]) -> str:
    """TableRenderer.java:8-78: GFM pipe table — column widths =
    max(3, longest escaped cell), cells right-padded, dashed separator
    under the header; a single-row grid returns its cells as plain
    lines."""
    if not grid:
        return ""
    if len(grid) < 2:
        return "\n".join(_escape_cell(c.strip()) for c in grid[0])
    cols = len(grid[0])
    widths = [3] * cols
    for row in grid:
        for c in range(cols):
            cell = row[c].strip() if c < len(row) else ""
            widths[c] = max(widths[c], len(_escape_cell(cell)))

    def build_row(row: list[str]) -> str:
        out = ["|"]
        for c in range(cols):
            cell = _escape_cell(row[c].strip()) if c < len(row) else ""
            out.append(" " + cell.ljust(widths[c]) + " |")
        return "".join(out)

    lines = [build_row(grid[0]),
             "|" + "".join("-" + "-" * w + "-|" for w in widths)]
    lines += [build_row(r) for r in grid[1:]]
    return "\n".join(lines)


def _stitch_tables(blocks: list[tuple[str, object]]) -> list[tuple[str, object]]:
    """PdfMarkdownConverter.java:924-950: consecutive table blocks
    (nothing between them — one ended a page, the next began the
    following page) merge when their column counts match; a repeated
    header row on the continuation is dropped. Column matching is by
    count here (the reference compares x-layouts; our page-level
    grids have no retained geometry — documented simplification)."""
    out: list[tuple[str, object]] = []
    for kind, payload in blocks:
        if (kind == "table" and out and out[-1][0] == "table"
                and len(out[-1][1][0]) == len(payload[0])):
            prev = out[-1][1]
            tail = payload
            if tail and prev and [c.strip() for c in tail[0]] == \
                    [c.strip() for c in prev[0]]:
                tail = tail[1:]
            out[-1] = ("table", prev + tail)
        else:
            out.append((kind, payload))
    return out


def _image_alt(draw: wire.MediaDraw) -> str:
    parts = []
    if draw.w > 0 and draw.h > 0:
        parts.append(f"{draw.w:.0f}x{draw.h:.0f}pt")
    body = f": {', '.join(parts)}" if parts else ""
    return f"image redacted{body}"


def typed_pages(spans) -> list[tuple[int, list[tuple[str, object]]]]:
    """Raw interleaved spans -> PER-PAGE typed blocks
    [(page, [(kind, payload)])] before cross-page stitching; kind in
    heading1/heading2/bold/bullet/para (unescaped text), table (cell
    grid) and image (alt text). The slide-granular view the PPTX
    exporter consumes; every other exporter stitches these pages."""
    runs_by_page, _, media_by_page = by_page(spans)
    pages = sorted(set(runs_by_page) | set(media_by_page))

    glyph_counts: dict[float, int] = defaultdict(int)
    line_heights: list[float] = []
    lines_by_page: dict[int, list[Line]] = {}
    for page in pages:
        lines = reading_order(cluster_lines(runs_by_page.get(page, [])))
        lines_by_page[page] = lines
        for ln in lines:
            if ln.text().strip():
                line_heights.append(ln.y2 - ln.y1)
            for run in ln.runs:
                glyph_counts[run.font_size] += sum(
                    1 for c in run.content if not c.isspace())
    median_size = _weighted_median(glyph_counts, FALLBACK_MEDIAN)
    median_height = _median(line_heights, FALLBACK_MEDIAN)

    out: list[tuple[int, list[tuple[str, object]]]] = []
    for page in pages:
        # multi-column guard (PdfMarkdownConverter.java:66-79): only
        # genuine two-column prose splits into columns; a table's
        # gutters must not be mistaken for a page-layout gutter — and
        # vice versa, so table detection is SKIPPED on two-column
        # pages (blocks = twoColumn ? List.of() : findTableBlocks)
        page_lines = lines_by_page[page]
        grid = (None if is_two_column(page_lines)
                else stream_table_grid(runs_by_page.get(page, [])))
        if grid is not None and any(
                sum(1 for c in row if c.strip()) < 2 for row in grid):
            # the reference's word-grid rows are lines with >= 2
            # aligned cells (:480-720); a page where some baseline has
            # only one occupied column is prose with a ragged margin
            # (e.g. a sparse trailing column), not a table
            grid = None
        if grid is not None:
            page_items: list[tuple[str, object]] = [("table", grid)]
        else:
            page_items = _typed_page_blocks(
                page_lines, median_size, median_height)
        page_items.extend(
            ("image", _image_alt(d)) for d in media_by_page.get(page, ()))
        out.append((page, page_items))
    return out


def _stitch_pages(pages) -> list[tuple[str, object]]:
    """Per-page blocks -> one document block stream: the cross-page
    sentence continuation (:907-923), then _stitch_tables. A page's
    first paragraph merges into the previous block when it starts
    lowercase and that block is not a table and does not end with
    . ? ! : — tested on the payloads as given, so the Markdown path
    (rendered strings) and the typed emitters (block text) each keep
    their own outcome for a bold label ending in ':'."""
    output: list[tuple[str, object]] = []
    for _page, page_items in pages:
        if output and page_items:
            lk, last = output[-1]
            fk, first = page_items[0]
            if (lk != "table" and fk == "para" and first[0].islower()
                    and not _ends_with_sentence_punct(last)):
                output[-1] = (lk, last + " " + first)
                page_items = page_items[1:]
        output.extend(page_items)
    return _stitch_tables(output)


def typed_doc_blocks(spans) -> list[tuple[str, object]]:
    """Raw interleaved spans -> stitched typed blocks, the document
    stream behind the HTML, XML, DOCX and EPUB emitters."""
    return _stitch_pages(typed_pages(spans))


def _markdown_block(kind: str, payload):
    if kind == "table":
        return payload  # a grid until the tables stitch
    if kind == "image":
        return "<" + payload + ">"
    text = _escape_markdown(payload)
    if kind == "bold":
        return "**" + text + "**"
    return _HEADING_MARKS.get(kind, "") + text


def markdown_doc(spans) -> str:
    """Raw interleaved spans -> Markdown string ('' for empty docs)."""
    pages = [(page, [(k, _markdown_block(k, p)) for k, p in items])
             for page, items in typed_pages(spans)]
    return "\n\n".join(
        render_markdown_table(payload) if kind == "table" else payload
        for kind, payload in _stitch_pages(pages))
