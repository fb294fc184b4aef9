"""Lattice table extraction (reference op E14).

The reference extracts tables with Tabula's LATTICE mode — ruled lines
define a cell grid, text falls into cells, CSV comes out with the
Excel quote-all dialect (TabulaTableParser.java:53-110 mode selection,
PdfContentExtractor.java:110-129 CSV; no colspans, no headers, no
cross-page tables). This reimplements the lattice semantics from that
spec over our wire model:

  * ruled lines arrive as kind='rule' raw spans,
    wire text "{page}|{x1}|{y1}|{x2}|{y2}" — horizontal when y1 == y2,
    vertical when x1 == x2 (other segments ignored, as lattice does);
  * rules are clustered into connected components by bbox overlap
    (±RULE_JOIN_TOLERANCE), so a page may carry SEVERAL tables; each
    component with >= 2 horizontal and >= 2 vertical rules yields one
    grid, tables emitted in (top, left) order;
  * a glyph run belongs to cell (r, c) when its anchor point lies in
    [x_c, x_{c+1}) x [y_r, y_{r+1}); cell text joins its runs in (y, x)
    order with single spaces;
  * output CSV quotes every field (quote-all), rows joined by newline,
    embedded quotes doubled.

STREAM mode (TabulaTableParser.java:56-75 selects between LATTICE and
STREAM; stream is Tabula's whitespace-column algorithm) is implemented
as ``stream_table_csv``: rows are baseline clusters (LINE_Y_TOLERANCE),
column boundaries are the maximal vertical whitespace gaps (wider than
STREAM_COL_GAP) in the union of all run x-extents; needs >= 2 rows and
>= 2 columns to count as a table. It is a user-selected mode (not run
inside extract_doc), exposed by operators/tables_stream.
"""

from __future__ import annotations

from typing import NamedTuple

from . import wire
from .model import CHAR_WIDTH_FACTOR, LINE_Y_TOLERANCE, MediaDraw, TextRun

RULE_JOIN_TOLERANCE = 0.5   # pt — rules whose bboxes come this close join
STREAM_COL_GAP = 14.0       # pt — min whitespace gap that splits columns
                            # (same scale as COLUMN_GAP_X, E5)


class Rule(NamedTuple):
    page: int
    x1: float
    y1: float
    x2: float
    y2: float


def parse_rule(text: str) -> Rule:
    p, x1, y1, x2, y2 = text.split("|", 4)
    return Rule(int(p), float(x1), float(y1), float(x2), float(y2))


def by_page(raw_spans: list[tuple]) -> tuple[dict[int, list[TextRun]],
                                             dict[int, list[Rule]],
                                             dict[int, list[MediaDraw]]]:
    """A doc's raw spans in offset order, parsed and grouped by page:
    (text runs, ruled lines, media draws), each by page; other kinds
    are skipped. The one page parse of every per-doc exporter."""
    runs: dict[int, list[TextRun]] = {}
    rules: dict[int, list[Rule]] = {}
    media: dict[int, list[MediaDraw]] = {}
    for kind, text, ref, _off in sorted(raw_spans, key=lambda s: s[3]):
        if kind == "text":
            r = wire.parse_text_run(text)
            runs.setdefault(r.page, []).append(r)
        elif kind == "rule":
            rl = parse_rule(text)
            rules.setdefault(rl.page, []).append(rl)
        elif kind == "media":
            d = wire.parse_media(text, ref)
            media.setdefault(d.page, []).append(d)
    return runs, rules, media


def encode_rule(rule: Rule) -> str:
    return (f"{rule.page}|{rule.x1!r}|{rule.y1!r}"
            f"|{rule.x2!r}|{rule.y2!r}")


def _csv_field(s: str) -> str:
    return '"' + s.replace('"', '""') + '"'


def _grid_cells(rules: list[Rule],
                runs: list[TextRun]) -> list[list[str]] | None:
    """One rule component's rules + the page's glyph runs -> the cell
    text grid (rows of column strings), or None when the component
    doesn't form a >= 2x2 lattice."""
    hs = sorted({r.y1 for r in rules if r.y1 == r.y2})
    vs = sorted({r.x1 for r in rules if r.x1 == r.x2})
    if len(hs) < 2 or len(vs) < 2:
        return None
    n_rows, n_cols = len(hs) - 1, len(vs) - 1
    cells: list[list[list[TextRun]]] = [
        [[] for _ in range(n_cols)] for _ in range(n_rows)
    ]
    for run in sorted(runs, key=lambda t: (t.y, t.x)):
        if not run.content.strip():
            continue
        r = c = None
        for i in range(n_rows):
            if hs[i] <= run.y < hs[i + 1]:
                r = i
                break
        for j in range(n_cols):
            if vs[j] <= run.x < vs[j + 1]:
                c = j
                break
        if r is not None and c is not None:
            cells[r][c].append(run)
    return [[" ".join(t.content for t in cell) for cell in row]
            for row in cells]


def _grid_csv(rules: list[Rule], runs: list[TextRun]) -> str | None:
    grid = _grid_cells(rules, runs)
    if grid is None:
        return None
    return "\n".join(
        ",".join(_csv_field(f) for f in row) for row in grid)


def _rule_components(rules: list[Rule]) -> list[list[Rule]]:
    """Connected components of rules under bbox-overlap (with
    RULE_JOIN_TOLERANCE slack) — one component per ruled table."""
    n = len(rules)
    boxes = [
        (min(r.x1, r.x2), min(r.y1, r.y2), max(r.x1, r.x2), max(r.y1, r.y2))
        for r in rules
    ]
    parent = list(range(n))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    tol = RULE_JOIN_TOLERANCE
    for i in range(n):
        ax1, ay1, ax2, ay2 = boxes[i]
        for j in range(i + 1, n):
            bx1, by1, bx2, by2 = boxes[j]
            if (ax1 - tol <= bx2 and bx1 - tol <= ax2
                    and ay1 - tol <= by2 and by1 - tol <= ay2):
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[rj] = ri
    groups: dict[int, list[Rule]] = {}
    for i, r in enumerate(rules):
        groups.setdefault(find(i), []).append(r)
    # top-to-bottom, left-to-right table order
    return sorted(
        groups.values(),
        key=lambda g: (min(min(r.y1, r.y2) for r in g),
                       min(min(r.x1, r.x2) for r in g)),
    )


def extract_table_csvs(rules: list[Rule], runs: list[TextRun]) -> list[str]:
    """All lattice tables on one page, in (top, left) order."""
    out = []
    for comp in _rule_components(rules):
        csv = _grid_csv(comp, runs)
        if csv is not None:
            out.append(csv)
    return out


def extract_table_grids(rules: list[Rule],
                        runs: list[TextRun]) -> list[list[list[str]]]:
    """All lattice tables on one page as cell grids, in (top, left)
    order — the SpreadsheetExtractionAlgorithm view the reference's
    pdf->xlsx converter consumes (ConvertPDFToExcelController.java:
    72-101 walks table.getRows() cell by cell)."""
    out = []
    for comp in _rule_components(rules):
        grid = _grid_cells(comp, runs)
        if grid is not None:
            out.append(grid)
    return out


def extract_table_csv(rules: list[Rule], runs: list[TextRun]) -> str | None:
    """First lattice table on the page (legacy single-table view)."""
    csvs = extract_table_csvs(rules, runs)
    return csvs[0] if csvs else None


def stream_table_grid(runs: list[TextRun],
                      min_gap: float = STREAM_COL_GAP) -> list[list[str]] | None:
    """Tabula STREAM mode (whitespace columns) over one page's runs.

    Rows = baseline clusters (|dy| <= LINE_Y_TOLERANCE to the row's
    anchor y, like E5 without the x-gap split); column separators =
    gaps wider than ``min_gap`` in the union of all run x-extents.
    Returns the cell grid (rows x columns of joined cell text), or
    None when fewer than 2 rows or 2 columns emerge (no table). The
    CSV form (stream_table_csv) and the Markdown table renderer both
    consume this one detector."""
    visible = [r for r in runs if r.content.strip()]
    if not visible:
        return None
    visible.sort(key=lambda r: (r.y, r.x))
    # --- rows: anchor-y clustering
    rows: list[list[TextRun]] = []
    anchor = None
    for run in visible:
        if anchor is None or abs(run.y - anchor) > LINE_Y_TOLERANCE:
            rows.append([run])
            anchor = run.y
        else:
            rows[-1].append(run)
    if len(rows) < 2:
        return None
    # --- columns: merged x-intervals, gaps > min_gap split
    intervals = sorted(
        (r.x, r.x + len(r.content) * CHAR_WIDTH_FACTOR * r.font_size)
        for r in visible
    )
    merged: list[list[float]] = []
    for lo, hi in intervals:
        if merged and lo - merged[-1][1] <= min_gap:
            if hi > merged[-1][1]:
                merged[-1][1] = hi
        else:
            merged.append([lo, hi])
    if len(merged) < 2:
        return None
    # separator k sits after merged interval k; assign by anchor x
    bounds = [m[1] + min_gap / 2.0 for m in merged[:-1]]
    n_cols = len(merged)
    grid: list[list[str]] = []
    for row in rows:
        cells: list[list[TextRun]] = [[] for _ in range(n_cols)]
        for run in sorted(row, key=lambda r: (r.y, r.x)):
            c = n_cols - 1
            for k, b in enumerate(bounds):
                if run.x < b:
                    c = k
                    break
            cells[c].append(run)
        grid.append([" ".join(t.content for t in cell) for cell in cells])
    return grid


def stream_table_csv(runs: list[TextRun],
                     min_gap: float = STREAM_COL_GAP) -> str | None:
    """Quote-all CSV of the stream-mode grid (the E14 wire format)."""
    grid = stream_table_grid(runs, min_gap)
    if grid is None:
        return None
    return "\n".join(
        ",".join(_csv_field(f) for f in row) for row in grid)
