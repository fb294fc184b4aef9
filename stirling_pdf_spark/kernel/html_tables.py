"""Structured HTML <table> extraction — the web-corpus table miner.

The reference extracts PDF tables (kernel/tables.py mirrors its
lattice/stream detectors); for a web-scale interleaved corpus the
HTML side of the same capability is table MARKUP, which
kernel/html_extract.py's boilerplate scorer deliberately flattens.
This kernel parses <table>/<tr>/<td|th> into positioned cells so a
pipeline can mine table corpora (entity tables, infoboxes,
data-to-text pairs) from crawled HTML.

Documented subset (stated, not silently wrong):
- ``colspan`` advances the column cursor (invalid/missing -> 1,
  clamped to >= 1); ``rowspan`` is IGNORED — cells below a rowspan
  shift left, the common simplification of one-pass extractors.
- Nested tables: a <table> inside a cell opens its own table context
  (cells bind to the INNERMOST open table); table_idx numbers tables
  by their <table> start-tag order in the document.
- Cell text is the whitespace-normalized join of all character data
  inside the cell, including inline markup text.

Pure (html in, cell rows out) — the Spark plumbing (one map_rows
stage over the corpus) lives in functions/html.py, matching the
other HTML kernels.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

_WS_RE = re.compile(r"\s+")

# (table_idx, row_idx, col_idx, is_header, colspan, text)
Cell = tuple[int, int, int, bool, int, str]


class _TableState:
    __slots__ = ("idx", "row", "col", "in_row")

    def __init__(self, idx: int) -> None:
        self.idx = idx
        self.row = -1
        self.col = 0
        self.in_row = False


class _TableParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.cells: list[Cell] = []
        self._n_tables = 0
        self._tables: list[_TableState] = []
        # open cell: (table, row, col, is_header, colspan, chars)
        self._cell: tuple[_TableState, int, int, bool, int, list[str]] | None = None

    @staticmethod
    def _colspan(attrs: list[tuple[str, str | None]]) -> int:
        for k, v in attrs:
            if k == "colspan" and v is not None:
                try:
                    return max(1, int(v.strip()))
                except ValueError:
                    return 1
        return 1

    def _close_cell(self) -> None:
        if self._cell is None:
            return
        t, row, col, is_header, colspan, chars = self._cell
        text = _WS_RE.sub(" ", "".join(chars)).strip()
        self.cells.append((t.idx, row, col, is_header, colspan, text))
        t.col = col + colspan
        self._cell = None

    def handle_starttag(self, tag: str,
                        attrs: list[tuple[str, str | None]]) -> None:
        if tag == "table":
            # a table opening inside an open cell ends that cell's
            # text accumulation (the inner table owns what follows)
            self._close_cell()
            self._tables.append(_TableState(self._n_tables))
            self._n_tables += 1
            return
        if not self._tables:
            return
        t = self._tables[-1]
        if tag == "tr":
            self._close_cell()
            t.row += 1
            t.col = 0
            t.in_row = True
        elif tag in ("td", "th"):
            self._close_cell()
            if not t.in_row:  # cell outside any <tr>: implicit row
                t.row += 1
                t.col = 0
                t.in_row = True
            self._cell = (t, t.row, t.col, tag == "th",
                          self._colspan(attrs), [])

    def handle_endtag(self, tag: str) -> None:
        if not self._tables:
            return
        if tag in ("td", "th"):
            self._close_cell()
        elif tag == "tr":
            self._close_cell()
            self._tables[-1].in_row = False
        elif tag == "table":
            self._close_cell()
            self._tables.pop()

    def handle_data(self, data: str) -> None:
        if self._cell is not None:
            self._cell[5].append(data)

    def close(self) -> None:  # type: ignore[override]
        super().close()
        self._close_cell()


def extract_table_cells(html: str) -> list[Cell]:
    """(table_idx, row_idx, col_idx, is_header, colspan, text) for
    every <td>/<th> in document order."""
    p = _TableParser()
    p.feed(html or "")
    p.close()
    return p.cells
