"""/add-comments: sticky-note annotations at coordinates or anchored
text (AddCommentsController.java:60-180 + PdfTextLocator).

Each CommentSpec carries a 0-based pageIndex, fallback PDF user-space
coordinates (x, y, width, height), the note's text/author/subject and
an optional anchorText. When anchorText is set, the FIRST line on the
target page containing it under the TOLERANT match (case-insensitive,
all non-alphanumerics stripped on both sides — '215000' matches
'$215,000') anchors a 20x20 icon at the line's top-left; a miss falls
back to the coordinates. The same spec list applies to every document
(the batch analogue of the single-file endpoint). Pages resolve
POSITIONALLY (document.getPage(pageIndex)); specs whose pageIndex is
out of range for a document are skipped for it.

Annotations land as kind='annotation' spans on the standard wire
``page|x|y|w|h\\tText|contents|author|subject`` (screen-space y), the
same wire extraction and sanitize already speak.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..kernel.columns import reading_order
from ..kernel.lines import cluster_lines
from ..kernel.tables import by_page
from .extract_pipeline import map_docs

ANCHOR_ICON_SIZE = 20.0
_NON_ALNUM = re.compile(r"[^A-Za-z0-9]")


def _normalize(s: str) -> str:
    return _NON_ALNUM.sub("", s).lower()


def add_comments(docs: DataFrame, comments: list[dict],
                 page_h: float = 792.0) -> DataFrame:
    """docs(doc_id, raw spans) -> docs with one Text annotation per
    applicable spec appended (offset order = spec order)."""
    specs = []
    for d in comments:
        specs.append((
            int(d.get("pageIndex", 0)),
            float(d.get("x", 0.0)), float(d.get("y", 0.0)),
            float(d.get("width", 0.0)), float(d.get("height", 0.0)),
            str(d.get("text", "")), str(d.get("author", "")),
            str(d.get("subject", "")),
            _normalize(d["anchorText"])
            if d.get("anchorText") and str(d["anchorText"]).strip()
            else None,
        ))

    def annotate(did, spans):
        runs_by_page, _, _ = by_page(spans)
        pages = sorted(runs_by_page)
        new_spans = list(spans)
        for pidx, x, y, w, h, text, author, subject, needle in specs:
            if pidx < 0 or pidx >= len(pages):
                continue
            page = pages[pidx]
            loc = None
            if needle:
                lines = reading_order(cluster_lines(runs_by_page[page]))
                for ln in lines:
                    if needle in _normalize(ln.text()):
                        # icon at the matched line's top-left
                        loc = (ln.x1, ln.y1, ANCHOR_ICON_SIZE,
                               ANCHOR_ICON_SIZE)
                        break
            if loc is None:
                # fallback coords arrive in PDF user space
                # (bottom-left origin) -> screen top edge
                loc = (x, page_h - y - h, w, h)
            ax, ay, aw, ah = loc
            body = (f"{page}|{ax!r}|{ay!r}|{aw!r}|{ah!r}"
                    f"\tText|{text}|{author}|{subject}")
            new_spans.append(("annotation", body, "", len(new_spans)))
        return [(did, new_spans)]

    return map_docs(docs, annotate, docs.schema)
