"""PDF -> structural XML conversion (reference: /convert/pdf/xml,
``ConvertPDFToOffice.java`` + ``PDFToFile.java:256,334-335``).

The reference shells out to LibreOffice for /convert/pdf/xml — an
external binary that is out of scope here (SCOPE.md) — so the XML
exporter re-uses the PROVEN block pipeline shared with the Markdown
and HTML emitters (kernel/markdown.typed_doc_blocks: glyph-median
heading detection, bold labels, bullet flushes, 0.8x-line-height
paragraph breaks, soft-hyphen repair, cross-page sentence
continuation, stream-table detection, cross-page table stitching)
and swaps the emitter for a minimal structural XML vocabulary:

  * heading1/heading2 -> <heading level="1|2">...</heading>
  * bold label         -> <p><strong>...</strong></p>
  * consecutive bullets -> one <list> of <item> (glyph stripped)
  * paragraph           -> <p>...</p>
  * table grid          -> <table><row><cell>..</cell></row></table>
                           (first row carries header="true", like the
                           HTML thead; single-row grids degrade to
                           plain <p> cells)
  * image draw          -> <image alt="..."/>
  * whole document      -> XML declaration + <document> root

Text content escapes & < >; attribute values additionally escape
double quotes (the XML 1.0 minimum for quoted attributes).
"""

from __future__ import annotations

from .html_export import escape_html
from .markdown import typed_doc_blocks


def escape_xml(text: str) -> str:
    return escape_html(text)


def escape_attr(text: str) -> str:
    return escape_html(text).replace('"', "&quot;")


def render_xml_table(grid: list[list[str]]) -> str:
    if not grid:
        return ""
    if len(grid) < 2:
        return "\n".join(f"<p>{escape_xml(c.strip())}</p>"
                         for c in grid[0])
    parts = ["<table>", '<row header="true">']
    parts += [f"<cell>{escape_xml(c.strip())}</cell>" for c in grid[0]]
    parts.append("</row>")
    for row in grid[1:]:
        parts.append("<row>")
        parts += [f"<cell>{escape_xml(c.strip())}</cell>" for c in row]
        parts.append("</row>")
    parts.append("</table>")
    return "".join(parts)


def _emit_xml(blocks: list[tuple[str, object]]) -> str:
    out: list[str] = []
    i = 0
    while i < len(blocks):
        kind, payload = blocks[i]
        if kind == "table":
            out.append(render_xml_table(payload))
            i += 1
        elif kind == "bullet":
            items = []
            while i < len(blocks) and blocks[i][0] == "bullet":
                text = blocks[i][1]
                items.append(f"<item>{escape_xml(text[1:].strip())}</item>")
                i += 1
            out.append("<list>" + "".join(items) + "</list>")
        elif kind in ("heading1", "heading2"):
            level = "1" if kind == "heading1" else "2"
            out.append(f'<heading level="{level}">{escape_xml(payload)}'
                       "</heading>")
            i += 1
        elif kind == "bold":
            out.append(f"<p><strong>{escape_xml(payload)}</strong></p>")
            i += 1
        elif kind == "image":
            out.append(f'<image alt="{escape_attr(payload)}"/>')
            i += 1
        else:
            out.append(f"<p>{escape_xml(payload)}</p>")
            i += 1
    return "\n".join(out)


def xml_doc(spans) -> str:
    """Raw interleaved spans -> structural XML ('' for empty docs)."""
    stitched = typed_doc_blocks(spans)
    if not stitched:
        return ""
    return ('<?xml version="1.0" encoding="UTF-8"?>\n<document>\n'
            + _emit_xml(stitched) + "\n</document>")
