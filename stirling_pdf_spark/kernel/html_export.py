"""PDF -> HTML conversion (reference: PDFToFile.java:99,172-201).

The reference shells out to ``pdftohtml`` for /convert/pdf/html — an
external binary that is out of scope here — so the HTML exporter
renders the Markdown block pipeline's typed blocks
(kernel/markdown.typed_doc_blocks, the PdfMarkdownConverter.java
semantics: glyph-median heading detection, bold labels, bullet
flushes, 0.8x-line-height paragraph breaks, soft-hyphen repair,
cross-page sentence continuation, stream-table detection with the
two-column guard, cross-page table stitching) and swaps the emitter:
HTML tags + entity escaping instead of Markdown markers.

Emission mapping:

  * '# ' / '## ' heading   -> <h1> / <h2>
  * bold label             -> <p><strong>...</strong></p>
  * bullet lines (• ▪ ◦)   -> consecutive bullets group into one
                              <ul> of <li> (bullet glyph stripped)
  * paragraph              -> <p>...</p>
  * table grid             -> <table> with a <thead> header row and
                              <tbody> (a single-row grid degrades to
                              plain <p> cells, like TableRenderer)
  * image draw             -> <img alt="image redacted: WxHpt">
  * whole document         -> <!DOCTYPE html> + <html><body> wrapper
                              (pdftohtml's standalone -s shape)

The cross-page continuation quirk is kept: ANY trailing string block
(heading, bold label, image placeholder) absorbs a lowercase
continuation (PdfMarkdownConverter.java:907-923). The '. ? ! :' stop
test reads the block's text, so a bold label ending in ':' keeps the
continuation as its own <p>; the Markdown path tests the rendered
'**...**' and merges it.
"""

from __future__ import annotations

from .markdown import typed_doc_blocks


def escape_html(text: str) -> str:
    return (text.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;"))


def render_html_table(grid: list[list[str]]) -> str:
    """First row is the header (like the GFM pipe rendering); a
    single-row grid degrades to plain <p> cells."""
    if not grid:
        return ""
    if len(grid) < 2:
        return "\n".join(f"<p>{escape_html(c.strip())}</p>"
                         for c in grid[0])
    parts = ["<table><thead><tr>"]
    parts += [f"<th>{escape_html(c.strip())}</th>" for c in grid[0]]
    parts.append("</tr></thead><tbody>")
    for row in grid[1:]:
        parts.append("<tr>")
        parts += [f"<td>{escape_html(c.strip())}</td>" for c in row]
        parts.append("</tr>")
    parts.append("</tbody></table>")
    return "".join(parts)


def _emit(blocks: list[tuple[str, object]]) -> str:
    """Typed blocks -> HTML body lines; consecutive bullets group."""
    out: list[str] = []
    i = 0
    while i < len(blocks):
        kind, payload = blocks[i]
        if kind == "table":
            out.append(render_html_table(payload))
            i += 1
        elif kind == "bullet":
            items = []
            while i < len(blocks) and blocks[i][0] == "bullet":
                text = blocks[i][1]
                items.append(
                    f"<li>{escape_html(text[1:].strip())}</li>")
                i += 1
            out.append("<ul>" + "".join(items) + "</ul>")
        elif kind == "heading1":
            out.append(f"<h1>{escape_html(payload)}</h1>")
            i += 1
        elif kind == "heading2":
            out.append(f"<h2>{escape_html(payload)}</h2>")
            i += 1
        elif kind == "bold":
            out.append(f"<p><strong>{escape_html(payload)}</strong></p>")
            i += 1
        elif kind == "image":
            out.append(f'<img alt="{escape_html(payload)}">')
            i += 1
        else:
            out.append(f"<p>{escape_html(payload)}</p>")
            i += 1
    return "\n".join(out)


def html_doc(spans) -> str:
    """Raw interleaved spans -> standalone HTML ('' for empty docs)."""
    stitched = typed_doc_blocks(spans)
    if not stitched:
        return ""
    return ("<!DOCTYPE html>\n<html>\n<body>\n" + _emit(stitched)
            + "\n</body>\n</html>")
