"""PDF -> DOCX structural export (PDFToFile.java word-processor path).

The reference converts /convert/pdf/word by shelling out to
LibreOffice (``PDFToFile.java:99`` soffice --convert-to docx) — an
external binary that is out of scope here — so, exactly like the
pdf->html / pdf->xml / pdf->epub exporters, the DOCX path re-uses the
PROVEN typed-block pipeline (kernel/markdown.typed_doc_blocks:
glyph-median headings, bold labels, bullet grouping, stream tables,
cross-page stitching) and emits the OOXML *package members* as rows:

  * ``[Content_Types].xml`` and ``_rels/.rels`` — constant OPC
    skeleton (ECMA-376 Part 2).
  * ``word/styles.xml`` — constant minimal style table declaring
    Heading1/Heading2/ListParagraph so the pStyle references resolve.
  * ``word/document.xml`` — the WordprocessingML body:

      heading1/heading2 -> <w:p> with <w:pStyle w:val="Heading{n}"/>
      bold label        -> single bold run paragraph (<w:b/>)
      bullet group      -> one ListParagraph <w:p> per item, bullet
                           glyph stripped (the soffice list shape)
      paragraph         -> plain <w:p><w:r><w:t>
      table grid        -> <w:tbl> with <w:tr>/<w:tc>, first row bold
                           (the converter's header heuristic)
      image draw        -> italic placeholder run (same alt text as
                           the HTML exporter's <img alt>)

XML text nodes escape &<> (kernel/xml_export.escape_xml) and w:t
carries ``xml:space="preserve"`` so leading/trailing spaces survive
(OOXML §17.3.3.31).  A downstream zip writer storing members verbatim
yields a spec-shaped .docx; keeping members as rows is what lets the
export stay one narrow Arrow stage at 100 TB.
"""

from __future__ import annotations

from .markdown import typed_doc_blocks
from .xml_export import escape_xml

CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types">\n'
    '<Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/>\n'
    '<Default Extension="xml" ContentType="application/xml"/>\n'
    '<Override PartName="/word/document.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.wordprocessingml.document.'
    'main+xml"/>\n'
    '<Override PartName="/word/styles.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.wordprocessingml.styles+xml"/>\n'
    '</Types>'
)

RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
    '2006/relationships">\n'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" '
    'Target="word/document.xml"/>\n'
    '</Relationships>'
)

_STYLE = (
    '<w:style w:type="paragraph" w:styleId="{sid}">'
    '<w:name w:val="{name}"/></w:style>'
)

STYLES_XML = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<w:styles xmlns:w="http://schemas.openxmlformats.org/'
    'wordprocessingml/2006/main">\n'
    + _STYLE.format(sid="Heading1", name="heading 1") + "\n"
    + _STYLE.format(sid="Heading2", name="heading 2") + "\n"
    + _STYLE.format(sid="ListParagraph", name="List Paragraph") + "\n"
    + '</w:styles>'
)

_DOC_HEAD = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<w:document xmlns:w="http://schemas.openxmlformats.org/'
    'wordprocessingml/2006/main">\n<w:body>\n'
)

_DOC_TAIL = '<w:sectPr/>\n</w:body>\n</w:document>'


def _t(text: str) -> str:
    return f'<w:t xml:space="preserve">{escape_xml(text)}</w:t>'


def _para(text: str, style: str | None = None,
          bold: bool = False, italic: bool = False) -> str:
    ppr = f'<w:pPr><w:pStyle w:val="{style}"/></w:pPr>' if style else ""
    rpr = ""
    if bold or italic:
        rpr = ("<w:rPr>" + ("<w:b/>" if bold else "")
               + ("<w:i/>" if italic else "") + "</w:rPr>")
    return f'<w:p>{ppr}<w:r>{rpr}{_t(text)}</w:r></w:p>'


def _table(grid: list[list[str]]) -> str:
    """First row renders bold (header heuristic); single-row grids
    degrade to plain cell paragraphs like the HTML exporter."""
    if len(grid) < 2:
        return "\n".join(_para(c.strip()) for c in grid[0])
    rows = []
    for ri, row in enumerate(grid):
        cells = "".join(
            f'<w:tc>{_para(c.strip(), bold=(ri == 0))}</w:tc>'
            for c in row)
        rows.append(f'<w:tr>{cells}</w:tr>')
    return "<w:tbl>" + "".join(rows) + "</w:tbl>"


def _emit_docx(blocks: list[tuple[str, object]]) -> str:
    out: list[str] = []
    for kind, payload in blocks:
        if kind == "table":
            out.append(_table(payload))
        elif kind == "heading1":
            out.append(_para(payload, style="Heading1"))
        elif kind == "heading2":
            out.append(_para(payload, style="Heading2"))
        elif kind == "bold":
            out.append(_para(payload, bold=True))
        elif kind == "bullet":
            out.append(_para(payload[1:].strip(), style="ListParagraph"))
        elif kind == "image":
            out.append(_para(payload, italic=True))
        else:
            out.append(_para(payload))
    return "\n".join(out)


def docx_members(doc_id: str, spans) -> list[tuple[int, str, str]]:
    """Raw interleaved spans -> OPC members [(order, member, content)].

    Empty documents yield no members (same convention as html_doc /
    epub_members)."""
    blocks = typed_doc_blocks(spans)
    if not blocks:
        return []
    document = _DOC_HEAD + _emit_docx(blocks) + "\n" + _DOC_TAIL
    return [
        (0, "[Content_Types].xml", CONTENT_TYPES),
        (1, "_rels/.rels", RELS),
        (2, "word/styles.xml", STYLES_XML),
        (3, "word/document.xml", document),
    ]
