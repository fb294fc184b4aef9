"""PDF -> PPTX structural export (PDFToFile.java presentation path).

The reference converts /convert/pdf/presentation by shelling out to
LibreOffice (``PDFToFile.java:99`` soffice --convert-to pptx) — out of
scope here — so, like the docx/epub exporters, the PPTX path emits
the OOXML *package members* as rows over the proven block pipeline,
with the converter's one structural invariant kept: **one slide per
PDF page** (soffice maps each page to a slide). Slides therefore
consume the PER-PAGE typed blocks (kernel/markdown.typed_pages),
not the cross-page-stitched document stream.

Emission per block kind inside a slide's single text body:

  heading1/heading2 -> bold run at 32pt/24pt (DrawingML sz units
                       of 1/100 pt: 3200/2400)
  bold label        -> bold run
  bullet            -> paragraph with <a:buChar char="•"/>, glyph
                       stripped
  paragraph         -> plain run
  table grid        -> one paragraph per row, cells joined with
                       " | " (documented simplification — DrawingML
                       a:tbl adds no testable semantics here)
  image draw        -> italic placeholder run (same alt text as the
                       HTML exporter)

Members: ``[Content_Types].xml`` (slide overrides are per-doc since
the slide count varies), ``_rels/.rels``, ``ppt/presentation.xml``
(sldIdLst, ids from 256 per ECMA-376 convention),
``ppt/_rels/presentation.xml.rels``, then one
``ppt/slides/slideN.xml`` per page. Empty documents emit no members.
"""

from __future__ import annotations

from .markdown import typed_pages
from .xml_export import escape_xml

_CT_HEAD = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types">\n'
    '<Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/>\n'
    '<Default Extension="xml" ContentType="application/xml"/>\n'
    '<Override PartName="/ppt/presentation.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.presentationml.'
    'presentation.main+xml"/>\n'
)

RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
    '2006/relationships">\n'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" '
    'Target="ppt/presentation.xml"/>\n'
    '</Relationships>'
)

_SLIDE_HEAD = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<p:sld xmlns:a="http://schemas.openxmlformats.org/drawingml/'
    '2006/main" xmlns:p="http://schemas.openxmlformats.org/'
    'presentationml/2006/main">\n'
    '<p:cSld><p:spTree>\n<p:sp><p:txBody>\n'
)

_SLIDE_TAIL = '</p:txBody></p:sp>\n</p:spTree></p:cSld>\n</p:sld>'


def _run_p(text: str, props: str = "") -> str:
    rpr = f"<a:rPr {props}/>" if props else "<a:rPr/>"
    return (f'<a:p><a:r>{rpr}<a:t>{escape_xml(text)}</a:t></a:r></a:p>')


def _bullet_p(text: str) -> str:
    return ('<a:p><a:pPr><a:buChar char="•"/></a:pPr>'
            f'<a:r><a:rPr/><a:t>{escape_xml(text)}</a:t></a:r></a:p>')


def _slide_xml(blocks) -> str:
    parts: list[str] = []
    for kind, payload in blocks:
        if kind == "table":
            parts += [_run_p(" | ".join(c.strip() for c in row))
                      for row in payload]
        elif kind == "heading1":
            parts.append(_run_p(payload, 'b="1" sz="3200"'))
        elif kind == "heading2":
            parts.append(_run_p(payload, 'b="1" sz="2400"'))
        elif kind == "bold":
            parts.append(_run_p(payload, 'b="1"'))
        elif kind == "bullet":
            parts.append(_bullet_p(payload[1:].strip()))
        elif kind == "image":
            parts.append(_run_p(payload, 'i="1"'))
        else:
            parts.append(_run_p(payload))
    return _SLIDE_HEAD + "\n".join(parts) + "\n" + _SLIDE_TAIL


def _content_types(n_slides: int) -> str:
    overrides = "".join(
        f'<Override PartName="/ppt/slides/slide{i + 1}.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.'
        'presentationml.slide+xml"/>\n'
        for i in range(n_slides))
    return _CT_HEAD + overrides + "</Types>"


def _presentation_xml(n_slides: int) -> str:
    slds = "".join(
        f'<p:sldId id="{256 + i}" r:id="rId{i + 1}"/>\n'
        for i in range(n_slides))
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<p:presentation xmlns:p="http://schemas.openxmlformats.org/'
        'presentationml/2006/main" xmlns:r="http://schemas.'
        'openxmlformats.org/officeDocument/2006/relationships">\n'
        f'<p:sldIdLst>\n{slds}</p:sldIdLst>\n'
        '</p:presentation>')


def _presentation_rels(n_slides: int) -> str:
    rels = "".join(
        f'<Relationship Id="rId{i + 1}" Type="http://schemas.'
        'openxmlformats.org/officeDocument/2006/relationships/slide" '
        f'Target="slides/slide{i + 1}.xml"/>\n'
        for i in range(n_slides))
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<Relationships xmlns="http://schemas.openxmlformats.org/'
        'package/2006/relationships">\n'
        f'{rels}</Relationships>')


def pptx_members(doc_id: str, spans) -> list[tuple[int, str, str]]:
    """Raw interleaved spans -> OPC members [(order, member, content)]
    with one slide per page. Empty documents yield no members."""
    pages = typed_pages(spans)
    pages = [(p, blocks) for p, blocks in pages if blocks]
    if not pages:
        return []
    n = len(pages)
    members = [
        (0, "[Content_Types].xml", _content_types(n)),
        (1, "_rels/.rels", RELS),
        (2, "ppt/presentation.xml", _presentation_xml(n)),
        (3, "ppt/_rels/presentation.xml.rels", _presentation_rels(n)),
    ]
    members += [
        (4 + i, f"ppt/slides/slide{i + 1}.xml", _slide_xml(blocks))
        for i, (_p, blocks) in enumerate(pages)]
    return members
