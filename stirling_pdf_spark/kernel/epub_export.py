"""PDF -> EPUB structural export (ConvertPDFToEpubController.java).

The reference shells out to Calibre's ``ebook-convert`` binary
(ConvertPDFToEpubController.java:34-60) — an external tool that is
out of scope here — so, exactly like the pdf->html path
(kernel/html_export.py), the EPUB exporter re-uses the PROVEN block
pipeline and emits the OCF container *members* deterministically:

  * chapter detection keeps the reference's contract: Calibre is
    invoked with ``--chapter`` set to the XPath
    ``//h:*[re:test(., '\\s*Chapter\\s+', 'i')]``
    (ConvertPDFToEpubController.java:26-27, SMART_CHAPTER_EXPRESSION)
    — i.e. any HEADING whose text contains ``Chapter<space>`` case-
    insensitively starts a new spine item.  Here the same regex runs
    over the typed heading blocks (heading1/heading2) from
    kernel/markdown.typed_doc_blocks.
  * blocks before the first chapter heading become a front-matter
    spine item ``chapter-0`` (Calibre's implicit "Start" section).
  * each spine item is a standalone XHTML document (EPUB 3 flavour,
    XHTML namespace) whose body is the html_export emission of its
    blocks — same escaping, same bullet grouping, same table shape.
  * the OCF skeleton is emitted as MEMBERS of the container, not a
    zip (the engine's sinks are columnar):  ``mimetype`` (which OCF
    3.0 §3.3 requires to be the FIRST, uncompressed entry — recorded
    here as member order 0), ``META-INF/container.xml``,
    ``OEBPS/content.opf`` (package manifest + spine, dc:identifier
    and dc:title = the document id), and ``OEBPS/nav.xhtml`` (the
    EPUB 3 nav doc listing the chapters).

A downstream zip writer that stores members in ``order`` with member
0 uncompressed produces a spec-shaped .epub; keeping members as rows
is what lets the export stay one narrow Arrow stage at 100 TB.
"""

from __future__ import annotations

import re

from .html_export import _emit, escape_html
from .markdown import typed_doc_blocks

# SMART_CHAPTER_EXPRESSION parity (re:test is a SEARCH, not a match)
CHAPTER_RE = re.compile(r"\s*Chapter\s+", re.IGNORECASE)

MIMETYPE = "application/epub+zip"

CONTAINER_XML = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<container version="1.0" xmlns="urn:oasis:names:tc:opendocument:'
    'xmlns:container">\n'
    '<rootfiles>\n'
    '<rootfile full-path="OEBPS/content.opf" '
    'media-type="application/oebps-package+xml"/>\n'
    '</rootfiles>\n'
    '</container>'
)

_XHTML_HEAD = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<!DOCTYPE html>\n'
    '<html xmlns="http://www.w3.org/1999/xhtml">\n'
    '<head>\n<title>{title}</title>\n</head>\n<body>\n'
)


def _xhtml(title: str, body: str) -> str:
    return (_XHTML_HEAD.format(title=escape_html(title))
            + body + "\n</body>\n</html>")


def _split_chapters(blocks):
    """Typed blocks -> [(title, blocks)] split at Chapter headings.

    The front-matter group (blocks before the first matching heading)
    keeps an empty-title sentinel; callers label it chapter-0."""
    groups: list[tuple[str, list]] = []
    title = ""
    current: list = []
    for kind, payload in blocks:
        if kind in ("heading1", "heading2") and CHAPTER_RE.search(payload):
            if current:
                groups.append((title, current))
            title = payload
            current = [(kind, payload)]
        else:
            current.append((kind, payload))
    if current:
        groups.append((title, current))
    return groups


def _content_opf(doc_id: str, names: list[str], titles: list[str]) -> str:
    ident = escape_html(doc_id)
    items = "".join(
        f'<item id="{n[:-6]}" href="{n}" '
        'media-type="application/xhtml+xml"/>\n'
        for n in names)
    spine = "".join(f'<itemref idref="{n[:-6]}"/>\n' for n in names)
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<package xmlns="http://www.idpf.org/2007/opf" version="3.0" '
        'unique-identifier="bookid">\n'
        '<metadata xmlns:dc="http://purl.org/dc/elements/1.1/">\n'
        f'<dc:identifier id="bookid">{ident}</dc:identifier>\n'
        f'<dc:title>{ident}</dc:title>\n'
        '<dc:language>en</dc:language>\n'
        '</metadata>\n'
        '<manifest>\n'
        '<item id="nav" href="nav.xhtml" '
        'media-type="application/xhtml+xml" properties="nav"/>\n'
        f'{items}'
        '</manifest>\n'
        f'<spine>\n{spine}</spine>\n'
        '</package>'
    )


def _nav_xhtml(names: list[str], titles: list[str]) -> str:
    lis = "".join(
        f'<li><a href="{n}">{escape_html(t)}</a></li>\n'
        for n, t in zip(names, titles))
    body = ('<nav epub:type="toc" '
            'xmlns:epub="http://www.idpf.org/2007/ops">\n'
            f'<ol>\n{lis}</ol>\n</nav>')
    return _xhtml("Contents", body)


def epub_members(doc_id: str, spans) -> list[tuple[int, str, str]]:
    """Raw interleaved spans -> OCF members [(order, member, content)].

    Empty documents yield no members (same convention as html_doc).
    Member 0 is ``mimetype`` — OCF requires it first and uncompressed;
    the order column carries that contract to the zip writer."""
    blocks = typed_doc_blocks(spans)
    if not blocks:
        return []
    groups = _split_chapters(blocks)
    start = 0 if groups and groups[0][0] == "" else 1
    names, titles, chapters = [], [], []
    for i, (title, blks) in enumerate(groups):
        name = f"chapter-{start + i}.xhtml"
        shown = title if title else doc_id
        names.append(name)
        titles.append(shown)
        chapters.append((name, _xhtml(shown, _emit(blks))))
    members = [
        (0, "mimetype", MIMETYPE),
        (1, "META-INF/container.xml", CONTAINER_XML),
        (2, "OEBPS/content.opf", _content_opf(doc_id, names, titles)),
        (3, "OEBPS/nav.xhtml", _nav_xhtml(names, titles)),
    ]
    members += [(4 + i, f"OEBPS/{n}", c)
                for i, (n, c) in enumerate(chapters)]
    return members
