"""Wire format for raw interleaved segments.

The input table (BASELINE.json ``input_hint``) is
``docs(doc_id, spans: array<struct<kind,text,media_ref,offset:int32>>)``.
Raw 'text' and 'media' spans need geometry for reading-order
reconstruction, so their ``text`` field carries a compact positional
header — the moral equivalent of the content-stream coordinates PDFBox
reports via TextPosition.getXDirAdj()/getYDirAdj() (screen space,
origin top-left; reference: PdfTextChunkExtractor.java:100-112).

    text run : "{page}|{x}|{y}|{font_size}|{font}\t{content}"
    media    : "{page}|{x}|{y}|{w}|{h}"            (media_ref set)
    rule     : "{page}|{x1}|{y1}|{x2}|{y2}"        (kernel/tables.py)
    pagemeta : "{page}|{width}|{height}|{rotation}|{label}"
               (page state — the reference's PdfJsonPage.java:18-33
               carries width/height/rotation per page; rotation is what
               FilterController.java:229-245 filters on)
    annot    : "{page}|{x}|{y}|{w}|{h}\t{subtype}|{contents}|{author}|{subject}"
               (PdfJsonAnnotation: subtype/contents/rect/author/subject,
               PdfJsonConversionService.java:2553-2610; rect stored
               media-style as top-left + extent so geometry operators
               share the media code path)
    formfld  : "{name}|{type}|{value}"              (AcroForm field —
               AnalysisController.java /form-fields: name, field type,
               value; type 'signature' marks a signature field)
    attach   : "{filename-or-empty}"               (media_ref set)
    html     : raw markup

All page-scoped kinds share the 5-field "{page}|f1|f2|f3|f4" header so
page-rewriting operators (merge/split/rearrange) treat them uniformly.
The header is the text before the FIRST tab, split as split("|", 4) so
the fifth field keeps any "|"; the body is everything after that first
tab, tabs included. On the Spark side the wire codec of
operators/pageops.py (wire_fields, wire_page, wire_body, wire_text,
wire_repage) is the one reader and writer of this header.

Coordinates are formatted with repr(float) so parse(format(v)) == v
exactly — determinism of the span-equality contract depends on it.
"""

from __future__ import annotations

from .model import MediaDraw, TextRun

_SEP = "\t"


def encode_text_run(run: TextRun) -> str:
    head = f"{run.page}|{run.x!r}|{run.y!r}|{run.font_size!r}|{run.font}"
    return head + _SEP + run.content


def parse_text_run(text: str) -> TextRun:
    # one split pass: the 5th "|" field is "font\tcontent" (neither
    # font names nor the 4 numeric fields can contain the tab)
    page_s, x_s, y_s, fs_s, rest = text.split("|", 4)
    font, _, content = rest.partition(_SEP)
    return TextRun(int(page_s), float(x_s), float(y_s), float(fs_s), font, content)


def encode_media(draw: MediaDraw) -> str:
    return f"{draw.page}|{draw.x!r}|{draw.y!r}|{draw.w!r}|{draw.h!r}"


def encode_pagemeta(page: int, width: float, height: float,
                    rotation: int, label: str = "") -> str:
    return f"{page}|{width!r}|{height!r}|{rotation}|{label}"


def parse_pagemeta(text: str) -> tuple[int, float, float, int, str]:
    page_s, w_s, h_s, rot_s, label = text.split("|", 4)
    return int(page_s), float(w_s), float(h_s), int(rot_s), label


def parse_media(text: str, media_ref: str) -> MediaDraw:
    page_s, x_s, y_s, w_s, h_s = text.split("|", 4)
    return MediaDraw(int(page_s), float(x_s), float(y_s), float(w_s), float(h_s), media_ref)
