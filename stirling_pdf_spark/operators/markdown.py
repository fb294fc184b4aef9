"""PDF -> Markdown export operator (PdfMarkdownConverter.java).

Every export here is one ``map_docs`` stage over the raw docs table
(operators/extract_pipeline.py): the whole conversion is per-document
kernel work (kernel/markdown.py), and empty documents emit no row (the
reference returns an empty body for a pageless doc; absence keeps the
gate aligned with the e1-style full-text queries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..kernel.markdown import markdown_doc
from .extract_pipeline import map_docs

MARKDOWN_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("markdown", T.StringType(), False),
])


HTML_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("html", T.StringType(), False),
])


def _render(docs: DataFrame, render, schema: T.StructType) -> DataFrame:
    """(doc_id, one rendered string) per doc whose render is non-empty."""
    def rows(did, spans):
        out = render(spans)
        return [(did, out)] if out else []

    return map_docs(docs, rows, schema)


def to_html(docs: DataFrame) -> DataFrame:
    """PDF -> standalone HTML (/convert/pdf/html; the reference
    delegates to the external pdftohtml binary, PDFToFile.java:99,
    172-201 — here the one block pipeline, kernel/markdown.py,
    re-emits as HTML via kernel/html_export.py).
    docs(doc_id, spans raw) -> (doc_id, html); empty documents emit
    no row."""
    from ..kernel.html_export import html_doc

    return _render(docs, html_doc, HTML_SCHEMA)


XML_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("xml", T.StringType(), False),
])


def to_xml(docs: DataFrame) -> DataFrame:
    """PDF -> structural XML (/convert/pdf/xml; the reference
    delegates to the out-of-scope LibreOffice binary,
    PDFToFile.java:256,334-335 — here the proven block pipeline
    re-emits a minimal structural vocabulary, kernel/xml_export.py).
    docs(doc_id, spans raw) -> (doc_id, xml); empty documents emit
    no row."""
    from ..kernel.xml_export import xml_doc

    return _render(docs, xml_doc, XML_SCHEMA)


def to_markdown(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans raw) -> (doc_id, markdown)."""
    return _render(docs, markdown_doc, MARKDOWN_SCHEMA)


EPUB_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("ord", T.IntegerType(), False),
    T.StructField("member", T.StringType(), False),
    T.StructField("content", T.StringType(), False),
])


def _to_members(docs: DataFrame, members_fn) -> DataFrame:
    """Shared container-export stage: per-document kernel fn
    ``(doc_id, spans) -> [(order, member, content)]`` fanned into one
    row per member; empty docs emit no rows."""
    return map_docs(
        docs, lambda did, spans: ((did, *m) for m in members_fn(did, spans)),
        EPUB_SCHEMA)


def to_epub(docs: DataFrame) -> DataFrame:
    """PDF -> EPUB structural export (/convert/pdf/epub; the reference
    delegates to Calibre's ebook-convert binary,
    ConvertPDFToEpubController.java:34-60 — here the OCF members are
    emitted deterministically over the shared block pipeline,
    kernel/epub_export.py, with the reference's
    SMART_CHAPTER_EXPRESSION chapter rule). docs(doc_id, spans raw) ->
    one row per container member (doc_id, ord, member, content)."""
    from ..kernel.epub_export import epub_members

    return _to_members(docs, epub_members)


def to_pptx(docs: DataFrame) -> DataFrame:
    """PDF -> PPTX structural export (/convert/pdf/presentation; the
    reference delegates to LibreOffice, PDFToFile.java:99 — here the
    OOXML package members emit deterministically with ONE SLIDE PER
    PAGE over the per-page block view, kernel/pptx_export.py).
    docs(doc_id, spans raw) -> one row per OPC member."""
    from ..kernel.pptx_export import pptx_members

    return _to_members(docs, pptx_members)


def to_docx(docs: DataFrame) -> DataFrame:
    """PDF -> DOCX structural export (/convert/pdf/word; the reference
    delegates to LibreOffice, PDFToFile.java:99 — here the OOXML
    package members emit deterministically over the shared block
    pipeline, kernel/docx_export.py). docs(doc_id, spans raw) -> one
    row per OPC member (doc_id, ord, member, content)."""
    from ..kernel.docx_export import docx_members

    return _to_members(docs, docx_members)
