"""File ingestion sources — raw .html / .eml / .txt / .md files on disk (or
object storage) to the interleaved docs table.

This is the user-facing ingestion path the reference exposes as file
uploads (EmlController, ConvertHtmlToPDF, ...): Spark's ``binaryFile``
source reads whole files distributed (one row per file, spillover
governed by ``spark.sql.files.maxPartitionBytes``), and each file
becomes one document:

  * .html  -> a single kind='html' raw span (the kernel's boilerplate
    pipeline takes it from there);
  * .txt   -> the canonical deterministic layout (synth_from_text) —
    plain text carries no geometry, so the engine assigns the same
    8-words/line, 40-lines/page layout the corpus derivations use;
  * .md    -> converted to HTML (commonmark + GFM tables analogue)
             and carried whole as kind='htmlbody';
  * .eml   -> parsed with the stdlib ``email`` package (same RFCs as
    EmlParser.java): Subject/From as meta spans, the preferred body as
    an html span (plain bodies are escaped + autolinked first, the
    EmlProcessingUtils.java:256-284 path), attachments as attachment
    spans with content-hash media_refs.

Each source is one ``map_rows`` stage (operators/extract_pipeline.py)
over the binaryFile rows: the file bytes arrive as ``bytes`` and the
spans leave as tuples, both straight through Arrow; doc_id = the file
name.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.extract_pipeline import map_rows
from .tables import DOCS_SCHEMA


def _file_docs(spark: SparkSession, path: str, glob: str,
               spans_of) -> DataFrame:
    """One doc per file matching ``glob`` under ``path``: doc_id the
    file name, spans ``spans_of(name, content_bytes)``."""
    def gen(p, content):
        name = os.path.basename(p)
        yield name, spans_of(name, content)

    files = (spark.read.format("binaryFile").option("pathGlobFilter", glob)
             .load(path).select("path", "content"))
    return map_rows(files, gen, DOCS_SCHEMA)


def docs_from_html_files(spark: SparkSession, path: str,
                         glob: str = "*.html") -> DataFrame:
    """One doc per .html file: a single raw html span."""
    return _file_docs(spark, path, glob, lambda _name, content: [
        ("html", content.decode("utf-8", "replace"), "", 0)])


def docs_from_markdown_files(spark: SparkSession, path: str,
                             glob: str = "*.md") -> DataFrame:
    """One doc per .md file: converted to HTML (the commonmark + GFM
    tables analogue, ConvertMarkdownToPdf.java:124-150) and carried as
    a kind='htmlbody' span — rendered WHOLE like an EML body, never
    boilerplate-stripped, matching the reference's render-the-whole-
    converted-document behavior."""
    from ..functions.markdown_ingest import markdown_to_html

    return _file_docs(spark, path, glob, lambda _name, content: [
        ("htmlbody", markdown_to_html(content.decode("utf-8", "replace")),
         "", 0)])


def docs_from_text_files(spark: SparkSession, path: str,
                         glob: str = "*.txt") -> DataFrame:
    """One doc per .txt file, laid out with the canonical deterministic
    geometry (plain text carries none of its own)."""
    from ..corpus.synth import synth_from_text

    return _file_docs(spark, path, glob, lambda name, content: synth_from_text(
        name, content.decode("utf-8", "replace"))[1])


def _eml_to_spans(raw: bytes) -> list[tuple]:
    from email import message_from_bytes, policy

    msg = message_from_bytes(raw, policy=policy.default)
    spans: list[tuple] = []
    for key in ("Subject", "From"):
        val = str(msg[key] or "")
        if val:
            spans.append(("meta", f"{key.lower()}|{val}", "", len(spans)))
    body = msg.get_body(preferencelist=("html", "plain"))
    if body is not None:
        content = body.get_content()
        if body.get_content_subtype() != "html":
            # text/plain -> escape, newline -> <br>, URL/email autolink
            # (EmlProcessingUtils.java:256-284, same chain as the H5
            # column path so line structure and links survive ingestion)
            from ..functions.html import text_to_html_py

            content = "<p>" + text_to_html_py(content) + "</p>"
        # EML bodies render whole (EmlToPdf) — kind 'htmlbody' skips
        # the H7 boilerplate/link-density filter in the kernel
        spans.append(("htmlbody", content, "", len(spans)))
    for att in msg.iter_attachments():
        payload = att.get_payload(decode=True) or b""
        ref = "media-" + hashlib.sha256(payload).hexdigest()[:8]
        spans.append(("attachment", att.get_filename() or "", ref,
                      len(spans)))
    return spans


def docs_from_eml_files(spark: SparkSession, path: str,
                        glob: str = "*.eml") -> DataFrame:
    """One doc per .eml file: meta headers + body html + attachments
    (H6 EML parse as an ingestion source)."""
    return _file_docs(spark, path, glob,
                      lambda _name, content: _eml_to_spans(content))


def docs_from_markdown_strings(df: DataFrame, id_col: str = "doc_id",
                               md_col: str = "md") -> DataFrame:
    """(id, markdown string) -> docs table, same conversion as
    docs_from_markdown_files without the filesystem: the gate-able
    form of the /markdown/pdf ingestion path."""
    from ..functions.markdown_ingest import markdown_to_html

    def gen(did, md):
        yield did, [("htmlbody", markdown_to_html(md or ""), "", 0)]

    return map_rows(df.select(id_col, md_col), gen, DOCS_SCHEMA)
