"""Extraction kernel: extract_doc, the pure-Python per-document reference
(test oracle), and extract_docs, its Arrow batch form (UDF body)."""

from .extract import extract_doc, extract_docs
from .model import MediaDraw, RawSpan, Span, TextRun

__all__ = [
    "extract_doc",
    "extract_docs",
    "MediaDraw",
    "RawSpan",
    "Span",
    "TextRun",
]
