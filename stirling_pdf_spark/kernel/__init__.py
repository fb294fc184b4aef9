"""Pure-Python extraction kernel (UDF body == test oracle)."""

from .extract import extract_doc
from .model import MediaDraw, RawSpan, Span, TextRun

__all__ = [
    "extract_doc",
    "MediaDraw",
    "RawSpan",
    "Span",
    "TextRun",
]
