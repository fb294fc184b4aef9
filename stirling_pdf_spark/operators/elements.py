"""Structured element extraction — the relational form of the
reference's flagship ``POST /convert/pdf/json`` output (E7/E8,
PdfJsonConversionService.java:5533-5882, 5119-5300).

One row per drawable element in mergeDrawables order (per page: media
in draw order at zOrder -1_000_000+i, then coalesced text elements at
+1_000_000+i — :5174, :5378-5421), with the geometry the reference
serializes into PdfJsonTextElement/PdfJsonImageElement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..kernel.coalesce import coalesce_runs
from ..kernel.model import IMAGE_Z_BASE, TEXT_Z_BASE
from ..kernel.tables import by_page
from .extract_pipeline import map_docs

ELEMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("page", T.IntegerType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("media_ref", T.StringType(), True),
    T.StructField("font", T.StringType(), True),
    T.StructField("font_size", T.DoubleType(), True),
    T.StructField("x", T.DoubleType(), False),
    T.StructField("y", T.DoubleType(), False),
    T.StructField("width", T.DoubleType(), True),
    T.StructField("z_order", T.IntegerType(), False),
    T.StructField("seq", T.IntegerType(), False),
])


def _doc_elements(doc_id: str, raw_spans: list[tuple]) -> list[tuple]:
    runs_by_page, _, media_by_page = by_page(raw_spans)
    rows: list[tuple] = []
    for page in sorted(set(runs_by_page) | set(media_by_page)):
        seq = 0
        for i, d in enumerate(media_by_page.get(page, ())):
            rows.append((doc_id, page, "media", None, d.media_ref, None,
                         None, d.x, d.y, d.w, IMAGE_Z_BASE + i, seq))
            seq += 1
        for el in coalesce_runs(runs_by_page.get(page, []),
                                z_base=TEXT_Z_BASE):
            rows.append((doc_id, el.page, "text", el.text, None, el.font,
                         el.font_size, el.x, el.y, el.width, el.z_order, seq))
            seq += 1
    return rows


def page_text(elements: DataFrame, budget: int | None = None) -> DataFrame:
    """E2 per-page sorted text (PdfContentExtractor.java:262-313) with
    the 4,000-char/page budget (:50 MAX_CHARS_PER_PAGE). Output:
    (doc_id, page, n_lines, text)."""
    from pyspark.sql import functions as F

    from ..kernel.model import MAX_CHARS_PER_PAGE

    if budget is None:
        budget = MAX_CHARS_PER_PAGE
    txt = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("z_order", "text"))),
            lambda s: s["text"],
        ),
        "\n",
    )
    return (
        elements.filter(F.col("kind") == "text")
        .groupBy("doc_id", "page")
        .agg(
            F.count("*").alias("n_lines"),
            F.substring(txt, 1, int(budget)).alias("text"),
        )
    )


def extract_elements(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans raw) -> one row per element, mergeDrawables
    order encoded by (page, z_order, seq)."""
    return map_docs(docs, _doc_elements, ELEMENTS_SCHEMA)


def font_info(docs: DataFrame) -> DataFrame:
    """Document font inventory — /analysis/font-info
    (AnalysisController.java:184-206 collects the distinct font names
    over every page's resources, plus their count).

    Font names ride the raw text-run wire head
    ('page|x|y|size|font\\tcontent', kernel/wire.py:11), so the whole
    derivation is JVM-side column algebra: explode -> split_part ->
    collect_set -> array_sort; no Python worker touches a row. Docs
    without text spans report an empty inventory (count 0), exactly
    like a PDF whose pages carry no font resources.

    Scale shape: one partial-agg'd groupBy on doc_id — the collect_set
    is bounded by the font universe per document (tiny), never by page
    count, so hot mega-docs combine map-side.

    Output: (doc_id, font_count, fonts) — fonts name-sorted,
    comma-joined."""
    from pyspark.sql import functions as F

    from .pageops import wire_fields

    flat = docs.select("doc_id", F.explode_outer("spans").alias("s"))
    font = F.when(F.col("s.kind") == "text", wire_fields(F.col("s.text"))[4])
    return (
        flat.groupBy("doc_id")
        .agg(F.array_sort(F.collect_set(font)).alias("farr"))
        .select(
            "doc_id",
            F.size("farr").cast("long").alias("font_count"),
            F.array_join("farr", ",").alias("fonts"),
        )
    )
