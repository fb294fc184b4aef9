"""Positional text search (E13) and the redaction composition (S12).

E13 (TextFinder.java:21-193): find a term in the extracted text, with
the match bbox derived from glyph geometry. In this engine the search
runs over the STRUCTURED ELEMENTS table (operators/elements.py), whose
width model is uniform per element (width / len(text) per char — the
same monospace-ish model the corpus encodes, kernel/model.py
CHAR_WIDTH_FACTOR), so match bboxes are exact, not estimated:

    x1 = el.x + off * cw;  x2 = el.x + (off + len(term)) * cw
    y1 = el.y;             y2 = el.y + font_size

Whole-word mode brackets the pattern exactly like the reference
(TextFinder.java:79-88), including the 1-character lookaround variants
(digit terms must not match inside "3.5" — see kernel.textfind
.build_pattern, the single source of truth for pattern construction).
Everything is column expressions — extract once, search many times
without re-parsing (SURVEY.md §3.2: the reference re-runs TextFinder
per request; the span table makes search a DataFrame filter). The
raw-docs variant, ``text_search_pages``, runs the full TextFinder page
semantics as one ``map_docs`` stage (operators/extract_pipeline.py).

S12 (RedactController / RedactExecuteService.java:125,493-657): search
matches -> remove/mask the matched text. Here redaction is a column
transform over the extracted spans: matched substrings are replaced by
a mask glyph run of equal length, so downstream consumers see stable
offsets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernel.tables import by_page
from ..kernel.textfind import build_pattern as _pattern, find_matches
from .extract_pipeline import map_docs

MASK_CHAR = "█"  # full block

SEARCH_PAGES_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("page", T.LongType(), False),
    T.StructField("match_no", T.LongType(), False),
    T.StructField("x1", T.DoubleType(), False),
    T.StructField("y1", T.DoubleType(), False),
    T.StructField("x2", T.DoubleType(), False),
    T.StructField("y2", T.DoubleType(), False),
    T.StructField("match", T.StringType(), False),
])


def text_search_elements(elements: DataFrame, term: str,
                         regex: bool = False,
                         whole_word: bool = False) -> DataFrame:
    """(doc_id, page, n_matches, x1, y1, x2, y2) — one row per element
    containing >= 1 match; bbox is the FIRST match's box (the all-match
    fan-out is `posexplode` over the same offsets and is exercised in
    tests). first offset = length of the lazy prefix group, the same
    construction DuckDB reproduces for the oracle."""
    pat = _pattern(term, regex, whole_word)
    t = F.col("text")
    n = F.size(F.regexp_extract_all(t, F.lit(pat), 0)).cast("long")
    first_match = F.regexp_extract(t, f"^(.*?)({pat})", 2)
    first_off = F.length(F.regexp_extract(t, f"^(.*?)({pat})", 1))
    cw = F.col("width") / F.length(t)
    return (
        elements.filter(F.col("kind") == "text")
        .withColumn("n_matches", n)
        .filter(F.col("n_matches") > 0)
        .select(
            "doc_id", "page", "n_matches",
            (F.col("x") + first_off * cw).alias("x1"),
            F.col("y").alias("y1"),
            (F.col("x") + (first_off + F.length(first_match)) * cw).alias("x2"),
            (F.col("y") + F.col("font_size")).alias("y2"),
        )
    )


def match_offsets(elements: DataFrame, term: str, regex: bool = False,
                  whole_word: bool = False) -> DataFrame:
    """All matches: (doc_id, page, match_no, off, match_len) via an
    iterative prefix-strip — one row per occurrence, pure column ops."""
    pat = _pattern(term, regex, whole_word)
    t = F.col("text")
    # offsets of every match: split on the pattern, running sum of
    # (part length + matched length); matched lengths from extract_all
    parts = F.split(t, pat, -1)
    matches = F.regexp_extract_all(t, F.lit(pat), 0)
    base = (
        elements.filter(F.col("kind") == "text")
        .select("doc_id", "page", "x", "y", "width", "font_size", "text",
                parts.alias("parts"), matches.alias("matches"))
        .filter(F.size("matches") > 0)
    )
    # running offset: off_i = sum(len(parts[0..i])) + sum(len(matches[0..i-1]))
    offs = F.expr("""
      transform(sequence(0, size(matches) - 1), i ->
        aggregate(slice(parts, 1, i + 1), 0, (a, p) -> a + length(p))
        + aggregate(
            CASE WHEN i = 0 THEN array() ELSE slice(matches, 1, i) END,
            0, (a, m) -> a + length(m)))
    """)
    return base.select(
        "doc_id", "page", "x", "y", "width", "font_size", "text", "matches",
        F.posexplode(offs).alias("match_no", "off"),
    ).select(
        "doc_id", "page", "match_no",
        F.col("off").cast("long").alias("off"),
        F.length(F.element_at("matches", F.col("match_no") + 1))
        .cast("long").alias("match_len"),
        (F.col("x") + F.col("off") * F.col("width") / F.length("text"))
        .alias("x1"),
        F.col("y").alias("y1"),
    )


def text_search_pages(docs: DataFrame, term: str, regex: bool = False,
                      whole_word: bool = False) -> DataFrame:
    """Full TextFinder semantics over the RAW docs table
    (TextFinder.java:21-193): page text accumulated with separator
    nulls, per-match glyph-union bboxes, and the ±5 nearby-position
    fallback for matches that land entirely on inserted separators
    (:139-158). One ``map_docs`` stage.

    Output: (doc_id, page, match_no, x1, y1, x2, y2, match)."""
    def rows(did, spans):
        runs_by_page, _, _ = by_page(spans)
        for page in sorted(runs_by_page):
            for i, m in enumerate(find_matches(runs_by_page[page], term,
                                               regex, whole_word)):
                yield did, page, i, m.x1, m.y1, m.x2, m.y2, m.text

    return map_docs(docs, rows, SEARCH_PAGES_SCHEMA)


def mask_matches(text: Column, pattern: str,
                 mask_char: str = MASK_CHAR) -> Column:
    """Replace every regex match in ``text`` with an equal-length run
    of ``mask_char`` — pure column ops (split on the pattern, then
    re-interleave the parts with masked matches), so variable-length
    matches keep downstream offsets stable without a UDF."""
    parts = F.split(text, pattern, -1)
    matches = F.regexp_extract_all(text, F.lit(pattern), 0)
    tail = F.slice(parts, 2, F.size(parts) - 1)
    return F.concat(
        F.get(parts, 0),
        F.array_join(
            F.zip_with(
                matches, tail,
                lambda m, p: F.concat(
                    F.repeat(F.lit(mask_char), F.length(m)), p)),
            ""))


def auto_redact(spans_out: DataFrame, list_of_text: str | list[str],
                use_regex: bool = False,
                whole_word_search: bool = False,
                mask_char: str = MASK_CHAR) -> DataFrame:
    """/auto-redact (RedactController.java:130-209, redactPdfAuto +
    TextRedactionService.findTextToRedact): the newline-separated term
    list is trimmed, empties dropped (:146-159 rejects an empty list),
    every surviving term compiles through the SAME pattern builder as
    E13 search (kernel/textfind.build_pattern — regex/whole-word
    flags, incl. the 1-char lookaround variants) and all patterns
    apply in ONE scan (:findTextToRedact builds the multi-pattern
    finder once). Redaction itself follows the S12 span convention:
    each match becomes an equal-length mask-glyph run (the reference
    deletes matched glyphs from the content stream and paints boxes;
    the span model keeps offsets stable instead — convertPDFToImage
    raster fallback out of scope). Media/attachment spans pass
    through."""
    terms = (list_of_text.split("\n") if isinstance(list_of_text, str)
             else list(list_of_text))
    terms = [t.strip() for t in terms]
    terms = [t for t in terms if t]
    if not terms:
        raise ValueError("No text patterns provided for redaction")
    pat = "|".join(
        f"(?:{_pattern(t, use_regex, whole_word_search)})" for t in terms)
    return spans_out.select(
        "doc_id",
        F.transform(
            "spans",
            lambda s: s.withField(
                "text", F.when(s["kind"] == "text",
                               mask_matches(s["text"], pat, mask_char))
                .otherwise(s["text"])),
        ).alias("spans"),
    )


def redact_spans(spans_out: DataFrame, term: str,
                 mask_char: str = MASK_CHAR) -> DataFrame:
    """S12: replace every occurrence of `term` in text spans with an
    equal-length run of the mask glyph (offsets stay stable for
    downstream consumers). Media/attachment spans pass through."""
    mask = mask_char * len(term)
    return spans_out.select(
        "doc_id",
        F.transform(
            "spans",
            lambda s: s.withField(
                "text", F.when(s["kind"] == "text",
                               F.replace(s["text"], F.lit(term), F.lit(mask)))
                .otherwise(s["text"])),
        ).alias("spans"),
    )
