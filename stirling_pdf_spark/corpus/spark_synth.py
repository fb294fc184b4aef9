"""Distributed corpus materialization.

Sources for the interleaved-docs table (all deterministic, no
external data):
  * ``synth_docs_df`` — archetype corpus from doc indices
    (spark.range -> map_rows(synth_doc)); generation is distributed,
    so bench corpora never bottleneck on the driver;
  * ``docs_from_documents_table`` and the other ``docs_*_from_documents``
    — derived 1:1 from the driver's read-only ``documents`` parquet
    (``docs_media_from_documents`` as one JVM projection, the others
    via a corpus.synth derivation such as synth_from_text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernel import wire
from ..kernel.model import TextRun
from ..operators.extract_pipeline import map_rows, spread
from ..sources.tables import DOCS_SCHEMA, read_table
from .synth import synth_doc, synth_from_text

def synth_docs_df(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    mega_pages: tuple[int, int] = (1000, 1500),
    num_partitions: int | None = None,
) -> DataFrame:
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism

    def gen(i):
        doc_id, _, spans = synth_doc(i, seed, mega_pages)
        yield doc_id, spans

    return map_rows(spark.range(0, n_docs, numPartitions=num_partitions),
                    gen, DOCS_SCHEMA)


def twocol_from_text(doc_id: str, text: str):
    """Derive a TWO-COLUMN interleaved document from plain text:
    5 words per line; page = line//20; within a page lines 0-9 fill the
    left column (x=72) top-down and lines 10-19 the right column
    (x=352), rows at y = 72 + 14*row. EMISSION order interleaves
    right-then-left per row (content-stream order != reading order), so
    the kernel's column vote + reading-order reconstruction must
    restore the original line sequence. All geometry is chosen so the
    vote outcome is a closed-form function of line lengths (a line
    votes iff len >= 19, i.e. width 5.5*len >= 100; max word length 8
    keeps every line under the full-width threshold)."""
    words = text.split()
    lines = [" ".join(words[i:i + 5]) for i in range(0, len(words), 5)]
    per_page: dict[int, list[tuple[int, str]]] = {}
    for j, line in enumerate(lines):
        per_page.setdefault(j // 20, []).append((j % 20, line))
    spans: list[tuple[str, str, str, int]] = []
    for pg in sorted(per_page):
        slots = dict(per_page[pg])
        for row in range(10):
            # right first, then left: scrambled emission
            for m, x in ((row + 10, 352.0), (row, 72.0)):
                if m in slots:
                    run = TextRun(pg + 1, x, 72.0 + 14.0 * row, 11.0,
                                  "Helvetica", slots[m])
                    spans.append(("text", wire.encode_text_run(run),
                                  "", len(spans)))
    return doc_id, spans


def _derive_docs(spark: SparkSession, sf_dir: str, derive) -> DataFrame:
    """documents(doc_id, text) -> docs(doc_id, spans) via a pure
    (doc_id, text) -> (doc_id, raw_spans) derivation, distributed.

    The ``documents`` scan is ``spread`` on doc_id first.
    Measured at sf0.1/local[32]: repeat-corpus derivation 4.5 s -> 1.0 s,
    and every downstream narrow Python stage (decoders, exporters)
    inherits the parallelism instead of the scan's single partition."""
    docs = spread(read_table(spark, sf_dir, "documents")
                  .select("doc_id", "text"), "doc_id")

    def gen(doc_id, text):
        yield derive(f"doc-{doc_id}", text or "")

    return map_rows(docs, gen, DOCS_SCHEMA)


def docs_media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One media span per ``documents`` row, ref
    ``media-<first 8 hex of sha256(text)>``: the raw docs of every
    media-decode, audio, image-hash and image-metadata gate, as one JVM
    projection (no Python stage)."""
    sha = F.lower(F.sha2(F.col("text").cast("binary"), 256))
    return read_table(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
        .alias("doc_id"),
        F.array(
            F.struct(
                F.lit("media").alias("kind"),
                F.lit("1|100.0|650.0|200.0|120.0").alias("text"),
                F.concat(F.lit("media-"), F.substring(sha, 1, 8))
                .alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
        ).alias("spans"),
    )


def docs_twocol_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _derive_docs(spark, sf_dir, twocol_from_text)


def docs_from_documents_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _derive_docs(spark, sf_dir, synth_from_text)


def docs_tables_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two lattice tables per doc (E14 multi-table gate)."""
    from .synth import tables_from_text

    return _derive_docs(spark, sf_dir, tables_from_text)


def docs_single_table_from_documents(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """One lattice table per doc (the pdf->xlsx single-sheet path)."""
    from .synth import single_table_from_text

    return _derive_docs(spark, sf_dir, single_table_from_text)


def docs_stream_table_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One whitespace-column table page per doc (E14 stream gate)."""
    from .synth import stream_table_from_text

    return _derive_docs(spark, sf_dir, stream_table_from_text)


def docs_rich_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Titled, multi-font, bookmarked, annotated corpus
    (E18/S4/E17 gates)."""
    from .synth import rich_from_text

    return _derive_docs(spark, sf_dir, rich_from_text)


def docs_repeat_from_documents(spark: SparkSession, sf_dir: str,
                               times: int = 32) -> DataFrame:
    """Multi-page variant of docs_from_documents_table: the document
    text repeated ``times`` over (space-joined) before synthesis, so
    sf docs span 1-10 pages — the corpus for page-permutation gates
    that need several groups of pages (S6 side-stitch / custom order).
    32 repeats of 8-words-per-line text give EXACTLY 4*n_words lines,
    which keeps the oracle's line arithmetic closed-form."""
    def derive(doc_id: str, text: str):
        return synth_from_text(doc_id, " ".join([text] * times)
                               if text else "")

    return _derive_docs(spark, sf_dir, derive)


def docs_rich_repeat_from_documents(spark: SparkSession, sf_dir: str,
                                    times: int = 32) -> DataFrame:
    """Multi-page RICH corpus (title + fonts + bookmarks + annotations
    over 1-10 pages) — the per-page E17 info gate's input."""
    from .synth import rich_from_text

    def derive(doc_id: str, text: str):
        return rich_from_text(doc_id, " ".join([text] * times)
                              if text else "")

    return _derive_docs(spark, sf_dir, derive)


def docs_info_repeat_from_documents(spark: SparkSession, sf_dir: str,
                                    times: int = 32) -> DataFrame:
    """Multi-page INFO corpus: the rich body plus per-page links,
    image/form XObjects and RichMedia annotations (GetInfoOnPDF.java
    :921-1037) — the widened per-page E17 info gate's input."""
    from .synth import info_from_text

    def derive(doc_id: str, text: str):
        return info_from_text(doc_id, " ".join([text] * times)
                              if text else "")

    return _derive_docs(spark, sf_dir, derive)


def docs_redact_from_documents(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Corpus with planted redaction bait for the /auto-redact gate:
    ' classified id <doc number> code <sha%1e5>' appends to every
    document's text before synthesis, so the term list exercises
    whole-word matching AND variable-length digit-run regexes — both
    re-derivable closed-form by the DuckDB oracle."""
    import hashlib

    def derive(doc_id: str, text: str):
        num = doc_id.rsplit("-", 1)[-1]
        h = hashlib.sha256(
            text.encode("utf-8", "surrogatepass")).hexdigest()
        code = int(h[:8], 16) % 100_000
        return synth_from_text(
            doc_id, f"{text} classified id {num} code {code}".strip())

    return _derive_docs(spark, sf_dir, derive)


def docs_compare_rev_from_documents(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Revised-snapshot corpus for the compare gates: documents with
    >= 18 words get three isolated word edits — substitute index 5
    with REVTOK<d>, delete index 11, insert INSTOK<d> after index 17
    (0-based, original indices).  The planted tokens are uppercase so
    they cannot collide with the all-lowercase corpus vocabulary,
    which pins the diff's per-type token multisets closed-form
    (removed = {w5, w11}, added = {REVTOK<d>, INSTOK<d>}); shorter
    documents pass through unedited and the gate filters them out on
    both sides."""

    def derive(doc_id: str, text: str):
        num = doc_id.rsplit("-", 1)[-1]
        w = text.split()
        if len(w) >= 18:
            w = (w[:5] + [f"REVTOK{num}"] + w[6:11] + w[12:18]
                 + [f"INSTOK{num}"] + w[18:])
        return synth_from_text(doc_id, " ".join(w))

    return _derive_docs(spark, sf_dir, derive)


def docs_corrupt_from_documents(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Corpus with planted wire-format violations for the verify_docs
    gate (operators/verify.py), each keyed on doc-number arithmetic so
    the DuckDB oracle re-derives the failure set closed-form:
    d%5 duplicates an offset (needs >= 2 spans, i.e. > 8 words),
    d%7 appends an unknown kind, d%3 appends a malformed text wire,
    d%11 appends a media span with an empty media_ref.  Appended spans
    extend the dense offset sequence, so each plant trips exactly its
    own rule."""

    def derive(doc_id: str, text: str):
        num = int(doc_id.rsplit("-", 1)[-1])
        did, spans = synth_from_text(doc_id, text)
        spans = list(spans)
        if num % 5 == 0 and len(spans) >= 2:
            k, t, m, _ = spans[1]
            spans[1] = (k, t, m, 0)
        if num % 7 == 0:
            spans.append(("wibble", "junk", "", len(spans)))
        if num % 3 == 0:
            spans.append(("text", "notawire", "", len(spans)))
        if num % 11 == 0:
            spans.append(("media", "1|0.0|0.0|10.0|10.0", "",
                          len(spans)))
        return did, spans

    return _derive_docs(spark, sf_dir, derive)


def docs_analysis_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Info-dict dates/title + encryption block + AcroForm fields
    (E16 form-field analysis, E17 security info, S1 comparators)."""
    from .synth import analysis_from_text

    return _derive_docs(spark, sf_dir, analysis_from_text)


def docs_autorotate_from_documents(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Four-page orientation corpus (pagemeta /Rotate + direction-
    suffixed fonts) for the /auto-rotate-pdf text-detection gate."""
    from .synth import autorotate_from_text

    return _derive_docs(spark, sf_dir, autorotate_from_text)


def docs_chapters_from_documents(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Two-chapter corpus for the pdf->epub gate (docs under 24 words
    derive to empty span lists and emit no members)."""
    from .synth import chapters_from_text

    return _derive_docs(spark, sf_dir, chapters_from_text)


def docs_slides_from_documents(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Two-page corpus for the pdf->pptx gate (docs under 24 words
    derive to empty span lists and emit no members)."""
    from .synth import slides_from_text

    return _derive_docs(spark, sf_dir, slides_from_text)


def docs_repeated_from_documents(spark: SparkSession, sf_dir: str,
                                 times: int = 16) -> DataFrame:
    """Long-document corpus: each doc's text repeated ``times`` (space
    joined) before synthesis — pushes most docs past the media-page
    threshold (a full page-3 needs 960 words) so interleaved
    text+media gates exercise both span kinds."""
    def derive(did: str, text: str):
        return synth_from_text(did, " ".join([text] * times))

    return _derive_docs(spark, sf_dir, derive)
