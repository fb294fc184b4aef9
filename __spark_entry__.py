"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship extraction aggregate on sf0.001;
``queries``/``oracle_sql`` expose every implemented operator from
SURVEY.md §2 plus the training-data pipeline operators (dedup /
similarity / text analysis / multimodal), each verified against an
independent DuckDB SQL derivation at sf0.01.

Naming rule: a gate is declared once, as a module-level callable
``q_<name>(spark, sf_dir)`` (a ``def`` here, or a one-line alias of an
operator that already has that signature). ``queries()`` collects
every ``q_*`` in definition order and ``oracle_sql()`` pairs gate
``<name>`` with ``stirling_pdf_spark.plans.oracles.<NAME>``; a gate
without that constant raises unless it is listed in ``ROWS_ONLY``.
Registry order carries no meaning.

The extract_* queries run the REAL distributed pipeline (corpus
derivation -> salted Arrow-UDF extraction -> reassembly) and are
checked against a closed-form arithmetic oracle — see
stirling_pdf_spark/plans/oracles.py.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stirling_pdf_spark.plans import oracles as O  # noqa: E741
from stirling_pdf_spark.corpus.spark_synth import (
    docs_from_documents_table,
    docs_media_from_documents,
    synth_docs_df,
)
from stirling_pdf_spark.operators import relational as R
from stirling_pdf_spark.operators import dedup as D
from stirling_pdf_spark.operators import similarity as S
from stirling_pdf_spark.operators import textstats as TS
from stirling_pdf_spark.operators.extract_pipeline import (
    explode_spans,
    extract_spans,
    map_rows,
    spread,
)
from stirling_pdf_spark.operators.multimodal import text_payload_metadata
from stirling_pdf_spark.sources.tables import read_table


_SHIPPED_APPS: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make the package importable inside the driver's Python workers
    (the spark-submit --py-files shape), once per SparkContext."""
    sc = spark.sparkContext
    if sc.applicationId in _SHIPPED_APPS:
        return
    _SHIPPED_APPS.add(sc.applicationId)
    try:
        from stirling_pdf_spark.session import package_zip

        sc.addPyFile(package_zip())
    except Exception:
        pass  # already added, or driver-side sys.path suffices


def _shipped(gate: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    """``gate`` with the package shipped to the session first."""
    @functools.wraps(gate)
    def run(spark: SparkSession, *args, **kwargs) -> DataFrame:
        _ship_package(spark)
        return gate(spark, *args, **kwargs)
    return run


# ------------------------------------------------------------- relational
# gates implemented in operators/relational.py with the gate signature

q_q1_pricing_summary = R.q1_pricing_summary
q_q3_shipping_priority = R.q3_shipping_priority
q_q5_nation_volume = R.q5_nation_volume
q_e12_unique_name_suffix = R.e12_unique_name_suffix
q_e13_regex_search = R.e13_regex_search
q_e16_customer_profile = R.e16_customer_profile
q_e18_top_order_per_customer = R.e18_top_order_per_customer
q_f1_filter_contains_text = R.f1_filter_contains_text
q_f3_filter_count_comparator = R.f3_filter_count_comparator
q_f4_size_class_filter = R.f4_size_class_filter
q_f5_filter_size_comparator = R.f5_filter_size_comparator
q_f7_page_select_dsl = R.f7_page_select_dsl
q_s1_merge_comparator = R.s1_merge_comparator
q_s3_running_sum_buckets = R.s3_running_sum_buckets
q_s4_lead_next_order = R.s4_lead_next_order
q_s6_reverse_permutation = R.s6_reverse_permutation
q_events_hourly_rollup = R.events_hourly_rollup
q_events_json_extract = R.events_json_extract
q_events_sessionize = R.events_sessionize


# ------------------------------------------------------------- extraction

def _extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_spans(docs_from_documents_table(spark, sf_dir))


def q_extract_text_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = explode_spans(_extracted(spark, sf_dir)).filter(F.col("kind") == "text")
    w = Window.partitionBy("doc_id").orderBy("order")
    return flat.select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("long").alias("text_rank"),
        "text",
    )


def q_extract_twocol_text_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-column reading-order reconstruction (E5/E6, the XY-cut
    analogue): the corpus emits columns interleaved right-then-left in
    content-stream order; the kernel's column vote + reading order must
    restore the logical sequence, checked against a closed-form model
    of the vote (a line votes iff width >= 100 pt <=> len >= 19)."""
    from stirling_pdf_spark.corpus.spark_synth import docs_twocol_from_documents

    out = extract_spans(docs_twocol_from_documents(spark, sf_dir))
    flat = explode_spans(out).filter(F.col("kind") == "text")
    w = Window.partitionBy("doc_id").orderBy("order")
    return flat.select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("long").alias("text_rank"),
        "text",
    )


def q_extract_attachments(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = explode_spans(_extracted(spark, sf_dir))
    return flat.filter(F.col("kind") == "attachment").select(
        "doc_id", F.col("text").alias("name"), "media_ref"
    )


def q_extract_span_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = explode_spans(_extracted(spark, sf_dir))
    return flat.groupBy("doc_id", "kind").agg(F.count("*").alias("n_spans"))


def q_extract_elements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7/E8 structured elements — the /convert/pdf/json flagship
    analogue: one row per drawable in mergeDrawables order with the
    geometry the reference serializes (PdfJsonConversionService.java
    :5533-5882, :5119-5300)."""
    from stirling_pdf_spark.operators.elements import extract_elements

    return extract_elements(docs_from_documents_table(spark, sf_dir))


def q_e1_full_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 pdf->plain-text (ConvertPDFToOffice.java:78-100): whole-doc
    text = extracted line spans joined by newlines in reading order."""
    flat = explode_spans(_extracted(spark, sf_dir)).filter(
        F.col("kind") == "text"
    )
    assembled = flat.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("order", "text"))),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("full_text")
    )
    return assembled.select(
        "doc_id", F.md5("full_text").alias("text_md5"),
        F.length("full_text").cast("long").alias("n_chars"),
    )


def q_e17_doc_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E17 get-info-on-pdf (GetInfoOnPDF.java:812-851) — the flagship
    per-document aggregate: page count, text span/char counts, media and
    attachment counts, all from the extraction outputs."""
    from stirling_pdf_spark.operators.elements import extract_elements

    from stirling_pdf_spark.runtime.staging import stage as _stage

    # the derivation feeds two Python passes (spans + elements) —
    # synthesize once
    docs = _stage(docs_from_documents_table(spark, sf_dir))
    flat = explode_spans(extract_spans(docs))
    kinds = flat.groupBy("doc_id").agg(
        F.sum(F.when(F.col("kind") == "text", 1).otherwise(0))
        .cast("long").alias("n_text_spans"),
        F.sum(F.when(F.col("kind") == "text", F.length("text")).otherwise(0))
        .cast("long").alias("n_text_chars"),
        F.sum(F.when(F.col("kind") == "media", 1).otherwise(0))
        .cast("long").alias("n_media"),
        F.sum(F.when(F.col("kind") == "attachment", 1).otherwise(0))
        .cast("long").alias("n_attachments"),
    )
    pages = extract_elements(docs).groupBy("doc_id").agg(
        F.countDistinct("page").cast("long").alias("n_pages")
    )
    return kinds.join(pages, "doc_id").select(
        "doc_id", "n_pages", "n_text_spans", "n_text_chars",
        "n_media", "n_attachments",
    )


def q_e2_page_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 per-page sorted text (PdfContentExtractor.java:262-313): page
    text = that page's lines joined by newlines, in reading order,
    through the budgeted page_text operator (4,000-char/page cap — the
    binding case is pinned in pytest; corpus pages stay under it so the
    oracle is the uncapped md5)."""
    from stirling_pdf_spark.operators.elements import extract_elements, page_text

    pages = page_text(extract_elements(docs_from_documents_table(spark, sf_dir)))
    return pages.select(
        "doc_id", "page", "n_lines", F.md5("text").alias("text_md5")
    )


def q_e13_search_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13 TextFinder with match bounding boxes (TextFinder.java:21-193)
    over the structured elements table — extract once, search as a
    DataFrame filter (SURVEY.md §3.2)."""
    from stirling_pdf_spark.operators.elements import extract_elements
    from stirling_pdf_spark.operators.search import text_search_elements

    els = extract_elements(docs_from_documents_table(spark, sf_dir))
    return text_search_elements(els, "data")


def q_e13_whole_word_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13 whole-word search for a 1-character DIGIT term
    (TextFinder.java:79-88): 1-char terms get explicit lookarounds, not
    \\b — searching "5" must NOT match inside "3.5", "x5", "7,5" or
    "5,7" but MUST match " 5 ", "(5)", ".5 " and "5. ". The corpus
    plants exactly those contexts plus 1 + doc_id%3 standalone "5"
    tokens, so the closed-form oracle pins 4 + doc_id%3 matches with
    the first at char offset 19 (DuckDB's RE2 has no lookbehind, hence
    the closed form — the corpus is constructed, so counts are exact)."""
    from stirling_pdf_spark.operators.search import text_search_elements

    docs = read_table(spark, sf_dir, "documents")
    body = F.concat(
        F.lit("w"), (F.col("doc_id") % 10).cast("string"),
        F.lit(" 3.5 x5 7,5 5,7 .5 5. (5)"),
        F.repeat(F.lit(" 5"), (F.col("doc_id") % 3).cast("int") + 1),
    )
    els = docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
        .alias("doc_id"),
        F.lit(1).cast("long").alias("page"),
        F.lit("text").alias("kind"),
        body.alias("text"),
        F.lit(72.0).alias("x"), F.lit(72.0).alias("y"),
        (F.length(body) * 5.5).alias("width"),
        F.lit(11.0).alias("font_size"),
    )
    return text_search_elements(els, "5", whole_word=True)


def q_s12_redact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 redaction (RedactExecuteService): search matches masked in
    the extracted text spans, offsets stable."""
    from stirling_pdf_spark.operators.search import redact_spans

    redacted = redact_spans(_extracted(spark, sf_dir), "data")
    flat = explode_spans(redacted).filter(F.col("kind") == "text")
    w = Window.partitionBy("doc_id").orderBy("order")
    return flat.select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("long").alias("text_rank"),
        "text",
    )


def q_dedup_title_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance near-dup over inferred titles
    (dedup.edit_distance_pairs): every 4-doc group plants a base
    title plus +1-char / 1-substitution / far variants; blocking =
    (leading token, length DIV 8) so pair work stays inside the
    4-member block, length-difference prunes before the JVM-side
    levenshtein, and only dist <= 2 pairs survive. The oracle
    replicates the blocking semantics with DuckDB's levenshtein()."""
    from stirling_pdf_spark.operators.dedup import edit_distance_pairs

    base = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    g = F.expr("doc_id DIV 4").cast("string")
    title = F.concat(
        F.lit("doc"), g,
        F.when(d % 4 == 0, F.lit(" annual report"))
        .when(d % 4 == 1, F.lit(" annual reports"))
        .when(d % 4 == 2, F.lit(" annual reporx"))
        .otherwise(F.lit(" quarterly bulletin")),
    )
    titled = base.select(
        F.concat(F.lit("doc-"), d.cast("string")).alias("doc_id"),
        title.alias("title"),
    )
    return edit_distance_pairs(titled, max_dist=2, band=8)


def q_web_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration on a deterministic domain co-link graph
    (graph.triangles — degree-ordered wedge join, Suri &
    Vassilvitskii WWW'11): each doc contributes the path
    dom(d%97) - dom((d*d+3)%97) - dom((3d+7)%97); triangles arise
    only where paths from DIFFERENT docs close, so the orientation
    and wedge-close joins are genuinely exercised. Oracle: the same
    canonical-edge CTE closed by two self-joins in DuckDB."""
    from stirling_pdf_spark.operators.graph import triangles

    return triangles(_colink_edges(spark, sf_dir))



def q_web_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation pairs on the directed domain co-link graph (two
    domains cited by the same sources, shared-count kept), one source-keyed
    self-join — the link-structure relatedness signal next to
    pagerank/HITS/triangles."""
    from stirling_pdf_spark.operators.graph import cocitation

    return cocitation(_colink_edges(spark, sf_dir), min_common=1)


def _colink_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic domain co-link paths shared by the
    web_triangles / web_clustering_coeff gates."""
    base = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    a = F.concat(F.lit("dom"), (d % 97).cast("string"))
    b = F.concat(F.lit("dom"), ((d * d + 3) % 97).cast("string"))
    c = F.concat(F.lit("dom"), ((d * 3 + 7) % 97).cast("string"))
    return base.select(
        F.explode(F.array(
            F.struct(a.alias("src"), b.alias("dst")),
            F.struct(b.alias("src"), c.alias("dst")),
        )).alias("e"),
    ).select("e.src", "e.dst")


def q_web_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the co-link graph
    (graph.clustering_coefficient): triangle membership from the
    degree-ordered enumeration, coefficient as exact micro-unit floor
    division 2t*1e6 DIV d(d-1) — bit-identical to the oracle's SQL."""
    from stirling_pdf_spark.operators.graph import clustering_coefficient

    return clustering_coefficient(_colink_edges(spark, sf_dir))


def q_text_homoglyph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusable-skeleton spoof detection (textstats.
    homoglyph_skeleton — UTS #39 skeleton over the documented
    Cyrillic/Greek->Latin lookalike subset): a third of the corpus
    gets ' pаypal' planted with U+0430 (spoof), a third the pure-Latin
    ' paypal' (clean), a third nothing; the gate pins the confusable
    count, the skeleton's last token and the spoof flag against the
    oracle's identical translate() math."""
    from stirling_pdf_spark.operators.textstats import homoglyph_skeleton

    base = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    text = F.concat(
        F.col("text"),
        F.when(d % 3 == 1, F.lit(" pаypal"))
        .when(d % 3 == 2, F.lit(" paypal"))
        .otherwise(F.lit("")),
    )
    docs = base.select(
        F.concat(F.lit("doc-"), d.cast("string")).alias("doc_id"),
        text.alias("text"),
    )
    return homoglyph_skeleton(docs).select(
        "id", "n_confusables",
        F.substring_index("skeleton", " ", -1).alias("last_token"),
        "is_spoof",
    )


def q_domain_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain template-prefix mining (textstats.
    domain_prefix_boilerplate — LCP(min, max) aggregate trick): each
    of 7 planted domains prepends its own header template, so the
    mined prefix must recover at least the planted
    'siteK header boilerplate | ' and exactly whatever the domain's
    lexicographic extremes share beyond it — both engines derive it
    from the SAME min/max, so the capped prefix-equality count is
    bit-identical."""
    from stirling_pdf_spark.operators.textstats import (
        domain_prefix_boilerplate,
    )

    base = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    dom = F.concat(F.lit("site"), (d % 7).cast("string"))
    docs = base.select(
        dom.alias("domain"),
        F.concat(dom, F.lit(" header boilerplate | "), F.col("text"))
        .alias("text"),
    )
    return domain_prefix_boilerplate(docs, cap=64)


def q_auto_rotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/auto-rotate-pdf text-detection path (AutoRotateController.java
    :134-243 + AutoRotateDetection.java:84-188): per-page glyph
    direction vote (optional '@deg' font suffix carries
    TextPosition.getDir), the 30-glyph/0.95 and 8-glyph/0.99
    conclusiveness bars (integer-exact), floorMod correction from the
    /Rotate state, and consensus inference for undecided pages
    grouped by current rotation. Corpus archetypes cover all four
    outcomes (dense dominant / sparse unanimous / too few glyphs /
    dense split) — pure column expressions, no UDF."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_autorotate_from_documents,
    )
    from stirling_pdf_spark.operators.autorotate import auto_rotate

    return auto_rotate(docs_autorotate_from_documents(spark, sf_dir))



def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over a positional inverted index (postings
    chained on pos_i = pos_0 + i): match counts + first hit position
    per (phrase, doc) for three literal phrases of mixed length."""
    from stirling_pdf_spark.operators.retrieval import phrase_search

    return phrase_search(read_table(spark, sf_dir, "documents"))




def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine near-dup pairs at cos >= 0.85 — the
    weighted-vocabulary similarity axis next to the shingle family;
    threshold decided float-free via the decimal cross-multiplied
    square. Gated on the doc_id % 5 == 0 sample: the synthetic
    corpus's 30-word vocabulary makes EVERY term a hot term, so the
    unpruned inverted-index join is quadratic by construction here
    (real corpora are Zipfian and prune via max_df — see the
    operator's scale notes and the max_df pytest)."""
    from stirling_pdf_spark.operators.dedup import tfidf_cosine_pairs

    docs = read_table(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(docs.filter(F.col("doc_id") % 5 == 0),
                              threshold_pct=85)


def q_bm25_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPR-style hard-negative mining: every 100th doc becomes a query
    (its first 3 tokens), scored by the shared integer-exact Okapi
    BM25 core, gold doc excluded before dense top-5 ranking."""
    from stirling_pdf_spark.operators.retrieval import bm25_hard_negatives

    return bm25_hard_negatives(read_table(spark, sf_dir, "documents"))


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact Okapi BM25 top-10 per query (rational IDF so two
    engines agree bit-for-bit) over the documents table — the sparse
    retrieval stage of a training-data pipeline. Query list is a
    broadcast literal; df stats broadcast (vocabulary-sized); postings
    one partial-agg'd groupBy."""
    from stirling_pdf_spark.operators.retrieval import bm25_topk

    return bm25_topk(read_table(spark, sf_dir, "documents"))


def q_compare_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compare tool (frontend utils/textDiff.ts:21-56 diffWords) over
    base vs revised corpus snapshots: both sides run the REAL
    extraction pipeline, reassemble each document's text, and the
    word-LCS diff rolls up per doc (counts + sorted removed/added
    joins).  Docs under 18 words carry no planted edits and are
    filtered on both sides."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_compare_rev_from_documents,
    )
    from stirling_pdf_spark.operators.compare import compare_summary

    def assembled(docs: DataFrame) -> DataFrame:
        flat = explode_spans(extract_spans(docs)).filter(
            F.col("kind") == "text")
        return flat.groupBy("doc_id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("order", "text"))),
                    lambda s: s["text"]),
                "\n").alias("text"))

    base = assembled(docs_from_documents_table(spark, sf_dir)).filter(
        F.size(F.split(F.col("text"), r"\s+")) >= 18)
    rev = assembled(docs_compare_rev_from_documents(spark, sf_dir))
    return compare_summary(base, rev)


def q_compare_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pane change-navigation groups (useCompareHighlights.ts:
    28-69 buildWordChanges) over a unique-token corpus whose planted
    edits exercise 1->2 substitution, multi-token deletion, a
    ','-leading insertion label and an adjacent substitute+insert run
    — the Spark side runs the real LCS + grouping kernel, the oracle
    states the closed-form groups."""
    from stirling_pdf_spark.operators.compare import compare_changes

    toked = read_table(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
        .alias("doc_id"),
        F.col("doc_id").cast("string").alias("ds"),
        F.col("doc_id").alias("d"),
    ).select(
        "doc_id", "ds",
        F.expr("transform(sequence(0, 23 + cast(d % 7 as int)),"
               " i -> concat('tok', ds, '_', cast(i as string)))")
        .alias("toks"))
    rev = F.expr(
        "concat(slice(toks, 1, 3),"
        " array(concat('ALPHA', ds), concat('BETA', ds)),"
        " slice(toks, 5, 4), slice(toks, 11, 3),"
        " array(',', concat('YES', ds)),"
        " slice(toks, 14, 4),"
        " array(concat('GAMMA', ds), concat('DELTA', ds)),"
        " slice(toks, 19, size(toks) - 18))")
    base_df = toked.select(
        "doc_id", F.array_join("toks", " ").alias("text"))
    rev_df = toked.select(
        "doc_id", F.array_join(rev, " ").alias("text"))
    return compare_changes(base_df, rev_df)


def q_html_table_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured HTML table mining: each document's words become a
    4-row table (header row, colspan=2 row) plus a second one-row
    table, and the REAL kernel/html_tables.py parser extracts
    positioned cells; the oracle states the closed-form layout."""
    from stirling_pdf_spark.functions.html import html_table_cells

    docs = read_table(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
        .alias("doc_id"),
        F.col("text"))

    def build(did, text):
        w = (text or "").split()
        g = lambda i: w[i % len(w)]  # noqa: E731
        yield did, (
            "<html><body><table>"
            f"<tr><th>{g(0)}</th><th>{g(1)}</th><th>{g(2)}</th></tr>"
            f"<tr><td>{g(3)}</td><td>{g(4)}</td><td>{g(5)}</td></tr>"
            f'<tr><td colspan="2">{g(6)}</td><td>{g(7)}</td></tr>'
            f"<tr><td>{g(8)}</td><td>{g(9)}</td><td>{g(10)}</td></tr>"
            "</table><p>prose between tables</p>"
            f"<table><tr><td>{g(1)}</td><td>{g(2)}</td></tr></table>"
            "</body></html>")

    html_df = map_rows(spread(docs, "doc_id"), build,
                       "doc_id string, html string")
    return html_table_cells(html_df)


def q_feed_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS <item> ingestion (feed_entries): per-doc synthetic feed
    with 2 + d%3 linked items, pubDate on even positions, and a
    trailing link-less item that must drop — built JVM-side, parsed
    by the pure-regexp operator."""
    from stirling_pdf_spark.functions.html import feed_entries

    feeds = read_table(spark, sf_dir, "documents").select(
        F.concat(F.lit("ex"), F.col("doc_id").cast("string"))
        .alias("domain"),
        F.col("doc_id").alias("d"),
        F.col("doc_id").cast("string").alias("ds"),
        F.split(F.col("text"), " ").alias("w"),
    ).select(
        "domain",
        F.expr(
            "concat(concat_ws('', transform(sequence(0, cast(1 + d % 3"
            " as int)), i -> concat('<item><title>item ',"
            " element_at(w, cast(i % size(w) as int) + 1),"
            " '</title><link>https://ex', ds, '.com/p',"
            " cast(i as string), '</link>',"
            " case when i % 2 = 0 then"
            " concat('<pubDate>day', cast(i as string), '</pubDate>')"
            " else '' end, '</item>'))),"
            " '<item><title>nolink</title></item>')").alias("feed_xml"))
    return feed_entries(feeds)


def q_verify_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/security/verify-pdf report shape (VerifyPDFController.java:
    47-93) re-targeted at the span wire format: the pure-column audit
    runs over a corpus with four planted violation families and
    reports per-doc compliance + failing rule ids."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_corrupt_from_documents,
    )
    from stirling_pdf_spark.operators.verify import verify_docs

    return verify_docs(docs_corrupt_from_documents(spark, sf_dir))


def q_extract_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot refresh (runtime/incremental.py): hash the
    raw payloads of base vs revised corpus, re-extract only the
    changed docs (the >= 18-word ones carrying planted edits), carry
    the previous extraction over for the rest — and the stitched
    output must equal the closed-form extraction of the revised text,
    with the reused flag marking exactly the unedited docs."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_compare_rev_from_documents,
    )
    from stirling_pdf_spark.runtime.incremental import extract_incremental

    from stirling_pdf_spark.runtime.staging import stage as _stage

    # each derived corpus feeds TWO consumers (payload hash + an
    # extraction); stage them so the Python synthesis runs once per
    # side instead of once per consumer
    base = _stage(docs_from_documents_table(spark, sf_dir))
    rev = _stage(docs_compare_rev_from_documents(spark, sf_dir))
    out = extract_incremental(base, extract_spans(base), rev)
    flat = out.select(
        "doc_id", "reused", F.explode("spans").alias("s")
    ).filter(F.col("s.kind") == "text")
    assembled = flat.groupBy("doc_id", "reused").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("s.order").alias("order"),
                             F.col("s.text").alias("text")))),
                lambda x: x["text"]),
            "\n").alias("full_text"))
    return assembled.select(
        "doc_id", "reused", F.md5("full_text").alias("text_md5"),
        F.length("full_text").cast("long").alias("n_chars"))


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 top-20
    and the exact-cosine top-20 (integer 1e9 // (60 + rank)
    contributions), top-10 per query — the standard sparse+dense
    merge of a RAG / decontamination lookup stage."""
    from stirling_pdf_spark.operators.retrieval import rrf_fusion

    return rrf_fusion(read_table(spark, sf_dir, "documents"),
                      read_table(spark, sf_dir, "embeddings"))


def q_auto_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/auto-redact (RedactController.java:130-209): newline-separated
    term list -> one multi-pattern scan -> equal-length masks, driven
    twice to cover both flag combinations the endpoint exposes —
    whole-word 'report' first ('reports' must survive), then a regex
    list 'data' + '[0-9]+' whose digit-run matches have variable
    length (the planted ' classified id N code H' tail guarantees
    1-6 digit runs). Output = redacted extracted lines, s12-shaped."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_redact_from_documents,
    )
    from stirling_pdf_spark.operators.search import auto_redact

    spans = extract_spans(docs_redact_from_documents(spark, sf_dir))
    out = auto_redact(
        auto_redact(spans, "report", whole_word_search=True),
        "data\n  \n[0-9]+", use_regex=True)
    flat = explode_spans(out).filter(F.col("kind") == "text")
    w = Window.partitionBy("doc_id").orderBy("order")
    return flat.select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("long").alias("text_rank"),
        "text",
    )


def q_edit_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/edit-text (EditTextController.java:85-320) driven twice over
    the bait corpus — whole-word 'report'->'summaries' (lookarounds,
    length-changing), then the ordered plain list 'classified'->
    'RESTRICTED', 'id'->'no' — and read back through real extraction.
    The gate value is each doc's CONCATENATED line text (no
    separator): matching runs against the page's JOINED text, and the
    write-back redistribution preserves the joined string exactly, so
    the oracle states it as sequential replaces on the page
    concatenation — seam effects (a find suppressed because the
    previous line's last word touches it) included."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_redact_from_documents,
    )
    from stirling_pdf_spark.operators.edittext import edit_text

    docs = docs_redact_from_documents(spark, sf_dir)
    edited = edit_text(
        edit_text(docs, [("report", "summaries")],
                  whole_word_search=True),
        [("classified", "RESTRICTED"), ("id", "no")])
    flat = explode_spans(extract_spans(edited)).filter(
        F.col("kind") == "text")
    assembled = flat.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("order", "text"))),
                lambda s: s["text"],
            ),
            "",
        ).alias("full"))
    return assembled.select(
        "doc_id", F.md5("full").alias("text_md5"),
        F.length("full").cast("long").alias("n_chars"))


def q_form_fill_unlock(spark: SparkSession, sf_dir: str,
                       docs: DataFrame | None = None) -> DataFrame:
    """/unlock-pdf-forms -> /form/fill -> /form/delete-fields chained
    over the analysis corpus (plus a planted read-only text field and
    a checkbox per doc): unlock clears the 'ro' flag, fill applies the
    value map by name (checkbox truthy -> Yes, signature fields and
    unknown names skipped), delete removes field1 wherever the corpus
    created it. Field state read back through real extraction."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_analysis_from_documents,
    )
    from stirling_pdf_spark.operators.forms import (
        delete_fields, fill_form, unlock_forms,
    )

    if docs is None:
        docs = docs_analysis_from_documents(spark, sf_dir)
    extra = [("formfield", "locked0|text|old|ro"),
             ("formfield", "cb0|checkbox|Off")]
    extra_arr = F.array(*[
        F.struct(F.lit(k).alias("kind"), F.lit(t).alias("text"),
                 F.lit("").alias("media_ref"),
                 (F.size("spans") + i).alias("offset"))
        for i, (k, t) in enumerate(extra)
    ])
    appended = docs.select(
        "doc_id", F.concat("spans", extra_arr).alias("spans"))
    out = delete_fields(
        fill_form(unlock_forms(appended),
                  {"locked0": "filledv", "cb0": "true",
                   "sig0": "evil", "absent": "x"}),
        ["field1"])
    flat = explode_spans(extract_spans(out)).filter(
        F.col("kind") == "formfield")
    return flat.select(
        "doc_id",
        F.split_part("text", F.lit("|"), F.lit(1)).alias("name"),
        F.split_part("text", F.lit("|"), F.lit(2)).alias("ftype"),
        F.split_part("text", F.lit("|"), F.lit(3)).alias("value"),
        F.split_part("text", F.lit("|"), F.lit(4)).alias("flags"),
    )


def q_add_comments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/add-comments (AddCommentsController.java:60-180) over the bait
    corpus: spec 1 anchors 'classified' on page 1 under the TOLERANT
    match (punctuation-stripped, case-insensitive, evaluated on the
    clustered LINE text) — short docs whose bait line lands on page 1
    anchor a 20x20 icon at that line's top-left, everything else falls
    back to the user-space coordinates; spec 2 is pure coordinates.
    Output = the planted Text annotations' full wire (page, rect,
    contents, author, subject)."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_redact_from_documents,
    )
    from stirling_pdf_spark.operators.comments import add_comments
    from stirling_pdf_spark.operators.pageops import wire_body, wire_fields

    docs = docs_redact_from_documents(spark, sf_dir)
    out = add_comments(docs, [
        {"pageIndex": 0, "anchorText": "classified", "x": 10.0,
         "y": 700.0, "width": 30.0, "height": 40.0, "text": "note1",
         "author": "alice", "subject": "s1"},
        {"pageIndex": 0, "x": 100.0, "y": 600.0, "width": 24.0,
         "height": 24.0, "text": "note2", "author": "bob",
         "subject": "s2"},
    ])
    s = out.select("doc_id", F.explode("spans").alias("sp")) \
        .select("doc_id", F.col("sp.kind").alias("kind"),
                F.col("sp.text").alias("text"))
    page, x, y, w, h = wire_fields(F.col("text"))
    body = wire_body(F.col("text"))
    return s.filter((F.col("kind") == "annotation")
                    & (F.split_part(body, F.lit("|"), F.lit(1))
                       == "Text")).select(
        "doc_id",
        F.split_part(body, F.lit("|"), F.lit(2)).alias("contents"),
        page.cast("long").alias("page"),
        x.cast("double").alias("x"),
        y.cast("double").alias("y"),
        w.cast("double").alias("w"),
        h.cast("double").alias("h"),
        F.split_part(body, F.lit("|"), F.lit(3)).alias("author"),
        F.split_part(body, F.lit("|"), F.lit(4)).alias("subject"),
    )


def q_form_fields_csv(spark: SparkSession, sf_dir: str,
                      docs: DataFrame | None = None) -> DataFrame:
    """/form/extract-csv (FormFillController.java:149-196) with the
    optional fill-first data part: field0 fills with a quote/comma
    torture value, then every doc's AcroForm exports as the OpenCSV
    string — header, every cell double-quoted, inner quotes doubled,
    trailing newline."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_analysis_from_documents,
    )
    from stirling_pdf_spark.operators.forms import fields_csv

    if docs is None:
        docs = docs_analysis_from_documents(spark, sf_dir)
    return fields_csv(docs, values={"field0": 'csv,"x"'})


def q_img_to_pdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image->PDF conversion (/convert/img/pdf, PdfUtils.imageToPdf +
    addImageToDocument:439-530) at its richest setting
    (maintainAspectRatio + autoRotate): every doc supplies two REAL
    images — a raster fixture (PPM/BMP/PNG) and a baseline JPEG — and
    becomes a two-page document whose page boxes (A4, landscape-swapped
    for wide images) and centered scale-to-fit draw geometry derive
    from the REAL decoded dimensions. Output = pagemeta + media wire
    read back per page."""
    from stirling_pdf_spark.corpus.media import (
        image_payload_for_ref, jpeg_payload_for_ref,
    )
    from stirling_pdf_spark.operators.multimodal import images_to_pdf

    base = read_table(spark, sf_dir, "documents")
    sha = F.lower(F.sha2(F.col("text").cast("binary"), 256))
    src = base.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
        .alias("doc_id"),
        F.substring(sha, 1, 8).alias("s8"),
    )

    def gen(did, s8):
        for seq, ref, fn in ((0, f"media-{s8}", image_payload_for_ref),
                             (1, f"jpg-{s8}", jpeg_payload_for_ref)):
            yield did, seq, ref, fn(ref)

    images = map_rows(
        spread(src, "doc_id"), gen,
        "doc_id string, seq int, media_ref string, payload binary")
    out = images_to_pdf(images, "maintainAspectRatio",
                        auto_rotate=True)
    # the exploded wire rows feed BOTH sides of the pagemeta|media
    # join below; without staging, each side re-runs the payload
    # generation + decode chain (guide: persist an intermediate with
    # two Python-stage consumers)
    from stirling_pdf_spark.runtime.staging import stage as _stage

    s = _stage(
        out.select("doc_id", F.explode("spans").alias("sp"))
        .select("doc_id", F.col("sp.kind").alias("kind"),
                F.col("sp.text").alias("text"),
                F.col("sp.media_ref").alias("media_ref")))
    pm = s.filter(F.col("kind") == "pagemeta").select(
        "doc_id",
        F.split_part("text", F.lit("|"), F.lit(1)).cast("long")
        .alias("page"),
        F.split_part("text", F.lit("|"), F.lit(2)).cast("double")
        .alias("pw"),
        F.split_part("text", F.lit("|"), F.lit(3)).cast("double")
        .alias("ph"),
    )
    md = s.filter(F.col("kind") == "media").select(
        "doc_id",
        F.split_part("text", F.lit("|"), F.lit(1)).cast("long")
        .alias("page"),
        F.split_part("text", F.lit("|"), F.lit(2)).cast("double")
        .alias("x"),
        F.split_part("text", F.lit("|"), F.lit(3)).cast("double")
        .alias("y"),
        F.split_part("text", F.lit("|"), F.lit(4)).cast("double")
        .alias("w"),
        F.split_part("text", F.lit("|"), F.lit(5)).cast("double")
        .alias("h"),
        "media_ref",
    )
    return pm.join(md, ["doc_id", "page"]).select(
        "doc_id", "page", "pw", "ph", "x", "y", "w", "h", "media_ref")


def q_extract_synth_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only check: archetype corpus (two-column layouts, mixed
    media, HTML, mega-docs through the salted path) -> kind totals."""
    docs = synth_docs_df(spark, 96, seed=42, mega_pages=(120, 160))
    flat = explode_spans(extract_spans(docs, salt_threshold=2000))
    return flat.groupBy("kind").agg(
        F.count("*").alias("n_spans"),
        F.countDistinct("doc_id").alias("n_docs"),
    )



def q_e19_blank_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19 blank-page detection (BlankPageController.java:56-104, text
    rule: whitespace-only glyph runs don't count): every corpus doc gets
    an extra trailing page carrying one whitespace-only run; the
    detector must flag exactly those pages blank and report per-page
    visible-line/media counts for the rest."""
    from stirling_pdf_spark.operators.pageops import blank_pages, wire_page

    docs = docs_from_documents_table(spark, sf_dir)
    pages = F.transform(
        F.filter("spans", lambda s: s["kind"].isin("text", "media")),
        lambda s: wire_page(s["text"]),
    )
    maxp = F.coalesce(F.array_max(pages), F.lit(0).cast("long"))
    blank_span = F.struct(
        F.lit("text").alias("kind"),
        F.concat((maxp + 1).cast("string"),
                 F.lit("|72.0|72.0|11.0|Helvetica\t   ")).alias("text"),
        F.lit("").alias("media_ref"),
        F.size("spans").alias("offset"),
    )
    with_blank = docs.select(
        "doc_id", F.concat("spans", F.array(blank_span)).alias("spans")
    )
    return blank_pages(with_blank)


def q_e18_title_inference(spark: SparkSession, sf_dir: str,
                          docs: DataFrame | None = None) -> DataFrame:
    """E18 direct title inference over extracted elements
    (AutoRenameController.java:106-138): merge adjacent same-font-size
    lines, stable-sort by font size desc, take the top candidate.
    ``docs`` lets a suite share one materialized rich corpus across
    consumers (extract once, fan out — the deployment shape)."""
    from stirling_pdf_spark.corpus.spark_synth import docs_rich_from_documents
    from stirling_pdf_spark.operators.autoname import infer_titles
    from stirling_pdf_spark.operators.elements import extract_elements

    if docs is None:
        docs = docs_rich_from_documents(spark, sf_dir)
    return infer_titles(extract_elements(docs))


def q_s4_split_chapters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 chapter split driven by bookmark spans
    (SplitPdfByChaptersController.java:62-90, maxLevel=0): chapter
    ranges via lead(), last chapter ends at the doc's last page."""
    from stirling_pdf_spark.corpus.spark_synth import docs_rich_from_documents
    from stirling_pdf_spark.operators.pageops import split_by_chapters

    return split_by_chapters(docs_rich_from_documents(spark, sf_dir),
                             max_level=0)


def q_e17_full_info(spark: SparkSession, sf_dir: str,
                    docs: DataFrame | None = None) -> DataFrame:
    """E17 get-info-on-pdf, full shape (GetInfoOnPDF.java:812-851 +
    per-page deduped font sets :943-985 + annotation counts :865-879):
    page/span/char counts plus the document's sorted font set, bookmark
    and annotation counts, over the rich corpus. ``docs`` lets a suite
    share one materialized rich corpus across consumers."""
    from stirling_pdf_spark.corpus.spark_synth import docs_rich_from_documents
    from stirling_pdf_spark.operators.elements import extract_elements

    if docs is None:
        from stirling_pdf_spark.runtime.staging import stage as _stage

        # inline derivation feeds two Python passes — synthesize once
        docs = _stage(docs_rich_from_documents(spark, sf_dir))
    flat = explode_spans(extract_spans(docs))
    is_ann = F.col("kind") == "annotation"
    ann_contents = F.split_part("text", F.lit("|"), F.lit(3))
    kinds = flat.groupBy("doc_id").agg(
        F.sum(F.when(F.col("kind") == "text", 1).otherwise(0))
        .cast("long").alias("n_text_spans"),
        F.sum(F.when(F.col("kind") == "text", F.length("text")).otherwise(0))
        .cast("long").alias("n_text_chars"),
        F.sum(F.when(F.col("kind") == "bookmark", 1).otherwise(0))
        .cast("long").alias("n_bookmarks"),
        # per-doc annotation totals (GetInfoOnPDF.java:865-879 counts
        # subtype and contents presence separately)
        F.sum(F.when(is_ann, 1).otherwise(0))
        .cast("long").alias("n_annotations"),
        F.sum(F.when(is_ann & (ann_contents != ""), 1).otherwise(0))
        .cast("long").alias("n_annot_contents"),
    )
    els = extract_elements(docs).filter(F.col("kind") == "text")
    pages_fonts = els.groupBy("doc_id").agg(
        F.countDistinct("page").cast("long").alias("n_pages"),
        F.countDistinct("font").cast("long").alias("n_fonts"),
        F.array_join(F.array_sort(F.collect_set("font")), ",").alias("fonts"),
    )
    return kinds.join(pages_fonts, "doc_id").select(
        "doc_id", "n_pages", "n_text_spans", "n_text_chars",
        "n_fonts", "fonts", "n_bookmarks", "n_annotations",
        "n_annot_contents",
    )


def q_extract_annotations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annotation spans end-to-end (PdfJsonConversionService.java:
    2553-2610 subtype/contents/rect): raw annotation spans ride the
    page wire through the REAL pipeline and come out re-keyed to
    '{page}|{subtype}|{contents}|{author}|{subject}' per page."""
    from stirling_pdf_spark.corpus.spark_synth import docs_rich_from_documents

    flat = explode_spans(
        extract_spans(docs_rich_from_documents(spark, sf_dir)))
    return flat.filter(F.col("kind") == "annotation").select(
        "doc_id",
        F.split_part("text", F.lit("|"), F.lit(1)).cast("long").alias("page"),
        F.split_part("text", F.lit("|"), F.lit(2)).alias("subtype"),
        F.split_part("text", F.lit("|"), F.lit(3)).alias("contents"),
    )


def q_e16_form_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16 document analysis, direct form (AnalysisController.java
    /form-fields: fieldCount, hasXFA, isSignaturesExist; plus the
    GetInfoOnPDF.java:487-501 encryption block) — all read from
    EXTRACTED formfield/meta spans, not a column shortcut."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_analysis_from_documents,
    )

    flat = explode_spans(
        extract_spans(docs_analysis_from_documents(spark, sf_dir)))
    ftype = F.split_part("text", F.lit("|"), F.lit(2))
    ff = flat.filter(F.col("kind") == "formfield").groupBy("doc_id").agg(
        F.count("*").cast("long").alias("field_count"),
        F.max(F.when(ftype == "signature", 1).otherwise(0))
        .cast("int").alias("has_signature"),
    )
    val = F.substring_index("text", "|", -1)
    meta = flat.filter(F.col("kind") == "meta").groupBy("doc_id").agg(
        F.max(F.when(F.col("text") == "acroform_xfa|true", 1).otherwise(0))
        .cast("int").alias("has_xfa"),
        F.max(F.when(F.col("text") == "is_encrypted|true", 1).otherwise(0))
        .cast("int").alias("is_encrypted"),
        F.max(F.when(F.col("text").startswith("encrypt_algorithm|"), val))
        .alias("algo"),
        F.max(F.when(F.col("text").startswith("encrypt_keylen|"),
                     val.cast("long"))).alias("keylen"),
    )
    return meta.join(ff, "doc_id", "left").select(
        "doc_id",
        F.coalesce("field_count", F.lit(0).cast("long")).alias("field_count"),
        "has_xfa",
        F.coalesce("has_signature", F.lit(0)).cast("int")
        .alias("has_signature"),
        "is_encrypted",
        F.coalesce("algo", F.lit("none")).alias("encrypt_algorithm"),
        F.coalesce("keylen", F.lit(0).cast("long")).alias("encrypt_keylen"),
    )


def _merge_order_gate(spark: SparkSession, sf_dir: str,
                      comparator: str) -> DataFrame:
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_analysis_from_documents,
    )
    from stirling_pdf_spark.operators.pageops import merge_order

    docs = docs_analysis_from_documents(spark, sf_dir)
    out = merge_order(docs, comparator)
    return out.select(
        "doc_id",
        F.col("doc_pos").cast("long").alias("doc_pos"),
        F.col("page_shift").cast("long").alias("page_shift"),
    )


def q_s1_merge_by_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 byDateModified comparator (MergeController.java:124-135,
    newest first): merge positions + page shifts driven by the
    'modified' Info-dict meta span each doc carries in the wire."""
    return _merge_order_gate(spark, sf_dir, "byDateModified")


def q_s1_merge_by_title(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 byPDFTitle comparator (MergeController.java:136-152,
    case-insensitive, null titles last)."""
    return _merge_order_gate(spark, sf_dir, "byPDFTitle")


def q_e17_page_info(spark: SparkSession, sf_dir: str,
                    docs: DataFrame | None = None) -> DataFrame:
    """E17 PER-PAGE info blocks, full parity (GetInfoOnPDF.java:800-862:
    Text Characters Count, per-page font set, annotation subtype/
    contents counts, plus Links :921-941 as the unique-URI set,
    XObjectCounts :992-1020 by type from page resources, and Multimedia
    :1022-1037 RichMedia annotations) over the multi-page info corpus —
    the page-granular companion to e17_full_info's document aggregate."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_info_repeat_from_documents,
    )
    from stirling_pdf_spark.operators.elements import extract_elements

    from stirling_pdf_spark.runtime.staging import stage as _stage

    if docs is None:
        # inline derivation feeds the elements pass AND extract_spans
        docs = _stage(docs_info_repeat_from_documents(spark, sf_dir, 32))
    # els feeds two aggregate branches; measured: persisting the WIDE
    # per-element table costs more than re-running the cheap elements
    # pass over the (cached or plain-scan) docs — 2.1 s vs 2.9 s at
    # sf0.1 — so the branches deliberately recompute it
    els = extract_elements(docs)
    pages = els.filter(F.col("kind") == "text").groupBy("doc_id", "page").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
        F.countDistinct("font").cast("long").alias("n_fonts"),
    )
    # XObjectCounts: resource NAMES count once however often they draw
    # (resources.getXObjectNames()), typed Image vs Form by ref class
    xobj = els.filter(F.col("kind") == "media").groupBy("doc_id", "page").agg(
        F.countDistinct(
            F.when(~F.col("media_ref").startswith("form-"), F.col("media_ref"))
        ).cast("long").alias("n_xobj_image"),
        F.countDistinct(
            F.when(F.col("media_ref").startswith("form-"), F.col("media_ref"))
        ).cast("long").alias("n_xobj_form"),
    )
    flat = explode_spans(extract_spans(docs))
    subtype = F.split_part("text", F.lit("|"), F.lit(2))
    ann = flat.filter(F.col("kind") == "annotation").select(
        "doc_id",
        F.split_part("text", F.lit("|"), F.lit(1)).cast("int").alias("page"),
        subtype.alias("subtype"),
        F.split_part("text", F.lit("|"), F.lit(3)).alias("contents"),
        # Link action URI rides the 5th body field (the contents slot
        # stays empty — PDAnnotationLink contents are null)
        F.split_part("text", F.lit("|"), F.lit(6)).alias("uri"),
    ).groupBy("doc_id", "page").agg(
        F.count("*").cast("long").alias("n_annotations"),
        F.sum(F.when(F.col("contents") != "", 1).otherwise(0))
        .cast("long").alias("n_annot_contents"),
        F.countDistinct(F.when(F.col("subtype") == "Link", F.col("uri")))
        .cast("long").alias("n_links"),
        F.sum(F.when(F.col("subtype") == "RichMedia", 1).otherwise(0))
        .cast("long").alias("n_multimedia"),
    )
    z = F.lit(0).cast("long")
    return (
        pages.join(ann, ["doc_id", "page"], "left")
        .join(xobj, ["doc_id", "page"], "left")
        .select(
            "doc_id", F.col("page").cast("long").alias("page"),
            "n_lines", "n_chars", "n_fonts",
            F.coalesce("n_annotations", z).alias("n_annotations"),
            F.coalesce("n_annot_contents", z).alias("n_annot_contents"),
            F.coalesce("n_links", z).alias("n_links"),
            F.coalesce("n_xobj_image", z).alias("n_xobj_image"),
            F.coalesce("n_xobj_form", z).alias("n_xobj_form"),
            F.coalesce("n_multimedia", z).alias("n_multimedia"),
        )
    )


def q_toc_set_outline(spark: SparkSession, sf_dir: str,
                      docs: DataFrame | None = None) -> DataFrame:
    """TOC write-back round trip (EditTableOfContentsController.java
    :161-227): REPLACE the rich corpus's existing chapter outline with a
    fixed 4-node tree whose target pages exercise the pageIndex clamp
    (page 2 and 5 clamp to n_pages on short docs, page 99 always
    clamps), then extract bookmarks back — set -> extract, the S11
    metadata pattern applied to outlines."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_rich_repeat_from_documents,
    )
    from stirling_pdf_spark.operators.pageops import set_outline

    if docs is None:
        docs = docs_rich_repeat_from_documents(spark, sf_dir, 32)
    docs = set_outline(
        docs,
        [("Intro", 1, [("Background", 2, [])]),
         ("Results", 5, []),
         ("End", 99, [])],
    )
    flat = explode_spans(extract_spans(docs))
    w = Window.partitionBy("doc_id").orderBy("order")
    return flat.filter(F.col("kind") == "bookmark").select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("long").alias("bm_rank"),
        F.split_part("text", F.lit("|"), F.lit(1)).cast("long")
        .alias("depth"),
        F.split_part("text", F.lit("|"), F.lit(2)).cast("long")
        .alias("page"),
        F.split_part("text", F.lit("|"), F.lit(3)).alias("title"),
    )


def q_f2_filter_contains_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 filter-contains-image over the RAW wire (FilterController
    containsImage / PdfUtils.hasImages): keep multi-page repeat-corpus
    docs carrying at least one media draw and report how many — the
    synth layout emits one draw per COMPLETED page ≡ 0 (mod 3), so
    n_media = (completed_pages) // 3 = (4*n_words // 40) // 3."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_repeat_from_documents,
    )
    from stirling_pdf_spark.operators.pageops import has_media

    docs = docs_repeat_from_documents(spark, sf_dir, 32)
    return has_media(docs).select(
        "doc_id",
        F.size(F.filter("spans", lambda s: s["kind"] == "media"))
        .cast("long").alias("n_media"),
    )


def q_s10_remove_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 remove-images round trip (RemoveImagesController): strip
    media spans from the repeat corpus, run REAL extraction, and show
    per doc that media vanished while text and attachments survived."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_repeat_from_documents,
    )
    from stirling_pdf_spark.operators.pageops import remove_images

    docs = remove_images(docs_repeat_from_documents(spark, sf_dir, 32))
    flat = explode_spans(extract_spans(docs))
    return flat.groupBy("doc_id").agg(
        F.sum(F.when(F.col("kind") == "text", 1).otherwise(0))
        .cast("long").alias("n_text"),
        F.sum(F.when(F.col("kind") == "media", 1).otherwise(0))
        .cast("long").alias("n_media"),
        F.sum(F.when(F.col("kind") == "attachment", 1).otherwise(0))
        .cast("long").alias("n_attachments"),
    )


def q_text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over the documents table with planted identifiers
    (one email, one IPv4, one phone per doc, parameterized by doc_id —
    the sf text itself contains no digits or '@'): per-class counts
    plus the md5 of the fully scrubbed text, which the oracle
    re-derives by applying the same regex chain in the same order."""
    from stirling_pdf_spark.operators.textstats import scrub_pii

    docs = read_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" mail a"), (F.col("doc_id") % 10).cast("string"),
        F.lit("@ex.com ip 10.1.2."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(" call +44-123-4567"),
    )
    return scrub_pii(docs.select("doc_id", planted.alias("text")))


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup across the corpus (C4-style span
    dedup): 8-word windows survive only at their first (id, idx)
    occurrence; per doc the window count, survivor count and the md5
    of the surviving text — the oracle runs the identical
    first-occurrence window in SQL."""
    from stirling_pdf_spark.operators.dedup import paragraph_dedup

    return paragraph_dedup(read_table(spark, sf_dir, "documents"))


def q_attachment_crud(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attachment CRUD round trip (AttachmentService.java:64-127 add,
    :282-321 rename, :324-357 delete): add 'added.bin' + a second
    'extra.dat' (colliding with the pre-existing attachment on ~1/16
    docs), rename added.bin -> report.bin (must MOVE TO THE END),
    delete the FIRST 'extra.dat' (the original where one existed, the
    added one elsewhere), then list via E11 extraction. The closed-form
    oracle pins both branches of the first-match delete."""
    from stirling_pdf_spark.operators.attachments import (
        add_attachments,
        delete_attachment,
        rename_attachment,
    )

    docs = docs_from_documents_table(spark, sf_dir)
    docs = add_attachments(docs, [("added.bin", "media-aa11bb22"),
                                  ("extra.dat", "media-cc33dd44")])
    docs = rename_attachment(docs, "added.bin", "report.bin")
    docs = delete_attachment(docs, "extra.dat")
    flat = explode_spans(extract_spans(docs))
    w = Window.partitionBy("doc_id").orderBy("order")
    return flat.filter(F.col("kind") == "attachment").select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("long").alias("att_rank"),
        F.col("text").alias("name"), "media_ref",
    )


def q_s9_page_numbers(spark: SparkSession, sf_dir: str,
                      docs: DataFrame | None = None) -> DataFrame:
    """S9 page numbers, full surface (PageNumbersController.java:59-185):
    the F7 pages DSL ("1,2n+1" = page 1 + odd pages via the n-expr),
    running number from startingNumber=5 zero-padded to 3, the
    {n}/{total}/{filename} template, 9-grid position 3 (top-right: x is
    right-aligned by text width, y = topY - ascent for Times), small
    margin — over the 1-10 page repeat corpus."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_repeat_from_documents,
    )
    from stirling_pdf_spark.operators.pageops import page_number_stamps

    if docs is None:
        docs = docs_repeat_from_documents(spark, sf_dir, 32)
    return page_number_stamps(
        docs, position=3, starting_number=5, pages_to_number="1,2n+1",
        custom_text="Page {n} of {total} - {filename}", zero_pad=3,
        custom_margin="small", font_size=12.0, font_type="times",
    )


def q_s3_split_doc_count(spark: SparkSession, sf_dir: str,
                         docs: DataFrame | None = None) -> DataFrame:
    """S3 split-by-DOC-count through the wire
    (SplitPdfBySizeController.java:287-310, splitType=2, n=3): np//3
    pages per part with the first np%3 parts one page bigger, empty
    trailing parts skipped; every part re-extracts standalone and the
    per-(part, kind) span counts are hash-checked against the
    closed-form paging model over the 1-10 page repeat corpus."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_repeat_from_documents,
    )
    from stirling_pdf_spark.operators.pageops import split_into_n_docs

    if docs is None:
        docs = docs_repeat_from_documents(spark, sf_dir, 32)
    parts = split_into_n_docs(docs, 3)
    flat = explode_spans(extract_spans(parts))
    return flat.groupBy("doc_id", "kind").agg(
        F.count("*").cast("long").alias("n_spans"))


def q_s3_split_byte_size(spark: SparkSession, sf_dir: str,
                         docs: DataFrame | None = None) -> DataFrame:
    """S3 split-by-SIZE through the wire
    (SplitPdfBySizeController.java:193-240, splitType=0): the
    reference's probe-frequency machine — size checked after the
    5th/10th/15th page of a range, every page from the 20th, and at
    the last page; over-budget probes backtrack ONE page, so ranges
    can exceed the budget exactly like the reference's. Runs as a
    JVM-side aggregate fold (operators/pageops.split_by_byte_size);
    the DuckDB oracle replays the same machine as a recursive CTE and
    both are pinned against a direct simulation of the Java loop in
    tests/test_split_modes.py."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_repeat_from_documents,
    )
    from stirling_pdf_spark.operators.pageops import split_by_byte_size

    if docs is None:
        docs = docs_repeat_from_documents(spark, sf_dir, 32)
    parts = split_by_byte_size(docs, O.SPLIT_BYTE_MAX)
    flat = explode_spans(extract_spans(parts))
    return (flat.filter(F.col("kind") == "text")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_lines")))


def q_s11_flatten_forms(spark: SparkSession, sf_dir: str,
                        docs: DataFrame | None = None) -> DataFrame:
    """S11-family form flattening (FlattenController.java:26-35,
    flattenOnlyForms=true -> acroForm.flatten()): after the operator,
    extraction sees ZERO formfield spans and the field VALUES as
    static last-page text lines below the body band — the whole-text
    md5 pins content AND placement order against the oracle's
    body-lines ++ painted-values model."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_analysis_from_documents,
    )
    from stirling_pdf_spark.operators.pageops import flatten_forms

    if docs is None:
        docs = docs_analysis_from_documents(spark, sf_dir)
    flat = explode_spans(extract_spans(flatten_forms(docs)))
    agg = flat.groupBy("doc_id").agg(
        F.sum(F.when(F.col("kind") == "formfield", 1).otherwise(0))
        .cast("long").alias("n_formfields"),
        F.array_sort(F.collect_list(
            F.when(F.col("kind") == "text", F.struct("order", "text"))
        )).alias("ls"),
    )
    full = F.array_join(F.transform("ls", lambda s: s["text"]), "\n")
    return (agg.filter(F.size("ls") > 0)
            .select("doc_id", "n_formfields",
                    F.md5(full).alias("text_md5"),
                    F.length(full).cast("long").alias("n_chars")))


def q_s9_watermark_grid(spark: SparkSession, sf_dir: str,
                        docs: DataFrame | None = None) -> DataFrame:
    """S9-family text watermark (WatermarkController.java
    addTextWatermark): a 9x4 grid of 'WATERMARK' stamps tiles every
    page (pitch = spacer + text extent, rows/cols = page/pitch + 1,
    loops inclusive — tiles run past the page edge unclipped, exactly
    like the reference's content stream). The grid y-positions are
    congruent 8 mod 14 while body lines are congruent 2, so no stamp
    shares a baseline with body text and the full reading order —
    stamps interleaved with body lines by (page, y, x) — is pinned by
    the whole-text md5."""
    from stirling_pdf_spark.operators.pageops import add_watermark

    if docs is None:
        docs = docs_from_documents_table(spark, sf_dir)
    wm = add_watermark(docs, "WATERMARK", rotation=0.0,
                       width_spacer=216, height_spacer=92,
                       font_size=20.0)
    flat = explode_spans(extract_spans(wm)).filter(
        F.col("kind") == "text")
    assembled = flat.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("order", "text"))),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("full_text")
    )
    return assembled.select(
        "doc_id", F.md5("full_text").alias("text_md5"),
        F.length("full_text").cast("long").alias("n_chars"),
    )


def q_remove_blank_pages(spark: SparkSession, sf_dir: str,
                         docs: DataFrame | None = None) -> DataFrame:
    """/remove-blank-pages (BlankPageController.java:57-104 text rule)
    through the wire: every corpus doc gets a whitespace-only page at
    np+1 AND a marker page at np+2; removal must drop exactly the
    blank page and RENUMBER the marker to np+1 — per-page text-span
    counts after removal pin both the drop and the dense renumber."""
    from stirling_pdf_spark.operators.pageops import (
        remove_blank_pages, wire_page,
    )

    if docs is None:
        docs = docs_from_documents_table(spark, sf_dir)
    pages = F.transform(
        F.filter("spans", lambda s: s["kind"].isin("text", "media")),
        lambda s: wire_page(s["text"]),
    )
    maxp = F.coalesce(F.array_max(pages), F.lit(0).cast("long"))
    blank_span = F.struct(
        F.lit("text").alias("kind"),
        F.concat((maxp + 1).cast("string"),
                 F.lit("|72.0|72.0|11.0|Helvetica\t   ")).alias("text"),
        F.lit("").alias("media_ref"),
        F.size("spans").alias("offset"),
    )
    marker_span = F.struct(
        F.lit("text").alias("kind"),
        F.concat((maxp + 2).cast("string"),
                 F.lit("|72.0|72.0|11.0|Helvetica\ttail marker"))
        .alias("text"),
        F.lit("").alias("media_ref"),
        (F.size("spans") + 1).alias("offset"),
    )
    with_extra = docs.select(
        "doc_id",
        F.concat("spans", F.array(blank_span, marker_span)).alias("spans"),
    )
    out = remove_blank_pages(with_extra)
    s = F.col("s")
    flat = out.select("doc_id", F.explode("spans").alias("s")).filter(
        s["kind"] == "text")
    return flat.groupBy("doc_id", wire_page(s["text"]).alias("page")).agg(
        F.count("*").cast("long").alias("n_text"))


def q_sanitize_pdf(spark: SparkSession, sf_dir: str,
                   docs: DataFrame | None = None) -> DataFrame:
    """/sanitize-pdf with EVERY option on (SanitizeController.java:
    26-208): per doc the gate appends a JavaScript meta, a Link
    annotation with a URI action and a FileAttachment annotation, then
    sanitizes — JS/attachments/FileAttachments/Info-dict metas must
    vanish, Link annotations must survive with their action CLEARED,
    catalog-state metas (encryption flags, XFA) and AcroForm fields
    must pass through untouched, and every text run keeps its content
    but loses its font (the page /Font resource removal)."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_analysis_from_documents,
    )
    from stirling_pdf_spark.operators.pageops import (
        SANITIZE_INFO_KEYS, sanitize_docs, wire_body, wire_fields,
    )

    if docs is None:
        docs = docs_analysis_from_documents(spark, sf_dir)
    extra = [
        ("meta", "js_openaction|app.alert(1)", ""),
        ("annotation", "1|10.0|700.0|20.0|20.0\tLink|https://example.com|a|s", ""),
        ("annotation", "1|40.0|700.0|20.0|20.0\tFileAttachment|f.bin|a|s", ""),
    ]
    extra_arr = F.array(*[
        F.struct(F.lit(k).alias("kind"), F.lit(t).alias("text"),
                 F.lit(m).alias("media_ref"),
                 (F.size("spans") + i).alias("offset"))
        for i, (k, t, m) in enumerate(extra)
    ])
    appended = docs.select(
        "doc_id", F.concat("spans", extra_arr).alias("spans"))
    out = sanitize_docs(appended, remove_javascript=True,
                        remove_embedded_files=True, remove_metadata=True,
                        remove_links=True, remove_fonts=True)
    s = F.col("s")
    flat = out.select("doc_id", F.explode("spans").alias("s"))
    meta_key = F.split_part(s["text"], F.lit("|"), F.lit(1))
    body = wire_body(s["text"])
    ann_subtype = F.split_part(body, F.lit("|"), F.lit(1))
    ann_contents = F.split_part(body, F.lit("|"), F.lit(2))
    font = wire_fields(s["text"])[4]
    is_meta = s["kind"] == "meta"
    info_keys = F.array(*[F.lit(k) for k in SANITIZE_INFO_KEYS])
    return flat.groupBy("doc_id").agg(
        F.sum(F.when(s["kind"] == "attachment", 1).otherwise(0))
        .cast("long").alias("n_attachments"),
        F.sum(F.when((s["kind"] == "annotation")
                     & (ann_subtype == "FileAttachment"), 1).otherwise(0))
        .cast("long").alias("n_fileattach"),
        F.sum(F.when(is_meta & meta_key.startswith("js_"), 1)
              .otherwise(0)).cast("long").alias("n_js"),
        F.sum(F.when(is_meta & F.array_contains(info_keys, meta_key), 1)
              .otherwise(0)).cast("long").alias("n_info_meta"),
        F.sum(F.when(is_meta & ~F.array_contains(info_keys, meta_key)
                     & ~meta_key.startswith("js_"), 1).otherwise(0))
        .cast("long").alias("n_other_meta"),
        F.sum(F.when((s["kind"] == "annotation")
                     & (ann_subtype == "Link"), 1).otherwise(0))
        .cast("long").alias("n_link"),
        F.sum(F.when((s["kind"] == "annotation")
                     & (ann_subtype == "Link")
                     & (ann_contents != ""), 1).otherwise(0))
        .cast("long").alias("n_link_with_uri"),
        F.sum(F.when(s["kind"] == "formfield", 1).otherwise(0))
        .cast("long").alias("n_formfields"),
        F.array_join(F.array_distinct(F.sort_array(F.collect_list(
            F.when(s["kind"] == "text", font)))), ",")
        .alias("fonts_sig"),
    )


def q_security_password(spark: SparkSession, sf_dir: str,
                        docs: DataFrame | None = None) -> DataFrame:
    """/add-password and /remove-password (PasswordController.java:
    54-139) over the analysis corpus, split by doc parity so neither
    op can mask the other: even docs get protect() with a user
    password at keyLength 128 and two prevent* flags — the full
    12-key security state must land (AESV2/128/rev4, permissions) —
    while odd docs get setAllSecurityToBeRemoved — is_encrypted flips
    false and EVERY encryption-state key disappears, including the
    corpus's own pre-encrypted AESV3/AESV2 blocks. State read back
    through real extraction (extract_metadata)."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_analysis_from_documents,
    )
    from stirling_pdf_spark.operators.extract_pipeline import (
        extract_metadata,
    )
    from stirling_pdf_spark.operators.pageops import (
        ENCRYPTION_STATE_KEYS, add_password, remove_password,
    )

    from stirling_pdf_spark.runtime.staging import stage as _stage

    if docs is None:
        # the corpus feeds both parity branches — stage it so the
        # Python synthesis runs once, not per branch
        docs = _stage(docs_analysis_from_documents(spark, sf_dir))
    num = F.split_part("doc_id", F.lit("-"), F.lit(2)).cast("long")
    protected = add_password(
        docs.filter(num % 2 == 0), user_password="u",
        owner_password="o", key_length=128, prevent_printing=True,
        prevent_modify=True)
    stripped = remove_password(docs.filter(num % 2 == 1), password="u")
    out = protected.unionByName(stripped)
    meta = extract_metadata(extract_spans(out))
    keys = ("is_encrypted",) + ENCRYPTION_STATE_KEYS
    return meta.filter(F.col("key").isin(*keys)).select(
        "doc_id", "key", "value")


def q_signature_state(spark: SparkSession, sf_dir: str,
                      docs: DataFrame | None = None) -> DataFrame:
    """/cert-sign + /remove-cert-sign + /validate-signature
    (CertSignController, RemoveCertSignController.java:50-80,
    ValidateSignatureController.java:88-230) over the analysis corpus,
    split by doc parity so neither op masks the other: even docs get
    cert-signed (signer/date/reason/location ride the signature
    dictionary; the new field takes the next free sigN name — docs the
    corpus already gave a signature field get sig1, others sig0) and
    must validate back with all metadata and covers_document=true;
    odd docs get remove-cert-sign — every signature FIELD disappears
    (including the corpus's own) and validation returns no rows.
    State read back through real extraction."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_analysis_from_documents,
    )
    from stirling_pdf_spark.operators.pageops import (
        add_cert_sign, remove_cert_sign, validate_signatures,
    )

    from stirling_pdf_spark.runtime.staging import stage as _stage

    if docs is None:
        # both parity branches read the corpus — synthesize once
        docs = _stage(docs_analysis_from_documents(spark, sf_dir))
    num = F.split_part("doc_id", F.lit("-"), F.lit(2)).cast("long")
    date = F.concat(F.lit("2026-01-"),
                    F.lpad((num % 28 + 1).cast("string"), 2, "0"))
    signed = add_cert_sign(
        docs.filter(num % 2 == 0),
        signer=F.concat(F.lit("CN="), F.col("doc_id")),
        date=date, reason="approval", location="HQ")
    stripped = remove_cert_sign(docs.filter(num % 2 == 1))
    out = extract_spans(signed.unionByName(stripped))
    sigs = validate_signatures(out)
    is_sig_field = (F.col("kind") == "formfield") & (
        F.split_part("text", F.lit("|"), F.lit(2)) == "signature")
    fields = explode_spans(out).groupBy("doc_id").agg(
        F.sum(F.when(is_sig_field, 1).otherwise(0)).cast("long")
        .alias("n_sig_fields"))
    return fields.join(sigs, "doc_id", "left").select(
        "doc_id", "n_sig_fields", "sig_no", "signer_name",
        "signature_date", "reason", "location",
        # int flags, not booleans: the driver's pandas compare treats
        # nullable-bool columns inconsistently across engines
        F.col("covers_document").cast("int").alias("covers_document"),
        F.col("valid").cast("int").alias("valid"))


def q_add_image_stamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/add-image (OverlayImageController.java:58-120) driven both
    ways by doc parity — even docs stamp EVERY page, odd docs only the
    first — then read back through real extraction: one media draw per
    target page at the converted screen coordinates, referencing the
    planted blob. Pageless (empty-text) docs stamp nothing."""
    from stirling_pdf_spark.operators.pageops import add_image

    from stirling_pdf_spark.runtime.staging import stage as _stage

    # both parity branches read the corpus — synthesize once
    docs = _stage(docs_from_documents_table(spark, sf_dir))
    num = F.split_part("doc_id", F.lit("-"), F.lit(2)).cast("long")
    every = add_image(docs.filter(num % 2 == 0), "media-stamp",
                      x=150.0, y=500.0, w=120.0, h=80.0,
                      every_page=True)
    first = add_image(docs.filter(num % 2 == 1), "media-stamp",
                      x=150.0, y=500.0, w=120.0, h=80.0)
    from stirling_pdf_spark.operators.elements import extract_elements

    els = extract_elements(every.unionByName(first))
    # geometry reads back through the E8 structured-elements table
    # (the extracted span wire intentionally drops media geometry;
    # elements carry x/y/width — height is not part of that schema)
    return els.filter((F.col("kind") == "media")
                      & (F.col("media_ref") == "media-stamp")).select(
        "doc_id", F.col("page").cast("long").alias("page"),
        "x", "y", F.col("width").alias("w"))


def q_text_url_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction (web-corpus hygiene; corpus-level analogue of
    the H5 autolink matcher): deterministic scheme + bare-www URLs are
    appended to every document's text and every occurrence must come
    back with position, exact URL and registrable host."""
    from stirling_pdf_spark.operators.textstats import extract_urls

    base = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t2 = F.concat(
        F.col("text"), F.lit(" see https://site"),
        (d % 7).cast("string"), F.lit(".example.com/p/"),
        d.cast("string"), F.lit(" or www.mirror"),
        (d % 7).cast("string"), F.lit(".org done"),
    )
    docs = base.select(
        F.concat(F.lit("doc-"), d.cast("string")).alias("doc_id"),
        t2.alias("text"),
    )
    return extract_urls(docs)


def q_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-mixture sampling (the LLM-pretraining
    data-mixing stage; public Pile/LLaMA-style recipes): per-source
    weights cycle [1.0x, 0.5x, 0.25x, 2.0x] — fractional weights
    hash-downsample, the 2.0x weight REPLICATES its source — and the
    id-hash decision reproduces the identical mixture at any
    cluster size."""
    from stirling_pdf_spark.operators.textstats import domain_mix_sample

    return domain_mix_sample(read_table(spark, sf_dir, "documents"))


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary census (tokenizer-training head): top-50
    whitespace terms by total count (term-asc ties), with
    document frequencies — explode + one partial-agg'd groupBy, then
    a vocabulary-sized (not corpus-sized) top-k."""
    from stirling_pdf_spark.operators.textstats import vocab_topk

    return vocab_topk(read_table(spark, sf_dir, "documents"))


def q_bigram_lm_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained bigram-LM corpus-fit score (KenLM-style
    quality/boilerplate signal from public CCNet-style pipelines),
    integer-exact: avg conditional bigram probability x1000 per doc;
    the trained model is a DataFrame joined back on its keys, never
    driver state."""
    from stirling_pdf_spark.operators.textstats import bigram_lm_fit

    base = read_table(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
        .alias("doc_id"), "text")
    return bigram_lm_fit(base)


def q_text_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (web-pipeline guard against one host
    dominating a crawl): docs keyed by their first URL's host, at most
    2 survivors per domain ranked by a deterministic id-hash —
    reproducible across cluster sizes, like text_hash_sample."""
    from stirling_pdf_spark.operators.textstats import domain_caps

    base = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t2 = F.concat(
        F.col("text"), F.lit(" via https://site"),
        (d % 7).cast("string"), F.lit(".example.com/p/"),
        d.cast("string"),
    )
    docs = base.select(
        F.concat(F.lit("doc-"), d.cast("string")).alias("doc_id"),
        t2.alias("text"),
    )
    return domain_caps(docs, max_per_domain=2)


def q_show_javascript(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/show-javascript (ShowJavascript.java:26-75): every JS name-tree
    entry concatenates as '// File: {id}, Script: {name}' + code lines
    in sorted-name order; scriptless docs yield the literal
    "PDF '{id}' does not contain Javascript" body. Every third doc
    carries two scripts; the rest carry only non-JS metadata (which
    must NOT leak into the script)."""
    from stirling_pdf_spark.operators.pageops import show_javascript

    base = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def meta(txt) -> F.Column:
        return F.struct(F.lit("meta").alias("kind"),
                        F.lit(txt).alias("text"),
                        F.lit("").alias("media_ref"),
                        F.lit(0).alias("offset"))

    spans = F.when(
        d % 3 == 0,
        F.array(meta("js_openaction|app.alert(1)"),
                meta("js_validate|var x=2;")),
    ).otherwise(F.array(meta("title|plain")))
    docs = base.select(
        F.concat(F.lit("doc-"), d.cast("string")).alias("doc_id"),
        spans.alias("spans"),
    )
    return show_javascript(docs)


def q_dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (13-gram overlap, the published
    standard): every 25th document forms the 'benchmark suite'; those
    docs must come back fully contaminated (self-overlap), everything
    else exactly as the closed-form 13-gram intersection says — the
    benchmark n-gram set is broadcast, so the corpus side never
    shuffles before the per-doc aggregate."""
    from stirling_pdf_spark.operators.dedup import decontaminate

    base = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    docs = base.select(
        F.concat(F.lit("doc-"), d.cast("string")).alias("doc_id"),
        "text")
    bench = base.filter(d % 25 == 0).select(
        F.concat(F.lit("doc-"), d.cast("string")).alias("doc_id"),
        "text")
    return decontaminate(docs, bench, n=13)


def q_to_markdown(spark: SparkSession, sf_dir: str,
                  docs: DataFrame | None = None) -> DataFrame:
    """PDF -> Markdown export (PdfMarkdownConverter.java body
    pipeline) over the rich corpus: the 16pt bold title renders as a
    '# ' heading (glyph-median baseline = the 11pt body), body lines
    assemble into paragraphs (no intra-page gap exceeds 0.8x line
    height) and sentence continuations merge across EVERY page break
    (lowercase start, no sentence punctuation), so each doc's markdown
    is exactly '# first-6-words' + a blank line + the full text —
    pinned by md5 + length."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_rich_from_documents,
    )
    from stirling_pdf_spark.operators.markdown import to_markdown

    if docs is None:
        docs = docs_rich_from_documents(spark, sf_dir)
    out = to_markdown(docs)
    return out.select(
        "doc_id", F.md5("markdown").alias("md_md5"),
        F.length("markdown").cast("long").alias("n_chars"))


def q_to_markdown_tables(spark: SparkSession, sf_dir: str,
                         docs: DataFrame | None = None) -> DataFrame:
    """PDF -> Markdown TABLE rendering (TableRenderer.java:8-78 pipe
    tables over the E14 stream-mode detector): each doc's 4x3
    whitespace-column page renders as a GFM pipe table with
    max(3, longest-cell) column widths, right-padded cells and the
    dashed header separator — the exact string is the gate value."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_stream_table_from_documents,
    )
    from stirling_pdf_spark.operators.markdown import to_markdown

    if docs is None:
        docs = docs_stream_table_from_documents(spark, sf_dir)
    return to_markdown(docs)


def q_to_html(spark: SparkSession, sf_dir: str,
              docs: DataFrame | None = None) -> DataFrame:
    """PDF -> HTML export (/convert/pdf/html; PDFToFile.java:99,
    172-201 delegates to the out-of-scope pdftohtml binary — here the
    proven Markdown block pipeline re-emitted as tags) over the rich
    corpus: >6-word docs render <h1>first-6-words</h1> + one merged
    <p> of the full entity-escaped text inside the standalone
    document wrapper; <=6-word docs hit the bold-label branch
    (<p><strong>..</strong></p>). Pinned by md5 + length."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_rich_from_documents,
    )
    from stirling_pdf_spark.operators.markdown import to_html

    if docs is None:
        docs = docs_rich_from_documents(spark, sf_dir)
    out = to_html(docs)
    return out.select(
        "doc_id", F.md5("html").alias("html_md5"),
        F.length("html").cast("long").alias("n_chars"))


def q_to_html_tables(spark: SparkSession, sf_dir: str,
                     docs: DataFrame | None = None) -> DataFrame:
    """PDF -> HTML TABLE rendering over the E14 stream-table corpus:
    each doc's 4x3 whitespace-column page renders as a thead/tbody
    HTML table inside the standalone wrapper — the exact string is
    the gate value."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_stream_table_from_documents,
    )
    from stirling_pdf_spark.operators.markdown import to_html

    if docs is None:
        docs = docs_stream_table_from_documents(spark, sf_dir)
    return to_html(docs)


def q_to_xml(spark: SparkSession, sf_dir: str,
             docs: DataFrame | None = None) -> DataFrame:
    """PDF -> structural XML export (/convert/pdf/xml;
    PDFToFile.java:256,334-335 delegates to the out-of-scope
    LibreOffice binary — here the proven block pipeline re-emitted as
    a minimal structural vocabulary, kernel/xml_export.py) over the
    rich corpus: >6-word docs render <heading level="1"> + one merged
    <p> of the full entity-escaped text inside the declaration +
    <document> wrapper; <=6-word docs hit the bold-label branch.
    Pinned by md5 + length."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_rich_from_documents,
    )
    from stirling_pdf_spark.operators.markdown import to_xml

    if docs is None:
        docs = docs_rich_from_documents(spark, sf_dir)
    out = to_xml(docs)
    return out.select(
        "doc_id", F.md5("xml").alias("xml_md5"),
        F.length("xml").cast("long").alias("n_chars"))


def q_to_xml_tables(spark: SparkSession, sf_dir: str,
                    docs: DataFrame | None = None) -> DataFrame:
    """PDF -> XML TABLE rendering over the E14 stream-table corpus:
    each doc's 4x3 whitespace-column page renders as a row/cell grid
    with a header="true" first row inside the <document> wrapper —
    the exact string is the gate value."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_stream_table_from_documents,
    )
    from stirling_pdf_spark.operators.markdown import to_xml

    if docs is None:
        docs = docs_stream_table_from_documents(spark, sf_dir)
    return to_xml(docs)


def q_to_epub(spark: SparkSession, sf_dir: str,
              docs: DataFrame | None = None) -> DataFrame:
    """PDF -> EPUB structural export (/convert/pdf/epub;
    ConvertPDFToEpubController.java:34-60 delegates to the
    out-of-scope Calibre binary — here the OCF members emit over the
    shared block pipeline with the reference's
    SMART_CHAPTER_EXPRESSION rule, kernel/epub_export.py) over the
    two-chapter corpus (docs >= 24 words; smaller docs derive empty
    and emit nothing): six members per doc — constant mimetype +
    container.xml, doc_id-keyed content.opf + nav.xhtml, and one
    XHTML spine item per 'Chapter N' heading whose single paragraph
    is the ceil-half word split. Pinned by member md5 + length."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_chapters_from_documents,
    )
    from stirling_pdf_spark.operators.markdown import to_epub

    if docs is None:
        docs = docs_chapters_from_documents(spark, sf_dir)
    out = to_epub(docs)
    return out.select(
        "doc_id", F.col("ord").cast("int").alias("ord"), "member",
        F.md5("content").alias("content_md5"),
        F.length("content").cast("long").alias("n_chars"))


def q_to_docx(spark: SparkSession, sf_dir: str,
              docs: DataFrame | None = None) -> DataFrame:
    """PDF -> DOCX structural export (/convert/pdf/word;
    PDFToFile.java:99 delegates to the out-of-scope LibreOffice binary
    — here the OOXML package members emit over the shared block
    pipeline, kernel/docx_export.py) over the two-chapter corpus
    (docs >= 24 words; smaller docs derive empty and emit nothing):
    four OPC members per doc — constant [Content_Types].xml +
    _rels/.rels + word/styles.xml, and word/document.xml as
    Heading1/paragraph WordprocessingML pairs over the ceil-half word
    split. Pinned by member md5 + length."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_chapters_from_documents,
    )
    from stirling_pdf_spark.operators.markdown import to_docx

    if docs is None:
        docs = docs_chapters_from_documents(spark, sf_dir)
    out = to_docx(docs)
    return out.select(
        "doc_id", F.col("ord").cast("int").alias("ord"), "member",
        F.md5("content").alias("content_md5"),
        F.length("content").cast("long").alias("n_chars"))


def q_corpus_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/val/test split (98/1/1
    permille of the first 4 md5 bytes of the text) — stable under
    re-shuffles and dedup re-runs, copies land in the same split
    (operators/serialize.hash_split, pure column algebra)."""
    from stirling_pdf_spark.operators.serialize import hash_split

    return hash_split(read_table(spark, sf_dir, "documents"))



def q_corpus_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible seeded training-order shuffle: md5(seed:doc_id)
    keys, shard by first byte, position by key order within shard —
    per-shard windows only, never one global sort."""
    from stirling_pdf_spark.operators.serialize import shuffle_order

    return shuffle_order(read_table(spark, sf_dir, "documents"))



def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly traffic-anomaly flags per event type: count vs 2x the
    trailing-24-row mean, integer cross-multiplied, cold-start hours
    never flagged."""
    from stirling_pdf_spark.operators.relational import (
        events_hourly_anomaly,
    )

    return events_hourly_anomaly(read_table(spark, sf_dir, "events"))



def q_events_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass hierarchical ROLLUP: (type, hour-of-day) leaves,
    per-type subtotals and the grand total with an explicit level id
    — all three levels out of ONE shuffle."""
    from stirling_pdf_spark.operators.relational import events_rollup

    return events_rollup(read_table(spark, sf_dir, "events"))



def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 3-gram novelty: share of distinct shingles unique to
    the doc across the corpus — the diversity audit inverse to the
    ExactSubstr duplicate-coverage gate."""
    from stirling_pdf_spark.operators.textstats import ngram_novelty

    return ngram_novelty(read_table(spark, sf_dir, "documents"))


def q_corpus_to_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL serialization through Spark's REAL JVM-side to_json
    (JacksonGenerator): one {"doc_id":...,"text":...} record per doc;
    the oracle restates the record closed-form (the corpus is
    verified quote/backslash/control-free, so JSON escaping is the
    identity) — pinning the serializer's shape, not a UDF
    (operators/serialize.to_jsonl)."""
    from stirling_pdf_spark.operators.serialize import to_jsonl

    return to_jsonl(read_table(spark, sf_dir, "documents"))


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE first-merge statistics (Sennrich et al. 2016): adjacent
    symbol pairs (char bigrams + last-char||'</w>') weighted by the
    corpus word-frequency table; top-20 by total desc, pair asc —
    the top row is exactly BPE's first merge
    (operators/textstats.bpe_pair_counts; both shuffles run over
    vocabulary-sized data)."""
    from stirling_pdf_spark.operators.textstats import bpe_pair_counts

    return bpe_pair_counts(read_table(spark, sf_dir, "documents"))


def q_bpe_train_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE training (Sennrich et al. 2016): six merge
    iterations, each a vocabulary-sized pair-count aggregation +
    1-row argmax collect + double-replace vocabulary rewrite
    (operators/textstats.bpe_train_merges — verified identical to
    canonical token-list BPE in tests/test_bpe.py). Output: the
    learned merge table (rank, lhs, rhs, merged, total); the oracle
    unrolls all six iterations as materialized CTEs."""
    from stirling_pdf_spark.operators.textstats import bpe_train_table

    return bpe_train_table(read_table(spark, sf_dir, "documents"))


def q_bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encode after training: the corpus symbol census once the
    six learned merges are applied — any wrong merge shifts the
    census, so this validates the whole loop distributively
    (operators/textstats.bpe_encode_tokens). Output: top-25
    (rank, symbol, total)."""
    from stirling_pdf_spark.operators.textstats import bpe_encode_tokens

    return bpe_encode_tokens(read_table(spark, sf_dir, "documents"))


def q_quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality classifier (fastText shape, Joulin et
    al. 2016): md5 feature hashing into 64 buckets, integer weight
    lookup, per-doc weight sum + sign label — pure JVM column
    expressions, map-only, no shuffle
    (operators/textstats.quality_classifier_score)."""
    from stirling_pdf_spark.operators.textstats import (
        quality_classifier_score,
    )

    return quality_classifier_score(read_table(spark, sf_dir, "documents"))


def _qc_labeled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + integer label = (lang_id == 'en'), computed inline
    in one projection after a materializing spread (no join)."""
    from stirling_pdf_spark.operators.dedup import words_col
    from stirling_pdf_spark.operators.textstats import lang_pred_expr

    words = read_table(spark, sf_dir, "documents").select(
        "text", words_col("text").alias("w"))
    return spread(words, "text").select(
        "text",
        (lang_pred_expr("w") == F.lit("en")).cast("long").alias("label"),
    )


def q_quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED classifier training (the other half of
    quality_classifier_score): per-bucket token counts by class ->
    ppm rate-difference weights, one explode + partial agg onto 64
    keys + a one-row broadcast totals join; labels are the lang_id
    argmax computed inline
    (operators/textstats.train_quality_classifier)."""
    from stirling_pdf_spark.operators.textstats import (
        train_quality_classifier,
    )

    return train_quality_classifier(_qc_labeled_docs(spark, sf_dir))


def q_quality_classifier_trained_score(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """Train -> deploy round trip: the trained 64-row model is
    collected (bounded BY CONSTRUCTION, the IVF-centroid pattern),
    broadcast as a literal weight array, and inference runs map-only
    with zero shuffle — the production shape for classifier passes at
    10^12 docs (operators/textstats.trained_weights_list +
    quality_classifier_score)."""
    from stirling_pdf_spark.operators.textstats import (
        quality_classifier_score,
        train_quality_classifier,
        trained_weights_list,
    )

    wdf = train_quality_classifier(_qc_labeled_docs(spark, sf_dir))
    ws = trained_weights_list(wdf)
    return quality_classifier_score(
        read_table(spark, sf_dir, "documents"), weights=ws)


def q_corpus_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data card (the datasheet rollup, Gebru et al. 2021):
    per (predicted language, length bucket) doc counts and token/byte
    totals — one scan, map-side partial agg onto ~40 keys, a
    constant-size exchange regardless of corpus size
    (operators/textstats.corpus_stats_report)."""
    from stirling_pdf_spark.operators.textstats import (
        corpus_stats_report,
    )

    return corpus_stats_report(read_table(spark, sf_dir, "documents"))


def q_pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed end-to-end training build (the capstone the
    per-stage gates exist for): Gopher quality -> first-occurrence
    exact dedup -> train hash slice -> 512-token packing, each stage
    the already-gated operator chained by operators/serialize.
    build_training_corpus. The raw synthetic corpus has no English
    stopwords (the stop rule would kill ALL docs and the gate would
    compare empty to empty), so the gate corpus makes every stage
    bite: doc_id%10 in (4,5) -> one CONSTANT 56-word block (collapses
    in the dedup stage), other even doc_ids get a stopword tail
    (pass the stop rule; odd docs fail it), and the split stage drops
    its 2% holdout. Pins stage order and survivor sets."""
    from stirling_pdf_spark.operators.serialize import (
        build_training_corpus,
    )

    base = read_table(spark, sf_dir, "documents")
    dup_block = " ".join(
        ["the of and that have with be to"] * 7)  # 56 words
    t = F.col("text")
    src = base.select(
        "doc_id",
        F.when((F.col("doc_id") % 10).isin(4, 5),
               F.lit(dup_block))
        .when(F.col("doc_id") % 2 == 0,
              F.concat(t, F.lit(" the of and that have")))
        .otherwise(t).alias("text"))
    return build_training_corpus(src)


def q_pack_seq_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence document boundaries off the packed stream (the
    attention-reset offsets a trainer consumes): one groupBy over
    pack_sequences — (seq_id, n_docs, sorted boundary offsets,
    n_tokens); full sequences carry exactly 512 tokens
    (operators/packing.pack_seq_boundaries)."""
    from stirling_pdf_spark.operators.packing import pack_seq_boundaries

    return pack_seq_boundaries(read_table(spark, sf_dir, "documents"),
                               seq_len=512)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl exact dedup (new batch vs the accepted
    corpus + within-batch first-wins): the derived batch makes every
    path bite — doc_id%3==0 copies existing text (dropped),
    %3==1 is novel (kept), %3==2 shares one constant block (only the
    lowest id keeps). operators/dedup.dedup_incremental — the
    anti-join-by-content-hash verifier a bloom-filtered production
    ingest sits on top of."""
    from stirling_pdf_spark.operators.dedup import dedup_incremental

    base = read_table(spark, sf_dir, "documents")
    newb = base.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.when(F.col("doc_id") % 3 == 0, F.col("text"))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.col("text"), F.lit(" fresh crawl content")))
        .otherwise(F.lit("constant repeated batch block payload"))
        .alias("text"))
    return dedup_incremental(newb, base).select(
        F.col("id").alias("doc_id"), "in_existing", "batch_first",
        "keep")


def q_lang_balance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced downsampling (head-language cap): integer
    permille keep-rate floor(70*1000/n_lang) per language, kept iff
    the content-hash permille falls under it — counts broadcast back,
    map-only thinning, no per-language window
    (operators/textstats.lang_balance_sample)."""
    from stirling_pdf_spark.operators.textstats import lang_balance_sample

    return lang_balance_sample(read_table(spark, sf_dir, "documents"),
                               target_per_lang=70)


def q_multimodal_decode_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-stage error ISOLATION as a first-class contract: four
    deterministic corruption modes (float-tag WAV, non-RIFF junk,
    moov-less ISO-BMFF, v2 tkhd) each hit a different kernel guard;
    the stage must yield one null+reason row per damaged payload --
    never a batch failure -- and the reasons are pinned against the
    oracle (corpus.media.corrupted_media_table,
    multimodal.decode_audio/probe_video)."""
    from stirling_pdf_spark.corpus.media import corrupted_media_table
    from stirling_pdf_spark.operators.multimodal import (
        decode_audio, probe_video)

    docs = docs_media_from_documents(spark, sf_dir)
    tbl = corrupted_media_table(docs)
    audio = decode_audio(
        tbl.filter(F.col("fmt").isin("bad0", "bad1"))
    ).select("media_ref", "fmt", "reason")
    video = probe_video(
        tbl.filter(F.col("fmt").isin("bad2", "bad3"))
    ).select("media_ref", "fmt", "reason")
    return audio.unionByName(video)


def q_multimodal_probe_mp4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ISO-BMFF container probe (kernel/mp4.py — box walk,
    mvhd/tkhd/hdlr/mdhd parse; the ffprobe-shaped video metadata
    stage, frame decode honestly out of scope): brand, movie
    timescale, floor-ms duration, track layout and 16.16-fixed visual
    dimensions pinned against the oracle's closed-form model
    (operators/multimodal.probe_video — per-row error isolation)."""
    from stirling_pdf_spark.corpus.media import mp4_table
    from stirling_pdf_spark.operators.multimodal import probe_video

    docs = docs_media_from_documents(spark, sf_dir)
    return probe_video(mp4_table(docs)).select(
        "media_ref", "major_brand", "timescale", "duration_ms",
        "n_tracks", "n_video", "n_audio", "width", "height")


def q_multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RIFF/PCM16 audio decode (kernel/wav.py — chunk walk,
    PCM sample statistics): the fixtures are alternating-sign sawtooth
    streams whose |sample| stats are closed-form, so channels/rate/
    frames AND the decoded peak + sum|s| are pinned against the
    oracle's model (operators/multimodal.decode_audio — per-row error
    isolation, same contract as decode_images)."""
    from stirling_pdf_spark.corpus.media import wav_table
    from stirling_pdf_spark.operators.multimodal import decode_audio

    docs = docs_media_from_documents(spark, sf_dir)
    return decode_audio(wav_table(docs)).select(
        "media_ref", "channels", "sample_rate", "n_frames",
        "duration_ms", "peak", "sum_abs")


def q_audio_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence-trim feature stage over REAL decoded PCM (the ASR-
    corpus preprocessing step): fixtures carry a deterministic run of
    16*(sha256[5] % 64) leading zero samples before the closed-form
    sawtooth, so the trim offsets, trimmed duration AND the post-trim
    energy are all pinned against the oracle's model
    (operators/multimodal.audio_silence_stats — narrow map_rows,
    per-row error isolation, no shuffle)."""
    from stirling_pdf_spark.corpus.media import wav_silence_table
    from stirling_pdf_spark.operators.multimodal import (
        audio_silence_stats,
    )

    docs = docs_media_from_documents(spark, sf_dir)
    return audio_silence_stats(wav_silence_table(docs)).select(
        "media_ref", "n_samples", "lead_silence", "trail_silence",
        "trimmed_ms", "peak", "energy_abs")


def q_to_pptx(spark: SparkSession, sf_dir: str,
              docs: DataFrame | None = None) -> DataFrame:
    """PDF -> PPTX structural export (/convert/pdf/presentation;
    PDFToFile.java:99 delegates to the out-of-scope LibreOffice binary
    — here the OOXML members emit over the per-page block view with
    one slide per page, kernel/pptx_export.py) over the two-page
    corpus (docs >= 24 words; smaller docs derive empty and emit
    nothing): six OPC members per doc — [Content_Types].xml with the
    two slide overrides, _rels/.rels, presentation.xml + its rels,
    and one slide XML per page ('Part N' heading + the ceil-half word
    split paragraph). Pinned by member md5 + length."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_slides_from_documents,
    )
    from stirling_pdf_spark.operators.markdown import to_pptx

    if docs is None:
        docs = docs_slides_from_documents(spark, sf_dir)
    out = to_pptx(docs)
    return out.select(
        "doc_id", F.col("ord").cast("int").alias("ord"), "member",
        F.md5("content").alias("content_md5"),
        F.length("content").cast("long").alias("n_chars"))


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011) with deterministic
    literal codebooks: vectors encode to 8 one-byte codes (the 32x
    scan-size cut at 100 TB), queries score by the ADC LUT sum only —
    top-3 by ascending approx distance, fp-exact vs the oracle
    (operators/similarity.pq_topk)."""
    from stirling_pdf_spark.operators.similarity import pq_topk

    emb = read_table(spark, sf_dir, "embeddings")
    return pq_topk(emb, O.PQ_CODEBOOKS, O.ANN_QUERY_IDS, k=O.ANN_K)


def q_text_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (UAX #15) over documents with a
    deterministic DECOMPOSED tail (doc_id mod 3 picks one of three
    NFD sequences: cafe+combining-acute, u+combining-diaeresis+ber,
    A+combining-ring+ngstro+combining-diaeresis+m); the operator is a
    real unicodedata pass (operators/textstats.nfc_normalize), the
    oracle restates the COMPOSED forms closed-form — so the gate pins
    actual canonical composition, not identity on ASCII."""
    from stirling_pdf_spark.operators.textstats import nfc_normalize

    base = read_table(spark, sf_dir, "documents")
    tails = ["cafe\u0301", "u\u0308ber", "A\u030Angstro\u0308m"]
    src = base.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" "),
            F.element_at(F.array(*[F.lit(t) for t in tails]),
                         (F.col("doc_id") % 3 + 1).cast("int")),
        ).alias("text"))
    out = nfc_normalize(src)
    return out.select(
        "doc_id", "n_chars_src",
        F.length("text_nfc").cast("long").alias("n_chars_nfc"),
        (F.col("n_chars_src") - F.length("text_nfc")).cast("int")
        .alias("n_composed"),
        F.md5(F.col("text_nfc").cast("binary")).alias("text_md5"))


def q_dedup_substring_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicate-substring coverage (Lee et al.
    2022): global 8-token-shingle frequency >= 2 marks dup positions;
    per-doc covered-token union via the sorted-positions fold; keep
    flag = dup coverage under half the doc
    (operators/dedup.substring_dup_coverage — inverted-index shuffle,
    per-doc window, no driver state)."""
    from stirling_pdf_spark.operators.dedup import substring_dup_coverage

    return substring_dup_coverage(
        read_table(spark, sf_dir, "documents"), w=8)


def q_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. SIGMOD 2003, the MOSS
    algorithm): 3-word shingle hashes, window-of-4 minima, per-doc
    distinct — retains ~2/(w+1) of the shingle index while still
    guaranteeing detection of any shared run of >= w+k-1 words
    (operators/dedup.winnow_fingerprints — JVM higher-order
    functions, one explode, no shuffle)."""
    from stirling_pdf_spark.operators.dedup import winnow_fingerprints

    return winnow_fingerprints(read_table(spark, sf_dir, "documents"))


def q_winnow_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS similarity report: document pairs sharing >= 2 winnowing
    fingerprints via the inverted-index self-join over the winnowed
    (i.e. ~2/(w+1)-sized) index
    (operators/dedup.winnow_match_pairs)."""
    from stirling_pdf_spark.operators.dedup import winnow_match_pairs

    return winnow_match_pairs(read_table(spark, sf_dir, "documents"))


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (FAISS's default index family): IVF cells prune
    candidates to the 2 nearest lists, PQ codes prune bytes per
    candidate — both dials compose multiplicatively; ranked by the
    ADC LUT sum, fp-exact vs the oracle
    (operators/similarity.ivfpq_topk)."""
    from stirling_pdf_spark.operators.similarity import ivfpq_topk

    emb = read_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(emb, O.IVF_CENTROIDS, O.PQ_CODEBOOKS,
                      O.ANN_QUERY_IDS, k=O.ANN_K, nprobe=O.IVF_NPROBE)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (concat-and-chunk, the GPT-style
    pretraining batcher): documents in doc_id order concatenate into
    one whitespace-token stream sliced into 512-token sequences; one
    row per (doc, overlapped sequence) with the in-sequence offset
    and contributed token count. Global offsets come from a two-phase
    prefix sum (range shuffle + per-partition totals), never a
    single-partition window (operators/packing.py)."""
    from stirling_pdf_spark.operators.packing import pack_sequences

    return pack_sequences(read_table(spark, sf_dir, "documents"),
                          seq_len=512)


def q_md_to_pdf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown -> document ingestion (/markdown/pdf,
    ConvertMarkdownToPdf.java:124-150: commonmark + GFM tables ->
    HTML -> the document pipeline): a deterministic markdown doc
    (ATX heading, paragraph, list, pipe table) converts per doc and
    rides the whole-body HTML path through REAL extraction — one text
    span per rendered block (heading, paragraph, each <li>, each
    table cell), in document order."""
    from stirling_pdf_spark.sources.files import (
        docs_from_markdown_strings,
    )

    base = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0)
    w = F.split(F.trim("text"), r"\s+")

    def wk(k: int):
        return F.element_at(
            w, ((F.lit(k - 1) % F.size(w)) + 1).cast("int"))

    md = F.concat(
        F.lit("# "), wk(1), F.lit(" "), wk(2), F.lit(" "), wk(3),
        F.lit(" "), wk(4), F.lit("\n\n"),
        F.col("text"), F.lit("\n\n"),
        F.lit("- "), wk(5), F.lit("\n- "), wk(6), F.lit("\n\n"),
        F.lit("| "), wk(7), F.lit(" | "), wk(8), F.lit(" |\n"),
        F.lit("|----|----|\n"),
        F.lit("| "), wk(9), F.lit(" | "), wk(10), F.lit(" |"),
    )
    src = base.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
        .alias("doc_id"),
        md.alias("md"),
    )
    flat = explode_spans(extract_spans(docs_from_markdown_strings(src)))
    return (flat.filter(F.col("kind") == "text")
            .select("doc_id",
                    F.col("order").cast("long").alias("span_order"),
                    "text"))


def q_streaming_ingest_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north rule's batch-with-checkpoint deployment shape, driven
    end-to-end: corpus wave 1 (doc_id % 3 == 0) lands in the input dir
    and an availableNow Structured Streaming pass drains it
    (foreachBatch -> the checkpointed extraction commit protocol,
    runtime/checkpoint.py); wave 2 lands and a RESTARTED stream picks
    up only the new files off Spark's offset checkpoint; wave 3 never
    hits the stream and is recovered by a BATCH resume over the full
    corpus, whose lineage anti-join must skip everything already
    committed. Visible output is read back through the lineage inner
    join (read_committed_spans) and must equal one-shot batch
    extraction of the whole corpus — the EXTRACT_TEXT_SPANS oracle
    verbatim, which also proves no doc was extracted twice or dropped
    at a crash boundary."""
    import shutil
    import tempfile

    from stirling_pdf_spark.runtime.checkpoint import (
        read_committed_spans,
        run_extract_with_checkpoint,
    )
    from stirling_pdf_spark.streaming.ingest import stream_extract

    base = tempfile.mkdtemp(prefix="stream_gate_")
    in_dir, out_dir, cp = f"{base}/in", f"{base}/out", f"{base}/cp"
    docs = docs_from_documents_table(spark, sf_dir)
    num = F.regexp_extract("doc_id", "([0-9]+)", 1).cast("long")
    try:
        docs.filter(num % 3 == 0).write.mode("append").parquet(in_dir)
        stream_extract(spark, in_dir, out_dir, cp).awaitTermination()
        docs.filter(num % 3 == 1).write.mode("append").parquet(in_dir)
        stream_extract(spark, in_dir, out_dir, cp).awaitTermination()
        run_extract_with_checkpoint(spark, docs, out_dir,
                                    run_id="resume-batch")
        flat = explode_spans(read_committed_spans(spark, out_dir)).filter(
            F.col("kind") == "text")
        w = Window.partitionBy("doc_id").orderBy("order")
        result = flat.select(
            "doc_id",
            (F.row_number().over(w) - 1).cast("long").alias("text_rank"),
            "text",
        )
        # pin the rows into block storage so the temp dirs can go away
        # before the driver collects the (lazy) result
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_streaming_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window rollup through REAL Structured
    Streaming (streaming/rollup.py): run 1 drains the events feed
    (append mode holds every window in state until the watermark
    passes its end), a sentinel event 3 h past the corpus max lands,
    and run 2 restarts from the checkpoint and flushes the remaining
    windows — finalization + cross-restart state recovery both
    certified, because the appended output must equal the batch
    hourly rollup bit-for-bit (same oracle shape as
    events_hourly_rollup, no dedup bookkeeping anywhere)."""
    import datetime
    import shutil
    import tempfile

    from stirling_pdf_spark.streaming.rollup import stream_hourly_rollup

    base = tempfile.mkdtemp(prefix="stream_rollup_")
    in_dir, out_dir, cp = f"{base}/in", f"{base}/out", f"{base}/cp"
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props")
    try:
        ev.write.mode("append").parquet(in_dir)
        stream_hourly_rollup(spark, in_dir, out_dir, cp).awaitTermination()
        # bounded 1-row collect: the sentinel needs the corpus max ts
        max_ts = ev.agg(F.max("ts")).collect()[0][0]
        sent = [(int(-1), max_ts + datetime.timedelta(hours=3), int(-1),
                 "sentinel", 0.0, "{}")]
        spark.createDataFrame(
            sent, "event_id long, ts timestamp_ntz, user_id long, "
                  "event_type string, value double, props string"
        ).write.mode("append").parquet(in_dir)
        stream_hourly_rollup(spark, in_dir, out_dir, cp).awaitTermination()
        result = (
            spark.read.parquet(out_dir)
            .filter(F.col("event_type") != "sentinel")
            .select("hour_epoch", "event_type",
                    F.col("n_events").cast("long").alias("n_events"),
                    "sum_value_micro")
        )
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_timestamp_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/timestamp-pdf (TimestampController.java) state path: docs
    cycle through all five preset TSAs (num % 5 — each call carries
    ONE allowlist-checked URL, like one request), the DocTimeStamp
    signature dictionary lands with subfilter ETSI.RFC3161, and
    /validate-signature reads it back through real extraction; docs
    whose corpus already planted a signature field take sig1."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_analysis_from_documents,
    )
    from stirling_pdf_spark.operators.pageops import (
        TSA_PRESETS, add_doc_timestamp, validate_signatures,
    )

    from stirling_pdf_spark.runtime.staging import stage as _stage

    # the corpus feeds FIVE filtered branches (one per TSA preset) —
    # stage it so the Python synthesis runs once, not per branch
    docs = _stage(docs_analysis_from_documents(spark, sf_dir))
    num = F.split_part("doc_id", F.lit("-"), F.lit(2)).cast("long")
    date = F.concat(F.lit("2026-02-"),
                    F.lpad((num % 28 + 1).cast("string"), 2, "0"))
    stamped = None
    for i, (url, _label) in enumerate(TSA_PRESETS):
        part = add_doc_timestamp(docs.filter(num % 5 == i), url, date)
        stamped = part if stamped is None else stamped.unionByName(part)
    sigs = validate_signatures(extract_spans(stamped))
    return sigs.select(
        "doc_id", "sig_no", "signer_name", "signature_date",
        F.col("reason").alias("tsa_url"), "subfilter",
        F.col("covers_document").cast("int").alias("covers_document"),
        F.col("valid").cast("int").alias("valid"),
    )


def q_s11_metadata_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 metadata update (MetadataController.java:80-190) through the
    real pipeline: delete 'title', add 'producer', everything else
    passes through — the updated Info dict read back via
    extract_metadata."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_analysis_from_documents,
    )
    from stirling_pdf_spark.operators.extract_pipeline import (
        extract_metadata,
    )
    from stirling_pdf_spark.operators.pageops import set_metadata

    docs = set_metadata(
        docs_analysis_from_documents(spark, sf_dir),
        {"title": None, "producer": "spark-extract"})
    return extract_metadata(extract_spans(docs))


def q_e14_lattice_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E14 lattice tables (TabulaTableParser.java:53-110 LATTICE mode;
    CSV dialect PdfContentExtractor.java:110-129 quote-all): two
    disjoint ruled grids per page, segmented into separate tables by
    rule-component clustering and emitted top-to-bottom."""
    from stirling_pdf_spark.corpus.spark_synth import docs_tables_from_documents

    docs = docs_tables_from_documents(spark, sf_dir)
    flat = explode_spans(extract_spans(docs)).filter(F.col("kind") == "table")
    w = Window.partitionBy("doc_id").orderBy("order")
    return flat.select(
        "doc_id",
        F.row_number().over(w).cast("long").alias("table_no"),
        F.col("text").alias("csv"),
    )


def q_e14_stream_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E14 STREAM mode (TabulaTableParser.java:56-75 whitespace-column
    algorithm): unruled 4x3 grid pages, columns detected from the
    vertical whitespace gaps."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_stream_table_from_documents,
    )
    from stirling_pdf_spark.operators.tables import tables_stream

    return tables_stream(docs_stream_table_from_documents(spark, sf_dir))


def q_extract_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pdf->csv export (ExtractCSVController.java:60-133): lattice
    docs carry two ruled grids on page 1 (entries _p1_t1/_p1_t2); the
    's'-prefixed clones carry no rules, so their page-1 whitespace
    grid comes back as one STREAM fragment (TabulaTableParser.java:
    53-75 per-page mode selection) — all re-emitted in the Excel
    quote-all dialect with CRLF separators, trailing record breaks
    and generateEntryName filenames (:66-68, :123-126)."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_stream_table_from_documents, docs_tables_from_documents,
    )
    from stirling_pdf_spark.operators.tables import pdf_to_csv

    lat = docs_tables_from_documents(spark, sf_dir)
    stream = docs_stream_table_from_documents(spark, sf_dir).select(
        F.concat(F.lit("s"), F.col("doc_id")).alias("doc_id"), "spans")
    return pdf_to_csv(lat.unionByName(stream))


def q_to_xlsx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pdf->xlsx workbook export (ConvertPDFToExcelController.java:
    51-137): lattice-only table extraction (Spreadsheet algorithm —
    ruleless pages contribute NO sheets), one sheet per table, one row
    per cell. Base docs carry two ruled grids on page 1, so their
    sheets are 'Page 1 Table 1'/'Page 1 Table 2'; the 's'-prefixed
    single-grid clones take the single-table 'Page 1' name (:82-86)."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_single_table_from_documents, docs_tables_from_documents,
    )
    from stirling_pdf_spark.operators.tables import pdf_to_xlsx

    two = docs_tables_from_documents(spark, sf_dir)
    one = docs_single_table_from_documents(spark, sf_dir).select(
        F.concat(F.lit("s"), F.col("doc_id")).alias("doc_id"), "spans")
    return pdf_to_xlsx(two.unionByName(one))


def q_analysis_font_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/analysis/font-info (AnalysisController.java:184-206): the
    distinct font-name inventory per document plus its count, read
    from the raw text-run wire heads. Rich corpus: Helvetica body +
    Helvetica-Bold title always; Courier joins on every 5th body
    line, i.e. once the doc has >= 5 lines (>= 33 words)."""
    from stirling_pdf_spark.corpus.spark_synth import docs_rich_from_documents
    from stirling_pdf_spark.operators.elements import font_info

    return font_info(docs_rich_from_documents(spark, sf_dir))


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (RFC 3986 section 6 normalization +
    tracking-param strip): three crafted variants per doc exercise
    scheme/host case-folding, default-port drop, fragment drop,
    utm/fbclid/ref stripping with case-sensitive param names, the
    bare-www scheme promotion and the empty-path '/' rule."""
    from stirling_pdf_spark.operators.textstats import normalize_urls

    base = read_table(spark, sf_dir, "documents")
    n = F.col("doc_id")
    urls = F.array(
        F.concat(F.lit("HTTPS://Site"), (n % 7).cast("string"),
                 F.lit(".Example.COM:443/Path/"), n.cast("string"),
                 F.lit("?utm_source=x&id="), n.cast("string"),
                 F.lit("&fbclid=1#frag")),
        F.concat(F.lit("http://www.Mirror"), (n % 5).cast("string"),
                 F.lit(".ORG:80?utm_campaign=z")),
        F.concat(F.lit("www.Bare"), (n % 3).cast("string"),
                 F.lit(".net/x?ref=home&q=1&REF=up")),
    )
    src = base.select(
        F.concat(F.lit("doc-"), n.cast("string")).alias("id"),
        F.explode(urls).alias("url"))
    return normalize_urls(src)


def q_fix_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair (ftfy-style UTF-8-read-as-Latin-1 fix): four
    crafted variants per doc — 2-byte mojibake (caf\u00c3\u00a9),
    clean ASCII (untouched), 3-byte mojibake (it\u00e2\u0080\u0099s
    -> it\u2019s), and an INVALID sequence with a dangling lead byte
    that the strict UTF-8 guard must leave byte-identical."""
    from stirling_pdf_spark.operators.textstats import fix_encoding

    base = read_table(spark, sf_dir, "documents")
    n = F.col("doc_id").cast("string")
    texts = F.array(
        F.concat(F.lit("caf\u00c3\u00a9 r\u00c3\u00a9sum\u00c3\u00a9 no "), n),
        F.concat(F.lit("plain ascii "), n),
        F.concat(F.lit("it\u00e2\u0080\u0099s fine "), n),
        F.concat(F.lit("x\u00c3\u00a9\u00c3 bad "), n),
    )
    src = base.select(
        F.concat(F.lit("doc-"), n).alias("id"),
        F.explode(texts).alias("text"))
    return fix_encoding(src).select("id", "fixed", "changed")


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming exact-dedup through REAL Structured
    Streaming (streaming/dedupe.py): run 1 drains the events feed
    plus an in-run duplicate slice (event_id % 5 == 0 written
    twice), then the WHOLE feed lands again and run 2 restarts from
    the checkpoint — the recovered keyed state store must drop every
    replayed row, so the appended output equals the batch events
    table bit-for-bit (first-arrival semantics, integer-exact
    columns)."""
    import shutil
    import tempfile

    from stirling_pdf_spark.streaming.dedupe import stream_dedup

    base = tempfile.mkdtemp(prefix="stream_dedup_")
    in_dir, out_dir, cp = f"{base}/in", f"{base}/out", f"{base}/cp"
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props")
    try:
        ev.write.mode("append").parquet(in_dir)
        ev.filter(F.col("event_id") % 5 == 0) \
            .write.mode("append").parquet(in_dir)
        stream_dedup(spark, in_dir, out_dir, cp).awaitTermination()
        ev.write.mode("append").parquet(in_dir)
        stream_dedup(spark, in_dir, out_dir, cp).awaitTermination()
        result = spark.read.parquet(out_dir).select(
            "event_id", "ts_us", "user_id", "event_type", "value_micro")
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_streaming_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState,
    streaming/packer.py): the sequence packer's running token offset
    carried in the state store across micro-batches and a checkpoint
    restart. The feed is four doc_id-ascending slices (one micro-batch
    each, maxFilesPerTrigger=1); slices 1-3 drain in run 1, slice 4
    lands and run 2 restarts from the checkpoint — the recovered
    offset must continue seamlessly, making the appended output
    bit-identical to the batch pack_sequences oracle (batch-stream
    parity against the SAME DuckDB SQL)."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    from stirling_pdf_spark.operators.dedup import words_col
    from stirling_pdf_spark.streaming.packer import stream_pack

    base = tempfile.mkdtemp(prefix="stream_pack_")
    in_dir, out_dir, cp = f"{base}/in", f"{base}/out", f"{base}/cp"
    os.makedirs(in_dir)
    toks = (
        read_table(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id",
            F.size(words_col("text")).cast("long").alias("n_tokens"),
            F.lit(0).cast("int").alias("shard"),
        )
    )

    def write_slice(df, idx: int) -> None:
        # one parquet FILE per slice with strictly increasing mtimes:
        # the file source orders micro-batches by modification time
        stage = f"{base}/stage{idx}"
        df.coalesce(1).write.parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = f"{in_dir}/slice{idx}.parquet"
        shutil.move(part, dst)
        t = time.time() - 40 + idx * 10
        os.utime(dst, (t, t))

    try:
        lo, hi = toks.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
        step = max((int(hi) - int(lo)) // 4 + 1, 1)
        cuts = [int(lo) + step * i for i in range(1, 4)]
        write_slice(toks.filter(F.col("doc_id") < cuts[0]), 0)
        write_slice(toks.filter((F.col("doc_id") >= cuts[0])
                                & (F.col("doc_id") < cuts[1])), 1)
        write_slice(toks.filter((F.col("doc_id") >= cuts[1])
                                & (F.col("doc_id") < cuts[2])), 2)
        stream_pack(spark, in_dir, out_dir, cp).awaitTermination()
        write_slice(toks.filter(F.col("doc_id") >= cuts[2]), 3)
        stream_pack(spark, in_dir, out_dir, cp).awaitTermination()
        result = spark.read.parquet(out_dir).select(
            "doc_id", "n_tokens", "seq_id", "tok_start", "n_in_seq")
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021 table A1, the public
    rule set): the whole corpus plus crafted doc_id%4 tails that
    force bullet-ratio, ellipsis-line and symbol-ratio failures; all
    seven flags + keep are integer cross-multiplications the oracle
    re-derives exactly."""
    from stirling_pdf_spark.operators.textstats import gopher_quality_filter

    base = read_table(spark, sf_dir, "documents")
    n = F.col("doc_id")
    tail1 = "".join("\n- " + c for c in "abcdefghij")
    t2 = F.concat(
        F.col("text"),
        F.when(n % 4 == 1, F.lit(tail1))
        .when(n % 4 == 2, F.lit("\nwait...\nmore..."))
        .when(n % 4 == 3, F.lit(" ## ## ##"))
        .otherwise(F.lit("")),
    )
    docs = base.select(
        F.concat(F.lit("doc-"), n.cast("string")).alias("doc_id"),
        t2.alias("text"))
    return gopher_quality_filter(docs)


def q_lm_quality_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/tail corpus partition at the corpus-mean
    bigram-LM fit: the threshold is one broadcast row and the
    decision the integer rule fit*count >= sum(fit) - no global sort,
    no single-partition window."""
    from stirling_pdf_spark.operators.textstats import lm_quality_partition

    base = read_table(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
        .alias("doc_id"), "text")
    return lm_quality_partition(base)


def q_dedup_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-hash visual near-dup: every corpus ref gets a real
    grayscale PPM constant on the 8x8 aHash cell grid (group base
    pattern + per-ref flips, sibling of the dHash fixtures); the
    pipeline decodes the rasters, box-averages luma to 8x8, sets bit
    = cell > global mean, and pairs images at Hamming <= 7 via the
    same banded LSH (pigeonhole-exact), so the brute-force DuckDB
    oracle states the identical pair set."""
    from stirling_pdf_spark.corpus.media import ahash_image_table
    from stirling_pdf_spark.operators.dedup import (
        dhash_near_dup_pairs, image_ahash,
    )

    docs = docs_media_from_documents(spark, sf_dir)
    hashes = image_ahash(ahash_image_table(docs))
    return dhash_near_dup_pairs(hashes, max_distance=7,
                                hash_col="ahash")


def q_dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT perceptual-hash visual near-dup (pHash — third member of
    the family after dHash/aHash): every corpus ref gets a real
    32x32 grayscale PPM synthesized by INVERSE DCT of sha-derived
    +/-A low-frequency coefficients (rounding-sign-verified at
    generation); the pipeline decodes the rasters, runs a REAL
    orthonormal 2D DCT over BT.601 luma, takes the 63 low-frequency
    AC signs, and pairs images at Hamming <= 6 via banded LSH (7
    bands x 9 bits — pigeonhole-exact at this threshold, so the
    brute-force DuckDB oracle states the same pair set without ever
    running a DCT)."""
    from stirling_pdf_spark.corpus.media import phash_image_table
    from stirling_pdf_spark.operators.dedup import (
        dhash_near_dup_pairs, image_phash,
    )

    docs = docs_media_from_documents(spark, sf_dir)
    hashes = image_phash(phash_image_table(docs))
    return dhash_near_dup_pairs(hashes, max_distance=6,
                                hash_col="phash",
                                n_bands=7, band_bits=9)


def q_f6_filter_rotation(spark: SparkSession, sf_dir: str,
                         docs: DataFrame | None = None) -> DataFrame:
    """F6 filter-page-rotation (FilterController.java:229-245 reads the
    first page's rotation; generic comparator :256-265): per-doc
    rotation state written through the pagemeta wire
    (set_page_rotation), then filtered GREATER 90 — the rotation must
    round-trip the wire format, not shortcut through a column."""
    from stirling_pdf_spark.operators.pageops import (
        filter_page_rotation, set_page_rotation,
    )

    if docs is None:
        docs = docs_from_documents_table(spark, sf_dir)
    rot = (F.regexp_extract("doc_id", "([0-9]+)", 1).cast("long") % 4) * 90
    rotated = set_page_rotation(docs, rot)
    return filter_page_rotation(rotated, 90, "GREATER").select(
        "doc_id", "rotation"
    )


def _text_ranks(out: DataFrame) -> DataFrame:
    flat = explode_spans(out).filter(F.col("kind") == "text")
    w = Window.partitionBy("doc_id").orderBy("order")
    return flat.select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("long").alias("text_rank"),
        "text",
    )


def q_s7_scale_single_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 scale + to-single-page CHAINED (ScalePagesController,
    ToSinglePageController): scaling multiplies every coordinate, gap
    and font size together (word-space and line-break decisions
    unchanged), then vertical page concatenation preserves the global
    page-major reading order — so the extracted text EXACTLY equals
    the untransformed corpus (oracle reuse proves both at once)."""
    from stirling_pdf_spark.operators.pageops import (
        scale_pages, to_single_page,
    )

    docs = to_single_page(
        scale_pages(docs_from_documents_table(spark, sf_dir), 2.0),
        page_height=2.0 * 792.0)
    return _text_ranks(extract_spans(docs))


def q_e3_doc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 content classification, per-document direct form
    (PdfContentExtractor.java:70-86 TEXT/IMAGE/MIXED by text + image
    presence) over the REAL extraction output of the multi-page
    corpus — docs with a completed 3rd page carry media draws and
    classify MIXED, the rest TEXT."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_repeat_from_documents,
    )

    flat = explode_spans(
        extract_spans(docs_repeat_from_documents(spark, sf_dir, 32)))
    per = flat.groupBy("doc_id").agg(
        F.sum(F.when(F.col("kind") == "text", 1).otherwise(0))
        .alias("n_text"),
        F.sum(F.when(F.col("kind") == "media", 1).otherwise(0))
        .alias("n_media"),
    )
    cls = (
        F.when((F.col("n_text") > 0) & (F.col("n_media") > 0), "MIXED")
        .when(F.col("n_text") > 0, "TEXT")
        .when(F.col("n_media") > 0, "IMAGE")
        .otherwise("EMPTY")
    )
    return per.select("doc_id", cls.alias("doc_class"))


def q_s6_reverse_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 REVERSE rearrangement through the real pipeline
    (RearrangePagesPDFController:212-220): pages permuted in the wire,
    then extracted — reading order must equal the closed-form reversed
    page sequence."""
    from stirling_pdf_spark.operators.pageops import rearrange_pages

    docs = rearrange_pages(docs_from_documents_table(spark, sf_dir),
                           "REVERSE")
    return _text_ranks(extract_spans(docs))



def q_s6_side_stitch_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 SIDE_STITCH_BOOKLET_SORT through the real pipeline
    (RearrangePagesPDFController.java:152-163): groups of 4 pages emit
    [4,1,2,3]; past-the-end sources clamp to the LAST page, so it
    repeats when n % 4 != 0 — a one-to-many page map. Runs over the
    repeated (multi-page, 1-10 pp) corpus so several groups and the
    clamp both exercise."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_repeat_from_documents,
    )
    from stirling_pdf_spark.operators.pageops import rearrange_pages

    docs = rearrange_pages(docs_repeat_from_documents(spark, sf_dir, 32),
                           "SIDE_STITCH_BOOKLET_SORT")
    return _text_ranks(extract_spans(docs))


def q_s6_custom_order_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 custom page-order DSL through the real pipeline
    (RearrangePagesPDFController.java:304-306 ->
    GeneralUtils.parsePageList, the F7 grammar): order '2n-1' keeps the
    odd pages ascending; evens (and their spans) drop."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_repeat_from_documents,
    )
    from stirling_pdf_spark.operators.pageops import rearrange_pages_custom

    docs = rearrange_pages_custom(
        docs_repeat_from_documents(spark, sf_dir, 32), "2n-1")
    return _text_ranks(extract_spans(docs))


def q_s8_overlay_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 overlay, SequentialOverlay mode through the real pipeline
    (PdfOverlayController.java:144-176): a 2-page overlay doc cycles
    over the multi-page base corpus — base page p takes overlay page
    ((p-1) % 2) + 1, whose y=760 line closes the page's reading
    order."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_repeat_from_documents,
    )
    from stirling_pdf_spark.operators.pageops import overlay_docs_multi
    from stirling_pdf_spark.sources.tables import DOCS_SCHEMA

    base = docs_repeat_from_documents(spark, sf_dir, 32)
    ov = spark.createDataFrame(
        [("ov-0", [
            {"kind": "text",
             "text": "1|280.0|760.0|9.0|Helvetica\tOVERLAY A",
             "media_ref": "", "offset": 0},
            {"kind": "text",
             "text": "2|280.0|760.0|9.0|Helvetica\tOVERLAY B",
             "media_ref": "", "offset": 1},
        ])],
        DOCS_SCHEMA,
    )
    out = overlay_docs_multi(base, ov, "SequentialOverlay")
    return _text_ranks(extract_spans(out))


def q_s7_poster_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 poster (PosterPdfController.java:102-214): 2x2 tiling splits
    every page into 4 target-size pages (row 0 = top), contents scaled
    uniformly 2x. Tile numbering is page-major and row-major, so the
    extracted reading order — and therefore the full text — EXACTLY
    equals the untiled document's (oracle reuse proves it; flipped row
    order or wrong uniform scale would reorder or re-chunk lines)."""
    from stirling_pdf_spark.operators.pageops import poster_pages

    docs = poster_pages(docs_from_documents_table(spark, sf_dir), 2, 2)
    return _text_ranks(extract_spans(docs))


def q_s9_stamp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 stamps (StampController/PageNumbersController): one synthetic
    stamp span per page at y=760 (below the 40-line text block), so
    each page's reading order ends with the stamp."""
    from stirling_pdf_spark.operators.pageops import add_page_stamps

    docs = add_page_stamps(docs_from_documents_table(spark, sf_dir),
                           "STAMP", number_pages=True)
    return _text_ranks(extract_spans(docs))


def q_e20_auto_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20 QR auto-split shape (AutoSplitPdfController.java:320-352; the
    QR decode itself is raster and out of scope — a divider media_ref
    stands in): divider markers land on pages 1 AND 3 of every doc.
    Page 3 starts a new part and is dropped; the page-1 divider is the
    reference's `page == 0` edge — that page stays as content of the
    FIRST part (:340-345), so part 0 = pages 1-2, part 1 = pages 4+."""
    from stirling_pdf_spark.operators.pageops import auto_split_at_markers

    docs = docs_from_documents_table(spark, sf_dir)

    def marker(page: int):
        return F.struct(
            F.lit("media").alias("kind"),
            F.lit(f"{page}|50.0|50.0|20.0|20.0").alias("text"),
            F.lit("qr-divider").alias("media_ref"),
            F.size("spans").alias("offset"),
        )

    with_m = docs.select(
        "doc_id",
        F.concat("spans", F.array(marker(1), marker(3))).alias("spans"),
    )
    parts = auto_split_at_markers(with_m, ["qr-divider"])
    flat = explode_spans(extract_spans(parts)).filter(F.col("kind") == "text")
    return flat.groupBy("doc_id").agg(F.count("*").alias("n_lines"))


def q_s3_split_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 split-by-page-count through the wire
    (SplitPdfBySizeController, page-count mode, n=2): every part
    re-extracts standalone; span counts per (part, kind) hash-checked
    against the closed-form paging model."""
    from stirling_pdf_spark.operators.pageops import split_every_n_pages

    docs = docs_from_documents_table(spark, sf_dir)
    parts = split_every_n_pages(docs, 2)
    flat = explode_spans(extract_spans(parts))
    return flat.groupBy("doc_id", "kind").agg(F.count("*").alias("n_spans"))


def q_e15_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 document metadata (PdfJsonConversionService.java:2781-2810,
    AnalysisController.java:76-99): Info-dict key|value meta spans pass
    the kernel ahead of content and project to (doc_id, key, value)."""
    base = read_table(spark, sf_dir, "documents")
    docs = base.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
        .alias("doc_id"),
        F.array(
            F.struct(
                F.lit("meta").alias("kind"),
                F.concat(F.lit("title|"), F.substring("text", 1, 30))
                .alias("text"),
                F.lit("").alias("media_ref"), F.lit(0).alias("offset"),
            ),
            F.struct(
                F.lit("meta").alias("kind"),
                F.concat(F.lit("author|writer "),
                         F.col("doc_id").cast("string")).alias("text"),
                F.lit("").alias("media_ref"), F.lit(1).alias("offset"),
            ),
            F.struct(
                F.lit("text").alias("kind"),
                F.lit("1|72.0|72.0|11.0|Helvetica\tbody line").alias("text"),
                F.lit("").alias("media_ref"), F.lit(2).alias("offset"),
            ),
        ).alias("spans"),
    )
    from stirling_pdf_spark.operators.extract_pipeline import extract_metadata

    return extract_metadata(extract_spans(docs))


def q_e9_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 image resource dedup (ExtractImagesController.java:123-128,
    PdfJsonConversionService.java:5256-5278): repeated draws of the same
    resource dedup by content hash — media spans grouped by media_ref
    across pages AND documents (refs bucketed to 2 hex chars so
    cross-doc collisions actually occur)."""
    base = read_table(spark, sf_dir, "documents")
    sha = F.lower(F.sha2(F.col("text").cast("binary"), 256))
    ref_a = F.concat(F.lit("media-"), F.substring(sha, 1, 2))
    ref_b = F.concat(F.lit("media-"), F.substring(sha, 3, 2))

    def media_span(page: int, x: float, ref, off: int):
        return F.struct(
            F.lit("media").alias("kind"),
            F.lit(f"{page}|{x!r}|10.0|50.0|50.0").alias("text"),
            ref.alias("media_ref"), F.lit(off).alias("offset"),
        )

    docs = base.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
        .alias("doc_id"),
        F.array(
            media_span(1, 10.0, ref_a, 0),   # same resource drawn
            media_span(2, 10.0, ref_a, 1),   # on two pages
            media_span(1, 80.0, ref_b, 2),
        ).alias("spans"),
    )
    flat = explode_spans(extract_spans(docs)).filter(F.col("kind") == "media")
    return flat.groupBy("media_ref").agg(
        F.count("*").alias("n_draws"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.min("doc_id").alias("canonical_doc"),
    )


def q_s2_split_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 split-at-pages, exact gate (SplitPDFController.java:65-104):
    cut the documents-derived corpus after pages 2 and 5, re-extract
    every part as a standalone doc, count spans per (part, kind) —
    page routing, attachment stickiness and the re-applied chunk budget
    all hash-checked."""
    from stirling_pdf_spark.operators.pageops import split_at_pages

    docs = docs_from_documents_table(spark, sf_dir)
    parts = split_at_pages(docs, [2, 5])
    flat = explode_spans(extract_spans(parts))
    return flat.groupBy("doc_id", "kind").agg(F.count("*").alias("n_spans"))


def q_h4_media_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4 media_ref resolution, exact gate (EmlProcessingUtils.java:
    249-251): one media draw + one attachment per doc (refs derived
    from the text hash) flow through extraction and join the
    deterministic blob table; format and payload size are pure
    functions of the ref hash, re-derived independently by the
    oracle."""
    from stirling_pdf_spark.corpus.media import media_table
    from stirling_pdf_spark.operators.multimodal import resolve_media

    base = read_table(spark, sf_dir, "documents")
    sha = F.lower(F.sha2(F.col("text").cast("binary"), 256))
    media_ref = F.concat(F.lit("media-"), F.substring(sha, 1, 8))
    attach_ref = F.concat(F.lit("media-"), F.substring(sha, 9, 8))
    docs = base.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
        .alias("doc_id"),
        F.array(
            F.struct(
                F.lit("media").alias("kind"),
                F.lit("1|100.0|650.0|200.0|120.0").alias("text"),
                media_ref.alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            F.struct(
                F.lit("attachment").alias("kind"),
                F.lit("blob.bin").alias("text"),
                attach_ref.alias("media_ref"),
                F.lit(1).alias("offset"),
            ),
        ).alias("spans"),
    )
    resolved = resolve_media(extract_spans(docs), media_table(docs))
    return resolved.select("doc_id", "kind", "media_ref", "fmt", "n_bytes")


def q_s5_split_sections_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 split-by-sections, exact gate (SplitPdfBySectionsController;
    1x1 cuts -> 2x2 grid): every page of the documents-derived corpus
    splits into sections assigned by span anchors, each section
    re-extracts standalone; span counts per (section, kind) are
    hash-checked against the closed-form cell-assignment model."""
    from stirling_pdf_spark.operators.pageops import split_by_sections

    docs = docs_from_documents_table(spark, sf_dir)
    parts = split_by_sections(docs, 1, 1)
    flat = explode_spans(extract_spans(parts))
    return flat.groupBy("doc_id", "kind").agg(F.count("*").alias("n_spans"))


def q_f4_page_size_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 filter-page-size over the REAL page state
    (FilterController.java:160-181 compares first-page area against a
    standard size, PdfUtils.textToPageSize:52-66 defines the nine
    sizes): per-doc page boxes round-trip the pagemeta wire, then
    filter GREATER than A4's area."""
    from stirling_pdf_spark.operators.pageops import (
        STANDARD_PAGE_SIZES, filter_page_size, set_page_rotation,
    )

    docs = docs_from_documents_table(spark, sf_dir)
    names = list(STANDARD_PAGE_SIZES)
    idx = ((F.regexp_extract("doc_id", "([0-9]+)", 1).cast("long") % 9) + 1
           ).cast("int")
    w = F.element_at(
        F.array(*[F.lit(STANDARD_PAGE_SIZES[n][0]) for n in names]), idx)
    h = F.element_at(
        F.array(*[F.lit(STANDARD_PAGE_SIZES[n][1]) for n in names]), idx)
    sized = set_page_rotation(docs, 0, page_width=w, page_height=h)
    out = filter_page_size(sized, "A4", "GREATER")
    name_col = F.element_at(F.array(*[F.lit(n) for n in names]), idx)
    return out.select("doc_id", name_col.alias("size_class"))



def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(read_table(spark, sf_dir, "documents"))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(
        read_table(spark, sf_dir, "documents"),
        n=O.NGRAM_N, threshold_pct=O.JACCARD_THRESHOLD_PCT,
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(
        read_table(spark, sf_dir, "documents"),
        n=O.NGRAM_N, num_hashes=O.MINHASH_K, bands=O.MINHASH_BANDS,
        threshold_pct=O.JACCARD_THRESHOLD_PCT,
    )


def q_dedup_jaccard_maxdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard with the max_df prefix filter engaged — the
    100 TB knob that drops stop-shingles before the inverted-index
    self-join. With a cap the common counts (and thus the accepted
    pair set) legitimately change; the oracle applies the same cap."""
    return D.ngram_jaccard_pairs(
        read_table(spark, sf_dir, "documents"),
        n=O.NGRAM_N, threshold_pct=O.JACCARD_THRESHOLD_PCT,
        max_df=O.JACCARD_MAX_DF,
    )


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup pairs — pairwise
    dedup to keep-lists (component = min doc id; singletons keep their
    own id). Iterative min-label propagation, log(diameter) rounds."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, n=O.NGRAM_N, num_hashes=O.MINHASH_K, bands=O.MINHASH_BANDS,
        threshold_pct=O.JACCARD_THRESHOLD_PCT,
    )
    nodes = docs.select(F.col("doc_id").alias("id"))
    return D.connected_components(pairs, nodes, dedup_edges=False)



def q_image_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visual dedup END-TO-END: pHash over decoded rasters -> banded
    Hamming pairs -> connected components over all refs -> one
    representative per visual cluster (min ref) with its absorbed
    count — the image keep-list a multimodal pipeline actually
    applies, verified against the recursive-CTE closure."""
    from stirling_pdf_spark.corpus.media import phash_image_table
    from stirling_pdf_spark.operators.dedup import (
        dhash_near_dup_pairs, image_phash,
    )

    docs = docs_media_from_documents(spark, sf_dir)
    from stirling_pdf_spark.runtime.staging import stage as _stage

    # the hash table feeds BOTH the pair generation and the component
    # node universe — stage it so the decode + DCT pipeline runs once
    hashes = _stage(image_phash(phash_image_table(docs)))
    pairs = dhash_near_dup_pairs(hashes, max_distance=6,
                                 hash_col="phash",
                                 n_bands=7, band_bits=9)
    comp = D.connected_components(
        pairs.select("id_a", "id_b"),
        hashes.select(F.col("media_ref").alias("id")),
        dedup_edges=False)
    w = Window.partitionBy("component")
    return (
        comp.withColumn("n_absorbed",
                        (F.count("*").over(w) - 1).cast("long"))
        .filter(F.col("id") == F.col("component"))
        .select(F.col("id").alias("media_ref"), "n_absorbed")
    )


def q_dedup_keep_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-list application — the dedup pipeline end-to-end: MinHash
    pairs -> connected components -> ONE representative per component
    (the min id, which is the component label) survives, annotated
    with how many near-dups it absorbed. Verified against the
    recursive-CTE closure."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, n=O.NGRAM_N, num_hashes=O.MINHASH_K, bands=O.MINHASH_BANDS,
        threshold_pct=O.JACCARD_THRESHOLD_PCT,
    )
    comp = D.connected_components(
        pairs, docs.select(F.col("doc_id").alias("id")),
        dedup_edges=False)
    w = Window.partitionBy("component")
    return (
        comp.withColumn("n_absorbed",
                        (F.count("*").over(w) - 1).cast("long"))
        .filter(F.col("id") == F.col("component"))
        .select(F.col("id").cast("long").alias("doc_id"), "n_absorbed")
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode over the raster media table: every corpus ref
    gets a valid deterministic PPM, 24bpp BMP or non-interlaced RGB8
    PNG payload, and the decode stage parses the actual containers
    (stdlib only — PNG via zlib inflate + all five scanline filters) —
    width/height/file size hash-checked against the closed-form layout
    model, and the PNG rows additionally pin the first 8 RECONSTRUCTED
    pixel bytes (px_head) against the oracle's regenerated stream head.
    Baseline JPEG decode is gated separately (multimodal_decode_jpeg);
    only gif/webp/progressive-JPEG remain honestly stubbed."""
    from stirling_pdf_spark.corpus.media import image_table
    from stirling_pdf_spark.operators.multimodal import decode_images

    docs = docs_media_from_documents(spark, sf_dir)
    return decode_images(image_table(docs))


def q_image_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image quality admission over REAL decoded pixels (PPM + PNG
    subset — the formats whose decoded RGB equals the deterministic
    pixel stream byte for byte): exact integer luma sums / extremes
    per raster plus the dark/bright/flat/corpus-outlier flag rules,
    all restated closed-form by the DuckDB oracle from sha256
    digests. The engine side runs the actual container decode
    (PNG via zlib + all five scanline filters)."""
    from stirling_pdf_spark.corpus.media import image_table
    from stirling_pdf_spark.operators.multimodal import (
        image_quality_stats,
    )

    docs = docs_media_from_documents(spark, sf_dir)
    media = image_table(docs).filter(F.col("fmt") != "bmp")
    return image_quality_stats(media)


def q_multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode (kernel/jpeg.py — marker walk, Huffman
    entropy decode with byte-unstuffing and restart intervals, dequant,
    IDCT, YCbCr->RGB for the 4:4:4 color half of the corpus): the
    fixtures are per-block-constant images whose encode->decode round
    trip is bit-exact by construction, so width/height AND the first 8
    reconstructed pixel bytes (px_head) are pinned against the oracle's
    closed-form model. Compressed-size (n_bytes) is content-dependent
    and deliberately not asserted."""
    from stirling_pdf_spark.corpus.media import jpeg_table
    from stirling_pdf_spark.operators.multimodal import decode_images

    docs = docs_media_from_documents(spark, sf_dir)
    return decode_images(jpeg_table(docs)).select(
        "media_ref", "width", "height", "px_head")


def q_multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode (kernel/gif.py — header/descriptor walk, the
    GIF LZW variant with LSB-first packing, variable code widths up to
    12 bits and CLEAR resets, palette mapping): GIF is lossless, so
    dims AND the first 8 decoded RGB bytes are pinned closed-form
    against the deterministic index stream."""
    from stirling_pdf_spark.corpus.media import gif_table
    from stirling_pdf_spark.operators.multimodal import decode_images

    docs = docs_media_from_documents(spark, sf_dir)
    return decode_images(gif_table(docs)).select(
        "media_ref", "width", "height", "px_head")


def q_multimodal_decode_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-TIFF decode (kernel/tiff.py — II/MM header, IFD
    entry walk with inline/offset values, strip assembly via
    StripOffsets/StripByteCounts/RowsPerStrip, PackBits): the fixture
    sweeps gray/RGB x none/PackBits x multi-strip x both byte orders,
    and both compressions are lossless, so dims AND the first 8
    decoded bytes are pinned closed-form against the deterministic
    'tx:' pixel stream. Compressed size is content-dependent for the
    PackBits half and deliberately not asserted."""
    from stirling_pdf_spark.corpus.media import tiff_table
    from stirling_pdf_spark.operators.multimodal import decode_images

    docs = docs_media_from_documents(spark, sf_dir)
    return decode_images(tiff_table(docs)).select(
        "media_ref", "width", "height", "px_head")


def q_multimodal_tiff_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-page TIFF frame walk (kernel/tiff.decode_pages — chained
    IFDs per TIFF 6.0 §2), the container behavior behind the
    reference's one-PDF-page-per-TIFF-directory conversion
    (PdfUtils.java:439-531): every corpus ref gets a 2-5 page
    grayscale TIFF (PackBits on half, II/MM split) whose per-page
    dims and first 8 decoded bytes the oracle states closed-form."""
    from stirling_pdf_spark.corpus.media import tiff_multipage_table
    from stirling_pdf_spark.operators.multimodal import tiff_pages

    docs = docs_media_from_documents(spark, sf_dir)
    return tiff_pages(tiff_multipage_table(docs))


def q_tiff_to_pdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-page TIFF -> PDF (PdfUtils.java:452-470: imageToPdf
    iterates the TIFF reader's page count, one PDF page per directory
    entry): every doc uploads its 2-5 page TIFF fixture under
    fitDocumentToImage, so each frame becomes a page sized to the
    REAL decoded frame dims and a media draw referencing
    '{ref}#p{i}'. Output = the full produced wire (pagemeta + media
    spans with offsets), stated closed-form by the oracle."""
    from stirling_pdf_spark.corpus.media import (
        tiff_multipage_payload_for_ref,
    )
    from stirling_pdf_spark.operators.multimodal import images_to_pdf

    base = read_table(spark, sf_dir, "documents")
    sha = F.lower(F.sha2(F.col("text").cast("binary"), 256))
    src = base.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
        .alias("doc_id"),
        F.concat(F.lit("media-"), F.substring(sha, 1, 8)).alias("ref"),
    )

    def gen(did, ref):
        yield did, 0, ref, tiff_multipage_payload_for_ref(ref)

    images = map_rows(
        spread(src, "doc_id"), gen,
        "doc_id string, seq int, media_ref string, payload binary")
    out = images_to_pdf(images, "fitDocumentToImage")
    return out.select("doc_id", F.explode("spans").alias("sp")).select(
        "doc_id", F.col("sp.kind").alias("kind"),
        F.col("sp.text").alias("text"),
        F.col("sp.media_ref").alias("media_ref"),
        F.col("sp.offset").cast("long").alias("offset"))


def q_dedup_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visual near-dup over DECODED pixels: every corpus ref gets a
    real grayscale PPM whose 9x8 cell grid carries a group base
    pattern plus a few per-ref flips; the pipeline decodes the actual
    rasters (decode_pixels), computes BT.601 luma, box-averages to the
    dHash grid, and pairs images at Hamming <= 7 via banded LSH (8x8
    bands — pigeonhole-exact at this threshold, so the brute-force
    DuckDB oracle states the same pair set)."""
    from stirling_pdf_spark.corpus.media import dhash_image_table
    from stirling_pdf_spark.operators.dedup import (
        dhash_near_dup_pairs, image_dhash,
    )

    docs = docs_media_from_documents(spark, sf_dir)
    hashes = image_dhash(dhash_image_table(docs))
    return dhash_near_dup_pairs(hashes, max_distance=7)


def q_dedup_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_groups(
        read_table(spark, sf_dir, "documents"), bits=O.SIMHASH_BITS
    )


def q_dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.embedding_near_dup_pairs(
        read_table(spark, sf_dir, "embeddings"), threshold=O.EMB_DUP_THRESHOLD
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_topk(
        read_table(spark, sf_dir, "embeddings"), O.ANN_QUERY_IDS, k=O.ANN_K
    )


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.lsh_buckets(read_table(spark, sf_dir, "embeddings"), O.LSH_PLANES)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with deterministic literal centroids (hash-gated against
    the DuckDB oracle; the data-trained k-means quantizer is covered by
    tests/test_ivf.py): nprobe nearest cells, exact cosine rank within
    the probed cells."""
    from stirling_pdf_spark.operators.ivf import ivf_topk

    emb = read_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, O.IVF_CENTROIDS, O.ANN_QUERY_IDS,
                    k=O.ANN_K, nprobe=O.IVF_NPROBE)


def q_ann_ivf_nprobe3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN at nprobe=3 (vs the baseline gate's 2): the probe list
    widens to the three nearest cells, recall rises, and the oracle
    re-derives the SAME probe ranking — the tunable accuracy/cost dial
    the IVF family exists for (scripts/ivf_recall.py measures recall
    vs the exact baseline; see BENCH.md)."""
    from stirling_pdf_spark.operators.ivf import ivf_topk

    emb = read_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, O.IVF_CENTROIDS, O.ANN_QUERY_IDS,
                    k=O.ANN_K, nprobe=3)


def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (arXiv:2303.09540, public
    literature): nearest-centroid assignment with the IVF literal
    centroids, then the quadratic near-dup search confined to
    intra-cluster pairs — a vector is pruned iff a lower-id vector in
    the SAME cluster has cosine >= the shared dup threshold. Output
    covers every vector with an INT keep flag."""
    from stirling_pdf_spark.operators.ivf import semdedup_prune

    emb = read_table(spark, sf_dir, "embeddings")
    return semdedup_prune(emb, O.IVF_CENTROIDS,
                          threshold=O.EMB_DUP_THRESHOLD)


def q_emb_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup: the scale path for
    dedup_embedding_pairs — same threshold, bucket-restricted candidates."""
    from stirling_pdf_spark.operators.similarity import embedding_near_dup_lsh

    return embedding_near_dup_lsh(
        read_table(spark, sf_dir, "embeddings"),
        O.LSH_PLANES[:4], threshold=O.EMB_DUP_THRESHOLD,
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.lsh_topk(
        read_table(spark, sf_dir, "embeddings"), O.ANN_QUERY_IDS,
        O.LSH_PLANES, k=O.ANN_K,
    )


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TS.lang_id(read_table(spark, sf_dir, "documents"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TS.quality_stats(read_table(spark, sf_dir, "documents"))


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TS.token_counts(read_table(spark, sf_dir, "documents"))


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TS.fingerprint(read_table(spark, sf_dir, "documents"))


def q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 terms by tf/df (integer fixed-point ranking) —
    keyword/topicality signals for training-data curation."""
    return TS.tfidf_top_terms(read_table(spark, sf_dir, "documents"), k=3)


def q_text_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10%% content-hash subsample — reproducible corpus
    sampling (same sample on any rerun/cluster, unlike rand())."""
    return TS.hash_sample(read_table(spark, sf_dir, "documents"),
                          rate_pct=10)


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style top-bigram repetition share (public MassiveText
    filtering heuristics)."""
    return TS.repetition_stats(read_table(spark, sf_dir, "documents"))


def q_text_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style keep filter: word count, max token length, mean word
    length bounds as column predicates."""
    return TS.c4_filter(read_table(spark, sf_dir, "documents"))


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_payload_metadata(read_table(spark, sf_dir, "documents"))


# -------------------------------------------------- html / chunking / eml

def q_h2_h3_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2 script/style strip + H3 positioned-CSS strip
    (EmlProcessingUtils.java:594-606, :238-247) over synthesized HTML."""
    from stirling_pdf_spark.functions.html import (
        strip_positioned_css, strip_scripts_styles,
    )

    docs = read_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<div><script type="text/js">ignore me</script>'
              "<style>.x{position:fixed;}</style>"
              '<p style="position:absolute;top:0">'),
        F.col("text"), F.lit("</p></div>"),
    )
    cleaned = strip_positioned_css(strip_scripts_styles(html))
    return docs.select(
        "doc_id", F.md5(cleaned).alias("clean_md5"),
        F.length(cleaned).cast("long").alias("clean_len"),
    )


def q_h1_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 allowlist sanitize (CustomHtmlSanitizer.java:45-67): attrs
    outside the allowlist drop, script+content drops, unknown tags
    unwrap, img src with an unsafe scheme drops — checked by md5 of the
    sanitized markup."""
    from stirling_pdf_spark.kernel.sanitize import sanitize_html

    docs = read_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<div onclick="x()"><p style="color:red">'), F.col("text"),
        F.lit('</p><script>bad()</script><img src="javascript:x" alt="pic"/>'
              "<blink>keep this text</blink>"
              '<a href="https://e.x/" title="t">link</a></div>'),
    )
    cleaned = map_rows(docs.select("doc_id", html.alias("html")),
                       lambda d, h: [(d, sanitize_html(h or ""))],
                       "doc_id long, clean string")
    return cleaned.select(
        "doc_id", F.md5("clean").alias("clean_md5"),
        F.length("clean").cast("long").alias("clean_len"),
    )


def q_h7_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H7 boilerplate strip (link-density/text-length scoring à la
    Readability/jusText over H1-H3 semantics): nav/footer boilerplate
    drops, the article heading + paragraphs survive in document
    order."""
    from stirling_pdf_spark.kernel.html_extract import extract_main_blocks

    docs = read_table(spark, sf_dir, "documents")
    # ltrim: a slice boundary can land on a space, which the block
    # scorer's whitespace collapse would merge with the template space
    p1 = F.concat(F.lit("the quick brown fox paragraph one "),
                  F.ltrim(F.substring("text", 1, 200)))
    p2 = F.concat(F.lit("the quick brown fox paragraph two "),
                  F.ltrim(F.substring("text", 201, 200)))
    html = F.concat(
        F.lit('<html><body><nav><ul><li><a href="/home">home</a></li></ul>'
              "</nav><article><h1>Heading "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), p1, F.lit("</p><p>"), p2,
        F.lit('</p></article><footer>fine print <a href="/tos">tos</a>'
              "</footer></body></html>"),
    )
    blocks = map_rows(docs.select("doc_id", html.alias("html")),
                      lambda d, h: [(d, extract_main_blocks(h or ""))],
                      "doc_id long, blocks array<string>")
    return blocks.select(
        "doc_id",
        F.size("blocks").alias("n_blocks"),
        F.md5(F.array_join("blocks", "\n")).alias("blocks_md5"),
    )


def q_h5_autolink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H5 text->HTML: escape + autolink URLs/emails
    (EmlProcessingUtils.java:256-284)."""
    from stirling_pdf_spark.functions.html import text_to_html

    docs = read_table(spark, sf_dir, "documents")
    src = F.concat(
        F.lit("a<b & c>d "), F.substring("text", 1, 40),
        F.lit(" visit https://example.com/"), F.col("doc_id").cast("string"),
        F.lit(" or mail doc"), F.col("doc_id").cast("string"),
        F.lit("@test.org now"),
    )
    return docs.select("doc_id", F.md5(text_to_html(src)).alias("html_md5"))


def q_e10_has_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 has-text predicate over EXTRACTED spans
    (PdfUtils.hasText :100-114) — exercises F.exists on the span array."""
    from stirling_pdf_spark.operators.pageops import has_text

    return has_text(_extracted(spark, sf_dir), "data").select("doc_id")


def q_text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E24 chunking, fixed-stride window variant (512 chars, 64 overlap;
    caps from PdfTextChunkExtractor.java:28-31 / engine chunker)."""
    from stirling_pdf_spark.kernel.chunker import chunk_text_windows

    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.posexplode(chunk_text_windows(F.col("text"))).alias("chunk_no", "chunk"),
    ).select("doc_id", F.col("chunk_no").cast("long").alias("chunk_no"), "chunk")


def q_e24_sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E24 sentence-packing chunker (engine chunker semantics: greedy
    sentence packing to 512 chars with a 64-char overlap tail).
    Sentences are normalized to EXACTLY 20 chars (word prefix
    x-padded + '.'), which makes the greedy packing closed-form:
    24 sentences per chunk, 3-sentence overlap tail, so chunk j covers
    sentences [21j, 21j+24) — the oracle re-derives exactly that."""
    from stirling_pdf_spark.kernel.chunker import chunk_text

    docs = read_table(spark, sf_dir, "documents")
    sents = F.transform(
        F.split(F.trim(F.col("text")), r"\s+"),
        lambda w: F.concat(F.rpad(F.substring(w, 1, 10), 19, "x"),
                           F.lit(".")),
    )
    body = F.array_join(sents, " ").alias("body")
    chunks = map_rows(docs.select("doc_id", body),
                      lambda d, b: [(d, chunk_text(b or ""))],
                      "doc_id long, chunks array<string>")
    return chunks.select(
        "doc_id",
        F.posexplode("chunks").alias("chunk_no", "chunk"),
    ).select("doc_id", F.col("chunk_no").cast("long").alias("chunk_no"),
             "chunk")


def q_eml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6 EML parse (EmlParser.java) — MIME encode + stdlib parse round
    trip in an Arrow-batched stage."""
    from stirling_pdf_spark.operators.emlparse import eml_roundtrip

    return eml_roundtrip(read_table(spark, sf_dir, "documents"))



# ----------------------------------------------- round 5, sixth session


def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection under a token budget (textstats.py
    token_budget_select): quality-ranked greedy fill — keep the best
    documents (quality bucket DESC, id ASC) until 12k cumulative
    tokens; the global prefix sum is the two-phase range-partition
    shape, no single-partition window."""
    return TS.token_budget_select(
        read_table(spark, sf_dir, "documents"), O.TOKEN_BUDGET)


def q_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle PSM rewrite (packing.py fim_transform; the
    public FIM pretraining recipe): a deterministic id-hash half of
    the corpus is re-serialized <|fim_pre|> prefix <|fim_suf|> suffix
    <|fim_mid|> middle with cuts at n/3 and 2n/3; the rest passes
    through verbatim. Pure column expressions riding the scan."""
    from stirling_pdf_spark.operators.packing import fim_transform

    return fim_transform(read_table(spark, sf_dir, "documents"))


def q_emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (operators/kmeans.py), exactly
    reproducible: micro fixed-point vectors make distances integer
    sums (exact in any order) and centroid updates floor-divisions, so
    three full-corpus iterations from deterministic seeds match the
    oracle's unrolled CTEs bit-for-bit — an ITERATIVE algorithm under
    the exact-equality gate."""
    from stirling_pdf_spark.operators.kmeans import kmeans_assign

    emb = read_table(spark, sf_dir, "embeddings")
    out = kmeans_assign(emb, k=O.KMEANS_K, iters=O.KMEANS_ITERS)
    return out.select(F.col("id").alias("vec_id"), "cluster", "dist_sq")


def q_text_collapse_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-duplicate-line collapse (textstats.py
    collapse_repeated_lines — the template/boilerplate cleanup stage):
    the corpus derives 6-word lines with every third line doubled plus
    a doubled footer; survivors rejoin in original order with exact
    counts."""
    base = read_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    nl = F.ceil(F.size(w) / 6).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nl - 1),
        lambda i: F.array_join(F.slice(w, i * 6 + 1, 6), " "),
    )
    dup = F.flatten(F.transform(
        lines,
        lambda x, i: F.when(i % 3 == 0, F.array(x, x))
        .otherwise(F.array(x)),
    ))
    full = F.concat(dup, F.array(F.lit("== footer =="),
                                 F.lit("== footer ==")))
    docs = base.select("doc_id", F.array_join(full, "\n").alias("text"))
    return TS.collapse_repeated_lines(docs)


def q_kmeans_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced downsampling composed over emb_kmeans: at most
    64 members per cluster ranked by the deterministic id hash — the
    topic-balancing sampler LLM pipelines run after corpus
    clustering."""
    from stirling_pdf_spark.operators.kmeans import kmeans_assign

    emb = read_table(spark, sf_dir, "embeddings")
    km = kmeans_assign(emb, k=O.KMEANS_K, iters=O.KMEANS_ITERS)
    w = Window.partitionBy("cluster").orderBy(
        F.md5(F.col("id").cast("string")), F.col("id"))
    return (
        km.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= O.KMEANS_SAMPLE_CAP)
        .select(F.col("id").alias("vec_id"), "cluster", "rnk")
    )


def q_interleave_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved image-text training records (the OBELICS-style
    multimodal serialization — the graft's interleaved payload as an
    output format): extracted spans concatenate in global reading
    order, text verbatim and media as <|image:media_ref|> sentinels,
    one training record per document with text/media counts and the
    record hash. The corpus repeats each doc's text 16x so most docs
    cross the media-page threshold and BOTH span kinds interleave."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_repeated_from_documents,
    )

    flat = explode_spans(
        extract_spans(docs_repeated_from_documents(spark, sf_dir)))
    part = (
        F.when(F.col("kind") == "text", F.col("text"))
        .when(F.col("kind") == "media",
              F.concat(F.lit("<|image:"), F.col("media_ref"), F.lit("|>")))
    )
    typed = flat.select(
        "doc_id", "order", part.alias("part"),
        (F.col("kind") == "text").cast("long").alias("is_text"),
        (F.col("kind") == "media").cast("long").alias("is_media"),
    ).filter(F.col("part").isNotNull())
    rec = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("order", "part"))),
            lambda s: s["part"],
        ),
        " ",
    )
    return typed.groupBy("doc_id").agg(
        F.sum("is_text").cast("long").alias("n_text"),
        F.sum("is_media").cast("long").alias("n_media"),
        F.length(rec).cast("long").alias("n_chars"),
        F.md5(rec).alias("record_md5"),
    )


def q_extract_parallelism_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north rule's cross-cluster-size reproducibility claim as an
    oracle-checked gate: the SAME corpus extracted under two different
    partitionings runs through span_diff. Side A salts every doc over
    8 spans (its segments are extracted across tasks and reassembled);
    side B starts from a 3-way input repartition and keeps every doc
    whole. Every document must come back bit-identical (kind, text,
    media_ref, order), so the oracle is simply the span-count totals
    with equal=1 everywhere."""
    from stirling_pdf_spark.operators.validate import span_diff

    from stirling_pdf_spark.runtime.staging import stage as _stage

    # the SAME corpus extracted under two partitionings — synthesize
    # once; each side still repartitions + extracts independently
    docs = _stage(docs_from_documents_table(spark, sf_dir))
    cols = ["doc_id", "order", "kind", "text", "media_ref"]
    a = explode_spans(extract_spans(docs, salt_threshold=8)).select(*cols)
    b = explode_spans(
        extract_spans(docs.repartition(3), salt_threshold=2**31 - 1)
    ).select(*cols)
    return span_diff(a, b)


def q_text_dehyphenate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyphenation repair + line unwrap (textstats.dehyphenate_text —
    pdftotext's classic post-process): the corpus hard-wraps every
    11th word boundary as a hyphenated break and every 5th as a plain
    break; '-\n' rejoins iff the continuation starts lowercase, then
    single breaks become spaces. Map-only regexp chain."""
    base = read_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    nw = F.size(w)

    def sep(i):
        return (F.when(i % 11 == 3, F.lit("-\n"))
                .when(i % 5 == 2, F.lit("\n"))
                .otherwise(F.lit(" ")))

    parts = F.transform(F.slice(w, 1, nw - 1),
                        lambda x, i: F.concat(x, sep(i)))
    t2 = F.concat(F.array_join(parts, ""), F.element_at(w, -1))
    docs = base.select("doc_id", t2.alias("text"))
    return TS.dehyphenate_text(docs)


def q_dedup_minhash_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-loss report for the MinHash/LSH stage (dedup.py
    minhash_quality_report): verified LSH pairs vs the exact n-gram
    Jaccard ground truth in ONE full-outer-join job — precision must
    be the invariant 1000 (survivors are exactly verified), recall is
    the banding loss being tuned."""
    return D.minhash_quality_report(
        read_table(spark, sf_dir, "documents"),
        n=O.NGRAM_N, num_hashes=O.MINHASH_K, bands=O.MINHASH_BANDS,
        threshold_pct=O.JACCARD_THRESHOLD_PCT,
    )


def q_media_caption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption mining (multimodal.media_caption_pairs — the
    alt-text/caption pairing stage of multimodal dataset builds): each
    media span pairs with the LAST text span preceding it in reading
    order; the oracle knows the corpus anchors media at page starts,
    so the caption is the closed-form last chunk of the previous
    page."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_repeated_from_documents,
    )
    from stirling_pdf_spark.operators.multimodal import media_caption_pairs

    flat = explode_spans(
        extract_spans(docs_repeated_from_documents(spark, sf_dir)))
    return media_caption_pairs(flat)


def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram — the dedup observability table
    (how much duplicate mass sits in how-big clusters): MinHash
    components -> per-component size -> size histogram, two bounded
    groupBys."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, n=O.NGRAM_N, num_hashes=O.MINHASH_K, bands=O.MINHASH_BANDS,
        threshold_pct=O.JACCARD_THRESHOLD_PCT,
    )
    comp = D.connected_components(
        pairs, docs.select(F.col("doc_id").alias("id")),
        dedup_edges=False)
    sizes = comp.groupBy("component").agg(F.count("*").alias("sz"))
    return sizes.groupBy("sz").agg(
        F.count("*").cast("long").alias("n_clusters"),
        (F.col("sz") * F.count("*")).cast("long").alias("n_docs"),
    ).select(F.col("sz").cast("long").alias("cluster_size"),
             "n_clusters", "n_docs")


def q_image_size_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAION-style raster hygiene (multimodal.image_size_filter): keep
    an image iff both DECODED sides reach 16 px and the aspect ratio
    stays within 3:1 — integer cross-multiplications over the real
    decode stage's output, no float ratios."""
    from stirling_pdf_spark.corpus.media import image_table
    from stirling_pdf_spark.operators.multimodal import (
        decode_images,
        image_size_filter,
    )

    docs = docs_media_from_documents(spark, sf_dir)
    decoded = decode_images(image_table(docs))
    return image_size_filter(
        decoded, min_side=O.IMG_MIN_SIDE, max_aspect=O.IMG_MAX_ASPECT)


def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup batch admission (dedup.incremental_minhash_dedup —
    the fuzzy sibling of dedup_incremental): the doc_id % 4 == 0 slice
    arrives as the new crawl batch and is rejected on any MinHash
    near-match against the accepted rest or any earlier batch doc."""
    docs = read_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    existing = docs.filter(F.col("doc_id") % 4 != 0)
    return D.incremental_minhash_dedup(
        existing, batch, n=O.NGRAM_N, num_hashes=O.MINHASH_K,
        bands=O.MINHASH_BANDS, threshold_pct=O.JACCARD_THRESHOLD_PCT)


def q_web_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (operators/graph.py) over the
    anchor-derived domain graph (site(n%7) -> mirror(n%3) ->
    site((n+2)%7)): three iterations of integer floor-division
    arithmetic, bit-identical to the oracle's unrolled CTEs — the
    crawl-prioritization authority score as an exact gate."""
    from stirling_pdf_spark.operators.graph import pagerank

    base = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    site = F.concat(F.lit("site"), (d % 7).cast("string"),
                    F.lit(".example.com"))
    site2 = F.concat(F.lit("site"), ((d + 2) % 7).cast("string"),
                     F.lit(".example.com"))
    mirror = F.concat(F.lit("www.mirror"), (d % 3).cast("string"),
                      F.lit(".org"))
    edges = (
        base.select(site.alias("src"), mirror.alias("dst"))
        .unionByName(base.select(mirror.alias("src"), site2.alias("dst")))
    )
    return pagerank(edges, iters=O.PAGERANK_ITERS,
                    damping_x1000=O.PAGERANK_DAMPING)


def q_quality_decile_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile stratification for curriculum schedules /
    stratified eval draws: the token_budget_select rank machinery
    (two-phase prefix, no single-partition window) with an unlimited
    budget, deciled by (rank-1)*10 // corpus size — the corpus size is
    one bounded scalar, broadcast as a literal."""
    docs = read_table(spark, sf_dir, "documents")
    ranked = TS.token_budget_select(docs, budget_tokens=1 << 60)
    total = ranked.count()
    return ranked.select(
        "id", "quality", "sel_rank",
        F.expr(f"(sel_rank - 1) * 10 DIV {total}").cast("long")
        .alias("decile"),
    )


def q_domain_quality_priors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level quality priors (the RefinedWeb-style rollup that
    seeds crawl and filter priors): quality_stats joined to each doc's
    domain, one partial-agg'd groupBy bounded by the domain universe —
    means as integer x1000 ratios."""
    from stirling_pdf_spark.operators.textstats import quality_stats

    docs = read_table(spark, sf_dir, "documents")
    q = quality_stats(docs)
    dom = F.concat(F.lit("site"), (F.col("id") % 7).cast("string"),
                   F.lit(".example.com"))
    return (
        q.select("id", "quality", "n_words", dom.alias("domain"))
        .groupBy("domain")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.expr("sum(quality) * 1000 DIV count(*)").cast("long")
            .alias("avg_quality_x1000"),
            F.expr("sum(n_words) * 1000 DIV count(*)").cast("long")
            .alias("avg_tokens_x1000"),
        )
    )


def q_dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-key exact dedup (dedup.normalized_exact_dedup — the
    C4-style canonicalization catching reformatting-only duplicates):
    every doc gains an uppercased/punctuated/padded twin; the
    normalized key must pair each original with its twin (group_size
    2 everywhere) while raw md5(text) would see them all distinct."""
    base = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    both = base.select((d * 2).alias("doc_id"), "text").unionByName(
        base.select(
            (d * 2 + 1).alias("doc_id"),
            F.concat(F.lit("  "), F.upper("text"), F.lit(" !! "))
            .alias("text"),
        )
    )
    return D.normalized_exact_dedup(both)


def q_web_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-normalized HITS (operators/graph.py hits) over the same
    anchor-derived domain graph as web_pagerank: hub and authority
    scores in integer micro units, every half-step rescaled by the
    current max via floor division — bit-identical to the oracle's
    unrolled CTEs."""
    from stirling_pdf_spark.operators.graph import hits

    base = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    site = F.concat(F.lit("site"), (d % 7).cast("string"),
                    F.lit(".example.com"))
    site2 = F.concat(F.lit("site"), ((d + 2) % 7).cast("string"),
                     F.lit(".example.com"))
    mirror = F.concat(F.lit("www.mirror"), (d % 3).cast("string"),
                      F.lit(".org"))
    edges = (
        base.select(site.alias("src"), mirror.alias("dst"))
        .unionByName(base.select(mirror.alias("src"), site2.alias("dst")))
    )
    return hits(edges, iters=O.HITS_ITERS)


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase (relational.
    events_funnel): per user, each step counts only strictly after the
    previous step's earliest qualifying event. A deterministic 1/37
    event slice sparsifies per-user histories so every funnel depth
    actually occurs (the full feed has every user completing it)."""
    ev = read_table(spark, sf_dir, "events") \
        .filter(F.col("event_id") % 37 == 0)
    return R.events_funnel(ev)


def q_events_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (relational.events_cohort_retention):
    cohort = epoch-week of first activity, cells = distinct members
    active per week offset. A deterministic 1/23 slice varies
    first-seen weeks so multiple cohorts exist."""
    ev = read_table(spark, sf_dir, "events") \
        .filter(F.col("event_id") % 23 == 0)
    return R.events_cohort_retention(ev)


def q_retrieval_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (operators/retrieval.py
    mmr_topk): exact cosine top-10 pool + pool-pairwise similarity,
    both JVM float64 folds, then the greedy 0.7*rel - 0.3*max-sim
    selection over bounded per-query groups; the oracle replays the
    greedy loop as a recursive CTE."""
    from stirling_pdf_spark.operators.retrieval import mmr_topk

    emb = read_table(spark, sf_dir, "embeddings")
    return mmr_topk(emb, O.ANN_QUERY_IDS, k=O.MMR_K, pool=O.MMR_POOL)


def q_extract_lineage_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north rule's observability surface driven end-to-end:
    run-1 extracts the full corpus through the checkpointed commit
    protocol (runtime/checkpoint.py — spans, then lineage LAST as the
    commit point); run-2 under a new run_id resumes against the
    committed lineage, finds an EMPTY pending set and so has no
    metrics row. The gate rolls the per-partition metrics view
    (read_metrics, derived from the committed spans) up per run_id —
    idempotency is visible as the absence of a second run, and the
    run-1 totals must equal the span-counts oracle summed over every
    kind."""
    import shutil
    import tempfile

    from stirling_pdf_spark.runtime.checkpoint import (
        read_metrics,
        run_extract_with_checkpoint,
    )

    base = tempfile.mkdtemp(prefix="lineage_gate_")
    try:
        docs = docs_from_documents_table(spark, sf_dir)
        run_extract_with_checkpoint(spark, docs, base, run_id="run-1")
        run_extract_with_checkpoint(spark, docs, base, run_id="run-2")
        m = read_metrics(spark, base)
        out = m.groupBy("run_id").agg(
            F.sum("doc_count").cast("long").alias("docs"),
            F.sum("span_count").cast("long").alias("spans"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_extract_span_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-sequence equality validator (operators/validate.py) — the
    north rule's per-row invariant as a distributed operator: side B
    perturbs the extracted text-span view (docs with num % 7 == 0 get
    span text_rank = num % 3 prefixed, docs with num % 11 == 0 lose
    their last span) and the diff must localize exactly those
    divergences: counts per side, mismatch count, equality flag and
    the first divergent order per document."""
    from stirling_pdf_spark.operators.validate import span_diff
    from stirling_pdf_spark.runtime.staging import stage

    # both diff sides derive from the same extraction — persist it
    # once instead of running the Arrow pipeline twice
    a = stage(q_extract_text_spans(spark, sf_dir))
    num = F.regexp_extract("doc_id", "([0-9]+)", 1).cast("long")
    b = (
        a.withColumn("num", num)
        .withColumn(
            "max_rank",
            F.max("text_rank").over(Window.partitionBy("doc_id")),
        )
        .withColumn(
            "text",
            F.when(
                (F.col("num") % 7 == 0)
                & (F.col("text_rank") == F.col("num") % 3),
                F.concat(F.lit("EDITED "), F.col("text")),
            ).otherwise(F.col("text")),
        )
        .filter(
            ~((F.col("num") % 11 == 0)
              & (F.col("text_rank") == F.col("max_rank")))
        )
        .select("doc_id", "text_rank", "text")
    )
    return span_diff(a, b, order_col="text_rank")


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection (keep-BEST, the published LLM
    dedup idiom): MinHash pairs -> connected components -> the LONGEST
    member of each cluster survives (byte length, min-id ties) instead
    of the arbitrary min-id label that dedup_keep_corpus keeps."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, n=O.NGRAM_N, num_hashes=O.MINHASH_K, bands=O.MINHASH_BANDS,
        threshold_pct=O.JACCARD_THRESHOLD_PCT,
    )
    return D.keep_best_corpus(docs, pairs)


def q_url_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1-style domain-blocklist filter (web-pipeline hygiene): docs
    with num % 5 != 0 carry two deterministic URLs; an entry blocks a
    host on exact or dot-suffix match ('mirror3.org' blocks
    'www.mirror3.org'), URL-less docs pass vacuously."""
    base = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    tail = F.concat(
        F.lit(" see https://site"), (d % 7).cast("string"),
        F.lit(".example.com/p/"), d.cast("string"),
        F.lit(" or www.mirror"), (d % 7).cast("string"), F.lit(".org done"),
    )
    docs = base.select(
        F.concat(F.lit("doc-"), d.cast("string")).alias("doc_id"),
        F.when(d % 5 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), tail)).alias("text"),
    )
    return TS.url_blocklist_filter(docs)


def q_html_anchor_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text corpus extraction (functions/html.py): every <a>
    tag in tag order with href, anchor text and registrable host —
    relative hrefs keep a NULL domain. Three anchors per synthesized
    page (absolute article link, relative nav link, absolute mirror
    link)."""
    from stirling_pdf_spark.functions.html import extract_anchors

    base = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><p>intro</p><a href="https://site'),
        (d % 7).cast("string"), F.lit(".example.com/p/"), d.cast("string"),
        F.lit('">read more '), d.cast("string"),
        F.lit('</a> mid <a rel="ugc nofollow" href="/rel/'), d.cast("string"),
        F.lit('">local</a> <a href="https://www.mirror'),
        (d % 3).cast("string"), F.lit('.org">mirror '), d.cast("string"),
        F.lit("</a></body></html>"),
    )
    docs = base.select(
        F.concat(F.lit("doc-"), d.cast("string")).alias("doc_id"),
        html.alias("html"),
    )
    return extract_anchors(docs)


def q_events_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / rolling-28-day MAU / per-mille stickiness over the raw
    event feed (relational.events_dau_mau): one distinct over
    (user, day), a bounded 28x day-contribution explode (never a
    range join against the fact table), one groupBy day."""
    return R.events_dau_mau(read_table(spark, sf_dir, "events"))


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease in exact integer milli-units
    (textstats.readability): vowel-group syllable proxy + [.!?]+
    sentence runs, map-only. The corpus has no sentence punctuation,
    so a deterministic doc_id%3 tail plants 1-3 sentences per doc."""
    from stirling_pdf_spark.operators.textstats import readability

    base = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t2 = F.concat(
        F.col("text"), F.lit("."),
        F.when(d % 3 == 1, F.lit(" Short tail! Ok?"))
        .when(d % 3 == 2, F.lit(" One more sentence here."))
        .otherwise(F.lit("")),
    )
    docs = base.select(
        F.concat(F.lit("doc-"), d.cast("string")).alias("doc_id"),
        t2.alias("text"))
    return readability(docs)


def q_chat_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT chat-template serialization with loss-mask char offsets
    (serialize.chat_format_records): first 8 words become the user
    turn, the rest the assistant turn; the oracle rebuilds the
    rendered string and the [loss_start, loss_end) span from the
    same slices."""
    from stirling_pdf_spark.operators.serialize import chat_format_records

    base = read_table(spark, sf_dir, "documents")
    docs = base.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
        .alias("doc_id"), "text")
    return chat_format_records(docs)


def q_html_meta_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-robots page policy (functions/html.meta_robots): planted
    <meta name="robots"> tags in both attribute orders plus an
    uppercase directive and a 'none' alias; flags are INTs and keep
    drops noindex'd pages."""
    from stirling_pdf_spark.functions.html import meta_robots

    base = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    meta = (
        F.when(d % 4 == 1,
               F.lit('<meta name="robots" content="noindex, follow">'))
        .when(d % 4 == 2,
              F.lit('<meta content="NOFOLLOW" name="robots">'))
        .when(d % 4 == 3, F.lit('<meta name="robots" content="none">'))
        .otherwise(F.lit("")))
    html = F.concat(F.lit("<html><head>"), meta,
                    F.lit("</head><body><p>x</p></body></html>"))
    docs = base.select(
        F.concat(F.lit("doc-"), d.cast("string")).alias("doc_id"),
        html.alias("html"))
    return meta_robots(docs)


def q_section_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heading-breadcrumb RAG chunking (retrieval.section_chunks):
    docs with >= 18 words get a planted '# Intro / ## Detail / # End'
    markdown skeleton (doc_id%3==0 additionally a pre-heading
    preamble line); shorter docs stay headingless and must come back
    as ONE preamble chunk. The oracle restates every section
    closed-form from the same word slices."""
    from stirling_pdf_spark.operators.retrieval import section_chunks

    base = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    w = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(w)
    skeleton = F.concat(
        F.lit("# Intro\n"), F.array_join(F.slice(w, 1, 6), " "),
        F.lit("\n## Detail\n"), F.array_join(F.slice(w, 7, 6), " "),
        F.lit("\n# End\n"),
        F.array_join(F.slice(w, 13, n - 12), " "))
    planted = F.when(
        n >= 18,
        F.when(d % 3 == 0,
               F.concat(F.lit("preamble line\n"), skeleton))
        .otherwise(skeleton)
    ).otherwise(F.col("text"))
    docs = base.select(
        F.concat(F.lit("doc-"), d.cast("string")).alias("doc_id"),
        planted.alias("text"))
    return section_chunks(docs)


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time as-of join (relational.events_asof): every
    purchase pairs with the user's latest view at or before it via a
    single user-keyed merge window — no range join. The oracle pins
    the matched time with a correlated MAX."""
    return R.events_asof(read_table(spark, sf_dir, "events"))


def q_png_text_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG tEXt metadata extraction (multimodal.png_text_chunks) over
    planted Title/Author chunks (corpus.media.png_text_table) — the
    chunk walk honors length framing and file order; the oracle
    restates both entries closed-form from the ref."""
    from stirling_pdf_spark.corpus.media import png_text_table
    from stirling_pdf_spark.operators.multimodal import png_text_chunks

    docs = docs_media_from_documents(spark, sf_dir)
    return png_text_chunks(png_text_table(docs))


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment the scalable way (relational.
    events_range_join): maintenance windows derived from the feed's
    first timestamp, exploded into hour bins + equi-join + residual
    filter — never a theta-join. Oracle = direct BETWEEN left join."""
    return R.events_range_join(read_table(spark, sf_dir, "events"))


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day x event-type pivot with an explicit type list (relational.
    events_pivot_daily) — schema-stable wide counts; the oracle uses
    FILTERed conditional aggregation."""
    return R.events_pivot_daily(read_table(spark, sf_dir, "events"))


def q_events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-7-day spend via a RANGE window frame
    (relational.events_rolling_value) — value-distance frames, not
    row counts, so calendar gaps are honored."""
    return R.events_rolling_value(read_table(spark, sf_dir, "events"))


def q_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact audio energy/peak stage (multimodal.audio_energy)
    over the sawtooth WAV fixtures — sum(s^2) has a closed form the
    oracle restates: N*amp^2 + 15*N*amp + (N div 16)*1240."""
    from stirling_pdf_spark.corpus.media import wav_table
    from stirling_pdf_spark.operators.multimodal import audio_energy

    docs = docs_media_from_documents(spark, sf_dir)
    return audio_energy(wav_table(docs)).drop("reason")



def q_audio_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-mean sample-rate decimation (factor 4) over the sawtooth
    WAV fixtures: per-channel floor-div block means whose loudness
    statistics the oracle states closed-form (mono blocks collapse to
    -1; stereo blocks alternate with block parity)."""
    from stirling_pdf_spark.corpus.media import wav_table
    from stirling_pdf_spark.operators.multimodal import audio_downsample

    docs = docs_media_from_documents(spark, sf_dir)
    return audio_downsample(wav_table(docs)).drop("reason")



def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder containment near-dup pairs (common 2-gram shingles /
    min size >= 0.8) — the asymmetric quote/subset detector next to
    the symmetric Jaccard gate."""
    from stirling_pdf_spark.operators.dedup import containment_pairs

    return containment_pairs(read_table(spark, sf_dir, "documents"),
                             threshold_pct=80)



def q_lm_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out stupid-backoff trigram LM scoring: even-doc model,
    odd-doc scores, live backoff path (Brants et al. 2007)."""
    from stirling_pdf_spark.operators.textstats import lm_trigram_backoff

    return lm_trigram_backoff(read_table(spark, sf_dir, "documents"))



def q_html_justext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jusText-style context-sensitive boilerplate classification:
    every doc synthesizes an HTML page of 12-token <p> blocks (every
    5th block per (doc_id + idx) carries a 3-word nav link), the
    engine PARSES the HTML with JVM regexp (no UDF), classifies
    bad/near/good by integer link-density/length/stopword rules and
    runs the adjacency relabel pass; the oracle re-derives every
    class closed-form from the raw token stream."""
    from stirling_pdf_spark.functions.html import justext_blocks

    docs = read_table(spark, sf_dir, "documents")
    html = F.expr(
        "concat('<html><body>', concat_ws('', transform("
        " sequence(0, (size(split(trim(text), '\\\\s+')) + 11) div 12"
        "  - 1),"
        " i -> concat('<p>',"
        "  CASE WHEN (doc_id + i) % 5 = 0"
        "        AND size(slice(split(trim(text), '\\\\s+'),"
        "                       i * 12 + 1, 12)) >= 4"
        "  THEN concat('<a href=\"/x\">',"
        "   concat_ws(' ', slice(split(trim(text), '\\\\s+'),"
        "             i * 12 + 1, 3)), '</a> ',"
        "   concat_ws(' ', slice(split(trim(text), '\\\\s+'),"
        "             i * 12 + 4,"
        "             size(slice(split(trim(text), '\\\\s+'),"
        "                        i * 12 + 1, 12)) - 3)))"
        "  ELSE concat_ws(' ', slice(split(trim(text), '\\\\s+'),"
        "                 i * 12 + 1, 12)) END,"
        " '</p>'))), '</body></html>')")
    src = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                      html.alias("html"))
    return justext_blocks(src)



def q_sketch_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimates vs ground truth for the
    top-10 corpus terms (deterministic md5 row hashes; 4 x 256
    cells); overestimate >= 0 is part of the checked output."""
    from stirling_pdf_spark.operators.sketch import cms_heavy_estimates

    return cms_heavy_estimates(read_table(spark, sf_dir, "documents"))



def q_html_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> interleaved text+media spans in document order (the
    north-rule input shape from the web side): 12-token <p> chunks
    with an <img> planted after every chunk where (doc_id + i) % 3
    = 0; the engine parses the HTML with one ordered JVM regexp pass,
    the oracle re-derives spans and offsets closed-form."""
    from stirling_pdf_spark.functions.html import html_to_spans

    docs = read_table(spark, sf_dir, "documents")
    html = F.expr(
        "concat('<html><body>', concat_ws('', transform("
        " sequence(0, (size(split(trim(text), WS)) + 11) div 12 - 1),"
        " i -> concat('<p>',"
        "  concat_ws(' ', slice(split(trim(text), WS), i * 12 + 1, 12)),"
        "  '</p>',"
        "  CASE WHEN (doc_id + i) % 3 = 0"
        "  THEN concat('<img src=\"media-',"
        "       substr(sha2(encode(text, 'UTF-8'), 256), 1, 8),"
        "       '-', cast(i as string), '\">')"
        "  ELSE '' END))), '</body></html>')".replace("WS", "'\\\\s+'"))
    src = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                      html.alias("html"))
    return html_to_spans(src)



def q_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote quality ensemble: hashed-classifier label +
    bigram-LM corpus-mean head + length head, keep on >= 2 votes —
    every corpus statistic a broadcast 1-row aggregate."""
    from stirling_pdf_spark.operators.textstats import (
        quality_ensemble_vote,
    )

    return quality_ensemble_vote(read_table(spark, sf_dir, "documents"))


def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot CDC diff (validate.snapshot_diff): v2 derives from the
    corpus deterministically — doc_id%10==7 removed, %10==3 text
    appended, %10==9 additionally cloned to doc_id+1000000 — and the
    diff must label every key added/removed/changed/unchanged."""
    from stirling_pdf_spark.operators.validate import snapshot_diff

    old = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    kept = old.filter(d % 10 != 7).select(
        "doc_id",
        F.when(d % 10 == 3, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")).alias("text"))
    added = old.filter(d % 10 == 9).select(
        (d + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" new")).alias("text"))
    return snapshot_diff(old, kept.unionByName(added))


def q_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream attribution join through REAL
    Structured Streaming (streaming/joiner.py): views and purchases
    arrive as two independent streams, every purchase pairs with the
    user's views in the trailing 2 h, and the drained availableNow
    output must equal the batch range join bit-for-bit."""
    import shutil
    import tempfile

    from stirling_pdf_spark.streaming.joiner import stream_attribution_join

    base = tempfile.mkdtemp(prefix="stream_join_")
    in_v, in_p = f"{base}/views", f"{base}/purchases"
    out_dir, cp = f"{base}/out", f"{base}/cp"
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props")
    try:
        ev.filter(F.col("event_type") == "view") \
            .write.mode("append").parquet(in_v)
        ev.filter(F.col("event_type") == "purchase") \
            .write.mode("append").parquet(in_p)
        stream_attribution_join(
            spark, in_v, in_p, out_dir, cp).awaitTermination()
        result = spark.read.parquet(out_dir).select(
            "purchase_id", "user_id", "purchase_us",
            "view_id", "view_us")
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-archive ingestion (sources/warc.py): documents become
    deterministic multi-record WARC/1.1 segments (64 pages each), and
    the record walk recovers every response with byte-exact CDX
    offsets, HTTP status/content-type, and payload md5. The oracle
    re-derives the offsets arithmetically from the container layout
    and the md5 from the same page HTML — the round trip proves the
    Content-Length framing, not just the field values."""
    from stirling_pdf_spark.sources.warc import warc_records, warc_segments

    docs = read_table(spark, sf_dir, "documents") \
        .select("doc_id", "text", "source")
    recs = warc_records(warc_segments(docs, docs_per_file=64))
    return recs.filter(F.col("rec_type") == "response").select(
        "warc_file",
        F.col("offset").cast("long").alias("offset"),
        F.col("length").cast("long").alias("rec_len"),
        "target_uri",
        "warc_date",
        F.col("http_status").cast("int").alias("http_status"),
        F.col("http_content_type").alias("content_type"),
        F.md5(F.col("payload")).alias("payload_md5"),
        F.length(F.col("payload")).cast("long").alias("payload_bytes"),
    )


def q_image_exif_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF provenance extraction (multimodal.image_exif_meta): every
    corpus ref gets a deterministic Exif-APP1 JPEG — both TIFF byte
    orders, inline and offset values, the 0x8769 sub-IFD — and the
    real IFD walk must recover make/model/orientation/resolution/
    DateTimeOriginal/PixelXDimension; the oracle restates each field
    from sha256(media_ref) byte reads."""
    from stirling_pdf_spark.corpus.media import exif_jpeg_table
    from stirling_pdf_spark.operators.multimodal import image_exif_meta

    docs = docs_media_from_documents(spark, sf_dir)
    return image_exif_meta(exif_jpeg_table(docs)).drop("reason")


def q_sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-deterministic HyperLogLog (sketch.hll_distinct): distinct
    users per event type via 256 md5-sliced registers whose integer
    sum the oracle recomputes exactly — the gate checks the SKETCH,
    not a tolerance band; exact counts ride along as the accuracy
    column (err_bp = basis points of error)."""
    from stirling_pdf_spark.operators.sketch import hll_distinct

    ev = read_table(spark, sf_dir, "events")
    return hll_distinct(ev, "event_type", "user_id")


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-Bloom benchmark decontamination (sketch.
    bloom_decontaminate): docs with doc_id%31==0 form the benchmark,
    the rest are candidates; every candidate 8-gram probes the 2^16
    bit set (k=3 md5 slices) and the ground-truth exact flag rides
    along so the false-positive rate is visible, never hidden."""
    from stirling_pdf_spark.operators.sketch import bloom_decontaminate

    docs = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    return bloom_decontaminate(
        docs.filter(d % 31 != 0), docs.filter(d % 31 == 0), n=8)


def q_zorder_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order table layout (layout.zorder_manifest): Morton-interleave
    (source-hash byte, length bucket) into 64 files and emit the
    min/max pruning manifest an Iceberg/Delta rewrite would store; the
    oracle recomputes the interleave bit-for-bit."""
    from stirling_pdf_spark.operators.layout import zorder_manifest

    return zorder_manifest(read_table(spark, sf_dir, "documents"))


def q_data_select_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169):
    hashed unigram+bigram rate-difference importance weights fit with
    target = the table's lang='en' slice, every doc scored by its
    weight sum, deterministic top-50 by (score desc, id). Weights are
    a 256-row broadcast; scoring is one explode + partial agg — the
    constant-exchange classifier-pass shape
    (operators/textstats.dsir_select)."""
    from stirling_pdf_spark.operators.textstats import dsir_select

    return dsir_select(read_table(spark, sf_dir, "documents"), k=50)


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language (the multilingual-tokenizer
    audit, Rust et al. 2021 arXiv:2012.15613): subword tokens per
    word / chars per token in exact integer ppm after the gated BPE
    training loop; the oracle replays the same merge chain and joins
    the vocabulary independently
    (operators/textstats.bpe_fertility)."""
    from stirling_pdf_spark.operators.textstats import bpe_fertility

    return bpe_fertility(read_table(spark, sf_dir, "documents"))


def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier reliability table (Guo et al. 2017,
    arXiv:1706.04599): equal-width bins over the observed hashed-
    classifier score range, per-bin doc count / exact score sum /
    observed positive rate vs the lang='en' ground truth — one
    bounded min/max collect + a <=10-key partial agg
    (operators/textstats.calibration_bins)."""
    from stirling_pdf_spark.operators.textstats import calibration_bins

    return calibration_bins(read_table(spark, sf_dir, "documents"))


def q_span_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span-corruption transform (Raffel et al. 2020,
    arXiv:1910.10683): deterministic ~15% span masking (3-token spans
    on a 13-token period, start = md5(doc_id) % 11) rewriting each doc
    to (input with <extra_id_g> sentinels, target) — map-only column
    expressions, no shuffle, the fim_transform sibling
    (operators/packing.span_corrupt_transform)."""
    from stirling_pdf_spark.operators.packing import (
        span_corrupt_transform,
    )

    return span_corrupt_transform(read_table(spark, sf_dir, "documents"))


def q_text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters via the Misra-Gries candidate prune (Misra
    & Gries 1982; mergeable-summaries shrink, Agarwal et al. 2013):
    words with count >= N/64, found by a bounded per-partition sketch
    (the 10^12-vocabulary shape: only candidates cross the shuffle)
    then an exact filtered count — output depends only on exact
    global counts, so it is parallelism-invariant
    (operators/textstats.heavy_hitters)."""
    from stirling_pdf_spark.operators.textstats import heavy_hitters

    return heavy_hitters(read_table(spark, sf_dir, "documents"))


def q_collocation_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by exact-integer lift (the PMI family,
    Church & Hanks 1990): adjacent pairs with count >= 5 scored by
    (c_ab * N div c_a) * 1000 div c_b, top-25 — two vocabulary-sized
    partial aggs + two word-keyed joins, no corpus-sized shuffle
    (operators/textstats.collocation_lift_topk)."""
    from stirling_pdf_spark.operators.textstats import (
        collocation_lift_topk,
    )

    return collocation_lift_topk(read_table(spark, sf_dir, "documents"))


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix vs the table's ground-truth lang
    column — the deployed-filter eval artifact: lang_id argmax inline
    (no self-join), partial agg onto the |langs|^2 cell universe
    (operators/textstats.lang_confusion)."""
    from stirling_pdf_spark.operators.textstats import lang_confusion

    return lang_confusion(read_table(spark, sf_dir, "documents"))


def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-byte output sharding plan (the 'write N balanced files'
    final pipeline op): whole docs assigned in id order to shard =
    cumulative_byte_offset div 16 KiB via the pack_sequences
    two-phase prefix sum — no global window; the oracle replays the
    cumsum directly (operators/packing.shard_plan)."""
    from stirling_pdf_spark.operators.packing import shard_plan

    return shard_plan(read_table(spark, sf_dir, "documents"))


def q_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture planner (the published-pretraining-mix epoch
    table): integer parts per source ((i mod 4) + 1 over the table's
    src{i} universe), one-epoch-equivalent budget = the corpus token
    total, per-source tokens_needed and milli-epochs — one groupBy
    onto the source universe + a one-row totals broadcast
    (operators/textstats.mix_plan)."""
    from stirling_pdf_spark.operators.textstats import mix_plan

    parts = {f"src{i}": (i % 4) + 1 for i in range(20)}
    return mix_plan(read_table(spark, sf_dir, "documents"), parts)


def q_anchor_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation per target domain (the query-document
    training signal): extract_anchors over the same synthesized pages
    as html_anchor_extract, followed+absolute anchors only, per-domain
    volume / distinct texts / top anchor by (count desc, text asc)
    (functions/html.aggregate_anchors)."""
    from stirling_pdf_spark.functions.html import (
        aggregate_anchors,
        extract_anchors,
    )

    base = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><p>intro</p><a href="https://site'),
        (d % 7).cast("string"), F.lit(".example.com/p/"),
        d.cast("string"),
        F.lit('">read more '), d.cast("string"),
        F.lit('</a> mid <a rel="ugc nofollow" href="/rel/'),
        d.cast("string"),
        F.lit('">local</a> <a href="https://www.mirror'),
        (d % 3).cast("string"), F.lit('.org">mirror '),
        d.cast("string"),
        F.lit("</a></body></html>"),
    )
    docs = base.select(
        F.concat(F.lit("doc-"), d.cast("string")).alias("doc_id"),
        html.alias("html"),
    )
    return aggregate_anchors(extract_anchors(docs, html_col="html"))


def q_events_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic over events.user_id — the pre-shuffle
    audit the salted extraction path assumes: top-10 hottest keys
    with ppm shares and the global row/key totals; one key-universe
    groupBy + a one-row totals broadcast
    (operators/relational.skew_report)."""
    from stirling_pdf_spark.operators.relational import skew_report

    return skew_report(read_table(spark, sf_dir, "events"), "user_id")


def q_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 document byte lengths via the counting-sort
    quantile (distinct-length count table + cumulative window over
    the bounded length universe — no global sort of the corpus)
    (operators/relational.length_percentiles)."""
    from stirling_pdf_spark.operators.relational import (
        length_percentiles,
    )

    return length_percentiles(read_table(spark, sf_dir, "documents"))


def q_emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding distribution report (the feature-drift
    monitor): exact fixed-point count/sum/sum-of-squares/min/max per
    dimension — one posexplode + partial agg onto 64 keys
    (operators/similarity.emb_dim_stats)."""
    from stirling_pdf_spark.operators.similarity import emb_dim_stats

    return emb_dim_stats(read_table(spark, sf_dir, "embeddings"))


def q_robots_crawl_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt crawl-permission evaluation (RFC 9309 longest-match
    precedence, '*' group, prefix-rule subset): five synthesized
    per-domain robots bodies — one with NO '*' group (everything
    allowed), comments and an ignored named-agent group in all of
    them — against four URL-path shapes per doc; the oracle is the
    closed-form policy model, so the parser (line groups, last
    user-agent wins, empty-Disallow drop) and the evaluator (longest
    prefix, allow on tie, no-rule default) must both be right
    (functions/html.parse_robots + robots_eval)."""
    from stirling_pdf_spark.functions.html import (
        parse_robots,
        robots_eval,
    )

    base = read_table(spark, sf_dir, "documents")
    n = F.col("doc_id")
    k = (n % 5).cast("string")
    robots = F.concat(
        F.lit("# cache rules\nUser-agent: *\nDisallow: /private\n"
              "Allow: /private/ok\nDisallow: /d"), k,
        F.lit("\nDisallow:\n\nUser-agent: otherbot\nDisallow: /\n"),
    )
    robots_dom4 = F.lit(
        "# named group only\nUser-agent: otherbot\nDisallow: /\n")
    rules_src = base.filter(n < 5).select(
        F.concat(F.lit("dom"), k).alias("domain"),
        F.when(n % 5 == 4, robots_dom4).otherwise(robots)
        .alias("robots_txt"),
    )
    m = n % 4
    urls = base.select(
        n.alias("url_id"),
        F.concat(F.lit("dom"), k).alias("domain"),
        F.when(m == 0, F.concat(F.lit("/private/x"), n.cast("string")))
        .when(m == 1, F.concat(F.lit("/private/ok/x"),
                               n.cast("string")))
        .when(m == 2, F.concat(F.lit("/d"), k, F.lit("stuff"),
                               n.cast("string")))
        .otherwise(F.concat(F.lit("/public/"), n.cast("string")))
        .alias("path"),
    )
    return robots_eval(urls, parse_robots(rules_src))


def q_sitemap_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-protocol ingestion (sitemaps.org): <url> entries with
    <loc> and optional <lastmod> from synthesized per-doc sitemap XML
    (one entry with lastmod, one without, one loc-less entry dropped)
    — pure regexp columns, no shuffle
    (functions/html.sitemap_entries)."""
    from stirling_pdf_spark.functions.html import sitemap_entries

    base = read_table(spark, sf_dir, "documents")
    n = F.col("doc_id")
    lastmod = F.concat(
        F.lit("2026-01-"),
        F.lpad(((n % 28) + 1).cast("string"), 2, "0"))
    loc = F.concat(F.lit("https://site"), (n % 7).cast("string"),
                   F.lit(".example.com/p/"), n.cast("string"))
    loc2 = F.concat(F.lit("https://site"), (n % 7).cast("string"),
                    F.lit(".example.com/q/"), n.cast("string"))
    xml = F.concat(
        F.lit("<urlset><url><loc>"), loc, F.lit("</loc><lastmod>"),
        lastmod, F.lit("</lastmod></url><url><loc>"), loc2,
        F.lit("</loc></url><url><priority>0.5</priority></url>"
              "</urlset>"),
    )
    sitemaps = base.select(
        F.concat(F.lit("dom"), (n % 5).cast("string")).alias("domain"),
        xml.alias("sitemap_xml"),
    )
    return sitemap_entries(sitemaps)


def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain politeness frontier scheduling (one request per
    domain per crawl delay): deterministic slots in url order, fetch
    offset slot x 1000 ms — one bounded window per domain
    (functions/html.crawl_schedule)."""
    from stirling_pdf_spark.functions.html import crawl_schedule

    base = read_table(spark, sf_dir, "documents")
    n = F.col("doc_id")
    urls = base.select(
        n.alias("url_id"),
        F.concat(F.lit("site"), (n % 7).cast("string")).alias("domain"),
    )
    return crawl_schedule(urls)


def q_script_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script profile (the writing-system signal beside
    stopword lang-id): per-script char counts over five ranges +
    dominant script, exercised by appending per-doc Cyrillic/CJK/
    Arabic tails of varying length so the argmax flips — map-only
    regexp counts (operators/textstats.script_detect)."""
    from stirling_pdf_spark.operators.textstats import script_detect

    base = read_table(spark, sf_dir, "documents")
    n = F.col("doc_id")
    reps = ((n % 13) * 50 + 1).cast("int")
    m = n % 4
    tail = (
        F.when(m == 1, F.concat(F.lit(" "),
                                F.expr("repeat('\u0431', reps)")))
        .when(m == 2, F.concat(F.lit(" "),
                               F.expr("repeat('\u6F22', reps)")))
        .when(m == 3, F.concat(F.lit(" "),
                               F.expr("repeat('\u0628', reps)")))
        .otherwise(F.lit(""))
    )
    docs = base.select(
        "doc_id", reps.alias("reps"),
        F.concat(F.col("text"), tail).alias("text"),
    ).select("doc_id", "text")
    return script_detect(docs)


def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor (hashed-unigram L1 in exact integer ppm):
    even-doc_id slice vs the rest; per-bucket counts, smoothed ppm
    rates and the absolute gap — one 128-key partial agg + a one-row
    totals broadcast (operators/textstats.corpus_drift)."""
    from stirling_pdf_spark.operators.textstats import corpus_drift

    docs = read_table(spark, sf_dir, "documents")
    return corpus_drift(docs, F.col("doc_id") % 2 == 0)


def q_qa_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic QA-pair harvest: planted question sentences (one per
    doc, a second on every third doc) must pair with their immediate
    successors through the shared RE2-safe sentence chunker; the
    oracle replays chunking AND pairing over the same constructed
    text, so the extraction itself is value-checked
    (operators/textstats.qa_mine)."""
    from stirling_pdf_spark.operators.textstats import qa_mine

    base = read_table(spark, sf_dir, "documents")
    n = F.col("doc_id")
    second = F.when(
        n % 3 == 0,
        F.concat(F.lit("Why bucket "), (n % 7).cast("string"),
                 F.lit("? Because rule "), (n % 7).cast("string"),
                 F.lit(". ")),
    ).otherwise(F.lit(""))
    txt = F.concat(
        F.lit("What is item "), n.cast("string"),
        F.lit("? It is thing "), n.cast("string"), F.lit(". "),
        second, F.col("text"),
    )
    docs = base.select("doc_id", txt.alias("text"))
    return qa_mine(docs)


def q_dedup_global_sentences(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Corpus-global sentence boilerplate removal (the C4/CCNet rule
    at corpus scope): planted universal boilerplate (df=500) and a
    df~167 banner must vanish from every doc, the df=2 pair note and
    each doc's unique body must survive — sentence-universe agg +
    key join + per-doc reassembly
    (operators/dedup.dedup_global_sentences)."""
    from stirling_pdf_spark.operators.dedup import (
        dedup_global_sentences,
    )

    base = read_table(spark, sf_dir, "documents")
    n = F.col("doc_id")
    txt = F.concat(
        F.lit("All rights reserved. Pair note "),
        F.floor(n / 2).cast("long").cast("string"), F.lit(". "),
        F.when(n % 3 == 0, F.lit("Subscribe to our newsletter. "))
        .otherwise(F.lit("")),
        F.col("text"),
    )
    docs = base.select("doc_id", txt.alias("text"))
    return dedup_global_sentences(docs)


def q_corpus_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 version history across two derived snapshots
    (changed / removed / added docs all present by construction):
    one full-outer hash join, branch rows with closed-form validity
    intervals — snapshot_diff's materialized-history sibling
    (operators/validate.scd2_history)."""
    from stirling_pdf_spark.operators.validate import scd2_history

    base = read_table(spark, sf_dir, "documents")
    n = F.col("doc_id")
    old = base.filter(n % 13 != 0).select("doc_id", "text")
    new = base.select(
        F.when(n % 11 == 0, n + 100000).otherwise(n).alias("doc_id"),
        F.when(n % 7 == 0, F.concat(F.lit("REV2 "), F.col("text")))
        .otherwise(F.col("text")).alias("text"),
    )
    return scd2_history(old, new)


def q_ict_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-cloze-task contrastive pairs (Lee et al. 2019): query =
    chunk i, positive = the adjacent chunk, negative = the id-XOR-1
    partner's first chunk — map-only chunk math + one id-keyed join
    (operators/retrieval.ict_pairs)."""
    from stirling_pdf_spark.operators.retrieval import ict_pairs

    return ict_pairs(read_table(spark, sf_dir, "documents"))


@_shipped
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: extract ordered spans for every document in the
    sf0.001 corpus and aggregate span counts per (doc, kind)."""
    return q_extract_span_counts(spark, "/root/testdata/sf0.001")



def q_emb_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN pair mining (similarity.mutual_knn_pairs): bitext /
    paired-data alignment stage — even-id side vs odd-id side, pairs
    kept only when each is in the other's cosine top-3. Integer-exact
    output (ranks only); the oracle re-derives both directional ranks
    in DuckDB over the same float64 cosine."""
    from stirling_pdf_spark.operators.similarity import mutual_knn_pairs
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return mutual_knn_pairs(emb, k=3)


# gates checked by row count only: the archetype corpus has no
# closed-form span model to derive an oracle from
ROWS_ONLY = frozenset({"extract_synth_corpus"})


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every gate: each module-level ``q_<name>`` keyed ``<name>``,
    shipping the package to the session before it runs."""
    return {n[2:]: _shipped(f) for n, f in globals().items()
            if n.startswith("q_") and callable(f)}


def oracle_sql() -> dict[str, str]:
    """Gate ``<name>`` -> ``oracles.<NAME>`` for every gate outside
    ROWS_ONLY; a gate without its oracle constant raises."""
    gates = [n for n in queries() if n not in ROWS_ONLY]
    missing = [n for n in gates if not hasattr(O, n.upper())]
    if missing:
        raise LookupError(f"gates without an oracle constant: {missing}")
    return {n: getattr(O, n.upper()) for n in gates}
