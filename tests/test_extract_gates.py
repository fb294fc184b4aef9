"""Every ``extract_*`` gate of the query registry, every other gate whose
query runs ``extract_spans`` (full text, redaction, form fields,
streaming resume, lattice tables, classification, metadata, image
dedup, has-text, interleaved records, media captions), every gate whose
query runs a ``map_docs`` stage (exports, tables, search, elements,
comments, edit-text) plus the text->HTML autolink gate, every gate over another ``map_rows`` stage (media
decoders, perceptual hashes, compare, NFC, EML, WARC, file sources,
image->PDF, MMR re-ranking over JVM-grouped rows, the HTML sanitizer,
boilerplate strip and sentence chunker) or the heavy-hitters sketch's
``mapInArrow``, and every gate over the global prefix sum
(``packing.prefix_sums``) or the merge-order window, and every gate over
a page, form or attachment operator (``pageops``, ``forms``,
``attachments``: the raw-span wire codec), and every gate over the
shared-key pair join (``dedup.key_pairs``: the shingle, MinHash,
winnowing, TF-IDF, title, co-citation, embedding-LSH and SemDeDup
pairs and their component consumers), against its DuckDB oracle at
the smoke scale factor, through the same comparison as
``scripts/check_queries.py`` — so a plain pytest run catches an oracle
break in the extraction plan, a per-document Arrow stage, a global
ordering, a wire-header rewrite or a pair join without the full
sweep."""

from __future__ import annotations

import importlib.util
import os

import pytest

import __spark_entry__ as E

_SCRIPT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "scripts", "check_queries.py")
_spec = importlib.util.spec_from_file_location("check_queries", _SCRIPT)
check_queries = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_queries)

QUERIES = E.queries()
ORACLES = E.oracle_sql()
EXTRACT_SPANS_GATES = [
    "e1_full_text", "s12_redact_text", "auto_redact", "e16_form_fields",
    "streaming_ingest_resume", "e14_lattice_tables", "e3_doc_classification",
    "e15_metadata", "e9_image_dedup", "e10_has_text", "interleave_records",
    "media_caption_pairs",
]
MAP_DOCS_GATES = [
    "e2_page_text", "e13_search_positions", "e14_stream_table",
    "e17_doc_info", "e17_page_info", "e17_full_info", "e18_title_inference",
    "add_image_stamp", "to_xlsx", "to_html", "to_html_tables", "to_xml",
    "to_xml_tables", "to_markdown", "to_markdown_tables", "to_epub",
    "to_docx", "to_pptx", "edit_text", "add_comments", "h5_autolink",
]
PREFIX_SUM_GATES = [
    "pack_sequences", "pack_seq_boundaries", "shard_plan",
    "token_budget_select", "quality_decile_split", "s1_merge_by_date",
    "s1_merge_by_title", "pipeline_training_corpus",
]
MAP_ROWS_GATES = [
    "image_size_filter", "multimodal_decode", "multimodal_decode_gif",
    "multimodal_decode_jpeg", "multimodal_decode_tiff",
    "multimodal_decode_wav", "multimodal_decode_errors",
    "multimodal_probe_mp4", "multimodal_tiff_pages", "audio_silence_trim",
    "audio_energy", "audio_downsample", "png_text_meta", "image_exif_meta",
    "image_quality_stats", "dedup_image_dhash", "dedup_image_ahash",
    "dedup_image_phash", "image_dedup_keep", "compare_docs",
    "compare_changes", "text_nfc_normalize", "eml_roundtrip",
    "html_table_extract", "md_to_pdf_ingest", "warc_ingest",
    "h4_media_resolve", "img_to_pdf", "tiff_to_pdf", "retrieval_mmr",
    "h1_sanitize", "h7_boilerplate", "e24_sentence_chunks",
    "text_heavy_hitters",
]
PAGEOPS_GATES = [
    "form_fill_unlock", "e19_blank_pages", "s4_split_chapters",
    "toc_set_outline", "s10_remove_images", "attachment_crud",
    "s9_page_numbers", "s3_split_doc_count", "s3_split_byte_size",
    "s11_flatten_forms", "s9_watermark_grid", "remove_blank_pages",
    "sanitize_pdf", "security_password", "signature_state",
    "show_javascript", "timestamp_state", "s11_metadata_update",
    "f6_filter_rotation", "s7_scale_single_extract", "s6_reverse_extract",
    "s6_side_stitch_extract", "s6_custom_order_extract",
    "s8_overlay_extract", "s7_poster_extract", "s9_stamp_extract",
    "e20_auto_split", "s3_split_count", "s2_split_pages",
    "s5_split_sections_exact", "f4_page_size_wire",
]
PAIR_JOIN_GATES = [
    "containment_pairs", "dedup_cluster_sizes", "dedup_components",
    "dedup_incremental_minhash", "dedup_jaccard_maxdf", "dedup_keep_best",
    "dedup_keep_corpus", "dedup_minhash_lsh", "dedup_minhash_report",
    "dedup_ngram_jaccard", "dedup_title_levenshtein", "tfidf_cosine_pairs",
    "web_cocitation", "winnow_match_pairs", "emb_near_dup_lsh",
    "semdedup_prune",
]
GATES = ([n for n in QUERIES if n.startswith("extract_")] + EXTRACT_SPANS_GATES
         + MAP_DOCS_GATES + MAP_ROWS_GATES + PREFIX_SUM_GATES + PAGEOPS_GATES
         + PAIR_JOIN_GATES)


@pytest.fixture(scope="module")
def oracle(sf_smoke):
    if not os.path.isdir(sf_smoke):
        pytest.skip(f"test data not found: {sf_smoke}")
    return check_queries.open_oracle(sf_smoke)


@pytest.mark.parametrize("name", GATES)
def test_extract_gate_matches_oracle(spark, oracle, sf_smoke, name):
    ok, report = check_queries.check_query(
        spark, oracle, sf_smoke, name, QUERIES[name], ORACLES.get(name))
    assert ok, report


def test_package_ships_once_per_spark_context(spark, sf_smoke, monkeypatch):
    import stirling_pdf_spark.session as session

    calls = []
    real_zip = session.package_zip
    monkeypatch.setattr(session, "package_zip",
                        lambda: calls.append(1) or real_zip())
    monkeypatch.setattr(E, "_SHIPPED_APPS", set())
    for name in ("h5_autolink", "e2_page_text"):
        QUERIES[name](spark, sf_smoke)
    assert len(calls) == 1
