"""Per-round benchmark. Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Protocol (BENCH.md): this host shows 1.5-2.9x run-to-run noise, so every
query runs in TWO INTERLEAVED ROUNDS and reports the per-query MINIMUM
— a single-shot artifact cannot distinguish noise from regression.
Headline = sum of per-query minimums.

Suite shape models the deployment: derived corpora (synthetic docs,
rich corpus, plain sf corpus) are materialized to parquet ONCE, then
consumers fan out over the scans — the extraction-derived queries
(e17_full_info, e18_title_inference, f6_filter_rotation) share the
materialized corpus instead of re-deriving it per query.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS  (default 32),
     BENCH_N_DOCS      (default 3000) synthetic corpus size,
     BENCH_ROUNDS      (default 2) interleaved rounds per query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_DOCS = int(os.environ.get("BENCH_N_DOCS", "3000"))
ROUNDS = int(os.environ.get("BENCH_ROUNDS", "2"))

# headline queries re-run at bench scale (names from __spark_entry__)
BENCH_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_volume",
    "e18_top_order_per_customer",
    "s3_running_sum_buckets",
    "events_hourly_rollup",
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "dedup_simhash_groups",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "text_quality",
    "text_lang_id",
    "multimodal_meta",
    # round-2 additions: new operator families
    "e14_stream_table",
    "e17_full_info",
    "e18_title_inference",
    "f6_filter_rotation",
    # round-3 additions
    "e16_form_fields",
    "extract_annotations",
    # round-4 additions: new operator families (streaming_ingest_resume
    # is deliberately NOT benched — it measures temp-dir IO setup, not
    # engine throughput; its cost shape is extract_sf_corpus's)
    "s9_page_numbers",
    "attachment_crud",
    "toc_set_outline",
    "e17_page_info",
    "multimodal_decode",
    "multimodal_decode_jpeg",
    "multimodal_decode_gif",
    "multimodal_decode_tiff",
    "s3_split_doc_count",
    "s3_split_byte_size",
    "s11_flatten_forms",
    "s9_watermark_grid",
    "remove_blank_pages",
    "sanitize_pdf",
    "security_password",
    "text_url_extract",
    "text_domain_caps",
    "show_javascript",
    "dedup_decontaminate",
    "to_markdown",
    "to_markdown_tables",
    "md_to_pdf_ingest",
    # round-5 additions
    "auto_redact",
    "signature_state",
    "add_image_stamp",
    "dedup_image_dhash",
    "to_html",
    "to_html_tables",
    "ann_ivf_nprobe3",
    "edit_text",
    "form_fill_unlock",
    "add_comments",
    "img_to_pdf",
    "form_fields_csv",
    # late round-5 additions
    "to_xml",
    "to_xml_tables",
    "semdedup_prune",
    "domain_mix_sample",
    "vocab_topk",
    "bigram_lm_fit",
    "auto_rotate",
    "bm25_topk",
    "events_sessionize",
    "timestamp_state",
    # round-5 continuation session
    "extract_csv",
    "analysis_font_info",
    "url_normalize",
    "fix_encoding",
    "dedup_image_ahash",
    "gopher_quality",
    "lm_quality_partition",
    # round-5 third session
    "to_xlsx",
    # round-5 fourth session
    "to_epub",
    "to_docx",
    "pack_sequences",
    "multimodal_decode_wav",
    "ann_pq_topk",
    "to_pptx",
    "ann_ivfpq_topk",
    "dedup_substring_cov",
    "text_nfc_normalize",
    "multimodal_probe_mp4",
    "corpus_hash_split",
    "corpus_to_jsonl",
    "multimodal_decode_errors",
    "bpe_pair_counts",
    "pipeline_training_corpus",
    "lang_balance_sample",
    "dedup_incremental",
    "pack_seq_boundaries",
    "bpe_train_table",
    "bpe_encode_tokens",
    "quality_classifier_score",
    "audio_silence_trim",
    "fingerprint_winnow",
    "winnow_match_pairs",
    "corpus_stats_report",
    "quality_classifier_train",
    "quality_classifier_trained_score",
    # round-5 sixth-session additions (extract_lineage_metrics is NOT
    # benched — like streaming_ingest_resume it measures temp-dir IO
    # plus a second no-op resume run, not engine throughput)
    "extract_span_diff",
    "dedup_keep_best",
    "url_blocklist_filter",
    "html_anchor_extract",
    "retrieval_mmr",
    "token_budget_select",
    "fim_transform",
    "emb_kmeans",
    "text_collapse_lines",
    "kmeans_balanced_sample",
    "interleave_records",
    "extract_parallelism_parity",
    "text_dehyphenate",
    "dedup_minhash_report",
    "media_caption_pairs",
    "dedup_cluster_sizes",
    "image_size_filter",
    "dedup_incremental_minhash",
    "web_pagerank",
    "quality_decile_split",
    "domain_quality_priors",
    "dedup_normalized_exact",
    "web_hits",
    "events_funnel",
    "events_cohort",
    # r5 seventh session
    "events_dau_mau",
    "text_readability",
    "chat_format",
    "html_meta_robots",
    "section_chunks",
    "events_asof",
    "png_text_meta",
    "events_range_join",
    "events_pivot",
    "events_rolling",
    "audio_energy",
    "corpus_snapshot_diff",
    "warc_ingest",
    "image_exif_meta",
    "sketch_hll_distinct",
    "bloom_decontaminate",
    "zorder_manifest",
    # r5 eighth session
    "data_select_dsir",
    "bpe_fertility",
    "quality_calibration",
    "span_corrupt",
    "text_heavy_hitters",
    "collocation_topk",
    "lang_confusion",
    "shard_plan",
    "mix_plan",
    "anchor_text_agg",
    "events_skew_report",
    "length_percentiles",
    "emb_dim_stats",
    "robots_crawl_eval",
    "sitemap_ingest",
    "crawl_schedule",
    "script_detect",
    "corpus_drift",
    "qa_mine",
    "dedup_global_sentences",
    "corpus_scd2",
    "ict_pairs",
    # r5 ninth session
    "compare_docs",
    "compare_changes",
    "rrf_fusion",
    "html_table_extract",
    "feed_ingest",
    "verify_docs",
    "extract_incremental",
    # streaming_dedup / streaming_pack / streaming_join deliberately
    # NOT benched: like
    # streaming_ingest_resume they measure temp-dir IO + micro-batch
    # restarts, not engine throughput
    # round-5 tenth session
    "dedup_title_levenshtein",
    "web_triangles",
    "multimodal_tiff_pages",
    "web_clustering_coeff",
    "tiff_to_pdf",
    "text_homoglyph",
    "domain_prefix",
    # round-5 eleventh session
    "dedup_image_phash",
    "image_quality_stats",
    "phrase_search",
    "bm25_hard_negatives",
    "tfidf_cosine_pairs",
    "audio_downsample",
    "containment_pairs",
    "lm_trigram_backoff",
    "html_justext",
    "sketch_cms_estimate",
    "html_interleaved",
    "web_cocitation",
    "corpus_shuffle_order",
    "events_anomaly",
    "image_dedup_keep",
    "quality_ensemble",
    "events_rollup_cube",
    "text_ngram_novelty",
    # round-5 twelfth session
    "emb_margin_pairs",
)

# the queries shared with the round-3 bench (same protocol/corpus) —
# their subtotal is the one-glance cross-round regression tracker
# (BENCH.md keeps the per-round values)
R3_SHARED = (
    "extract_synth", "q1_pricing_summary", "q3_shipping_priority",
    "q5_nation_volume", "e18_top_order_per_customer",
    "s3_running_sum_buckets", "events_hourly_rollup",
    "dedup_exact_groups", "dedup_minhash_lsh", "dedup_simhash_groups",
    "ann_cosine_topk", "ann_lsh_topk", "text_quality", "text_lang_id",
    "multimodal_meta", "e14_stream_table", "e17_full_info",
    "e18_title_inference", "f6_filter_rotation", "e16_form_fields",
    "extract_annotations",
)

# gates that consume a shared materialized corpus instead of deriving
# their own (extract/derive once, fan out — the deployment shape):
# gate -> key of the corpus_builders() entry it reads
SHARED_CORPUS = {
    **dict.fromkeys(("e17_full_info", "e18_title_inference",
                     "to_markdown", "to_html", "to_xml"), "rich"),
    **dict.fromkeys(("f6_filter_rotation", "s9_watermark_grid",
                     "remove_blank_pages"), "plain"),
    **dict.fromkeys(("s9_page_numbers", "s3_split_doc_count",
                     "s3_split_byte_size"), "repeat"),   # ×32 plain repeat
    "toc_set_outline": "rich_repeat",                    # ×32 rich repeat
    "e17_page_info": "info_repeat",                      # ×32 info repeat
}


def corpus_builders() -> dict:
    """Shared-corpus key -> ``(spark, sf_dir) -> docs`` builder."""
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_from_documents_table,
        docs_info_repeat_from_documents,
        docs_repeat_from_documents,
        docs_rich_from_documents,
        docs_rich_repeat_from_documents,
    )

    return {
        "rich": docs_rich_from_documents,
        "plain": docs_from_documents_table,
        "repeat": lambda s, d: docs_repeat_from_documents(s, d, 32),
        "rich_repeat": lambda s, d: docs_rich_repeat_from_documents(s, d, 32),
        "info_repeat": lambda s, d: docs_info_repeat_from_documents(s, d, 32),
    }


def main() -> None:
    import __spark_entry__ as E
    from stirling_pdf_spark.corpus.spark_synth import (
        docs_from_documents_table,
        synth_docs_df,
    )
    from stirling_pdf_spark.corpus.synth import synth_from_text
    from stirling_pdf_spark.operators.extract_pipeline import (
        extract_spans,
        map_rows,
    )
    from stirling_pdf_spark.runtime.staging import release_staged
    from stirling_pdf_spark.session import get_spark
    from stirling_pdf_spark.sources.tables import DOCS_SCHEMA

    spark = get_spark("bench", cores=CPUS, shuffle_partitions=CPUS)
    timings: dict[str, float] = {}
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0

    def best_of(name: str, fn) -> None:
        t0 = time.time()
        fn()
        t = round(time.time() - t0, 3)
        timings[name] = min(timings.get(name, t), t)
        release_staged()

    # --- extraction headline (north rule): synthetic corpus incl.
    # mega-docs, materialized first so the pipeline scans
    # parquet (the real deployment shape)
    corpus_path = f"/tmp/bench_docs_{N_DOCS}.parquet"
    t0 = time.time()
    synth_docs_df(spark, N_DOCS, seed=42, mega_pages=(300, 400)) \
        .write.mode("overwrite").parquet(corpus_path)
    timings["synth_corpus"] = round(time.time() - t0, 3)
    docs = spark.read.parquet(corpus_path)

    n_out = 0

    def _synth_extract():
        nonlocal n_out
        n_out = extract_spans(docs, salt_threshold=4000).count()

    for _ in range(ROUNDS):
        best_of("extract_synth", _synth_extract)
    docs_per_sec = round(N_DOCS / timings["extract_synth"], 1)

    n_sf = 0

    def _sf_extract():
        nonlocal n_sf
        n_sf = extract_spans(docs_from_documents_table(spark, SF_DIR)).count()

    for _ in range(ROUNDS):
        best_of("extract_sf_corpus", _sf_extract)

    # --- skew torture (north-rule hardening): ONE 400-page doc among
    # N_DOCS-1 one-pagers; the salted path must keep throughput close
    # to the balanced corpus instead of serializing on one straggler
    skew_path = f"/tmp/bench_skew_{N_DOCS}.parquet"
    t0 = time.time()

    def _skew_doc(i):
        text = (" ".join(f"m{j}" for j in range(400 * 40 * 8))
                if i == 0 else f"tiny doc {i} body text line")
        yield synth_from_text(f"skew-{i}", text)

    map_rows(spark.range(N_DOCS).repartition(CPUS), _skew_doc, DOCS_SCHEMA) \
        .write.mode("overwrite").parquet(skew_path)
    timings["synth_skew_corpus"] = round(time.time() - t0, 3)
    skew_docs = spark.read.parquet(skew_path)

    def _skew_extract():
        extract_spans(skew_docs, salt_threshold=500).count()

    for _ in range(ROUNDS):
        best_of("extract_skew", _skew_extract)

    # --- shared derived corpora: materialize once, fan consumers out
    t0 = time.time()
    paths = {}
    for key, build in corpus_builders().items():
        paths[key] = f"/tmp/bench_{key}_corpus.parquet"
        build(spark, SF_DIR).write.mode("overwrite").parquet(paths[key])
    timings["derive_corpora"] = round(time.time() - t0, 3)
    corpora = {key: spark.read.parquet(p) for key, p in paths.items()}

    # --- headline relational / training queries, interleaved rounds
    qs = E.queries()
    for _ in range(ROUNDS):
        for name in BENCH_QUERIES:
            if name in SHARED_CORPUS:
                fn = lambda n=name, d=corpora[SHARED_CORPUS[name]]: \
                    qs[n](spark, SF_DIR, docs=d).count()
            else:
                fn = lambda n=name: qs[n](spark, SF_DIR).count()
            best_of(name, fn)

    total = round(sum(timings.values()), 3)
    r3_shared = round(sum(timings[n] for n in R3_SHARED
                          if n in timings), 3)
    print(json.dumps({
        "metric": "total_bench_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "r3_shared_subtotal_sec": r3_shared,
        "sf": sf,
        "protocol": {
            "rounds": ROUNDS,
            "scheme": "interleaved rounds, per-query minimum "
                      "(BENCH.md: host shows 1.5-2.9x run noise)",
            "shared_corpora": "rich/plain corpora materialized once; "
                              "e17/e18/f6 consume the scans",
        },
        "extraction": {
            "n_docs_synth": N_DOCS,
            "n_docs_out": n_out,
            "n_docs_sf_corpus": n_sf,
            "docs_per_sec_synth": docs_per_sec,
            "cores": CPUS,
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main()
