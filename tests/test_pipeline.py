"""Pipeline composition (Trace C): chained ops, F8 filter-drop
semantics, eager validation."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from stirling_pdf_spark.corpus.spark_synth import synth_docs_df
from stirling_pdf_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def docs(spark):
    return synth_docs_df(spark, 40, seed=42, mega_pages=(10, 15),
                         num_partitions=4)


def test_chain_scale_stamp_filter_extract_redact(spark, docs):
    out = run_pipeline(docs, [
        ("scale", {"factor": 2.0}),
        ("stamp", {"stamp": "DRAFT", "number_pages": True}),
        ("filter_min_spans", {"n": 5}),
        ("extract", {}),
        ("redact", {"term": "lorem"}),
    ])
    rows = out.collect()
    assert rows
    joined = " ".join(
        s["text"] for r in rows for s in r["spans"] if s["kind"] == "text"
    )
    assert "lorem" not in joined
    assert "DRAFT" in joined


def test_filter_drops_docs_mid_chain(spark, docs):
    n_all = run_pipeline(docs, [("extract", {})]).count()
    n_media = run_pipeline(docs, [
        ("filter_has_kind", {"kind": "media"}),
        ("extract", {}),
    ]).count()
    assert 0 < n_media < n_all


def test_unknown_op_fails_eagerly(docs):
    with pytest.raises(ValueError, match="unknown pipeline op"):
        run_pipeline(docs, [("frobnicate", {})])


def test_doc_op_after_extract_rejected(docs):
    with pytest.raises(ValueError, match="raw docs"):
        run_pipeline(docs, [("extract", {}), ("rotate90", {})])


def test_pipeline_round2_ops_chain(spark):
    """The round-2 operators compose through the pipeline registry:
    set rotation state -> filter on it (F8 drop) -> crop -> extract."""
    from stirling_pdf_spark.corpus.spark_synth import synth_docs_df
    from stirling_pdf_spark.plans.pipeline import run_pipeline

    docs = synth_docs_df(spark, 16, seed=42, mega_pages=(5, 8),
                         num_partitions=4)
    out = run_pipeline(docs, [
        ("set_rotation", {"rotation": 90}),
        ("filter_rotation", {"rotation": 90, "comparator": "EQUAL"}),
        ("single_page", {}),
        ("extract", {}),
    ])
    assert out.count() == docs.count()  # every doc passed the filter
    dropped = run_pipeline(docs, [
        ("set_rotation", {"rotation": 90}),
        ("filter_rotation", {"rotation": 180, "comparator": "EQUAL"}),
        ("extract", {}),
    ])
    assert dropped.count() == 0  # F8: filters drop docs mid-chain
