"""Tests for the lang-ID confusion matrix and the equal-byte shard
plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from stirling_pdf_spark.operators.packing import shard_plan
from stirling_pdf_spark.operators.textstats import lang_confusion


def test_lang_confusion_cells(spark):
    rows = [
        (0, "the and of to a in", "en"),      # predicted en, true en
        (1, "the and of to a in", "de"),      # predicted en, true de
        (2, "xyzzy qwerty", "en"),            # no stopwords -> und
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string,"
                               " lang string")
    out = {(r["true_lang"], r["pred_lang"]): r
           for r in lang_confusion(df).collect()}
    assert out[("en", "en")]["n_docs"] == 1
    assert out[("en", "en")]["n_match"] == 1
    assert out[("de", "en")]["n_docs"] == 1
    assert out[("de", "en")]["n_match"] == 0
    assert out[("en", "und")]["n_docs"] == 1
    assert out[("en", "und")]["n_match"] == 0


def test_shard_plan_closed_form(spark):
    # 10 docs x 100 bytes, target 250: offsets 0..900 -> shards
    # 0,0,0(off 200),1(250? off 300//250=1)... compute: shard =
    # (i*100) // 250 -> [0,0,0,1,1,2,2,2,3,3]
    rows = [(i, "x" * 100) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["shard_id"]: r
           for r in shard_plan(df, target_bytes=250).collect()}
    assert [out[s]["n_docs"] for s in sorted(out)] == [3, 2, 3, 2]
    assert out[0]["min_doc"] == 0 and out[0]["max_doc"] == 2
    assert out[3]["min_doc"] == 8 and out[3]["max_doc"] == 9
    assert sum(r["sum_bytes"] for r in out.values()) == 1000


def test_shard_plan_parallelism_invariant(spark, shuffle_partitions):
    rows = [(i, "b" * (37 + (i * 13) % 91)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plans = []
    for n in (1, 5, 16):
        with shuffle_partitions(n):
            out = shard_plan(df.repartition(n), target_bytes=1000)
            plans.append(sorted(tuple(r) for r in out.collect()))
    assert plans[0] == plans[1] == plans[2]


def test_shard_plan_multibyte_utf8(spark):
    # é is 2 UTF-8 bytes: 5 chars = 10 bytes per doc
    rows = [(i, "ééééé") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = shard_plan(df, target_bytes=20).collect()
    assert sum(r["sum_bytes"] for r in out) == 40
    assert {r["shard_id"] for r in out} == {0, 1}


def test_mix_plan_closed_form(spark):
    from stirling_pdf_spark.operators.textstats import mix_plan
    rows = [(0, "a b c d", "wiki"),      # 4 tokens
            (1, "a b c d e f", "web"),   # 6 tokens
            (2, "a b", "web")]           # 2 tokens -> web 8, total 12
    df = spark.createDataFrame(rows, "doc_id long, text string,"
                               " source string")
    out = {r["source"]: r
           for r in mix_plan(df, {"wiki": 3, "web": 1}).collect()}
    # total 12, parts 4: wiki needs 12*3//4=9 of its 4 -> 2.25 epochs
    assert out["wiki"]["tokens_needed"] == 9
    assert out["wiki"]["epochs_x1000"] == 2250
    assert out["wiki"]["target_ppm"] == 750000
    # web needs 12*1//4=3 of its 8 -> 0.375 epochs
    assert out["web"]["tokens_needed"] == 3
    assert out["web"]["epochs_x1000"] == 375


def test_mix_plan_unlisted_source_gets_zero(spark):
    from stirling_pdf_spark.operators.textstats import mix_plan
    rows = [(0, "a b", "x"), (1, "c d", "y")]
    df = spark.createDataFrame(rows, "doc_id long, text string,"
                               " source string")
    out = {r["source"]: r for r in mix_plan(df, {"x": 1}).collect()}
    assert out["y"]["target_ppm"] == 0
    assert out["y"]["tokens_needed"] == 0
    assert out["y"]["epochs_x1000"] == 0
    assert out["x"]["tokens_needed"] == 4  # the whole budget


def test_anchor_text_agg_top_and_filters(spark):
    from stirling_pdf_spark.functions.html import (
        aggregate_anchors,
        extract_anchors,
    )
    rows = [
        (0, '<a href="https://a.com/1">buy now</a>'
            '<a href="https://a.com/2">buy now</a>'
            '<a href="https://a.com/3">other</a>'
            '<a rel="nofollow" href="https://a.com/4">spam</a>'
            '<a href="/rel">rel</a>'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    out = aggregate_anchors(extract_anchors(df)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["domain"] == "a.com"
    assert r["n_anchors"] == 3          # nofollow + relative excluded
    assert r["n_unique"] == 2
    assert r["top_anchor"] == "buy now"
    assert r["top_count"] == 2


def test_skew_report_closed_form(spark):
    from stirling_pdf_spark.operators.relational import skew_report
    rows = ([(0, "hot")] * 6 + [(0, "warm")] * 3 + [(0, "cold")])
    df = spark.createDataFrame(
        [(i, k) for i, (_, k) in enumerate(rows)],
        "row_id long, user_id string")
    out = skew_report(df, "user_id", k=2).collect()
    assert [(r["rank"], r["key"], r["cnt"]) for r in out] \
        == [(1, "hot", 6), (2, "warm", 3)]
    assert out[0]["share_ppm"] == 600000
    assert out[0]["n_rows"] == 10 and out[0]["n_keys"] == 3


def test_length_percentiles_closed_form(spark):
    from stirling_pdf_spark.operators.relational import (
        length_percentiles,
    )
    # lengths 1..10 bytes, one doc each: p50 -> rank 5 -> len 5,
    # p90 -> rank 9 -> 9, p99 -> rank ceil(9.9)=10 -> 10
    rows = [(i, "x" * i) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["pct"]: r for r in length_percentiles(df).collect()}
    assert out[50]["value"] == 5 and out[50]["target_rank"] == 5
    assert out[90]["value"] == 9
    assert out[99]["value"] == 10


def test_dedup_global_sentences_rule(spark):
    from stirling_pdf_spark.operators.dedup import (
        dedup_global_sentences,
    )
    rows = [
        (0, "Common footer. Unique zero."),
        (1, "Common footer. Unique one."),
        (2, "Common footer. Unique two."),
        (3, "Rare pair. Unique three."),
        (4, "Rare pair. Unique four."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r
           for r in dedup_global_sentences(df, max_df=2).collect()}
    # footer in 3 docs > 2 -> dropped everywhere
    assert out[0]["text_clean"] == "Unique zero."
    assert out[0]["n_sentences"] == 2 and out[0]["n_kept"] == 1
    # pair in exactly 2 docs -> kept
    assert out[3]["text_clean"] == "Rare pair. Unique three."
    assert out[3]["n_kept"] == 2


def test_scd2_history_branches(spark):
    from stirling_pdf_spark.operators.validate import scd2_history
    old = spark.createDataFrame(
        [(1, "same"), (2, "before"), (3, "gone")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "same"), (2, "after"), (4, "fresh")],
        "doc_id long, text string")
    rows = sorted(scd2_history(old, new).collect(),
                  key=lambda r: (r["doc_id"], r["version"]))
    as_tuples = [(r["doc_id"], r["version"], r["valid_from"],
                  r["valid_to"], r["is_current"]) for r in rows]
    assert as_tuples == [
        (1, 1, 1, None, 1),   # unchanged: open v1
        (2, 1, 1, 2, 0),      # changed: closed v1
        (2, 2, 2, None, 1),   # changed: open v2
        (3, 1, 1, 2, 0),      # removed: closed v1
        (4, 2, 2, None, 1),   # added: open v2
    ]


def test_ict_pairs_structure(spark):
    from stirling_pdf_spark.operators.retrieval import ict_pairs
    # 300-char docs, 128/32 windows -> stride 96, n = ceil(268/96) = 3
    rows = [(0, "a" * 300), (1, "b" * 300), (2, "c" * 300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = ict_pairs(df).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(r)
    # doc 2's partner (3) is absent -> its pairs drop
    assert set(by_id) == {0, 1}
    # 3 chunks -> 2 adjacent pairs each
    assert len(by_id[0]) == 2 and len(by_id[1]) == 2
    r = sorted(by_id[0], key=lambda r: r["pair_no"])[0]
    assert r["query"] == "a" * 128
    assert r["positive"] == "a" * 128      # chunk at offset 96
    assert r["negative"] == "b" * 128      # partner 1's first chunk
    # pair 1's positive is the short tail chunk
    r1 = sorted(by_id[0], key=lambda r: r["pair_no"])[1]
    assert len(r1["positive"]) == 300 - 2 * 96
