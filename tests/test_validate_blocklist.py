"""Round-5 sixth-session operators: span-sequence diff validation,
quality-aware keep-best dedup, URL blocklist filtering, anchor-text
extraction, and the lineage-metrics idempotency rollup."""

from __future__ import annotations

from pyspark.sql import functions as F

from stirling_pdf_spark.functions.html import extract_anchors
from stirling_pdf_spark.operators.dedup import keep_best_corpus
from stirling_pdf_spark.operators.textstats import url_blocklist_filter
from stirling_pdf_spark.operators.validate import span_diff


def _spans(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, order long, "
                                       "kind string, text string")


def test_span_diff_equal_and_divergent(spark):
    a = _spans(spark, [
        ("d1", 0, "text", "alpha"), ("d1", 1, "text", "beta"),
        ("d2", 0, "text", "gamma"), ("d2", 1, "media", "m0"),
        ("d3", 0, "text", "delta"),
    ])
    b = _spans(spark, [
        ("d1", 0, "text", "alpha"), ("d1", 1, "text", "beta"),
        ("d2", 0, "text", "gamma"), ("d2", 1, "text", "m0"),  # kind flip
        ("d3", 0, "text", "delta"), ("d3", 1, "text", "extra"),
    ])
    out = {r["doc_id"]: r.asDict()
           for r in span_diff(a, b).collect()}
    assert out["d1"] == {"doc_id": "d1", "n_a": 2, "n_b": 2,
                         "n_mismatch": 0, "equal": 1,
                         "first_diverge": -1}
    assert out["d2"]["equal"] == 0 and out["d2"]["first_diverge"] == 1
    # one-sided extra span is a mismatch at its order slot
    assert out["d3"] == {"doc_id": "d3", "n_a": 1, "n_b": 2,
                         "n_mismatch": 1, "equal": 0,
                         "first_diverge": 1}


def test_span_diff_doc_missing_from_one_side(spark):
    a = _spans(spark, [("only-a", 0, "text", "x")])
    b = _spans(spark, [("only-b", 0, "text", "y")])
    out = {r["doc_id"]: r.asDict() for r in span_diff(a, b).collect()}
    assert out["only-a"]["n_b"] == 0 and out["only-a"]["equal"] == 0
    assert out["only-b"]["n_a"] == 0 and out["only-b"]["first_diverge"] == 0


def test_span_diff_null_safe_payload(spark):
    a = _spans(spark, [("d", 0, "text", None)])
    b = _spans(spark, [("d", 0, "text", None)])
    [row] = span_diff(a, b).collect()
    assert row["equal"] == 1


def test_keep_best_prefers_longest_member(spark):
    docs = spark.createDataFrame(
        [(1, "short"), (2, "the longest text of all"), (3, "mid-size"),
         (4, "singleton")],
        "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = {r["doc_id"]: r.asDict()
           for r in keep_best_corpus(docs, pairs).collect()}
    # cluster {1,2,3}: doc 2 is longest -> kept, absorbing 2 others
    assert set(out) == {2, 4}
    assert out[2]["n_absorbed"] == 2 and out[2]["doc_bytes"] == 23
    assert out[4]["n_absorbed"] == 0


def test_keep_best_ties_break_to_min_id(spark):
    docs = spark.createDataFrame(
        [(7, "same"), (5, "same")], "doc_id long, text string")
    pairs = spark.createDataFrame([(5, 7)], "id_a long, id_b long")
    [row] = keep_best_corpus(docs, pairs).collect()
    assert row["doc_id"] == 5


def test_url_blocklist_suffix_and_exact_and_urlless(spark):
    docs = spark.createDataFrame(
        [("a", "go to https://site2.example.com/x now"),       # exact
         ("b", "see www.mirror3.org please"),                   # suffix
         ("c", "clean https://site1.example.com/y here"),
         ("d", "no urls at all"),
         # NOT blocked: 'mirror3.org' must not match as a bare substring
         ("e", "https://notmirror3.org/z")],
        "doc_id string, text string")
    out = {r["id"]: r.asDict()
           for r in url_blocklist_filter(docs).collect()}
    assert out["a"]["keep"] == 0 and out["a"]["n_blocked"] == 1
    assert out["b"]["keep"] == 0
    assert out["c"] == {"id": "c", "n_urls": 1, "n_blocked": 0, "keep": 1}
    assert out["d"] == {"id": "d", "n_urls": 0, "n_blocked": 0, "keep": 1}
    assert out["e"]["keep"] == 1


def test_extract_anchors_order_href_text_domain(spark):
    html = ('<p>x</p><a href="https://www.Example.com:8080/a">first</a>'
            '<a class="nav" href="/rel">second</a>'
            '<a href="http://h.test/p?q=1">third</a>')
    docs = spark.createDataFrame([("d", html)], "doc_id string, html string")
    rows = (extract_anchors(docs).orderBy("pos")).collect()
    assert [(r["pos"], r["href"], r["anchor"], r["domain"])
            for r in rows] == [
        (0, "https://www.Example.com:8080/a", "first", "www.example.com"),
        (1, "/rel", "second", None),
        (2, "http://h.test/p?q=1", "third", "h.test"),
    ]


def test_lineage_metrics_second_run_writes_nothing(spark, tmp_path):
    from stirling_pdf_spark.corpus.spark_synth import synth_docs_df
    from stirling_pdf_spark.runtime.checkpoint import (
        read_metrics,
        run_extract_with_checkpoint,
    )

    docs = synth_docs_df(spark, n_docs=6)
    out = str(tmp_path / "ck")
    s1 = run_extract_with_checkpoint(spark, docs, out, run_id="r1")
    s2 = run_extract_with_checkpoint(spark, docs, out, run_id="r2")
    assert s1["docs_done"] == 6 and s2["docs_done"] == 0
    m = read_metrics(spark, out)
    per_run = {r["run_id"]: r["docs"] for r in
               m.groupBy("run_id").agg(F.sum("doc_count").alias("docs"))
               .collect()}
    assert per_run == {"r1": 6}


def test_mmr_prefers_diverse_over_redundant(spark):
    from stirling_pdf_spark.operators.retrieval import mmr_topk

    # query 0 = (1,0); docs 1/2/3 all have rel = 0.8 (2 is a scaled
    # copy of 1, 3 mirrors 1 below the axis with sim(3,1) = 0.28):
    # pure cosine top-2 is [1, 2] by id tie-break, but MMR's second
    # pick must skip the redundant copy (0.7*0.8 - 0.3*1.0 = 0.26)
    # for the diverse mirror (0.7*0.8 - 0.3*0.28 = 0.476)
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.8, 0.6]),
        (2, [1.6, 1.2]),
        (3, [0.8, -0.6]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {(r["query_id"], r["mmr_rank"]): r["doc_id"]
           for r in mmr_topk(emb, [0], k=2, pool=3).collect()}
    assert out[(0, 1)] == 1
    assert out[(0, 2)] == 3


def test_mmr_pool_smaller_than_k_emits_all(spark):
    from stirling_pdf_spark.operators.retrieval import mmr_topk

    # two vectors, both queried: each pool is the other vector alone,
    # so no query has a pair row and the left join gives null sims
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1])],
        "vec_id long, embedding array<float>")
    rows = mmr_topk(emb, [0, 1], k=5, pool=10).collect()
    assert sorted(tuple(r) for r in rows) == [(0, 1, 1), (1, 1, 0)]

    # k past a pool of 3: each pooled candidate ranked once, rank 1 the
    # most relevant, never a vector outside the pool
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.7, 0.7]),
         (3, [0.1, 0.9]), (4, [-1.0, 0.0])],
        "vec_id long, embedding array<float>")
    rows = sorted(tuple(r) for r in mmr_topk(emb, [0], k=10, pool=3).collect())
    assert [r[1] for r in rows] == [1, 2, 3]
    assert rows[0][2] == 1
    assert {r[2] for r in rows} == {1, 2, 3}


def test_token_budget_select_greedy_fill(spark, shuffle_partitions):
    from stirling_pdf_spark.operators.textstats import token_budget_select

    # quality: long diverse docs score 3, the junk doc scores lower ->
    # selection order is quality desc then id; budget 50 takes the
    # two quality-3 docs (25 + 25 = 50 tokens; the second has
    # cum_before = 25 < 50) and stops before the junk doc
    good = " ".join(f"word{i}" for i in range(25))
    docs = spark.createDataFrame(
        [(1, good), (2, good.replace("word", "term")),
         (3, "a a a a a a a a a a a a a a a a a a a a a a a a a")],
        "doc_id long, text string")
    for n in (1, 5, 16):
        with shuffle_partitions(n):
            rows = sorted(token_budget_select(docs, 50).collect(),
                          key=lambda r: r["sel_rank"])
        assert [(r["id"], r["quality"], r["cum_before"], r["sel_rank"])
                for r in rows] == [(1, 3, 0, 1), (2, 3, 25, 2)], n


def test_token_budget_boundary_doc_is_taken(spark, shuffle_partitions):
    from stirling_pdf_spark.operators.textstats import token_budget_select

    good = " ".join(f"word{i}" for i in range(25))
    docs = spark.createDataFrame(
        [(1, good), (2, good.replace("word", "term"))],
        "doc_id long, text string")
    for n in (1, 5, 16):
        with shuffle_partitions(n):
            # budget 26: doc 1 fills 25, doc 2 has cum_before 25 < 26 -> taken
            assert token_budget_select(docs, 26).count() == 2, n
            # budget 25: doc 2's cum_before 25 is NOT under budget
            assert token_budget_select(docs, 25).count() == 1, n


def test_fim_transform_psm_layout_and_passthrough(spark):
    from stirling_pdf_spark.operators.packing import fim_transform

    docs = spark.createDataFrame(
        [(10, "a b c d e f g"), (11, "x y")],
        "doc_id long, text string")
    out = {r["id"]: r.asDict()
           for r in fim_transform(docs, rate_x256=256).collect()}
    # n=7: cuts at 2 and 4 -> pre [a b], suf [e f g], mid [c d]
    assert out[10]["fim"] == 1
    assert out[10]["out_text"] == (
        "<|fim_pre|> a b <|fim_suf|> e f g <|fim_mid|> c d")
    # 2 tokens < 3 -> verbatim even at rate 256/256
    assert out[11] == {"id": 11, "fim": 0, "n_tokens": 2,
                       "out_text": "x y"}


def test_fim_transform_rate_zero_is_identity(spark):
    from stirling_pdf_spark.operators.packing import fim_transform

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "p q r")], "doc_id long, text string")
    out = fim_transform(docs, rate_x256=0).collect()
    assert all(r["fim"] == 0 for r in out)
    assert {r["out_text"] for r in out} == {"a b c d", "p q r"}


def test_kmeans_separates_two_blobs(spark):
    from stirling_pdf_spark.operators.kmeans import kmeans_assign

    # ids 0/1 seed the two clusters; blob A near (1,0), blob B near
    # (-1,0); after 2 iterations every point sits with its blob
    rows = [(0, [1.0, 0.1]), (1, [-1.0, 0.1]),
            (2, [0.9, -0.1]), (3, [1.1, 0.0]),
            (4, [-0.9, -0.1]), (5, [-1.1, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["id"]: r["cluster"]
           for r in kmeans_assign(emb, k=2, iters=2).collect()}
    assert out[0] == out[2] == out[3] == 0
    assert out[1] == out[4] == out[5] == 1


def test_kmeans_result_is_partitioning_invariant(spark):
    from stirling_pdf_spark.operators.kmeans import kmeans_assign

    rows = [(i, [float((i * 7) % 5) - 2.0, float((i * 3) % 4) - 1.5])
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = sorted(map(tuple, kmeans_assign(emb, k=3, iters=3).collect()))
    b = sorted(map(tuple, kmeans_assign(
        emb.repartition(7), k=3, iters=3).collect()))
    assert a == b  # integer arithmetic -> identical at any parallelism


def test_kmeans_missing_seed_raises(spark):
    import pytest

    from stirling_pdf_spark.operators.kmeans import kmeans_assign

    emb = spark.createDataFrame([(5, [1.0])],
                                "vec_id long, embedding array<float>")
    with pytest.raises(ValueError):
        kmeans_assign(emb, k=2, iters=1)


def test_collapse_repeated_lines(spark):
    from stirling_pdf_spark.operators.textstats import (
        collapse_repeated_lines,
    )

    docs = spark.createDataFrame(
        [(1, "a\na\nb\na\nc\nc\nc"), (2, "solo"), (3, "x\ny\nz")],
        "doc_id long, text string")
    out = {r["id"]: r.asDict()
           for r in collapse_repeated_lines(docs).collect()}
    # runs collapse but NON-adjacent repeats survive (a reappears)
    assert out[1] == {"id": 1, "n_lines": 7, "n_kept": 4,
                      "out_text": "a\nb\na\nc"}
    assert out[2]["out_text"] == "solo"
    assert out[3] == {"id": 3, "n_lines": 3, "n_kept": 3,
                      "out_text": "x\ny\nz"}


def test_collapse_handles_empty_lines(spark):
    from stirling_pdf_spark.operators.textstats import (
        collapse_repeated_lines,
    )

    docs = spark.createDataFrame([(1, "a\n\n\nb")],
                                 "doc_id long, text string")
    [row] = collapse_repeated_lines(docs).collect()
    assert row["out_text"] == "a\n\nb" and row["n_kept"] == 3


def test_interleave_records_cover_both_kinds(spark):
    """The gate's 16x-repeated corpus must push a real share of docs
    past the media-page threshold so records interleave BOTH kinds,
    and text counts must match the closed-form chunk model
    (ceil(16 * n_words / 8), one extra media anchor per full 3rd
    page)."""
    import math

    import __spark_entry__ as E
    from stirling_pdf_spark.sources.tables import read_table
    from tests.conftest import SF_SMOKE

    inter = {r["doc_id"]: r.asDict()
             for r in E.queries()["interleave_records"](
                 spark, SF_SMOKE).collect()}
    assert inter and any(r["n_media"] > 0 for r in inter.values())
    words = {f"doc-{r['doc_id']}": len(r["text"].split(" "))
             for r in read_table(spark, SF_SMOKE, "documents").collect()}
    for did, row in inter.items():
        nl = math.ceil(16 * words[did] / 8)
        assert row["n_text"] == nl
        assert row["n_media"] == len(range(3, nl // 40 + 1, 3))


def test_dehyphenate_joins_lowercase_keeps_capital(spark):
    from stirling_pdf_spark.operators.textstats import dehyphenate_text

    docs = spark.createDataFrame(
        [(1, "exam-\nple of Spark-\nNative text\nwrapped here")],
        "doc_id long, text string")
    [row] = dehyphenate_text(docs).collect()
    # 'exam-\nple' rejoins (lowercase continuation); 'Spark-\nNative'
    # keeps its hyphen when the lines join; plain breaks become spaces
    assert row["out_text"] == "example of Spark-Native text wrapped here"
    assert row["n_joined"] == 1 and row["n_wrapped"] == 3


def test_minhash_report_precision_invariant(spark):
    from stirling_pdf_spark.operators.dedup import minhash_quality_report
    from stirling_pdf_spark.plans import oracles as O

    # two exact near-dups + one unrelated doc: whatever the banding
    # recall, precision must be the verified invariant 1000
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon eta"),
         (3, "one two three four five six")],
        "doc_id long, text string")
    [row] = minhash_quality_report(
        docs, n=O.NGRAM_N, num_hashes=O.MINHASH_K,
        bands=O.MINHASH_BANDS,
        threshold_pct=O.JACCARD_THRESHOLD_PCT).collect()
    assert row["n_exact"] >= 1
    assert row["precision_x1000"] == 1000
    assert row["n_true_pos"] == row["n_lsh"]


def test_media_caption_pairs_takes_nearest_preceding_text(spark):
    from stirling_pdf_spark.operators.multimodal import media_caption_pairs

    spans = spark.createDataFrame(
        [("d", 0, "media", None, "m-first"),      # nothing precedes
         ("d", 1, "text", "intro words", None),
         ("d", 2, "text", "the caption", None),
         ("d", 3, "media", None, "m-mid"),
         ("d", 4, "attachment", "extra.dat", "m-att"),  # not text
         ("d", 5, "media", None, "m-late")],
        "doc_id string, order long, kind string, text string, "
        "media_ref string")
    out = {r["media_ref"]: r["caption"]
           for r in media_caption_pairs(spans).collect()}
    assert out == {"m-first": None,
                   "m-mid": "the caption",
                   # the attachment between them is NOT a caption
                   "m-late": "the caption"}


def test_image_size_filter_flags(spark):
    from stirling_pdf_spark.operators.multimodal import image_size_filter

    decoded = spark.createDataFrame(
        [("m1", "png", 20, 20, 0, None),   # passes both
         ("m2", "png", 8, 20, 0, None),    # too narrow
         ("m3", "bmp", 30, 9, 0, None),    # too flat (30 > 3*9)
         ("m4", "gif", None, None, 0, None)],  # undecodable
        "media_ref string, fmt string, width int, height int, "
        "n_bytes long, px_head string")
    out = {r["media_ref"]: (r["keep_size"], r["keep_aspect"], r["keep"])
           for r in image_size_filter(decoded).collect()}
    assert out == {"m1": (1, 1, 1), "m2": (0, 1, 0),
                   "m3": (0, 0, 0), "m4": (0, 0, 0)}


def test_incremental_minhash_rejects_and_admits(spark):
    from stirling_pdf_spark.operators.dedup import incremental_minhash_dedup

    existing = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon eta"),   # ~ accepted 1
         (11, "one two three four five six"),          # novel -> kept
         (12, "one two three four five seven")],       # ~ earlier 11
        "doc_id long, text string")
    out = {r["id"]: r.asDict()
           for r in incremental_minhash_dedup(existing, batch).collect()}
    assert out[10]["keep"] == 0 and out[10]["n_match_existing"] == 1
    assert out[11] == {"id": 11, "n_match_existing": 0,
                       "n_match_prior": 0, "keep": 1}
    assert out[12]["keep"] == 0 and out[12]["n_match_prior"] == 1


def _random_span_table(spark, seed: int, n_docs: int = 40):
    import random

    rng = random.Random(seed)
    rows = []
    for d in range(n_docs):
        for o in range(rng.randint(0, 12)):
            kind = rng.choice(["text", "media", "attachment"])
            rows.append((f"d{d}", o, kind,
                         rng.choice(["x", "yy", "zzz", None]),
                         rng.choice(["", "m-1", "m-2"])))
    return spark.createDataFrame(
        rows, "doc_id string, order long, kind string, text string, "
              "media_ref string")


def test_span_diff_reflexive_on_random_tables(spark):
    """diff(a, a) must report every doc equal, for arbitrary span
    content including nulls."""
    a = _random_span_table(spark, seed=7)
    out = span_diff(a, a).collect()
    assert out and all(
        r["equal"] == 1 and r["n_mismatch"] == 0
        and r["first_diverge"] == -1 and r["n_a"] == r["n_b"]
        for r in out)


def test_span_diff_mismatch_count_is_symmetric(spark):
    a = _random_span_table(spark, seed=11)
    b = _random_span_table(spark, seed=12)
    ab = {r["doc_id"]: r for r in span_diff(a, b).collect()}
    ba = {r["doc_id"]: r for r in span_diff(b, a).collect()}
    assert set(ab) == set(ba)
    for d in ab:
        assert ab[d]["n_mismatch"] == ba[d]["n_mismatch"]
        assert ab[d]["first_diverge"] == ba[d]["first_diverge"]
        assert (ab[d]["n_a"], ab[d]["n_b"]) == (ba[d]["n_b"], ba[d]["n_a"])


def test_fim_preserves_token_multiset(spark):
    """The PSM rewrite reorders but never loses tokens: stripping the
    three sentinels and re-sorting must recover the original words."""
    from stirling_pdf_spark.operators.packing import (
        FIM_MID, FIM_PRE, FIM_SUF, fim_transform,
    )

    texts = [(i, " ".join(f"w{i}x{j}" for j in range(3 + i % 9)))
             for i in range(30)]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    out = fim_transform(docs, rate_x256=256).collect()
    orig = dict(texts)
    sentinels = {FIM_PRE, FIM_SUF, FIM_MID}
    for r in out:
        toks = [t for t in r["out_text"].split(" ") if t not in sentinels]
        assert sorted(toks) == sorted(orig[r["id"]].split(" "))


def test_pagerank_sink_authority_and_mass(spark):
    from stirling_pdf_spark.operators.graph import pagerank

    # star: three pages all link to 'hub'; hub links back to 'a' only
    edges = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "a")],
        "src string, dst string")
    out = {r["node"]: r.asDict()
           for r in pagerank(edges, iters=3).collect()}
    # hub receives three full contributions -> highest rank; 'a' gets
    # hub's whole mass back -> beats the never-linked b/c
    assert out["hub"]["rank_micro"] > out["a"]["rank_micro"]
    assert out["a"]["rank_micro"] > out["b"]["rank_micro"]
    assert out["b"]["rank_micro"] == out["c"]["rank_micro"]
    assert out["b"]["out_deg"] == 1 and out["hub"]["out_deg"] == 1
    # mass never exceeds the start total (dangling loss only shrinks)
    assert sum(r["rank_micro"] for r in out.values()) <= 1_000_000


def test_pagerank_partitioning_invariant(spark):
    from stirling_pdf_spark.operators.graph import pagerank

    rows = [(f"n{i}", f"n{(i * 3 + 1) % 17}") for i in range(40)]
    edges = spark.createDataFrame(rows, "src string, dst string")
    a = sorted(map(tuple, pagerank(edges, iters=3).collect()))
    b = sorted(map(tuple, pagerank(edges.repartition(7), iters=3).collect()))
    assert a == b


def test_normalized_dedup_pairs_reformatted_twins(spark):
    from stirling_pdf_spark.operators.dedup import normalized_exact_dedup

    docs = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "  hello   world  "),
         (3, "different text")],
        "doc_id long, text string")
    out = {r["id"]: r.asDict()
           for r in normalized_exact_dedup(docs).collect()}
    assert out[1]["canonical_id"] == 1 and out[1]["group_size"] == 2
    assert out[2] == {"id": 2, "canonical_id": 1, "group_size": 2,
                      "is_dup": 1,
                      "norm_key_md5": out[1]["norm_key_md5"]}
    assert out[3]["group_size"] == 1 and out[3]["is_dup"] == 0


def test_hits_hub_vs_authority_separation(spark):
    from stirling_pdf_spark.operators.graph import hits

    # directory page links to three articles; articles link nowhere;
    # one article also gets a second in-link from 'other'
    edges = spark.createDataFrame(
        [("dir", "a1"), ("dir", "a2"), ("dir", "a3"), ("other", "a1")],
        "src string, dst string")
    out = {r["node"]: r.asDict() for r in hits(edges, iters=3).collect()}
    # 'dir' is the best hub (links to all authorities); articles have
    # hub 0; a1 is the top authority (two in-links)
    assert out["dir"]["hub_x"] == 1_000_000
    assert out["a1"]["auth_x"] == 1_000_000
    assert out["a1"]["auth_x"] > out["a2"]["auth_x"] > 0
    assert out["a2"]["hub_x"] == 0 and out["dir"]["auth_x"] == 0


def test_hits_partitioning_invariant(spark):
    from stirling_pdf_spark.operators.graph import hits

    rows = [(f"n{i}", f"n{(i * 5 + 2) % 13}") for i in range(30)]
    edges = spark.createDataFrame(rows, "src string, dst string")
    a = sorted(map(tuple, hits(edges, iters=2).collect()))
    b = sorted(map(tuple, hits(edges.repartition(5), iters=2).collect()))
    assert a == b


def test_events_funnel_requires_strict_order(spark):
    import datetime as dt

    from stirling_pdf_spark.operators.relational import events_funnel

    t = dt.datetime(2024, 1, 1)

    def at(m):
        return t + dt.timedelta(minutes=m)

    rows = [
        # u1 completes the funnel in order
        (1, at(0), "view"), (1, at(1), "click"), (1, at(2), "purchase"),
        # u2 purchases BEFORE clicking -> purchase must not count
        (2, at(0), "view"), (2, at(1), "purchase"), (2, at(2), "click"),
        # u3 clicks with no view -> reaches 0 steps
        (3, at(0), "click"), (3, at(1), "purchase"),
        # u4 only views
        (4, at(0), "view"),
    ]
    ev = spark.createDataFrame(
        [(i, ts, u, k) for i, (u, ts, k) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string")
    out = {r["user_id"]: r["reached"] for r in events_funnel(ev).collect()}
    assert out == {1: 3, 2: 2, 3: 0, 4: 1}


def test_events_cohort_offsets(spark):
    import datetime as dt

    from stirling_pdf_spark.operators.relational import (
        events_cohort_retention,
    )

    wk = dt.timedelta(weeks=1)
    base = dt.datetime(2024, 1, 4)  # mid-week, away from epoch edges
    rows = [
        (1, base), (1, base + wk), (1, base + 3 * wk),
        (2, base), (2, base + wk),
        (3, base + wk),
    ]
    ev = spark.createDataFrame(
        [(i, ts, u, "view") for i, (u, ts) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string")
    out = {(r["cohort_week"] is not None, r["week_offset"]): r["n_users"]
           for r in events_cohort_retention(ev).collect()}
    # cohort A (u1,u2 week 0): offsets 0 (2 users), 1 (2 users), 3 (1)
    # cohort B (u3, week 1): offset 0 (1 user)
    offsets = sorted((r["week_offset"], r["n_users"])
                     for r in events_cohort_retention(ev).collect())
    assert offsets == [(0, 1), (0, 2), (1, 2), (3, 1)]


def test_events_dau_mau_window_and_stickiness(spark):
    import datetime as dt

    from stirling_pdf_spark.operators.relational import events_dau_mau

    day0 = dt.datetime(2024, 1, 1)

    def on(day, u):
        return (day * 10 + u, day0 + dt.timedelta(days=day), u)

    # u1 active day 0 and 30 (outside the 28-day window of day 30's
    # MAU it still counts via day 30 itself); u2 active day 0 only;
    # u3 active days 0,1
    rows = [on(0, 1), on(0, 2), on(0, 3), on(1, 3), on(30, 1)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long")
    out = {r["day"]: (r["dau"], r["mau"], r["stickiness_pm"])
           for r in events_dau_mau(ev).collect()}
    d0 = 19723  # 2024-01-01 epoch-day
    # day0: dau=3, mau=3; day1: dau=1, mau=3 (u1,u2 from day0 in
    # window); day30: only u1 (days 0/1 are 30/29 back, > 27)
    assert out == {d0: (3, 3, 1000), d0 + 1: (1, 3, 333),
                   d0 + 30: (1, 1, 1000)}


def test_events_dau_mau_dedups_within_day(spark):
    import datetime as dt

    from stirling_pdf_spark.operators.relational import events_dau_mau

    t = dt.datetime(2024, 3, 5)
    rows = [(1, t, 7), (2, t + dt.timedelta(hours=3), 7),
            (3, t + dt.timedelta(hours=6), 7)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long")
    [r] = events_dau_mau(ev).collect()
    assert (r["dau"], r["mau"], r["stickiness_pm"]) == (1, 1, 1000)


def test_readability_counts_and_formula(spark):
    from stirling_pdf_spark.operators.textstats import readability

    docs = spark.createDataFrame(
        [("a", "The cat sat. It ran! Why?"),
         ("b", "word"),
         ("c", "")],
        "doc_id string, text string")
    out = {r["id"]: r for r in readability(docs).collect()}
    # "The cat sat. It ran! Why?": 6 words, 3 sentences,
    # vowel groups: e,a,a,i,a,y at word level -> lower: 'the cat
    # sat. it ran! why?' -> [aeiouy]+ runs: e,a,a,i,a,y = 6
    a = out["a"]
    assert (a["n_words"], a["n_sentences"], a["n_syllables"]) == (6, 3, 6)
    assert a["fre_milli"] == 206835 - (1015 * 6) // 3 - (84600 * 6) // 6
    b = out["b"]
    assert (b["n_words"], b["n_sentences"], b["n_syllables"]) == (1, 0, 1)
    assert b["fre_milli"] == 206835 - (1015 * 1) // 1 - (84600 * 1) // 1
    c = out["c"]
    assert c["n_sentences"] == 0 and c["n_syllables"] == 0


def test_events_asof_ties_and_missing(spark):
    import datetime as dt

    from stirling_pdf_spark.operators.relational import events_asof

    t0 = dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        # u1: view@10, purchase@20 -> gap 10s; purchase@5 -> no match
        (1, at(10), 1, "view"), (2, at(20), 1, "purchase"),
        (3, at(5), 1, "purchase"),
        # u2: view EXACTLY at the purchase instant -> at-or-before hits
        (4, at(30), 2, "view"), (5, at(30), 2, "purchase"),
        # u3: two views before -> the LATEST wins; clicks ignored
        (6, at(1), 3, "view"), (7, at(2), 3, "view"),
        (8, at(2), 3, "click"), (9, at(9), 3, "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    out = {r["event_id"]: (r["right_us"], r["gap_us"])
           for r in events_asof(ev).collect()}
    us = lambda s: int(at(s).timestamp() * 1_000_000)  # noqa: E731
    assert out[2] == (us(10), 10_000_000)
    assert out[3] == (None, None)
    assert out[5] == (us(30), 0)
    assert out[9] == (us(2), 7_000_000)
    assert set(out) == {2, 3, 5, 9}


def test_events_range_join_boundaries_and_empty_windows(spark):
    import datetime as dt

    from stirling_pdf_spark.operators.relational import events_range_join

    t0 = dt.datetime(2024, 1, 1)

    def at(m):
        return t0 + dt.timedelta(minutes=m)

    # window 0 = [t0, t0+90min); window 1 starts at +420min
    rows = [
        (1, at(0), 1, "view", 1.5),        # inclusive start
        (2, at(89), 1, "view", 1.0),       # last inside minute
        (3, at(90), 1, "view", 9.0),       # exclusive end -> out
        (4, at(421), 2, "view", 2.0),      # window 1
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    out = {r["window_idx"]: (r["n_events"], r["sum_value_micro"])
           for r in events_range_join(ev, n_windows=3).collect()}
    assert out[0] == (2, 2_500_000)
    assert out[1] == (1, 2_000_000)
    assert out[2] == (0, 0)                # kept, zeroed


def test_events_rolling_range_frame_honors_gaps(spark):
    import datetime as dt

    from stirling_pdf_spark.operators.relational import events_rolling_value

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # u1: day0 spend 1.0, day6 spend 2.0 (inside the 7-day frame),
        # day8 spend 4.0 (day0 now OUTSIDE a row-frame would keep it)
        (1, t0, 1, "purchase", 1.0),
        (2, t0 + dt.timedelta(days=6), 1, "purchase", 2.0),
        (3, t0 + dt.timedelta(days=8), 1, "purchase", 4.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    out = {r["day"] - 19723: r["rolling_value_micro"]
           for r in events_rolling_value(ev).collect()}
    assert out == {0: 1_000_000, 6: 3_000_000, 8: 6_000_000}


def test_snapshot_diff_all_statuses(spark):
    from stirling_pdf_spark.operators.validate import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "a"), (2, "B2"), (4, "d")], "doc_id long, text string")
    out = {r["doc_id"]: r["status"]
           for r in snapshot_diff(old, new).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "added"}
