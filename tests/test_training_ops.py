"""Unit tests for the training-data pipeline operators (dedup, ANN,
text analysis, multimodal plumbing) on handcrafted fixtures with
known-by-construction expectations."""

from __future__ import annotations

import hashlib
import math
import re

import pytest

from stirling_pdf_spark.operators import dedup as D
from stirling_pdf_spark.operators import similarity as S
from stirling_pdf_spark.operators import textstats as TS
from stirling_pdf_spark.operators.multimodal import (
    frame_sample,
    media_metadata,
)


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),   # near dup of 1
        (4, "el rapido zorro marron salta sobre el perro y la zorra"),
        (5, "completely different text about spark shuffles and joins"),
        (6, "word"),                                           # single word
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs_df):
    out = {r["id"]: r for r in D.exact_dedup(docs_df).collect()}
    assert out[1]["canonical_id"] == 1 and out[1]["is_dup"] == 0
    assert out[2]["canonical_id"] == 1 and out[2]["is_dup"] == 1
    assert out[2]["group_size"] == 2
    assert out[3]["canonical_id"] == 3 and out[3]["group_size"] == 1


def test_ngram_jaccard_pairs(docs_df):
    # docs 1/2 identical bigram sets (J=1); 1/3 share 7 of 9 bigrams
    # (J = 7/(8+8-7) = 7/9 ≈ 0.78)
    pairs = {(r["id_a"], r["id_b"]): r
             for r in D.ngram_jaccard_pairs(docs_df, threshold_pct=50).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)]["common"] == 8
    assert (1, 3) in pairs and pairs[(1, 3)]["common"] == 7
    assert (2, 3) in pairs
    assert not any(5 in p or 4 in p for p in pairs)
    # single-word doc has zero bigrams -> never pairs
    assert not any(6 in p for p in pairs)


def test_minhash_lsh_finds_identical_and_near_dups(docs_df):
    pairs = {(r["id_a"], r["id_b"]) for r in
             D.minhash_lsh_pairs(docs_df, threshold_pct=50).collect()}
    # identical docs share every band -> always candidates, J=1 verifies
    assert (1, 2) in pairs
    # minhash pairs are a subset of exact jaccard pairs (verify step)
    exact = {(r["id_a"], r["id_b"]) for r in
             D.ngram_jaccard_pairs(docs_df, threshold_pct=50).collect()}
    assert pairs <= exact


@pytest.mark.parametrize("pairs", [D.ngram_jaccard_pairs, D.minhash_lsh_pairs])
def test_misshaped_shingle_index_raises(docs_df, pairs):
    # a shared index must be the (id, sh) exploded shingle frame
    bad = docs_df.withColumnRenamed("doc_id", "id")
    with pytest.raises(ValueError, match="index must have columns"):
        pairs(docs_df, index=bad)


def test_simhash_order_insensitive(spark):
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "delta gamma beta alpha"),   # permutation: same token multiset
        (3, "alpha beta gamma epsilon"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["id"]: r["simhash"] for r in D.simhash(df).collect()}
    assert out[1] == out[2]
    assert len(out[1]) == 32 and set(out[1]) <= {"0", "1"}
    groups = {r["id"]: r["group_size"] for r in D.simhash_groups(df).collect()}
    assert groups[1] == groups[2] >= 2


@pytest.fixture(scope="module")
def emb_df(spark):
    # 8 vectors in 4-d: two tight clusters + one orthogonal
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),
        (2, [0.95, 0.2, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.1, 0.99, 0.0, 0.0]),
        (5, [0.0, 0.0, 1.0, 0.0]),
        (6, [-1.0, 0.0, 0.0, 0.0]),
        (7, [0.7, 0.7, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


def test_cosine_topk_matches_bruteforce(emb_df):
    vecs = {r["vec_id"]: r["embedding"] for r in emb_df.collect()}
    out = S.cosine_topk(emb_df, query_ids=[0, 3], k=3).collect()
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    for qid in (0, 3):
        expected = sorted(
            ((vec_id, _cos(vecs[qid], v)) for vec_id, v in vecs.items()
             if vec_id != qid),
            key=lambda t: (-t[1], t[0]),
        )[:3]
        assert [n for _, n in sorted(got[qid])] == [e[0] for e in expected]


def test_embedding_near_dup_pairs(emb_df):
    pairs = {(r["id_a"], r["id_b"]) for r in
             D.embedding_near_dup_pairs(emb_df, threshold=0.95).collect()}
    assert (0, 1) in pairs and (3, 4) in pairs
    assert (0, 6) not in pairs and (0, 3) not in pairs


def test_lsh_buckets_group_similar_vectors(emb_df):
    planes = S.make_planes(7, 6, 4)
    buckets = {r["id"]: r["bucket"] for r in
               S.lsh_buckets(emb_df, planes).collect()}
    assert buckets[0] == buckets[1]          # near-identical vectors
    assert buckets[0] != buckets[6]          # antipodal vectors
    # approximate topk returns only same-bucket neighbors at rank order
    topk = S.lsh_topk(emb_df, [0], planes, k=3).collect()
    assert all(buckets[r["neighbor_id"]] == buckets[0] for r in topk)
    ranks = sorted(r["rank"] for r in topk)
    assert ranks == list(range(1, len(ranks) + 1))


def test_lang_id(spark):
    rows = [
        (1, "the cat and the dog sat of the mat"),
        (2, "el perro y la gata en el jardin de la casa"),
        (3, "xyzzy plugh qwerty"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["id"]: r["pred_lang"] for r in TS.lang_id(df).collect()}
    assert out[1] == "en" and out[2] == "es" and out[3] == "und"


def test_quality_and_tokens(spark):
    df = spark.createDataFrame(
        [(1, "one two three four five."), (2, "a a a a")],
        ["doc_id", "text"],
    )
    q = {r["id"]: r for r in TS.quality_stats(df).collect()}
    assert q[1]["n_words"] == 5
    assert q[1]["n_distinct_words"] == 5
    assert q[2]["n_distinct_words"] == 1
    assert q[2]["quality"] < q[1]["quality"]
    t = {r["id"]: r for r in TS.token_counts(df).collect()}
    assert t[1]["n_ws_tokens"] == 5
    assert t[1]["n_regex_tokens"] == 6   # five words + '.'


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "b a c"), (2, "c b a"), (3, "a b d")], ["doc_id", "text"]
    )
    fp = {r["id"]: r["fp"] for r in TS.fingerprint(df).collect()}
    assert fp[1] == fp[2] != fp[3]
    assert fp[1] == hashlib.md5(b"a b c").hexdigest()


def test_media_metadata_and_frames(spark):
    rows = [("m1", "png", b"\x89PNG" + b"x" * 100),
            ("m2", "bin", b"")]
    media = spark.createDataFrame(rows, ["media_ref", "fmt", "payload"])
    meta = {r["media_ref"]: r for r in media_metadata(media).collect()}
    assert meta["m1"]["n_bytes"] == 104
    assert meta["m1"]["sha256"] == hashlib.sha256(b"\x89PNG" + b"x" * 100).hexdigest()
    assert 1 <= meta["m1"]["width"] <= 4096 and not meta["m1"]["oversize"]
    assert meta["m2"]["n_bytes"] == 0

    frames = frame_sample(media, frame_bytes=32, every_n=2).collect()
    by_ref = {}
    for r in frames:
        by_ref.setdefault(r["media_ref"], []).append(r)
    # 104 bytes / 32 = 4 frames, every 2nd -> frames 0 and 2
    assert sorted(r["frame_no"] for r in by_ref["m1"]) == [0, 2]
    assert bytes(by_ref["m1"][0]["frame"])[:4] == b"\x89PNG"
    assert "m2" not in by_ref  # empty payload -> no frames


def test_connected_components_chain_and_singletons(spark):
    from stirling_pdf_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a int, id_b int",
    )
    nodes = spark.createDataFrame([(i,) for i in
                                   [1, 2, 3, 4, 10, 11, 20, 21, 22, 99]],
                                  "id int")
    comp = {r["id"]: r["component"] for r in
            connected_components(pairs, nodes).collect()}
    assert all(comp[i] == 1 for i in (1, 2, 3, 4))      # chain collapses
    assert comp[10] == comp[11] == 10
    assert all(comp[i] == 20 for i in (20, 21, 22))     # triangle
    assert comp[99] == 99                                # singleton


def test_connected_components_deep_chain_pointer_jumping(spark):
    """A 40-node chain has diameter 39 — plain min-label propagation
    would need 39 rounds; pointer jumping converges within the default
    12. And exhausting max_iter raises instead of silently returning
    split components."""
    import pytest

    from stirling_pdf_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(39)],
                                  "id_a int, id_b int")
    comp = {r["id"]: r["component"] for r in
            connected_components(pairs).collect()}
    assert all(comp[i] == 0 for i in range(40))

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2)


def test_decode_image_real_containers():
    """Pure-stdlib raster decode: PPM with comments/whitespace, BMP
    incl. top-down (negative height); codec formats stay stubbed."""
    import struct

    import pytest

    from stirling_pdf_spark.operators.multimodal import decode_image

    ppm = b"P6\n# a comment\n 12\t7\n255\n" + b"\x00" * (12 * 7 * 3)
    assert decode_image(ppm) == (12, 7)

    hdr = struct.pack("<2sIHHI", b"BM", 54 + 30, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 5, -3, 1, 24, 0, 30,
                       2835, 2835, 0, 0)
    assert decode_image(hdr + info + b"\x00" * 48) == (5, 3)  # top-down

    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n garbage")  # no IHDR
    # plumbing fallback still available for opaque payloads
    w, h = decode_image(b"\x89PN", deterministic_fake=True)
    assert 1 <= w <= 4096 and 1 <= h <= 4096


def test_png_decode_roundtrip_all_filters():
    """PNG spec §9: the encoder cycles filters 0-4 per scanline, so a
    correct decoder must reverse None/Sub/Up/Average/Paeth to get the
    original pixels back byte-for-byte; unsupported classes raise."""
    import struct
    import zlib

    import pytest

    from stirling_pdf_spark.corpus.media import _pixel_stream, png_encode
    from stirling_pdf_spark.operators.multimodal import decode_png

    for w, h in ((1, 1), (4, 5), (13, 11), (32, 7)):
        rgb = _pixel_stream(f"m-{w}x{h}", 3 * w * h)
        payload = png_encode(w, h, rgb)
        assert len(payload) == 68 + h * (1 + 3 * w)  # stored-block form
        dw, dh, px = decode_png(payload)
        assert (dw, dh) == (w, h) and px == rgb

    # interlaced flag -> honest NotImplementedError, not wrong pixels
    good = png_encode(4, 4, _pixel_stream("m", 48))
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 1)  # interlace=1
    bad = (good[:8]
           + struct.pack(">I", 13) + b"IHDR" + ihdr
           + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
           + good[33:])
    with pytest.raises(NotImplementedError):
        decode_png(bad)
    # truncated scanline data -> ValueError, not garbage dims
    with pytest.raises(ValueError):
        decode_png(good[:40] + good[60:])


def test_decode_images_stage_isolates_bad_rows(spark):
    """The Arrow decode stage nulls undecodable rows instead of
    failing the batch, and round-trips the synthesized corpus images
    exactly."""
    from pyspark.sql import Row

    from stirling_pdf_spark.corpus.media import (
        image_dims_for_ref, image_payload_for_ref,
    )
    from stirling_pdf_spark.operators.multimodal import decode_images

    refs = [f"media-{i:04x}" for i in range(6)]
    rows = [Row(media_ref=r, fmt=image_dims_for_ref(r)[0],
                payload=image_payload_for_ref(r)) for r in refs]
    rows.append(Row(media_ref="bad", fmt="png", payload=b"\x89PNGnope"))
    df = spark.createDataFrame(rows)
    got = {r["media_ref"]: r for r in decode_images(df).collect()}
    for ref in refs:
        fmt, w, h = image_dims_for_ref(ref)
        assert (got[ref]["width"], got[ref]["height"]) == (w, h), ref
        assert got[ref]["n_bytes"] == len(image_payload_for_ref(ref))
    assert got["bad"]["width"] is None and got["bad"]["height"] is None


def test_tfidf_top_terms_integer_ranking(spark):
    df = spark.createDataFrame(
        [(1, "apple apple banana common"), (2, "banana common common"),
         (3, "common cherry")],
        ["doc_id", "text"],
    )
    from stirling_pdf_spark.operators.textstats import tfidf_top_terms

    out = {}
    for r in tfidf_top_terms(df, k=2).collect():
        out.setdefault(r["id"], []).append((r["rank"], r["term"], r["tf"],
                                            r["df"]))
    # doc 1: apple tf2/df1 (2e6) > banana tf1/df2 (5e5) > common 1/3
    assert sorted(out[1]) == [(1, "apple", 2, 1), (2, "banana", 1, 2)]
    # doc 2: common tf2/df3 (666666) > banana tf1/df2 (500000)
    assert sorted(out[2])[0] == (1, "common", 2, 3)
    # doc 3: cherry tf1/df1 (1e6) > common tf1/df3
    assert sorted(out[3]) == [(1, "cherry", 1, 1), (2, "common", 1, 3)]


def test_hash_sample_deterministic_and_bounded(spark):
    import hashlib

    from stirling_pdf_spark.operators.textstats import hash_sample

    rows = [(i, f"text number {i} with content") for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = {r["id"] for r in hash_sample(df, rate_pct=10).collect()}
    b = {r["id"] for r in hash_sample(df, rate_pct=10).collect()}
    assert a == b                      # rerun-stable, unlike rand()
    expect = {i for i, t in rows
              if int(hashlib.md5(t.encode()).hexdigest()[:4], 16) * 100
              < 10 * 65536}
    assert a == expect                 # exactly the md5-bucket rule
    assert hash_sample(df, rate_pct=100).count() == 200
    assert hash_sample(df, rate_pct=0).count() == 0


def test_scrub_pii_classes_and_order(spark):
    """Per-class counting happens on text already scrubbed of earlier
    classes, and all placeholders land in the output hash."""
    import hashlib

    from stirling_pdf_spark.operators.textstats import scrub_pii

    df = spark.createDataFrame(
        [(1, "write bob@x.io or b.c-d@sub.ex.org, ping 10.0.0.1 "
             "and 255.1.2.3, dial +1-800-555 now"),
         (2, "clean text only")],
        ["doc_id", "text"])
    out = {r["id"]: r for r in scrub_pii(df).collect()}
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (2, 2, 1)
    expected = ("write <EMAIL> or <EMAIL>, ping <IP> and <IP>, "
                "dial <PHONE> now")
    assert out[1]["scrubbed_md5"] == hashlib.md5(expected.encode()).hexdigest()
    assert (out[2]["n_email"], out[2]["n_ipv4"], out[2]["n_phone"]) == (0, 0, 0)
    assert out[2]["scrubbed_md5"] == hashlib.md5(b"clean text only").hexdigest()


def test_paragraph_dedup_first_occurrence(spark):
    """8-word windows survive only at their first (id, idx) occurrence
    — repeated boilerplate collapses to one copy corpus-wide; a doc
    that is entirely boilerplate keeps nothing (md5 of empty)."""
    import hashlib

    from stirling_pdf_spark.operators.dedup import paragraph_dedup

    boiler = "one two three four five six seven eight"
    uniq = "a b c d e f g h"
    df = spark.createDataFrame(
        [(1, boiler + " " + uniq),       # keeps both (first occurrence)
         (2, boiler),                    # all boilerplate -> keeps none
         (3, uniq + " tail")],           # window 'a..h' dup; 'tail' kept
        ["doc_id", "text"])
    out = {r["id"]: r for r in paragraph_dedup(df).collect()}
    assert (out[1]["n_paras"], out[1]["n_kept"]) == (2, 2)
    assert out[1]["kept_md5"] == hashlib.md5(
        (boiler + "\n" + uniq).encode()).hexdigest()
    assert (out[2]["n_paras"], out[2]["n_kept"]) == (1, 0)
    assert out[2]["kept_md5"] == hashlib.md5(b"").hexdigest()
    assert (out[3]["n_paras"], out[3]["n_kept"]) == (2, 1)
    assert out[3]["kept_md5"] == hashlib.md5(b"tail").hexdigest()


def test_decode_images_with_reason_opt_in(spark):
    """with_reason=True appends the per-row failure message (the
    decode_audio/probe_video contract) without disturbing the default
    schema the r4 gates pinned."""
    from pyspark.sql import Row

    from stirling_pdf_spark.corpus.media import image_payload_for_ref
    from stirling_pdf_spark.operators.multimodal import decode_images

    rows = [
        Row(media_ref="good", fmt="png",
            payload=image_payload_for_ref("media-0001")),
        Row(media_ref="bad", fmt="png", payload=b"\x89PNGnope"),
    ]
    df = spark.createDataFrame(rows)
    assert "reason" not in decode_images(df).columns
    got = {r["media_ref"]: r
           for r in decode_images(df, with_reason=True).collect()}
    assert got["good"]["reason"] is None
    assert got["good"]["width"] is not None
    assert got["bad"]["width"] is None
    assert got["bad"]["reason"]  # non-empty message


def test_corpus_stats_report_exact_and_single_exchange(spark):
    from stirling_pdf_spark.operators.textstats import corpus_stats_report

    docs = [
        (1, "the cat and the dog of the house"),      # en, 8 tokens
        (2, "el perro y el gato de la casa grande"),  # es, 9 tokens
        (3, "qqq www eee"),                           # und, 3 tokens
        (4, "the " * 70 + "end"),                     # en, 71 tok, bucket 1
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    out = corpus_stats_report(df, bucket_tokens=64, n_buckets=8)
    rows = {(r["lang"], r["len_bucket"]): r for r in out.collect()}
    assert set(rows) == {("en", 0), ("es", 0), ("und", 0), ("en", 1)}
    en0 = rows[("en", 0)]
    assert (en0["n_docs"], en0["sum_tokens"], en0["min_tokens"],
            en0["max_tokens"]) == (1, 8, 8, 8)
    assert en0["sum_bytes"] == len(docs[0][1].encode())
    en1 = rows[("en", 1)]
    assert (en1["n_docs"], en1["sum_tokens"]) == (1, 71)
    # the report must cost one exchange beyond the input spread (keyed
    # on doc_id): map-side partial agg onto a constant key space, then
    # one shuffle (fresh plan, pre-AQE: the executed string would
    # repeat both the initial and final plans and double-count)
    plan = (corpus_stats_report(df)._jdf.queryExecution()
            .executedPlan().toString())
    keys = re.findall(r"Exchange hashpartitioning\((\w+)#", plan)
    assert len([k for k in keys if k != "doc_id"]) == 1, plan
    assert "partial" in plan.lower()
