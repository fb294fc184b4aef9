"""Visual near-dup: full-raster decode, dHash, banded Hamming pairs."""

from __future__ import annotations

import hashlib
import importlib
import random

import pytest

from stirling_pdf_spark.corpus.media import (
    DHASH_COLS,
    DHASH_ROWS,
    dhash_cell_bits,
    dhash_payload_for_ref,
    image_payload_for_ref,
    png_encode,
)
from stirling_pdf_spark.operators.multimodal import decode_pixels


def expected_dhash(ref: str) -> int:
    """Closed-form dHash of a fixture: bit r*8+c set iff the cell to
    the right is brighter (bit 1 = luma 200 > bit 0 = luma 50)."""
    bits = dhash_cell_bits(ref)
    v = 0
    for r in range(DHASH_ROWS):
        for c in range(8):
            if bits[r * DHASH_COLS + c + 1] > bits[r * DHASH_COLS + c]:
                v |= 1 << (r * 8 + c)
    return v - (1 << 64) if v >= 1 << 63 else v


def test_decode_pixels_ppm_bmp_png_agree_with_fixture_stream():
    for ref in ("media-aa", "media-bb", "media-cc", "media-dd",
                "media-ee", "media-ff"):
        payload = image_payload_for_ref(ref)
        w, h, rgb = decode_pixels(payload)
        assert len(rgb) == 3 * w * h
        # PPM/PNG fixtures carry the raw px stream; BMP rows are
        # bottom-up BGR so just check shape + determinism there
        again = decode_pixels(payload)
        assert again == (w, h, rgb)


def test_decode_pixels_bmp_row_order_and_bgr():
    import struct

    # 2x2 BMP, bottom-up: file rows are (bottom row first), BGR
    px_bottom = bytes([255, 0, 0, 0, 255, 0])      # B=255 then G=255
    px_top = bytes([0, 0, 255, 10, 20, 30])        # R=255 then misc
    pad = b"\x00\x00"                               # stride pad to 8
    img = px_bottom + pad + px_top + pad
    header = struct.pack("<2sIHHI", b"BM", 54 + len(img), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0,
                       len(img), 0, 0, 0, 0)
    w, h, rgb = decode_pixels(header + info + img)
    assert (w, h) == (2, 2)
    # top row first in output, channels flipped to RGB
    assert rgb[:6] == bytes([255, 0, 0, 30, 20, 10])
    assert rgb[6:] == bytes([0, 0, 255, 0, 255, 0])


def test_decode_pixels_png_rgba_drops_alpha():
    rgb = bytes(range(12))  # 2x2 RGB
    data = png_encode(2, 2, rgb)
    w, h, out = decode_pixels(data)
    assert (w, h, out) == (2, 2, rgb)


def test_image_dhash_matches_closed_form(spark):
    from stirling_pdf_spark.operators.dedup import image_dhash

    refs = [f"media-{hashlib.sha256(str(i).encode()).hexdigest()[:8]}"
            for i in range(12)]
    rows = [(r, "ppm", dhash_payload_for_ref(r)) for r in refs]
    media = spark.createDataFrame(
        rows, "media_ref string, fmt string, payload binary")
    got = {r["media_ref"]: r for r in image_dhash(media).collect()}
    for ref in refs:
        assert got[ref]["dhash"] == expected_dhash(ref)
        s = 2 + hashlib.sha256(ref.encode()).digest()[7] % 3
        assert (got[ref]["width"], got[ref]["height"]) == (9 * s, 8 * s)


@pytest.mark.parametrize("op, col", [
    ("dedup.image_dhash", "dhash"),
    ("dedup.image_ahash", "ahash"),
    ("dedup.image_phash", "phash"),
    ("multimodal.image_quality_stats", "n_px"),
], ids=["image_dhash", "image_ahash", "image_phash", "image_quality_stats"])
def test_image_dhash_undecodable_yields_null(spark, op, col):
    module, name = op.split(".")
    fn = getattr(importlib.import_module(
        f"stirling_pdf_spark.operators.{module}"), name)
    media = spark.createDataFrame(
        [("m-bad", "webp", b"RIFFxxxxWEBP"), ("m-trunc", "ppm", b"P6"),
         ("m-bmp", "bmp", b"BM\x00\x00"),    # header cut before its fields
         ("m-png", "png", b"\x89PNG\r\n\x1a\n\x00\x00\x00\rIHDR")],  # cut in IHDR
        "media_ref string, fmt string, payload binary")
    rows = {r["media_ref"]: r for r in fn(media).collect()}
    assert set(rows) == {"m-bad", "m-trunc", "m-bmp", "m-png"}
    assert all(r[col] is None for r in rows.values())


def test_dhash_pairs_banding_is_exact_vs_brute_force(spark):
    from stirling_pdf_spark.operators.dedup import dhash_near_dup_pairs

    rng = random.Random(7)
    base = rng.getrandbits(64)

    def signed(v):
        return v - (1 << 64) if v >= 1 << 63 else v

    hashes = {"id00": base}
    for i in range(1, 24):
        flips = rng.sample(range(64), rng.randint(0, 12))
        v = base
        for f in flips:
            v ^= 1 << f
        hashes[f"id{i:02d}"] = v
    df = spark.createDataFrame(
        [(k, signed(v)) for k, v in hashes.items()],
        "media_ref string, dhash long")
    got = {(r["id_a"], r["id_b"]): r["distance"]
           for r in dhash_near_dup_pairs(df, max_distance=7).collect()}
    want = {}
    ids = sorted(hashes)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin(hashes[a] ^ hashes[b]).count("1")
            if d <= 7:
                want[(a, b)] = d
    assert got == want
    assert want  # the sample must actually produce qualifying pairs


def test_dhash_pairs_rejects_inexact_threshold(spark):
    import pytest

    from stirling_pdf_spark.operators.dedup import dhash_near_dup_pairs

    df = spark.createDataFrame([("a", 0)], "media_ref string, dhash long")
    with pytest.raises(ValueError):
        dhash_near_dup_pairs(df, max_distance=8)


def test_images_to_pdf_fit_modes_and_drop(spark):
    from stirling_pdf_spark.operators.multimodal import (
        A4_H, A4_W, images_to_pdf,
    )

    ppm = b"P6\n20 10\n255\n" + bytes(20 * 10 * 3)   # landscape 20x10
    rows = [("d1", 0, "m-a", ppm),
            ("d1", 1, "m-b", b"P6\n4 8\n255\n" + bytes(4 * 8 * 3)),
            ("d2", 0, "m-c", b"RIFFxxxxWEBP")]       # undecodable
    df = spark.createDataFrame(
        rows, "doc_id string, seq int, media_ref string, payload binary")

    out = {r["doc_id"]: r for r in images_to_pdf(
        df, "fitDocumentToImage").collect()}
    assert set(out) == {"d1"}                         # d2 dropped whole
    texts = [(s["kind"], s["text"]) for s in out["d1"]["spans"]]
    assert texts[0] == ("pagemeta", "1|20.0|10.0|0|")
    assert texts[1][1] == "1|0.0|0.0|20.0|10.0"
    assert texts[2] == ("pagemeta", "2|4.0|8.0|0|")

    [row] = images_to_pdf(df.filter("doc_id = 'd1' AND seq = 0"),
                          "fillPage", auto_rotate=True).collect()
    pm = row["spans"][0]["text"].split("|")
    # landscape image swaps A4 under autoRotate
    assert (float(pm[1]), float(pm[2])) == (A4_H, A4_W)
    md = row["spans"][1]["text"].split("|")
    assert (float(md[3]), float(md[4])) == (A4_H, A4_W)  # fills page


def test_images_to_pdf_orders_pages_by_seq_across_partitions(spark):
    from stirling_pdf_spark.operators.multimodal import images_to_pdf

    # one doc, its images in reverse seq order, one per input partition:
    # the grouped list arrives in shuffle order, the pages in seq order
    rows = [("d", seq, f"m{seq}", b"P6\n%d 5\n255\n" % w + bytes(w * 5 * 3))
            for seq, w in ((2, 30), (1, 20), (0, 10))]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3),
        "doc_id string, seq int, media_ref string, payload binary")
    [row] = images_to_pdf(df, "fitDocumentToImage").collect()
    assert [(s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in row["spans"]] == [
        ("pagemeta", "1|10.0|5.0|0|", "", 0),
        ("media", "1|0.0|0.0|10.0|5.0", "m0", 1),
        ("pagemeta", "2|20.0|5.0|0|", "", 2),
        ("media", "2|0.0|0.0|20.0|5.0", "m1", 3),
        ("pagemeta", "3|30.0|5.0|0|", "", 4),
        ("media", "3|0.0|0.0|30.0|5.0", "m2", 5),
    ]


def test_images_to_pdf_rejects_unknown_fit(spark):
    import pytest

    from stirling_pdf_spark.operators.multimodal import images_to_pdf

    df = spark.createDataFrame(
        [("d", 0, "m", b"")],
        "doc_id string, seq int, media_ref string, payload binary")
    with pytest.raises(ValueError):
        images_to_pdf(df, "stretchy")


def expected_ahash(ref: str) -> int:
    """Closed-form aHash of a fixture: bits = cell bits unless the
    grid is uniform (cell > global mean is then false everywhere)."""
    from stirling_pdf_spark.corpus.media import ahash_cell_bits

    bits = ahash_cell_bits(ref)
    ones = sum(bits)
    if ones in (0, 64):
        return 0
    v = 0
    for i, b in enumerate(bits):
        if b:
            v |= 1 << i
    return v - (1 << 64) if v >= 1 << 63 else v


def test_image_ahash_matches_closed_form(spark):
    from stirling_pdf_spark.corpus.media import ahash_payload_for_ref
    from stirling_pdf_spark.operators.dedup import image_ahash

    refs = [f"media-{hashlib.sha256(str(i).encode()).hexdigest()[:8]}"
            for i in range(12)]
    rows = [(r, "ppm", ahash_payload_for_ref(r)) for r in refs]
    media = spark.createDataFrame(
        rows, "media_ref string, fmt string, payload binary")
    got = {r["media_ref"]: r for r in image_ahash(media).collect()}
    for ref in refs:
        assert got[ref]["ahash"] == expected_ahash(ref)
        s = 2 + hashlib.sha256(ref.encode()).digest()[7] % 3
        assert (got[ref]["width"], got[ref]["height"]) == (8 * s, 8 * s)


def test_image_ahash_uniform_raster_hashes_to_zero(spark):
    from stirling_pdf_spark.operators.dedup import image_ahash

    # all-bright and all-dark 8x8 PPMs: no cell exceeds the mean
    bright = b"P6\n8 8\n255\n" + bytes([200]) * (8 * 8 * 3)
    dark = b"P6\n8 8\n255\n" + bytes([50]) * (8 * 8 * 3)
    media = spark.createDataFrame(
        [("m-b", "ppm", bright), ("m-d", "ppm", dark)],
        "media_ref string, fmt string, payload binary")
    got = {r["media_ref"]: r["ahash"] for r in image_ahash(media).collect()}
    assert got == {"m-b": 0, "m-d": 0}


def test_ahash_pairs_ride_the_generic_band_join(spark):
    from stirling_pdf_spark.corpus.media import ahash_payload_for_ref
    from stirling_pdf_spark.operators.dedup import (
        dhash_near_dup_pairs, image_ahash,
    )

    # force a known distance-0 pair by reusing one payload twice
    p = ahash_payload_for_ref("media-equal")
    media = spark.createDataFrame(
        [("m-1", "ppm", p), ("m-2", "ppm", p)],
        "media_ref string, fmt string, payload binary")
    pairs = dhash_near_dup_pairs(image_ahash(media), max_distance=7,
                                 hash_col="ahash").collect()
    assert [(r["id_a"], r["id_b"], r["distance"]) for r in pairs] \
        == [("m-1", "m-2", 0)]


def test_png_text_chunks_round_trip_and_isolation(spark):
    from stirling_pdf_spark.corpus.media import png_encode
    from stirling_pdf_spark.operators.multimodal import (
        decode_png,
        png_text_chunks,
    )

    rgb = bytes(range(36))
    png = png_encode(4, 3, rgb, texts=(("Title", "hello"),
                                       ("Author", "a b")))
    # tEXt chunks must not break the pixel decode
    w, h, px = decode_png(png)
    assert (w, h, px) == (4, 3, rgb)
    truncated = png[:len(png) - 20]     # IEND + part of IDAT gone
    media = spark.createDataFrame(
        [("ok", bytearray(png)), ("junk", bytearray(b"GIF89a...")),
         ("trunc", bytearray(truncated))],
        "media_ref string, payload binary")
    rows = sorted(map(tuple, png_text_chunks(media).collect()))
    # junk contributes nothing; ok and trunc both keep the two tEXt
    # rows (they precede the truncation point)
    assert rows == [
        ("ok", 0, "Title", "hello"), ("ok", 1, "Author", "a b"),
        ("trunc", 0, "Title", "hello"), ("trunc", 1, "Author", "a b"),
    ]


# ---------------------------------------------------------------- pHash


def expected_phash(ref: str) -> int:
    """Closed-form pHash of a fixture: bit i = the i-th sha-derived
    DCT sign (the generator guarantees rounding preserves signs)."""
    from stirling_pdf_spark.corpus.media import phash_coeff_bits

    bits = phash_coeff_bits(ref)
    v = 0
    for i, b in enumerate(bits):
        if b:
            v |= 1 << i
    return v  # 63 bits: always fits a signed int64


def test_phash_fixture_signs_survive_rounding_broad_sweep():
    """The generator verifies sign stability itself; this sweep
    re-checks 400 refs independently (decode + float DCT) so a
    regression in either side shows up without Spark."""
    import numpy as np

    from stirling_pdf_spark.corpus.media import (
        PHASH_LOW, _dct_mat, phash_coeff_bits, phash_payload_for_ref,
    )

    m = _dct_mat()
    for i in range(400):
        ref = f"media-{hashlib.sha256(str(i).encode()).hexdigest()[:8]}"
        w, h, rgb = decode_pixels(phash_payload_for_ref(ref))
        assert (w, h) == (32, 32)
        luma = np.frombuffer(rgb, np.uint8).reshape(32, 32, 3)[:, :, 0]
        coef = m @ luma.astype(np.float64) @ m.T
        bits = phash_coeff_bits(ref)
        idx = 0
        for u in range(PHASH_LOW):
            for v in range(PHASH_LOW):
                if u == 0 and v == 0:
                    continue
                assert (coef[u, v] > 0) == bool(bits[idx]), (ref, u, v)
                idx += 1


def test_image_phash_matches_closed_form(spark):
    from stirling_pdf_spark.corpus.media import phash_payload_for_ref
    from stirling_pdf_spark.operators.dedup import image_phash

    refs = [f"media-{hashlib.sha256(str(i).encode()).hexdigest()[:8]}"
            for i in range(12)]
    rows = [(r, "ppm", phash_payload_for_ref(r)) for r in refs]
    media = spark.createDataFrame(
        rows, "media_ref string, fmt string, payload binary")
    got = {r["media_ref"]: r for r in image_phash(media).collect()}
    for ref in refs:
        assert got[ref]["phash"] == expected_phash(ref)
        assert (got[ref]["width"], got[ref]["height"]) == (32, 32)


def test_phash_pairs_banding_is_exact_vs_brute_force(spark):
    from stirling_pdf_spark.operators.dedup import dhash_near_dup_pairs

    rng = random.Random(7)
    hashes = []
    base = rng.getrandbits(63)
    for i in range(40):
        h = base
        for _ in range(rng.randrange(0, 10)):
            h ^= 1 << rng.randrange(63)
        hashes.append((f"m{i:02d}", h))
    df = spark.createDataFrame(hashes, "media_ref string, phash long")
    got = {(r["id_a"], r["id_b"]): r["distance"]
           for r in dhash_near_dup_pairs(
               df, max_distance=6, hash_col="phash",
               n_bands=7, band_bits=9).collect()}
    want = {}
    for i in range(40):
        for j in range(i + 1, 40):
            d = bin(hashes[i][1] ^ hashes[j][1]).count("1")
            if d <= 6:
                want[(hashes[i][0], hashes[j][0])] = d
    assert got == want


def test_image_phash_small_raster_upsample_path(spark):
    """A raster below 32x32 goes through the nearest-pixel upsample
    branch and still yields a deterministic non-null hash."""
    from stirling_pdf_spark.operators.dedup import image_phash

    w, h = 5, 4
    px = bytes(
        b for i in range(w * h)
        for b in (hashlib.sha256(str(i).encode()).digest()[0],) * 3)
    payload = f"P6\n{w} {h}\n255\n".encode() + px
    media = spark.createDataFrame(
        [("m0", "ppm", payload), ("m1", "ppm", payload)],
        "media_ref string, fmt string, payload binary")
    got = image_phash(media).collect()
    vals = {r["media_ref"]: r["phash"] for r in got}
    assert vals["m0"] is not None and vals["m0"] == vals["m1"]


# ------------------------------------------------- image quality stats


def test_image_quality_stats_flags_and_exact_sums(spark):
    from stirling_pdf_spark.operators.multimodal import (
        image_quality_stats,
    )

    def ppm(vals):  # grayscale pixels from a list of luma values
        w = len(vals)
        body = bytes(b for v in vals for b in (v, v, v))
        return f"P6\n{w} 1\n255\n".encode() + body

    rows = [
        ("dark", "ppm", ppm([5, 10, 15, 20])),
        ("bright", "ppm", ppm([250, 251, 252, 253])),
        ("flat", "ppm", ppm([100, 101, 100, 101])),
        ("good", "ppm", ppm([0, 255, 60, 200])),
        ("broken", "bin", b"not an image"),
    ]
    media = spark.createDataFrame(
        rows, "media_ref string, fmt string, payload binary")
    got = {r["media_ref"]: r
           for r in image_quality_stats(
               media, outlier_dev_x1000=10**9).collect()}
    assert got["dark"]["dark"] == 1 and got["dark"]["keep"] == 0
    assert got["bright"]["bright"] == 1 and got["bright"]["keep"] == 0
    assert got["flat"]["flat"] == 1 and got["flat"]["keep"] == 0
    g = got["good"]
    assert (g["dark"], g["bright"], g["flat"], g["keep"]) == (0, 0, 0, 1)
    assert g["sum_luma"] == 0 + 255 + 60 + 200
    assert g["ssq_luma"] == 255**2 + 60**2 + 200**2
    assert (g["min_luma"], g["max_luma"], g["n_px"]) == (0, 255, 4)
    assert g["mean_x1000"] == (1000 * 515) // 4
    b = got["broken"]
    assert b["keep"] == 0 and b["n_px"] is None and b["sum_luma"] is None


def test_image_quality_stats_corpus_outlier_rule(spark):
    from stirling_pdf_spark.operators.multimodal import (
        image_quality_stats,
    )

    def ppm(vals):
        body = bytes(b for v in vals for b in (v, v, v))
        return f"P6\n{len(vals)} 1\n255\n".encode() + body

    # three mid-range images + one far-off: only the far one flagged
    rows = [(f"m{i}", "ppm", ppm([100, 160, 90, 170])) for i in range(3)]
    rows.append(("far", "ppm", ppm([230, 255, 250, 245])))
    media = spark.createDataFrame(
        rows, "media_ref string, fmt string, payload binary")
    got = {r["media_ref"]: r
           for r in image_quality_stats(
               media, bright_mean=256, outlier_dev_x1000=50000).collect()}
    assert got["far"]["outlier"] == 1 and got["far"]["keep"] == 0
    for i in range(3):
        assert got[f"m{i}"]["outlier"] == 0 and got[f"m{i}"]["keep"] == 1


# ---------------------------------------------------- tf-idf cosine pairs


def test_tfidf_cosine_pairs_threshold_and_integers(spark):
    from stirling_pdf_spark.operators.dedup import tfidf_cosine_pairs

    docs = spark.createDataFrame(
        [
            (1, "apple banana cherry"),
            (2, "apple banana cherry"),        # identical -> cos = 1
            (3, "apple banana date"),          # 2/3 overlap
            (4, "elder fig grape"),            # disjoint
        ],
        "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r for r in
           tfidf_cosine_pairs(docs, threshold_pct=90).collect()}
    assert (1, 2) in got and len(got) == 1
    r = got[(1, 2)]
    # identical docs: dot == norm_a == norm_b
    assert r["dot"] == r["norm_a"] == r["norm_b"]
    # N=4: apple/banana have df=3 -> idf (100*4)//3 = 133; cherry
    # df=2 -> 200; dot = 133^2 + 133^2 + 200^2
    assert r["dot"] == 2 * 133 * 133 + 200 * 200


def test_tfidf_cosine_pairs_max_df_prunes_hot_terms(spark):
    from stirling_pdf_spark.operators.dedup import tfidf_cosine_pairs

    # 'the' is in every doc; with max_df=2 it never joins, so the
    # only surviving pair is the one sharing rare terms
    docs = spark.createDataFrame(
        [
            (1, "the zebra yak"),
            (2, "the zebra yak"),
            (3, "the other words"),
            (4, "the more words"),
        ],
        "doc_id long, text string")
    got = [(r["id_a"], r["id_b"]) for r in
           tfidf_cosine_pairs(docs, threshold_pct=90,
                              max_df=2).collect()]
    assert got == [(1, 2)]


def test_containment_pairs_catch_subset_jaccard_misses(spark):
    from stirling_pdf_spark.operators.dedup import (
        containment_pairs, ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta"
    long = short + " " + " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally different words here")],
        "doc_id long, text string")
    cont = containment_pairs(docs, threshold_pct=100).collect()
    assert [(r["id_a"], r["id_b"]) for r in cont] == [(1, 2)]
    r = cont[0]
    assert r["common"] == r["size_a"] == 3   # all 3 shingles contained
    # the symmetric Jaccard at 50% misses the same pair
    jac = ngram_jaccard_pairs(docs, threshold_pct=50).collect()
    assert (1, 2) not in [(x["id_a"], x["id_b"]) for x in jac]


def test_containment_pairs_max_df_cap(spark):
    from stirling_pdf_spark.operators.dedup import containment_pairs

    # shingle 'a b' is in all docs; capping df at 2 removes it, so no
    # pair reaches the threshold
    docs = spark.createDataFrame(
        [(1, "a b x"), (2, "a b y"), (3, "a b z")],
        "doc_id long, text string")
    assert containment_pairs(docs, threshold_pct=50).count() == 3
    assert containment_pairs(docs, threshold_pct=50,
                             max_df=2).count() == 0
