"""WARC container framing + EXIF TIFF/IFD parsing (kernel + Spark)."""

from __future__ import annotations

import hashlib

import pytest

from stirling_pdf_spark.corpus.media import exif_params_for_ref
from stirling_pdf_spark.kernel.exif import build_exif_jpeg, parse_exif
from stirling_pdf_spark.kernel.warc import (
    build_warc,
    parse_warc,
    response_record,
    warcinfo_record,
)
from stirling_pdf_spark.sources.warc import (
    page_date,
    page_html,
    page_url,
    warc_records,
    warc_segments,
)


def _pages(n: int) -> list[tuple[str, str, bytes]]:
    return [(page_url(f"src{i % 3}", i), page_date(i),
             page_html(i, f"text {i} " * (i + 1)).encode())
            for i in range(n)]


class TestWarcKernel:
    def test_round_trip_recovers_every_field(self):
        pages = _pages(5)
        recs = parse_warc(build_warc(pages))
        assert recs[0]["rec_type"] == "warcinfo"
        assert [r["rec_type"] for r in recs[1:]] == ["response"] * 5
        for (url, date, html), r in zip(pages, recs[1:]):
            assert r["target_uri"] == url
            assert r["warc_date"] == date
            assert r["http_status"] == 200
            assert r["http_content_type"] == "text/html; charset=utf-8"
            assert r["payload"] == html

    def test_offsets_are_contiguous_and_byte_exact(self):
        pages = _pages(4)
        blob = build_warc(pages)
        recs = parse_warc(blob)
        pos = 0
        for r in recs:
            assert r["offset"] == pos
            pos += r["length"]
        assert pos == len(blob)
        # the offset/length pair indexes the raw bytes (CDX contract)
        one = blob[recs[2]["offset"]:recs[2]["offset"] + recs[2]["length"]]
        assert parse_warc(one)[0]["target_uri"] == pages[1][0]

    def test_payload_may_contain_header_lookalikes(self):
        html = (b"<p>WARC/1.1\r\nWARC-Type: response\r\n"
                b"Content-Length: 7</p>")
        blob = warcinfo_record() + response_record(
            "https://x.org/a", "2024-01-01T00:00:00Z", html)
        recs = parse_warc(blob)
        assert recs[1]["payload"] == html

    def test_bad_magic_raises(self):
        with pytest.raises(ValueError, match="magic"):
            parse_warc(b"HTTP/1.1 200 OK\r\n\r\n")

    def test_corrupt_trailer_raises(self):
        blob = bytearray(warcinfo_record())
        blob[-1] = 0x58  # clobber final LF
        with pytest.raises(ValueError, match="trailer"):
            parse_warc(bytes(blob))


class TestExifKernel:
    def _build(self, endian: str) -> bytes:
        return build_exif_jpeg(endian, "Canon", "EOS-9", 6, (300, 1),
                               "2024:05:06 07:08:09", 1024)

    @pytest.mark.parametrize("endian", ["II", "MM"])
    def test_round_trip_both_byte_orders(self, endian):
        m = parse_exif(self._build(endian))
        assert m == {"endian": endian, "make": "Canon", "model": "EOS-9",
                     "orientation": 6, "xres_num": 300, "xres_den": 1,
                     "datetime_original": "2024:05:06 07:08:09",
                     "pixel_x": 1024}

    def test_fill_bytes_before_marker_are_skipped(self):
        blob = self._build("II")
        # inject T.81 fill bytes between APP0 and APP1
        app1 = blob.index(b"\xff\xe1")
        padded = blob[:app1] + b"\xff\xff\xff" + blob[app1:]
        assert parse_exif(padded)["make"] == "Canon"

    def test_missing_app1_raises(self):
        with pytest.raises(ValueError, match="no Exif"):
            parse_exif(b"\xff\xd8\xff\xd9")

    def test_not_a_jpeg_raises(self):
        with pytest.raises(ValueError, match="not a JPEG"):
            parse_exif(b"PK\x03\x04")

    def test_params_for_ref_are_sha_derived(self):
        ref = "media-00c0ffee"
        h = hashlib.sha256(ref.encode()).digest()
        p = exif_params_for_ref(ref)
        assert p["endian"] == ("II" if h[0] % 2 == 0 else "MM")
        assert p["orientation"] == 1 + h[3] % 8
        assert p["pixel_x"] == 16 + h[10]


class TestWarcSpark:
    def test_segments_and_records_round_trip(self, spark):
        docs = spark.createDataFrame(
            [(i, f"word {i} " * 3, f"src{i % 2}") for i in range(10)],
            "doc_id long, text string, source string")
        segs = warc_segments(docs, docs_per_file=4)
        seg_rows = {r["warc_file"]: r for r in segs.collect()}
        assert set(seg_rows) == {0, 1, 2}
        assert seg_rows[0]["n_records"] == 5  # warcinfo + 4 pages
        recs = warc_records(segs).filter("rec_type = 'response'")
        got = {r["target_uri"]: r for r in recs.collect()}
        assert len(got) == 10
        r7 = got[page_url("src1", 7)]
        assert r7["http_status"] == 200
        assert bytes(r7["payload"]) == page_html(7, "word 7 " * 3).encode()

    def test_segment_pages_in_doc_id_order_across_partitions(self, spark):
        # doc_ids in reverse order, one per input partition: the grouped
        # list arrives in shuffle order, the records in doc_id order
        docs = spark.createDataFrame(
            spark.sparkContext.parallelize(
                [(i, f"t{i}", "s") for i in range(3, -1, -1)], 4),
            "doc_id long, text string, source string")
        recs = warc_records(warc_segments(docs, docs_per_file=4)) \
            .filter("rec_type = 'response'").orderBy("offset")
        assert [r["target_uri"] for r in recs.collect()] == [
            page_url("s", i) for i in range(4)]

    def test_exif_operator_isolates_bad_payloads(self, spark):
        media = spark.createDataFrame(
            [("m-good", bytearray(build_exif_jpeg(
                "MM", "Make1", "Model2", 3, (72, 1),
                "2024:01:02 03:04:05", 99))),
             ("m-bad", bytearray(b"\x89PNG not a jpeg")),
             # cut after the APP1 marker, before its length
             ("m-cut", bytearray(b"\xff\xd8\xff\xe1")),
             # an Exif APP1 whose TIFF block holds only the byte order
             ("m-tiff", bytearray(b"\xff\xd8\xff\xe1\x00\x0aExif\x00\x00II"))],
            "media_ref string, payload binary")
        from stirling_pdf_spark.operators.multimodal import image_exif_meta

        rows = {r["media_ref"]: r for r in image_exif_meta(media).collect()}
        assert rows["m-good"]["model"] == "Model2"
        assert rows["m-good"]["reason"] is None
        assert rows["m-bad"]["make"] is None
        assert "JPEG" in rows["m-bad"]["reason"]
        for ref in ("m-cut", "m-tiff"):
            assert rows[ref]["make"] is None
            assert "truncated EXIF" in rows[ref]["reason"]

    def test_exif_operator_null_payload_is_an_error_row(self, spark):
        media = spark.createDataFrame(
            [("m-null", None)], "media_ref string, payload binary")
        from stirling_pdf_spark.operators.multimodal import image_exif_meta

        [row] = image_exif_meta(media).collect()
        assert row["media_ref"] == "m-null"
        assert row["make"] is None
        assert row["reason"] == "not a JPEG"
