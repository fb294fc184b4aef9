"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The reference ships image/attachment bytes around as base64 strings
inside JSON (PdfJsonImageElement.java:15-33, AttachmentService.java);
here media are first-class `binary` columns with struct metadata, the
layout a 100 TB training pipeline needs:

    media(media_ref: string, fmt: string, payload: binary)

Decode / feature-extract stages are row functions run through one
``map_rows`` stage (operators/extract_pipeline.py: payloads arrive as
``bytes`` straight off the Arrow batch, no pandas round trip). Decoding
is REAL for PPM/BMP (stdlib struct), PNG (stdlib zlib + all five
scanline filters), baseline JPEG (kernel/jpeg.py: Huffman entropy
decode + IDCT, grayscale and 4:4:4 color) and GIF (kernel/gif.py: the
GIF LZW variant + palette mapping) — no codec libraries needed.
Only formats that genuinely require external codecs (webp,
progressive JPEG, audio/video) raise NotImplementedError unless
`deterministic_fake=True` derives placeholder metadata from the
payload bytes (sha256-seeded), keeping schema/partitioning/batching
real and testable for those too.

Scale notes: payload columns stay out of the hot span table
(media_ref indirection), so scans that don't touch pixels never read
them (Parquet/Iceberg column pruning); decode stages bound Arrow batch
bytes via spark.sql.execution.arrow.maxRecordsPerBatch plus the
per-row size guard here (mirrors the reference's DPI/dimension OOM
guards, PdfUtils.java:140-154).
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .extract_pipeline import map_rows, spread

MAX_PAYLOAD_BYTES = 50 * 1024 * 1024  # reference: 50MB/file cap, AttachmentService.java:47

MEDIA_META_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("fmt", T.StringType(), True),
    T.StructField("n_bytes", T.LongType(), False),
    T.StructField("sha256", T.StringType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("oversize", T.BooleanType(), False),
])

FRAME_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("frame_no", T.IntegerType(), False),
    T.StructField("frame", T.BinaryType(), False),
])


def _fake_dims(digest: bytes) -> tuple[int, int]:
    """Deterministic fake decode: dimensions derived from the payload
    hash. Replace with a real codec (PIL/ffmpeg) in production."""
    w = 1 + int.from_bytes(digest[0:2], "big") % 4096
    h = 1 + int.from_bytes(digest[2:4], "big") % 4096
    return w, h


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(payload: bytes) -> tuple[int, int, bytes]:
    """Pure-stdlib PNG decode for non-interlaced 8-bit RGB/RGBA
    (the most common web/PDF image class): chunk walk (IHDR/IDAT/IEND),
    zlib inflate, and ALL FIVE scanline filters reversed
    (None/Sub/Up/Average/Paeth — PNG spec §9 Filtering). Returns
    (width, height, reconstructed raw pixel bytes). Interlaced,
    paletted and 16-bit images raise NotImplementedError — honest
    scope, not a stub: the decode here is real reconstruction, pinned
    byte-for-byte by the encode/decode round-trip test."""
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, w, h, idat = 8, 0, 0, b""
    plte: bytes | None = None
    depth = color_type = interlace = None
    while pos + 8 <= len(payload):
        (length,), ctype = struct.unpack_from(">I", payload, pos), \
            payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        pos += 12 + length  # skip CRC
        if ctype == b"IHDR":
            if len(data) != 13:
                raise ValueError("PNG IHDR is not 13 bytes")
            w, h, depth, color_type, _comp, _filt, interlace = \
                struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = bytes(data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if depth is None:
        raise ValueError("missing IHDR")
    if depth != 8 or color_type not in (2, 3, 6) or interlace:
        raise NotImplementedError(
            "only non-interlaced 8-bit RGB/RGBA/paletted PNG is supported")
    if color_type == 3 and (plte is None or len(plte) % 3):
        raise ValueError("paletted PNG without a valid PLTE chunk")
    ch = {2: 3, 3: 1, 6: 4}[color_type]
    try:
        raw = zlib.decompress(idat)
    except zlib.error as e:
        # corrupt/truncated IDAT must surface as the decoder's own
        # error class so the Arrow stage's per-row isolation catches it
        raise ValueError(f"corrupt IDAT stream: {e}") from e
    stride = w * ch
    if len(raw) != h * (1 + stride):
        raise ValueError("scanline data does not match dimensions")
    out = bytearray()
    prev = bytearray(stride)
    i = 0
    for _ in range(h):
        ft = raw[i]
        row = bytearray(raw[i + 1:i + 1 + stride])
        i += 1 + stride
        if ft == 1:      # Sub
            for x in range(ch, stride):
                row[x] = (row[x] + row[x - ch]) & 0xFF
        elif ft == 2:    # Up
            for x in range(stride):
                row[x] = (row[x] + prev[x]) & 0xFF
        elif ft == 3:    # Average
            for x in range(stride):
                left = row[x - ch] if x >= ch else 0
                row[x] = (row[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ft == 4:    # Paeth
            for x in range(stride):
                row[x] = (row[x] + _paeth(
                    row[x - ch] if x >= ch else 0, prev[x],
                    prev[x - ch] if x >= ch else 0)) & 0xFF
        elif ft != 0:
            raise ValueError(f"invalid scanline filter {ft}")
        out += row
        prev = row
    if color_type == 3:
        n = len(plte) // 3
        rgb = bytearray()
        for i in out:
            if i >= n:
                raise ValueError("palette index out of range")
            rgb += plte[3 * i:3 * i + 3]
        return w, h, bytes(rgb)
    return w, h, bytes(out)


def decode_image(payload: bytes, deterministic_fake: bool = False):
    """REAL decode for the stdlib-parseable raster containers — no
    codec libraries:

      * binary PPM ("P6"): ASCII header `P6 <w> <h> <maxval>` with
        whitespace/comment separators, then raw RGB triples;
      * BMP ("BM"): BITMAPINFOHEADER width/height at offsets 18/22
        (height may be negative for top-down bitmaps);
      * PNG: full non-interlaced RGB/RGBA8 decode via decode_png
        (zlib inflate + the five scanline filters);
      * JPEG: baseline sequential DCT via kernel/jpeg.decode (marker
        walk, Huffman entropy decode, dequant + IDCT, restart
        intervals; grayscale and 4:4:4 color).

      * GIF: LZW decode + palette mapping via kernel/gif.decode.

    Returns (width, height). Formats that genuinely need external
    codecs (webp, progressive/subsampled JPEG) raise
    NotImplementedError unless ``deterministic_fake`` asks for the
    hash-derived placeholder dims (plumbing tests)."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        w, h, _px = decode_png(payload)
        return w, h
    if payload[:3] == b"\xFF\xD8\xFF":
        from ..kernel import jpeg

        w, h, _nc, _px = jpeg.decode(payload)
        return w, h
    if payload[:4] == b"GIF8":
        from ..kernel import gif

        w, h, _px = gif.decode(payload)
        return w, h
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from ..kernel import tiff

        w, h, _ch, _px = tiff.decode(payload)
        return w, h
    if payload[:2] == b"P6":
        # header tokens may be separated by any whitespace; '#' starts
        # a comment running to end-of-line
        tokens: list[bytes] = []
        i = 2
        while len(tokens) < 3 and i < len(payload):
            c = payload[i:i + 1]
            if c == b"#":
                while i < len(payload) and payload[i:i + 1] != b"\n":
                    i += 1
            elif c.isspace():
                i += 1
            else:
                j = i
                while j < len(payload) and not payload[j:j + 1].isspace():
                    j += 1
                tokens.append(payload[i:j])
                i = j
        w, h = int(tokens[0]), int(tokens[1])
        return w, h
    if payload[:2] == b"BM":
        import struct

        w, h = struct.unpack_from("<ii", payload, 18)
        return w, abs(h)
    if deterministic_fake:
        return _fake_dims(hashlib.sha256(payload).digest())
    raise NotImplementedError(
        "compressed image codecs not available in this environment")


def decode_pixels(payload: bytes) -> tuple[int, int, bytes]:
    """REAL full-raster decode -> (width, height, interleaved RGB
    bytes) for every container the engine decodes: PNG (defilter;
    RGBA drops alpha), baseline JPEG (grayscale expands to RGB), GIF
    (palette-mapped), binary PPM (raw triples) and 24bpp BMP
    (bottom-up padded BGR rows re-ordered). This is the input stage
    for pixel-consuming operators (perceptual hashing); formats that
    need external codecs raise NotImplementedError like
    decode_image; a BMP or PNG cut inside its header raises
    ValueError, which ``map_luma`` catches."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        w, h, px = decode_png(payload)
        if len(px) == 4 * w * h:        # RGBA -> RGB
            px = bytes(b for i, b in enumerate(px) if i % 4 != 3)
        return w, h, px
    if payload[:3] == b"\xFF\xD8\xFF":
        from ..kernel import jpeg

        w, h, nc, px = jpeg.decode(payload)
        if nc == 1:
            px = bytes(v for v in px for _ in range(3))
        return w, h, px
    if payload[:4] == b"GIF8":
        from ..kernel import gif

        w, h, px = gif.decode(payload)
        return w, h, px
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from ..kernel import tiff

        w, h, ch, px = tiff.decode(payload)
        if ch == 1:
            px = bytes(v for v in px for _ in range(3))
        return w, h, px
    if payload[:2] == b"P6":
        w, h = decode_image(payload)
        # pixel data starts after the third header token's whitespace
        tokens = 0
        i = 2
        while tokens < 3 and i < len(payload):
            c = payload[i:i + 1]
            if c == b"#":
                while i < len(payload) and payload[i:i + 1] != b"\n":
                    i += 1
            elif c.isspace():
                i += 1
            else:
                while i < len(payload) and not payload[i:i + 1].isspace():
                    i += 1
                tokens += 1
        i += 1  # single whitespace after maxval
        px = payload[i:i + 3 * w * h]
        if len(px) != 3 * w * h:
            raise ValueError("truncated PPM pixel data")
        return w, h, px
    if payload[:2] == b"BM":
        if len(payload) < 30:   # the fixed fields read below end at 30
            raise ValueError("truncated BMP header")
        (data_off,) = struct.unpack_from("<I", payload, 10)
        w, h_raw = struct.unpack_from("<ii", payload, 18)
        (bpp,) = struct.unpack_from("<H", payload, 28)
        if bpp != 24:
            raise NotImplementedError("only 24bpp BMP")
        h = abs(h_raw)
        stride = (3 * w + 3) & ~3
        rows = []
        order = range(h) if h_raw < 0 else range(h - 1, -1, -1)
        for r in order:
            row = payload[data_off + r * stride:
                          data_off + r * stride + 3 * w]
            if len(row) != 3 * w:
                raise ValueError("truncated BMP pixel data")
            # BGR -> RGB
            rows.append(bytes(row[3 * c + 2 - k] for c in range(w)
                              for k in range(3)))
        return w, h, b"".join(rows)
    raise NotImplementedError(
        "compressed image codecs not available in this environment")


IMAGE_DECODE_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("fmt", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("n_bytes", T.LongType(), False),
    # first 8 reconstructed pixel bytes as hex — PNG and JPEG only
    # (proof the defiltered / entropy-decoded+IDCT pixel stream is
    # real, not header sniffing); null for containers whose pixels are
    # stored raw
    T.StructField("px_head", T.StringType(), True),
])


def map_luma(media: DataFrame, payload_col: str, ref_col: str, fn,
             schema: T.StructType) -> DataFrame:
    """The row stage of the pixel operators (perceptual hashes, quality
    stats): each payload decoded by ``decode_pixels`` to its BT.601
    integer luma plane (299r+587g+114b)//1000, an int64 (height, width)
    array, and ``fn(width, height, luma)`` -> the row's values after
    media_ref, in ``schema`` order. A payload that does not decode, or
    whose raster ``fn`` cannot take, yields media_ref and nulls (per-row
    error isolation); this is the one place that decides which errors
    those are."""
    import numpy as np

    src = media.select(F.col(ref_col).alias("media_ref"),
                       F.col(payload_col).alias("payload"))
    nulls = (None,) * (len(schema.fields) - 1)

    def run(ref, payload):
        try:
            w, h, rgb = decode_pixels(payload or b"")
            px = np.frombuffer(rgb, np.uint8).reshape(h, w, 3).astype(np.int64)
            luma = (299 * px[:, :, 0] + 587 * px[:, :, 1]
                    + 114 * px[:, :, 2]) // 1000
            row = (ref, *fn(w, h, luma))
        except (NotImplementedError, ValueError, IndexError):
            row = (ref, *nulls)
        yield row

    return map_rows(src, run, schema)


def decode_images(media: DataFrame, payload_col: str = "payload",
                  ref_col: str = "media_ref",
                  fmt_col: str = "fmt",
                  with_reason: bool = False) -> DataFrame:
    """Arrow-batched REAL decode stage over raster payloads: one
    narrow map_rows stage, no shuffle; undecodable payloads yield null
    dims instead of failing the batch (per-row error isolation, the
    behavior a 100 TB sweep needs). ``with_reason=True`` appends the
    per-row failure message column (the decode_audio/probe_video
    contract); the default keeps the original schema the r4 gates
    pinned."""
    src = media.select(F.col(ref_col).alias("media_ref"),
                       F.col(fmt_col).alias("fmt"),
                       F.col(payload_col).alias("payload"))
    schema = IMAGE_DECODE_SCHEMA
    if with_reason:
        schema = T.StructType(
            IMAGE_DECODE_SCHEMA.fields
            + [T.StructField("reason", T.StringType(), True)])

    def run(ref, fmt, payload):
        b = payload or b""
        px_head = None
        reason = None
        try:
            if b[:8] == b"\x89PNG\r\n\x1a\n":
                w, h, px = decode_png(b)
                px_head = px[:8].hex()
            elif b[:3] == b"\xFF\xD8\xFF":
                from ..kernel import jpeg

                w, h, _nc, px = jpeg.decode(b)
                px_head = px[:8].hex()
            elif b[:4] == b"GIF8":
                from ..kernel import gif

                w, h, px = gif.decode(b)
                px_head = px[:8].hex()
            elif b[:4] in (b"II*\x00", b"MM\x00*"):
                from ..kernel import tiff

                w, h, _ch, px = tiff.decode(b)
                px_head = px[:8].hex()
            else:
                w, h = decode_image(b)
        except (NotImplementedError, ValueError, IndexError,
                struct.error) as e:
            # struct.error: truncated container headers ('BM'
            # prefix shorter than its fixed fields) must stay a
            # per-row null, not an Arrow-batch failure
            w = h = None
            reason = str(e) or type(e).__name__
        row = (ref, fmt, w, h, len(b), px_head)
        yield row + (reason,) if with_reason else row

    return map_rows(src, run, schema)


# PDFBox PDRectangle.A4 in points (210 x 297 mm at 72 dpi)
A4_W, A4_H = 210 * 72 / 25.4, 297 * 72 / 25.4

IMG2PDF_FITS = ("fillPage", "fitDocumentToImage", "maintainAspectRatio")


def images_to_pdf(images: DataFrame, fit_option: str = "fillPage",
                  auto_rotate: bool = False, page_w: float = A4_W,
                  page_h: float = A4_H) -> DataFrame:
    """Image(s) -> PDF (/convert/img/pdf, PdfUtils.imageToPdf +
    addImageToDocument:439-530): one page per image in upload order —
    A4 by default, swapped to landscape under autoRotate when the
    image is wider than tall, or sized to the image itself under
    fitDocumentToImage; the draw covers the whole page (fillPage /
    fitDocumentToImage) or scales to fit and centers
    (maintainAspectRatio). Image dimensions come from the REAL
    decoders (decode_image); a document containing an undecodable
    image drops entirely (the endpoint fails the whole request —
    per-doc isolation is the batch analogue). A MULTI-PAGE TIFF
    expands to one PDF page per directory entry in chain order
    (PdfUtils.java:452-470 iterates the reader's page count), each
    frame's media span referencing '{ref}#p{i}'; single-frame TIFFs
    keep the plain ref. EXIF rotation and color-type conversion
    still need codec libraries (SCOPE.md).

    Input: (doc_id, seq, media_ref, payload); output: a raw docs
    table (pagemeta + media spans) any downstream operator consumes.
    One groupBy(doc_id) shuffle — inherent: a document is assembled
    from its images."""
    import struct as _struct

    if fit_option not in IMG2PDF_FITS:
        raise ValueError(f"unknown fitOption {fit_option!r}")
    from ..kernel import wire as _wire
    from ..sources.tables import DOCS_SCHEMA

    def build(doc_id, images):
        spans: list[tuple] = []
        page = 0
        for _seq, ref, payload in sorted(images, key=lambda im: im[0]):
            b = payload or b""
            try:
                if b[:4] in (b"II*\x00", b"MM\x00*"):
                    from ..kernel import tiff

                    dims = [(w, h) for (w, h, _ch, _px)
                            in tiff.decode_pages(b)]
                    frames = ([(ref, dims[0][0], dims[0][1])]
                              if len(dims) == 1 else
                              [(f"{ref}#p{i}", w, h)
                               for i, (w, h) in enumerate(dims)])
                else:
                    iw, ih = decode_image(b)
                    frames = [(ref, iw, ih)]
            except (NotImplementedError, ValueError, IndexError,
                    _struct.error):
                return
            for ref, iw, ih in frames:
                page += 1
                _emit_pdf_page(spans, page, ref, iw, ih)
        if spans:
            yield doc_id, spans

    def _emit_pdf_page(spans: list[tuple], page: int, ref: str,
                       iw: int, ih: int) -> None:
        pw, ph = page_w, page_h
        if auto_rotate and iw > ih:
            pw, ph = page_h, page_w
        if fit_option == "fitDocumentToImage":
            pw, ph = float(iw), float(ih)
        if fit_option == "maintainAspectRatio":
            scale = (pw / iw if iw / ih > pw / ph else ph / ih)
            w, h = iw * scale, ih * scale
            x = (pw - w) / 2
            y_pos = (ph - h) / 2        # user-space bottom offset
            y = ph - y_pos - h          # screen top (== y_pos)
        else:
            x, y, w, h = 0.0, 0.0, pw, ph
        spans.append(("pagemeta", _wire.encode_pagemeta(page, pw, ph, 0, ""),
                      "", len(spans)))
        spans.append(("media", f"{page}|{x!r}|{y!r}|{w!r}|{h!r}", ref,
                      len(spans)))

    # build() decodes every image (TIFF page chains, JPEG scans); the
    # groupBy reuses the spread's exchange on doc_id. Measured:
    # tiff_to_pdf 5.9 s -> 1.4 s at sf0.1/local[32]. collect_list
    # order is arbitrary: build() sorts by seq.
    docs = spread(images, "doc_id").groupBy("doc_id").agg(
        F.collect_list(F.struct("seq", "media_ref", "payload")).alias("images"))
    return map_rows(docs, build, DOCS_SCHEMA)


def media_metadata(media: DataFrame, payload_col: str = "payload",
                   ref_col: str = "media_ref", fmt_col: str | None = "fmt") -> DataFrame:
    """Arrow-batched metadata extraction over binary payloads.
    One narrow map stage — no shuffle; batch shape = whole Arrow
    record batches of (ref, fmt, payload)."""
    cols = [F.col(ref_col).alias("media_ref"), F.col(payload_col).alias("payload")]
    cols.insert(1, F.col(fmt_col).alias("fmt") if fmt_col else F.lit(None).cast("string").alias("fmt"))
    src = media.select(*cols)

    def extract(ref, fmt, payload):
        b = payload or b""
        digest = hashlib.sha256(b)
        w, h = _fake_dims(digest.digest())
        yield (ref, fmt, len(b), digest.hexdigest(), w, h,
               len(b) > MAX_PAYLOAD_BYTES)

    return map_rows(src, extract, MEDIA_META_SCHEMA)


def frame_sample(media: DataFrame, frame_bytes: int = 4096, every_n: int = 10,
                 payload_col: str = "payload", ref_col: str = "media_ref") -> DataFrame:
    """Video-style frame sampling over an opaque payload: split into
    fixed-size 'frames', keep every Nth. Real decoders swap in at the
    chunking step; the fan-out shape (one row in, many out) and the
    downstream explode/partition behavior are the real thing."""
    src = media.select(F.col(ref_col).alias("media_ref"),
                       F.col(payload_col).alias("payload"))

    def sample(ref, payload):
        b = payload or b""
        n_frames = (len(b) + frame_bytes - 1) // frame_bytes
        for i in range(0, n_frames, every_n):
            yield ref, i, b[i * frame_bytes:(i + 1) * frame_bytes]

    return map_rows(src, sample, FRAME_SCHEMA)


def resolve_media(spans_out: DataFrame, media: DataFrame) -> DataFrame:
    """H4 cid:/media_ref resolution (EmlProcessingUtils.java:249-251,
    PdfAttachmentHandler.processInlineImages): join span refs to the
    blob table. The media side is the smaller/dimension side at typical
    ratios — broadcast when it fits, else it's a plain shuffle equijoin
    on the content hash (uniform by construction, no skew)."""
    refs = (
        spans_out.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.media_ref") != "")
        .select("doc_id", F.col("s.kind").alias("kind"),
                F.col("s.media_ref").alias("media_ref"),
                F.col("s.order").alias("order"))
    )
    return refs.join(media, "media_ref", "left").select(
        "doc_id", "kind", "media_ref", "order", "fmt",
        F.octet_length("payload").cast("long").alias("n_bytes"),
    )


def text_payload_metadata(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Pure-SQL analogue of media_metadata with text bytes as the
    payload (oracle-checkable: sha2/octet_length are deterministic in
    both engines; fake dims are integer arithmetic on byte length).
    Output: (id, n_bytes, sha256, width, height)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    n = F.octet_length(F.col(text_col)).cast("long")
    return docs.select(
        F.col(id_col).alias("id"),
        n.alias("n_bytes"),
        F.lower(F.sha2(payload, 256)).alias("sha256"),
        (F.lit(1) + (n * 2654435761) % 4096).cast("int").alias("width"),
        (F.lit(1) + (n * 2246822519) % 4096).cast("int").alias("height"),
    )


AUDIO_DECODE_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("fmt", T.StringType(), True),
    T.StructField("n_bytes", T.LongType(), False),
    T.StructField("channels", T.IntegerType(), True),
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("bits", T.IntegerType(), True),
    T.StructField("n_frames", T.LongType(), True),
    T.StructField("duration_ms", T.LongType(), True),
    # integer |sample| statistics (peak / sum) — proof the PCM stream
    # was actually decoded, not header-sniffed
    T.StructField("peak", T.LongType(), True),
    T.StructField("sum_abs", T.LongType(), True),
    T.StructField("reason", T.StringType(), True),
])


def decode_audio(media: DataFrame, payload_col: str = "payload",
                 ref_col: str = "media_ref",
                 fmt_col: str = "fmt") -> DataFrame:
    """Arrow-batched REAL audio decode stage (kernel/wav.py RIFF/PCM):
    one narrow map_rows stage, no shuffle; undecodable payloads yield
    null stats + a reason instead of failing the batch — the same
    per-row error isolation as decode_images."""
    from ..kernel import wav

    src = media.select(F.col(ref_col).alias("media_ref"),
                       F.col(fmt_col).alias("fmt"),
                       F.col(payload_col).alias("payload"))

    def run(ref, fmt, payload):
        b = payload or b""
        info = reason = None
        try:
            info = wav.decode(b)
        except (NotImplementedError, ValueError, struct.error) as e:
            reason = str(e) or type(e).__name__
        yield (ref, fmt, len(b), *(
            getattr(info, field) if info else None
            for field in ("channels", "sample_rate", "bits", "n_frames",
                          "duration_ms", "peak", "sum_abs")), reason)

    return map_rows(src, run, AUDIO_DECODE_SCHEMA)


AUDIO_SILENCE_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("n_samples", T.LongType(), True),
    # leading / trailing runs of exactly-zero samples, in interleaved
    # samples; an all-silent stream reports lead = n_samples, trail = 0
    T.StructField("lead_silence", T.LongType(), True),
    T.StructField("trail_silence", T.LongType(), True),
    T.StructField("trimmed_ms", T.LongType(), True),
    T.StructField("peak", T.LongType(), True),
    T.StructField("energy_abs", T.LongType(), True),
    T.StructField("reason", T.StringType(), True),
])


def audio_silence_stats(media: DataFrame, payload_col: str = "payload",
                        ref_col: str = "media_ref") -> DataFrame:
    """Silence-trim feature stage over decoded PCM — the standard ASR
    training-corpus preprocessing step (find the leading/trailing
    zero-sample runs, report the trimmed duration and the energy of
    what remains). Consumes kernel/wav.decode_samples, the same parser
    as decode_audio, so container handling never diverges.

    Scale shape: one narrow map_rows stage over the payload column, no
    shuffle; per-row error isolation (null stats + reason) exactly as
    decode_audio/decode_images. Integer outputs keep the DuckDB
    oracle exact."""
    import numpy as np

    from ..kernel import wav

    src = media.select(F.col(ref_col).alias("media_ref"),
                       F.col(payload_col).alias("payload"))

    def run(ref, payload):
        row, reason = (None,) * 6, None
        try:
            channels, rate, _bits, arr = wav.decode_samples(payload or b"")
            n = int(arr.size)
            nz = np.flatnonzero(arr)
            if nz.size:
                lead = int(nz[0])
                trail = n - 1 - int(nz[-1])
            else:
                lead, trail = n, 0
            kept = arr[lead:n - trail]
            a = np.abs(kept)
            row = (n, lead, trail,
                   (kept.size // channels) * 1000 // rate,
                   int(a.max()) if a.size else 0,
                   int(a.sum()))
        except (NotImplementedError, ValueError, struct.error) as e:
            reason = str(e) or type(e).__name__
        yield (ref, *row, reason)

    return map_rows(src, run, AUDIO_SILENCE_SCHEMA)


VIDEO_PROBE_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("fmt", T.StringType(), True),
    T.StructField("n_bytes", T.LongType(), False),
    T.StructField("major_brand", T.StringType(), True),
    T.StructField("timescale", T.IntegerType(), True),
    T.StructField("duration_ms", T.LongType(), True),
    T.StructField("n_tracks", T.IntegerType(), True),
    T.StructField("n_video", T.IntegerType(), True),
    T.StructField("n_audio", T.IntegerType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("reason", T.StringType(), True),
])


def probe_video(media: DataFrame, payload_col: str = "payload",
                ref_col: str = "media_ref",
                fmt_col: str = "fmt") -> DataFrame:
    """Arrow-batched REAL ISO-BMFF container probe (kernel/mp4.py box
    walk — the ffprobe-shaped metadata stage; frame decode needs
    codec libraries and stays out of scope per SCOPE.md): one narrow
    map_rows stage, unparseable payloads yield null metadata + a reason,
    never a batch failure."""
    from ..kernel import mp4

    src = media.select(F.col(ref_col).alias("media_ref"),
                       F.col(fmt_col).alias("fmt"),
                       F.col(payload_col).alias("payload"))

    def run(ref, fmt, payload):
        b = payload or b""
        info = reason = None
        try:
            info = mp4.probe(b)
        except (NotImplementedError, ValueError, struct.error) as e:
            reason = str(e) or type(e).__name__
        yield (ref, fmt, len(b), *(
            getattr(info, field) if info else None
            for field in ("major_brand", "timescale", "duration_ms",
                          "n_tracks", "n_video", "n_audio", "width",
                          "height")), reason)

    return map_rows(src, run, VIDEO_PROBE_SCHEMA)


def media_caption_pairs(flat_spans: DataFrame) -> DataFrame:
    """Caption mining over extracted spans — the alt-text/caption
    pairing stage of multimodal dataset builds (pair every image with
    the text that immediately precedes it in reading order; cf. the
    public LAION/OBELICS recipes): for each media span, the LAST text
    span before it in the document's global span order.

    One window per document ordered by span order (last_value with
    ignorenulls carries the running caption candidate forward), then a
    filter to media rows — a single doc-keyed exchange.

    Input: exploded spans (doc_id, order, kind, text, media_ref).
    Output: (doc_id, media_ref, caption) — caption NULL when no text
    precedes the image.
    """
    from pyspark.sql import Window

    w = (Window.partitionBy("doc_id").orderBy("order")
         .rowsBetween(Window.unboundedPreceding, 0))
    cap = F.last(
        F.when(F.col("kind") == "text", F.col("text")), ignorenulls=True,
    ).over(w)
    return (
        flat_spans.withColumn("caption", cap)
        .filter(F.col("kind") == "media")
        .select("doc_id", "media_ref", "caption")
    )


def image_size_filter(decoded: DataFrame, min_side: int = 16,
                      max_aspect: int = 3) -> DataFrame:
    """LAION-style raster hygiene over DECODED dimensions: keep an
    image iff both sides reach ``min_side`` pixels and the aspect
    ratio stays within ``max_aspect``:1 either way (integer
    cross-multiplications — no float ratios). Undecodable rows (null
    dims) are dropped with keep=0 flags, never silently.

    Input: decode_images output. Output: (media_ref, fmt, width,
    height, keep_size:int, keep_aspect:int, keep:int).
    """
    w, h = F.col("width"), F.col("height")
    ok = w.isNotNull() & h.isNotNull()
    keep_size = (ok & (w >= min_side) & (h >= min_side)).cast("int")
    keep_aspect = (ok & (h * max_aspect >= w)
                   & (w * max_aspect >= h)).cast("int")
    return decoded.select(
        "media_ref", "fmt", "width", "height",
        keep_size.alias("keep_size"),
        keep_aspect.alias("keep_aspect"),
        (keep_size.cast("boolean") & keep_aspect.cast("boolean"))
        .cast("int").alias("keep"),
    )


PNG_TEXT_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("pos", T.IntegerType(), False),
    T.StructField("key", T.StringType(), False),
    T.StructField("value", T.StringType(), False),
])


def png_text_chunks(media: DataFrame, payload_col: str = "payload",
                    ref_col: str = "media_ref") -> DataFrame:
    """PNG textual-metadata extraction (tEXt chunks, PNG 1.2
    §4.2.3.1) — the image-side analogue of document metadata (E15):
    one narrow map_rows stage over the blob table walking the chunk
    layout (length/type/data/crc framing), emitting (ref, pos, key,
    value) per tEXt chunk in file order. Non-PNG or truncated
    payloads contribute no rows (the decode_images error-isolation
    contract); values decode as latin-1 per spec, so extraction
    never raises on byte content."""
    import struct

    src = media.select(F.col(ref_col).alias("media_ref"),
                       F.col(payload_col).alias("payload"))

    def run(ref, payload):
        b = payload or b""
        if b[:8] != b"\x89PNG\r\n\x1a\n":
            return
        off, pos = 8, 0
        while off + 8 <= len(b):
            (ln,) = struct.unpack(">I", b[off:off + 4])
            ctype = b[off + 4:off + 8]
            data_end = off + 8 + ln
            if data_end + 4 > len(b):
                break           # truncated: keep rows so far
            if ctype == b"tEXt":
                data = b[off + 8:data_end]
                nul = data.find(b"\x00")
                if nul >= 0:
                    yield (ref, pos, data[:nul].decode("latin-1"),
                           data[nul + 1:].decode("latin-1"))
                    pos += 1
            if ctype == b"IEND":
                break
            off = data_end + 4

    return map_rows(src, run, PNG_TEXT_SCHEMA)


AUDIO_ENERGY_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("n_samples", T.LongType(), True),
    T.StructField("peak", T.LongType(), True),
    T.StructField("energy", T.LongType(), True),
    T.StructField("reason", T.StringType(), True),
])


def audio_energy(media: DataFrame, payload_col: str = "payload",
                 ref_col: str = "media_ref") -> DataFrame:
    """Integer-exact audio energy stage: sample count, peak |s| and
    total energy sum(s^2) per PCM16 payload — the loudness features an
    audio-corpus filter runs (silence/clipping screens) kept in pure
    int64 so the oracle states them closed-form (RMS needs a sqrt, so
    the ENERGY is the engine-stable quantity; callers derive RMS
    downstream). One narrow map_rows stage; undecodable payloads keep
    the row with null stats + reason (decode_images contract)."""
    import numpy as np

    from ..kernel import wav

    src = media.select(F.col(ref_col).alias("media_ref"),
                       F.col(payload_col).alias("payload"))

    def run(ref, payload):
        n = pk = en = reason = None
        try:
            _ch, _rate, _bits, arr = wav.decode_samples(payload or b"")
            a = np.abs(arr.astype(np.int64))
            n = int(a.size)
            pk = int(a.max()) if n else 0
            en = int((a * a).sum())
        except (NotImplementedError, ValueError, struct.error) as e:
            reason = str(e) or type(e).__name__
        yield ref, n, pk, en, reason

    return map_rows(src, run, AUDIO_ENERGY_SCHEMA)


def image_exif_meta(media: DataFrame, payload_col: str = "payload",
                    ref_col: str = "media_ref") -> DataFrame:
    """Per-image EXIF provenance columns via the real TIFF/IFD walk
    (kernel/exif.parse_exif): camera make/model, orientation,
    X resolution rational, DateTimeOriginal and PixelXDimension.
    Parse failures (no APP1, truncated TIFF) become error rows with a
    reason, never task failures — the LAION-style metadata hygiene
    stage. Narrow map_rows stage: blobs parse where they sit, no
    shuffle; a null payload parses as empty (a 'not a JPEG' row)."""
    from ..kernel.exif import parse_exif

    schema = T.StructType([
        T.StructField(ref_col, T.StringType()),
        T.StructField("endian", T.StringType()),
        T.StructField("make", T.StringType()),
        T.StructField("model", T.StringType()),
        T.StructField("orientation", T.IntegerType()),
        T.StructField("xres_num", T.IntegerType()),
        T.StructField("xres_den", T.IntegerType()),
        T.StructField("datetime_original", T.StringType()),
        T.StructField("pixel_x", T.IntegerType()),
        T.StructField("reason", T.StringType()),
    ])

    def run(ref, payload):
        try:
            m = parse_exif(payload or b"")
            yield (ref, m["endian"], m["make"], m["model"],
                   m["orientation"], m["xres_num"], m["xres_den"],
                   m["datetime_original"], m["pixel_x"], None)
        except (ValueError, IndexError, KeyError) as exc:
            yield (ref, None, None, None, None, None, None, None, None,
                   str(exc))

    return map_rows(media.select(ref_col, payload_col), run, schema)


TIFF_PAGES_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("page", T.IntegerType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("px_head", T.StringType(), True),
])


def tiff_pages(media: DataFrame, payload_col: str = "payload",
               ref_col: str = "media_ref") -> DataFrame:
    """Explode multi-page TIFFs into per-page frame rows — the
    container walk the reference performs in PdfUtils.imageToPdf
    (PdfUtils.java:439-531: one PDF page per TIFF directory entry).
    One narrow map_rows stage over the blob table, no shuffle; an
    undecodable payload yields a single (null page) row instead of
    failing the batch. Output: (media_ref, page, width, height,
    px_head) with page 0-based in IFD-chain order and px_head the
    first 8 DECODED bytes (proof the strip/PackBits walk is real)."""
    from ..kernel import tiff

    src = media.select(F.col(ref_col).alias("media_ref"),
                       F.col(payload_col).alias("payload"))

    def run(ref, payload):
        try:
            pages = tiff.decode_pages(payload or b"")
        except (NotImplementedError, ValueError, struct.error, IndexError):
            yield ref, None, None, None, None
            return
        for i, (w, h, _ch, px) in enumerate(pages):
            yield ref, i, w, h, px[:8].hex()

    return map_rows(src, run, TIFF_PAGES_SCHEMA)


def image_quality_stats(media: DataFrame, payload_col: str = "payload",
                        ref_col: str = "media_ref",
                        dark_mean: int = 40, bright_mean: int = 215,
                        flat_var: int = 64,
                        outlier_dev_x1000: int = 10000) -> DataFrame:
    """Image quality filtering over DECODED pixels — the standard
    multimodal-pipeline admission stage (drop too-dark / too-bright /
    near-constant rasters, plus corpus-level luma outliers; the
    reference never looks at pixels, ExtractImagesController.java
    dedups bytes only, so this extends the engine the way the
    training-pipeline brief calls for).

    Integer-exact throughout (house style — no floats): per image the
    BT.601 luma (299r+587g+114b)//1000 is summed exactly (sum, sum of
    squares, min, max), and the flags are pure integer
    cross-multiplications:
      dark      sum < dark_mean * n
      bright    sum > bright_mean * n
      flat      n*ssq - sum^2 < flat_var * n^2   (variance < flat_var)
      outlier   |mean_x1000 - corpus_mean_x1000| > outlier_dev_x1000
    keep = 1 iff none fire. Undecodable payloads emit null stats and
    keep = 0 (per-row error isolation).

    Scale shape: one narrow map_rows decode pass (no shuffle), one
    2-long-column corpus aggregate broadcast back — a classifier pass
    must not cost a shuffle at 10^12 images, and this one doesn't."""
    schema = T.StructType([
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("sum_luma", T.LongType(), True),
        T.StructField("ssq_luma", T.LongType(), True),
        T.StructField("min_luma", T.IntegerType(), True),
        T.StructField("max_luma", T.IntegerType(), True),
    ])

    def moments(w, h, luma):
        return (w, h, int(luma.size), int(luma.sum()),
                int((luma * luma).sum()), int(luma.min()), int(luma.max()))

    stats = map_luma(media, payload_col, ref_col, moments, schema)
    corpus = stats.filter(F.col("n_px").isNotNull()).agg(
        F.sum("sum_luma").cast("long").alias("tot_sum"),
        F.sum("n_px").cast("long").alias("tot_n"))
    joined = stats.crossJoin(F.broadcast(corpus))
    mean = F.expr("(1000 * sum_luma) div n_px")
    gmean = F.expr("(1000 * tot_sum) div tot_n")
    dark = F.col("sum_luma") < dark_mean * F.col("n_px")
    bright = F.col("sum_luma") > bright_mean * F.col("n_px")
    flat = (F.col("n_px") * F.col("ssq_luma")
            - F.col("sum_luma") * F.col("sum_luma")
            < flat_var * F.col("n_px") * F.col("n_px"))
    outlier = F.abs(mean - gmean) > outlier_dev_x1000
    bad = dark | bright | flat | outlier
    flag = lambda c: F.when(F.col("n_px").isNull(), F.lit(None)) \
        .otherwise(c.cast("int")).cast("long")  # noqa: E731
    return joined.select(
        "media_ref", "width", "height", "n_px", "sum_luma", "ssq_luma",
        "min_luma", "max_luma",
        F.when(F.col("n_px").isNotNull(), mean).cast("long")
        .alias("mean_x1000"),
        flag(dark).alias("dark"), flag(bright).alias("bright"),
        flag(flat).alias("flat"), flag(outlier).alias("outlier"),
        F.when(F.col("n_px").isNull(), F.lit(0))
        .otherwise((~bad).cast("int")).cast("long").alias("keep"),
    )


AUDIO_DOWNSAMPLE_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("channels", T.IntegerType(), True),
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("rate_out", T.IntegerType(), True),
    T.StructField("n_out_frames", T.LongType(), True),
    T.StructField("peak_out", T.LongType(), True),
    T.StructField("sumabs_out", T.LongType(), True),
    T.StructField("energy_out", T.LongType(), True),
    T.StructField("reason", T.StringType(), True),
])


def audio_downsample(media: DataFrame, factor: int = 4,
                     payload_col: str = "payload",
                     ref_col: str = "media_ref") -> DataFrame:
    """Sample-rate normalization by block-mean decimation — the audio
    corpus standardization stage (training pipelines resample
    everything to one rate before featurization; block averaging is
    the integer anti-aliasing-lite decimator that needs no float
    filter taps). Per channel, every ``factor`` consecutive frames
    collapse to their FLOOR-division mean (numpy floor_divide
    semantics — rounds toward -inf, which the closed-form oracle
    states exactly); a trailing partial block is dropped.

    Output keeps the integer loudness statistics of the RESAMPLED
    signal (count/peak/sum|s|/energy) rather than the samples — the
    engine-stable quantities (audio_energy's contract). One narrow
    map_rows stage, no shuffle; undecodable rows carry a reason."""
    import numpy as np

    from ..kernel import wav

    src = media.select(F.col(ref_col).alias("media_ref"),
                       F.col(payload_col).alias("payload"))

    def run(ref, payload):
        ch = rate = ro = n = pk = sa = en = reason = None
        try:
            ch, rate, _bits, arr = wav.decode_samples(payload or b"")
            frames = arr.astype(np.int64).reshape(-1, ch)
            nb = (frames.shape[0] // factor) * factor
            blocks = frames[:nb].reshape(-1, factor, ch)
            ds = np.floor_divide(blocks.sum(axis=1), factor)
            a = np.abs(ds)
            ro = rate // factor
            n = int(ds.shape[0])
            pk = int(a.max()) if a.size else 0
            sa = int(a.sum())
            en = int((a * a).sum())
        except (NotImplementedError, ValueError, struct.error) as e:
            reason = str(e) or type(e).__name__
        yield ref, ch, rate, ro, n, pk, sa, en, reason

    return map_rows(src, run, AUDIO_DOWNSAMPLE_SCHEMA)
