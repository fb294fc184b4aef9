"""Deterministic media payloads + the media blob table.

Media bytes never live in the hot span table — spans carry a
``media_ref`` content hash and the payloads live in a side table
(SURVEY.md §1.1: "never inline base64 in the hot table", mirroring how
the reference base64-embeds images only in its JSON export,
PdfJsonImageElement.java:15-33). In this sandbox payloads are derived
deterministically from the ref itself (sha256 counter stream), so the
blob table is reproducible from any docs table without external data.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.extract_pipeline import map_rows, spread

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("fmt", T.StringType(), False),
    T.StructField("payload", T.BinaryType(), False),
])

_FMTS = ("png", "jpg", "gif", "bin")


def payload_for_ref(ref: str) -> bytes:
    """Deterministic pseudo-random payload, 256..2303 bytes."""
    h = hashlib.sha256(ref.encode()).digest()
    size = 256 + int.from_bytes(h[:2], "big") % 2048
    out = bytearray()
    counter = 0
    while len(out) < size:
        out += hashlib.sha256(
            ref.encode() + counter.to_bytes(4, "big")
        ).digest()
        counter += 1
    return bytes(out[:size])


def fmt_for_ref(ref: str) -> str:
    return _FMTS[hashlib.sha256(ref.encode()).digest()[2] % len(_FMTS)]


def media_refs(docs: DataFrame) -> DataFrame:
    """Distinct media refs across media + attachment spans, ``spread``
    on media_ref for the payload generators and decoders downstream
    (codec encode/decode and DCT per ref; measured: the image-hash
    dedup gates drop ~2x)."""
    s = F.explode("spans").alias("s")
    refs = (
        docs.select(s)
        .select(F.col("s.media_ref").alias("media_ref"))
        .filter(F.col("media_ref") != "")
        .distinct()
    )
    return spread(refs, "media_ref")


def _ref_table(docs: DataFrame, fmt_of, payload_of) -> DataFrame:
    """(media_ref, fmt, payload) for every distinct corpus ref, generated
    distributed (one map_rows stage over ``media_refs``). ``fmt_of`` is
    a fixed format string or a function of the ref; ``payload_of`` maps
    a ref to its payload bytes."""
    fmt = fmt_of if callable(fmt_of) else (lambda _r: fmt_of)

    def gen(ref):
        yield ref, fmt(ref), payload_of(ref)

    return map_rows(media_refs(docs), gen, MEDIA_SCHEMA)


def media_table(docs: DataFrame) -> DataFrame:
    """media(media_ref, fmt, payload) for every ref in the corpus.
    Generation is distributed (map_rows over the distinct refs)."""
    return _ref_table(docs, fmt_for_ref, payload_for_ref)


# --- real raster payloads (uncompressed formats, no codec libs needed)

def image_dims_for_ref(ref: str) -> tuple[str, int, int]:
    """(fmt, width, height) for the deterministic RASTER image derived
    from a ref: PPM (P6), BMP (BITMAPINFOHEADER, 24bpp) or PNG
    (8-bit RGB, non-interlaced) by hash mod 3, dims 4..32 px — all pure
    functions of sha256(ref) so the DuckDB oracle can re-derive them
    digit-for-digit."""
    h = hashlib.sha256(ref.encode()).digest()
    fmt = ("ppm", "bmp", "png")[h[0] % 3]
    return fmt, 4 + h[1] % 29, 4 + h[2] % 29


def _pixel_stream(ref: str, n: int) -> bytes:
    """Deterministic pixel bytes: concatenated sha256 digests of the
    ASCII seeds 'px:{ref}:{i}' — ASCII so a SQL oracle can reproduce
    the stream head with nothing but a VARCHAR sha256."""
    out = bytearray()
    counter = 0
    while len(out) < n:
        out += hashlib.sha256(f"px:{ref}:{counter}".encode()).digest()
        counter += 1
    return bytes(out[:n])


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def png_encode(w: int, h: int, rgb: bytes,
               texts: tuple[tuple[str, str], ...] = ()) -> bytes:
    """Minimal deterministic PNG encoder: 8-bit RGB, non-interlaced,
    scanline r filtered with type r % 5 (so a decoder must implement
    ALL five filters — None/Sub/Up/Average/Paeth), IDAT deflated at
    level 0 (stored blocks), which makes the file size a CLOSED FORM of
    the dimensions: 68 + h*(1+3w) bytes for h*(1+3w) < 65535 (8 sig +
    25 IHDR + 12 IDAT framing + 11 zlib stored-block overhead + 12
    IEND + the filtered scanlines). ``texts`` plants tEXt
    (key, value) metadata chunks between IHDR and IDAT (PNG 1.2
    §4.2.3.1 latin-1 keyword\\0text layout); the default keeps the
    closed-form size."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    stride = 3 * w
    raw = bytearray()
    prev = bytes(stride)
    for r in range(h):
        row = rgb[r * stride:(r + 1) * stride]
        ft = r % 5
        raw.append(ft)
        if ft == 0:
            raw += row
        elif ft == 1:    # Sub
            raw += bytes((row[x] - (row[x - 3] if x >= 3 else 0)) & 0xFF
                         for x in range(stride))
        elif ft == 2:    # Up
            raw += bytes((row[x] - prev[x]) & 0xFF for x in range(stride))
        elif ft == 3:    # Average
            raw += bytes((row[x] - (((row[x - 3] if x >= 3 else 0)
                                     + prev[x]) >> 1)) & 0xFF
                         for x in range(stride))
        else:            # Paeth
            raw += bytes((row[x] - _paeth(row[x - 3] if x >= 3 else 0,
                                          prev[x],
                                          prev[x - 3] if x >= 3 else 0))
                         & 0xFF for x in range(stride))
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    idat = zlib.compress(bytes(raw), 0)
    text_chunks = b"".join(
        chunk(b"tEXt", k.encode("latin-1") + b"\x00" + v.encode("latin-1"))
        for k, v in texts)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + text_chunks + chunk(b"IDAT", idat) + chunk(b"IEND", b""))


def image_payload_for_ref(ref: str) -> bytes:
    """A VALID image file for the ref: binary PPM, uncompressed 24-bit
    BMP (bottom-up, rows padded to 4 bytes) or non-interlaced RGB8 PNG
    — all parseable with nothing but the stdlib (PNG via zlib)."""
    import struct

    fmt, w, hgt = image_dims_for_ref(ref)
    if fmt == "ppm":
        header = f"P6\n{w} {hgt}\n255\n".encode()
        return header + _pixel_stream(ref, 3 * w * hgt)
    if fmt == "png":
        return png_encode(w, hgt, _pixel_stream(ref, 3 * w * hgt))
    row = 3 * w
    pad = (4 - row % 4) % 4
    img_size = (row + pad) * hgt
    px = _pixel_stream(ref, img_size)
    file_size = 54 + img_size
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, hgt, 1, 24, 0,
                       img_size, 2835, 2835, 0, 0)
    return header + info + px


def jpeg_dims_for_ref(ref: str) -> tuple[int, int, int, int]:
    """(is_color, width, height, restart_interval) for the
    deterministic baseline-JPEG fixture derived from a ref — all pure
    functions of sha256(ref) so the DuckDB oracle re-derives them.
    Dims are multiples of 8 (whole MCUs); restart 0..2 exercises the
    decoder's RSTn path on a third of the corpus."""
    h = hashlib.sha256(ref.encode()).digest()
    return h[3] % 2, 8 * (1 + h[1] % 4), 8 * (1 + h[2] % 4), h[4] % 3


def jpeg_block_value(ref: str, k: int) -> int:
    """Constant luma level of the k-th 8x8 block (row-major). EVEN by
    construction: with the flat quant step 16, the DC coefficient
    8*(v-128) is then divisible by 16, so encode->decode reconstructs v
    bit-exactly (kernel/jpeg.py module docstring) and the oracle can
    state the decoded pixel head in SQL: the first 8 decoded bytes are
    block 0's value repeated (gray AND gray-valued-RGB color)."""
    b = hashlib.sha256(f"jq:{ref}:{k}".encode()).digest()[0]
    return b - (b % 2)


def jpeg_payload_for_ref(ref: str) -> bytes:
    """A VALID baseline JPEG (grayscale or 4:4:4 color by hash parity)
    of per-block constant pixels — decodable by kernel/jpeg.decode and
    any standards-conforming reader."""
    from ..kernel import jpeg

    import numpy as np

    is_color, w, hgt, rst = jpeg_dims_for_ref(ref)
    bw, bh = w // 8, hgt // 8
    vals = np.array([[jpeg_block_value(ref, by * bw + bx)
                      for bx in range(bw)] for by in range(bh)])
    px = np.repeat(np.repeat(vals, 8, 0), 8, 1).astype(np.uint8)
    if is_color:
        rgb = np.stack([px, px, px], axis=-1)
        return jpeg.encode_rgb444(w, hgt, rgb.tobytes(),
                                  restart_interval=rst)
    return jpeg.encode_gray(w, hgt, px.tobytes(), restart_interval=rst)


def jpeg_table(docs: DataFrame) -> DataFrame:
    """jpeg(media_ref, fmt='jpg', payload) with real baseline-JPEG
    payloads for every ref in the corpus — the compressed-codec decode
    gate's input."""
    return _ref_table(docs, "jpg", jpeg_payload_for_ref)


def image_table(docs: DataFrame) -> DataFrame:
    """image(media_ref, fmt, payload) with REAL decodable raster
    payloads for every ref in the corpus — the decode-stage input."""
    return _ref_table(docs, lambda r: image_dims_for_ref(r)[0],
                      image_payload_for_ref)


# --- dHash fixtures: cell-constant rasters with CONTROLLED near-dups

DHASH_GROUPS = 32
DHASH_ROWS, DHASH_COLS = 8, 9   # dHash grid: 8 rows x 9 cols -> 64 bits
_DHASH_CELLS = DHASH_ROWS * DHASH_COLS


@lru_cache(maxsize=None)
def _group_pattern(salt: str, g: int, n: int) -> tuple[int, ...]:
    """Base cell pattern of hash-fixture group ``g`` — parity of
    sha256('{salt}:{g}:{c}') per cell. Memoized: there are only 32
    groups per family, so recomputing the n sha256 digests per REF
    (instead of per group) dominated fixture generation."""
    return tuple(
        hashlib.sha256(f"{salt}:{g}:{c}".encode()).digest()[0] % 2
        for c in range(n)
    )


def dhash_cell_bits(ref: str) -> list[int]:
    """72 binary cell values: the ref's GROUP (hash byte 4 mod 32)
    supplies a base pattern (parity of sha256('dhg:{g}:{c}')), and the
    ref flips k = byte5 mod 5 cells at distinct stride-7 positions
    from byte6 mod 72 — so same-group refs sit 0..16 dHash bits apart
    (included/excluded around the threshold) while cross-group pairs
    are ~32 bits apart. Every quantity is a pure sha256 function the
    DuckDB oracle re-derives."""
    h = hashlib.sha256(ref.encode()).digest()
    g = h[4] % DHASH_GROUPS
    bits = list(_group_pattern("dhg", g, _DHASH_CELLS))
    k = h[5] % 5
    fb = h[6] % _DHASH_CELLS
    for j in range(k):
        bits[(fb + 7 * j) % _DHASH_CELLS] ^= 1
    return bits


def dhash_payload_for_ref(ref: str) -> bytes:
    """A VALID grayscale PPM of 9s x 8s pixels (s = 2 + byte7 mod 3),
    constant on each s x s cell at luma 200 (bit 1) / 50 (bit 0) —
    cell-aligned with the 9x8 dHash grid, so the real decode +
    box-average pipeline reconstructs the cell bits exactly."""
    import numpy as np

    h = hashlib.sha256(ref.encode()).digest()
    s = 2 + h[7] % 3
    bits = dhash_cell_bits(ref)
    w, hgt = DHASH_COLS * s, DHASH_ROWS * s
    # vectorized cell -> pixel expansion (byte-identical to the
    # per-pixel loop: each s x s cell is constant 200/50 gray)
    cells = np.where(np.asarray(bits, np.uint8)
                     .reshape(DHASH_ROWS, DHASH_COLS) != 0, 200, 50)
    plane = np.repeat(np.repeat(cells.astype(np.uint8), s, axis=0),
                      s, axis=1)
    body = np.repeat(plane.reshape(-1), 3).tobytes()
    return f"P6\n{w} {hgt}\n255\n".encode() + body


def dhash_image_table(docs: DataFrame) -> DataFrame:
    """dhash fixtures (media_ref, fmt='ppm', payload) for every corpus
    ref — the visual near-dup gate's input."""
    return _ref_table(docs, "ppm", dhash_payload_for_ref)


# --- aHash fixtures: 8x8 cell-constant rasters with CONTROLLED
# near-dups (average-hash grid; same construction as the dHash
# fixtures above, distinct salt so the two hash families get
# independent group patterns)

AHASH_GROUPS = 32
AHASH_DIM = 8                   # aHash grid: 8 x 8 -> 64 bits
_AHASH_CELLS = AHASH_DIM * AHASH_DIM


def ahash_cell_bits(ref: str) -> list[int]:
    """64 binary cell values: group g = byte4 mod 32 supplies the
    base pattern (parity of sha256('ahg:{g}:{c}')), the ref flips
    k = byte5 mod 5 cells at stride-7 positions from byte6 mod 64 -
    all pure sha256 functions the DuckDB oracle re-derives."""
    h = hashlib.sha256(ref.encode()).digest()
    g = h[4] % AHASH_GROUPS
    bits = list(_group_pattern("ahg", g, _AHASH_CELLS))
    k = h[5] % 5
    fb = h[6] % _AHASH_CELLS
    for j in range(k):
        bits[(fb + 7 * j) % _AHASH_CELLS] ^= 1
    return bits


def ahash_payload_for_ref(ref: str) -> bytes:
    """A VALID grayscale PPM of 8s x 8s pixels (s = 2 + byte7 mod 3),
    constant on each s x s cell at luma 200 (bit 1) / 50 (bit 0) -
    cell-aligned with the 8x8 aHash grid, so decode + box-average
    reconstructs the cell bits exactly."""
    import numpy as np

    h = hashlib.sha256(ref.encode()).digest()
    s = 2 + h[7] % 3
    bits = ahash_cell_bits(ref)
    side = AHASH_DIM * s
    # vectorized cell -> pixel expansion (byte-identical to the
    # per-pixel loop, same shape as dhash_payload_for_ref)
    cells = np.where(np.asarray(bits, np.uint8)
                     .reshape(AHASH_DIM, AHASH_DIM) != 0, 200, 50)
    plane = np.repeat(np.repeat(cells.astype(np.uint8), s, axis=0),
                      s, axis=1)
    body = np.repeat(plane.reshape(-1), 3).tobytes()
    return f"P6\n{side} {side}\n255\n".encode() + body


def ahash_image_table(docs: DataFrame) -> DataFrame:
    """aHash fixtures (media_ref, fmt='ppm', payload) for every
    corpus ref - the average-hash near-dup gate's input."""
    return _ref_table(docs, "ppm", ahash_payload_for_ref)


def gif_dims_for_ref(ref: str) -> tuple[int, int]:
    """(width, height) of the deterministic GIF fixture — pure
    functions of sha256(ref), dims 4..32 px."""
    h = hashlib.sha256(ref.encode()).digest()
    return 4 + h[1] % 29, 4 + h[2] % 29


def gif_index_stream(ref: str, n: int) -> bytes:
    """Palette-index bytes: concatenated sha256 digests of the ASCII
    seeds 'gx:{ref}:{i}' — reproducible in SQL from nothing but a
    VARCHAR sha256 (same scheme as the PPM/PNG pixel stream)."""
    out = bytearray()
    counter = 0
    while len(out) < n:
        out += hashlib.sha256(f"gx:{ref}:{counter}".encode()).digest()
        counter += 1
    return bytes(out[:n])


def gif_payload_for_ref(ref: str) -> bytes:
    """A VALID GIF87a (grayscale 256-entry GCT, real LZW) for the ref.
    GIF is lossless, so the decoded RGB stream is exactly the index
    stream gray-expanded — the oracle states its head closed-form."""
    from ..kernel import gif

    w, hgt = gif_dims_for_ref(ref)
    return gif.encode_gif(w, hgt, gif_index_stream(ref, w * hgt))


def gif_table(docs: DataFrame) -> DataFrame:
    """gif(media_ref, fmt='gif', payload) for every corpus ref."""
    return _ref_table(docs, "gif", gif_payload_for_ref)


def tiff_dims_for_ref(ref: str) -> tuple[int, int, int, int, int, str]:
    """(width, height, channels, compression, rows_per_strip,
    byte_order) for the deterministic baseline-TIFF fixture — all pure
    functions of sha256(ref) so the DuckDB oracle re-derives the
    asserted dims from hex digits. The fixture sweeps the codec's
    whole supported matrix: gray/RGB, none/PackBits, single- and
    multi-strip, II and MM."""
    h = hashlib.sha256(ref.encode()).digest()
    w, hgt = 4 + h[1] % 29, 4 + h[2] % 29
    channels = 1 if h[3] % 2 == 0 else 3
    compression = 1 if h[4] % 2 == 0 else 32773
    rows_per_strip = 1 + h[5] % 4
    byte_order = "II" if h[6] % 2 == 0 else "MM"
    return w, hgt, channels, compression, rows_per_strip, byte_order


def tiff_pixel_stream(ref: str, n: int) -> bytes:
    """Deterministic TIFF pixel bytes: concatenated sha256 digests of
    the ASCII seeds 'tx:{ref}:{i}' — both supported compressions are
    lossless, so the decoded stream equals this exactly and the oracle
    states its head as substr(sha256('tx:'||ref||':0'), 1, 16)."""
    out = bytearray()
    counter = 0
    while len(out) < n:
        out += hashlib.sha256(f"tx:{ref}:{counter}".encode()).digest()
        counter += 1
    return bytes(out[:n])


def tiff_payload_for_ref(ref: str) -> bytes:
    """A VALID baseline TIFF (kernel/tiff.encode_tiff) for the ref."""
    from ..kernel import tiff

    w, hgt, ch, comp, rps, bo = tiff_dims_for_ref(ref)
    return tiff.encode_tiff(w, hgt, tiff_pixel_stream(ref, w * hgt * ch),
                            channels=ch, compression=comp,
                            rows_per_strip=rps, byte_order=bo)


def tiff_table(docs: DataFrame) -> DataFrame:
    """tiff(media_ref, fmt='tiff', payload) for every corpus ref."""
    return _ref_table(docs, "tiff", tiff_payload_for_ref)


def wav_dims_for_ref(ref: str) -> tuple[int, int, int, int]:
    """(channels, sample_rate, n_frames, amp) for the deterministic
    PCM16 WAV fixture — pure functions of sha256(ref) so the DuckDB
    oracle re-derives them. n_frames is a multiple of 256, so the
    interleaved sample count is always a multiple of 16 and the
    sawtooth's |sample| statistics stay closed-form."""
    h = hashlib.sha256(ref.encode()).digest()
    channels = 1 + h[1] % 2
    rate = (8000, 16000, 32000, 48000)[h[2] % 4]
    n_frames = 256 * (1 + h[3] % 8)
    amp = 1000 + 100 * (h[4] % 10)
    return channels, rate, n_frames, amp


def wav_sample(i: int, amp: int) -> int:
    """i-th interleaved sample: alternating-sign 16-step sawtooth,
    |sample| = amp + (i % 16) — so over any multiple of 16 samples
    peak = amp + 15 and sum|s| = N*amp + (N/16)*120."""
    mag = amp + (i % 16)
    return mag if i % 2 == 0 else -mag


def wav_payload_for_ref(ref: str) -> bytes:
    """A VALID canonical-header PCM16 WAV whose sample statistics the
    oracle states closed-form."""
    from ..kernel import wav

    channels, rate, n_frames, amp = wav_dims_for_ref(ref)
    samples = [wav_sample(i, amp) for i in range(n_frames * channels)]
    return wav.encode_pcm16(channels, rate, samples)


def wav_table(docs: DataFrame) -> DataFrame:
    """wav(media_ref, fmt='wav', payload) for every corpus ref."""
    return _ref_table(docs, "wav", wav_payload_for_ref)


def wav_silence_pad_for_ref(ref: str) -> int:
    """Leading-silence length in interleaved SAMPLES for the
    silence-padded WAV fixture — 16 * (sha256(ref)[5] % 64), i.e.
    0..1008 zero samples, always a multiple of 16 so the non-silent
    sawtooth tail keeps its closed-form |sample| statistics."""
    return 16 * (hashlib.sha256(ref.encode()).digest()[5] % 64)


def wav_silence_payload_for_ref(ref: str) -> bytes:
    """A VALID PCM16 WAV with a deterministic run of leading zero
    samples before the sawtooth of wav_payload_for_ref — the fixture
    for the silence-trim feature stage. The sawtooth phase starts at
    0 at the first non-silent sample, so over the N = frames *
    channels non-silent samples peak = amp + 15 and
    sum|s| = N*amp + (N/16)*120, exactly as in the un-padded fixture."""
    from ..kernel import wav

    channels, rate, n_frames, amp = wav_dims_for_ref(ref)
    pad = wav_silence_pad_for_ref(ref)
    samples = [0] * pad + [wav_sample(i, amp)
                           for i in range(n_frames * channels)]
    return wav.encode_pcm16(channels, rate, samples)


def wav_silence_table(docs: DataFrame) -> DataFrame:
    """wav(media_ref, fmt='wav', payload) silence-padded fixtures for
    every corpus ref."""
    return _ref_table(docs, "wav", wav_silence_payload_for_ref)


def mp4_dims_for_ref(ref: str) -> tuple[str, int, int, int, int, int]:
    """(brand, timescale, duration_units, layout, width, height) for
    the deterministic ISO-BMFF fixture — pure functions of
    sha256(ref). layout: 0 = video only, 1 = video+audio,
    2 = audio only."""
    h = hashlib.sha256(ref.encode()).digest()
    brand = ("isom", "mp42", "avc1", "dash")[h[1] % 4]
    timescale = (600, 1000, 90000, 48000)[h[2] % 4]
    duration = timescale * (1 + h[3] % 30) + h[4] * 7
    layout = h[5] % 3
    w = 16 * (4 + h[6] % 60)
    hgt = 16 * (3 + h[7] % 40)
    return brand, timescale, duration, layout, w, hgt


def mp4_payload_for_ref(ref: str) -> bytes:
    """A VALID metadata-only ISO-BMFF container (ftyp + moov with
    mvhd/trak/tkhd/hdlr/mdhd) whose probe surface the oracle states
    closed-form."""
    from ..kernel import mp4

    brand, ts, dur, layout, w, hgt = mp4_dims_for_ref(ref)
    tracks = {0: [("vide", w, hgt)],
              1: [("vide", w, hgt), ("soun", 0, 0)],
              2: [("soun", 0, 0)]}[layout]
    return mp4.encode_minimal_mp4(brand, ts, dur, tracks)


def mp4_table(docs: DataFrame) -> DataFrame:
    """mp4(media_ref, fmt='mp4', payload) for every corpus ref."""
    return _ref_table(docs, "mp4", mp4_payload_for_ref)


def corrupt_mode_for_ref(ref: str) -> int:
    """0 = WAV with an IEEE-float format tag, 1 = non-RIFF junk,
    2 = ISO-BMFF with no moov, 3 = ISO-BMFF with a v2 tkhd."""
    return hashlib.sha256(ref.encode()).digest()[8] % 4


def corrupted_payload_for_ref(ref: str) -> bytes:
    """Deterministically damaged media payload per mode — each mode
    hits a DIFFERENT guard in the wav/mp4 kernels, so the decode
    stage's per-row reasons are pinned end-to-end."""
    import struct as _struct

    from ..kernel import mp4, wav

    mode = corrupt_mode_for_ref(ref)
    if mode == 0:
        payload = bytearray(wav.encode_pcm16(1, 8000, [1, -1, 2, -2]))
        _struct.pack_into("<H", payload, 20, 3)  # IEEE float tag
        return bytes(payload)
    if mode == 1:
        return hashlib.sha256(b"junk:" + ref.encode()).digest()
    if mode == 2:
        return _struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4
    payload = bytearray(mp4.encode_minimal_mp4(
        "isom", 600, 1200, [("vide", 64, 48)]))
    payload[payload.index(b"tkhd") + 4] = 2
    return bytes(payload)


def corrupted_media_table(docs: DataFrame) -> DataFrame:
    """corrupted(media_ref, fmt, payload) — fmt carries the mode as
    'bad0'..'bad3' so consumers can route audio vs video probes."""
    return _ref_table(docs, lambda r: f"bad{corrupt_mode_for_ref(r)}",
                      corrupted_payload_for_ref)


def png_text_table(docs: DataFrame) -> DataFrame:
    """image(media_ref, fmt, payload): a small RGB8 PNG per corpus ref
    carrying two planted tEXt chunks — Title = 'title {ref}' and
    Author = 'author ' + the ref's last 4 chars — so the tEXt
    extraction stage has a closed-form oracle."""

    def payload(r: str) -> bytes:
        return png_encode(4, 3, _pixel_stream(r, 36), texts=(
            ("Title", f"title {r}"),
            ("Author", f"author {r[-4:]}"),
        ))

    return _ref_table(docs, "png", payload)


def exif_params_for_ref(ref: str) -> dict:
    """EXIF fixture parameters as pure functions of sha256(ref) —
    endianness, camera make/model, orientation 1..8, X resolution,
    capture datetime and PixelXDimension all re-derivable in SQL via
    the _hexb byte reads (plans/oracles.py)."""
    h = hashlib.sha256(ref.encode()).digest()
    return {
        "endian": "II" if h[0] % 2 == 0 else "MM",
        "make": f"Make{h[1] % 5}",
        "model": f"Model{h[2] % 10}",
        "orientation": 1 + h[3] % 8,
        "xres": (72 + 24 * (h[4] % 4), 1 + h[4] % 2),
        "datetime_original": (
            f"2024:0{1 + h[5] % 9}:0{1 + h[6] % 9} "
            f"{h[7] % 24:02d}:{h[8] % 60:02d}:{h[9] % 60:02d}"),
        "pixel_x": 16 + h[10],
    }


def exif_jpeg_table(docs: DataFrame) -> DataFrame:
    """jpeg(media_ref, fmt='jpg', payload) where every payload carries
    a deterministic Exif APP1 (kernel/exif.build_exif_jpeg) — the EXIF
    metadata gate's input; both byte orders appear across the corpus."""
    from ..kernel.exif import build_exif_jpeg

    def payload(r: str) -> bytes:
        p = exif_params_for_ref(r)
        return build_exif_jpeg(
            p["endian"], p["make"], p["model"], p["orientation"],
            p["xres"], p["datetime_original"], p["pixel_x"])

    return _ref_table(docs, "jpg", payload)


def tiff_n_pages_for_ref(ref: str) -> int:
    """Page count of the multi-page TIFF fixture: 2..5, from
    sha256(ref) byte 7 — oracle-derivable as a hex-digit expression."""
    return 2 + hashlib.sha256(ref.encode()).digest()[7] % 4


def tiff_page_dims_for_ref(ref: str, page: int) -> tuple[int, int]:
    """(width, height) of page ``page``: pure functions of
    sha256('tp:{ref}:{page}') bytes 1/2, dims 4..16 px."""
    h = hashlib.sha256(f"tp:{ref}:{page}".encode()).digest()
    return 4 + h[1] % 13, 4 + h[2] % 13


def tiff_page_pixel_stream(ref: str, page: int, n: int) -> bytes:
    """Per-page pixel bytes from the ASCII seeds 'tpx:{ref}:{page}:{i}'
    (same SQL-reproducible scheme as the single-page 'tx:' stream)."""
    out = bytearray()
    counter = 0
    while len(out) < n:
        out += hashlib.sha256(f"tpx:{ref}:{page}:{counter}".encode()) \
            .digest()
        counter += 1
    return bytes(out[:n])


def tiff_multipage_payload_for_ref(ref: str) -> bytes:
    """A VALID multi-page baseline TIFF (chained IFDs, grayscale,
    PackBits on the odd refs) whose per-page dims and pixel heads the
    oracle states closed-form."""
    from ..kernel import tiff

    n = tiff_n_pages_for_ref(ref)
    h = hashlib.sha256(ref.encode()).digest()
    pages = []
    for p in range(n):
        w, hgt = tiff_page_dims_for_ref(ref, p)
        pages.append((w, hgt, tiff_page_pixel_stream(ref, p, w * hgt), 1))
    return tiff.encode_tiff_multi(
        pages, compression=32773 if h[8] % 2 else 1,
        byte_order="II" if h[9] % 2 == 0 else "MM")


def tiff_multipage_table(docs: DataFrame) -> DataFrame:
    """tiff_mp(media_ref, fmt='tiff', payload) for every corpus ref."""
    return _ref_table(docs, "tiff", tiff_multipage_payload_for_ref)


# --- pHash fixtures: rasters SYNTHESIZED IN THE DCT DOMAIN with
# CONTROLLED near-dups (the perceptual-hash family's third member
# after dHash/aHash: sign structure of the low-frequency 2D-DCT block)

PHASH_GROUPS = 32
PHASH_DIM = 32                  # pHash works on a 32x32 luma plane
PHASH_LOW = 8                   # low-frequency block: 8x8 minus DC
_PHASH_BITS = PHASH_LOW * PHASH_LOW - 1   # 63 sign bits


def phash_coeff_bits(ref: str) -> list[int]:
    """63 binary DCT-coefficient signs: group g = byte4 mod 32
    supplies the base pattern (parity of sha256('phg:{g}:{c}')), the
    ref flips k = byte5 mod 5 signs at stride-7 positions from
    byte6 mod 63 — all pure sha256 functions the DuckDB oracle
    re-derives, same construction as the dHash/aHash fixtures."""
    h = hashlib.sha256(ref.encode()).digest()
    g = h[4] % PHASH_GROUPS
    bits = list(_group_pattern("phg", g, _PHASH_BITS))
    k = h[5] % 5
    fb = h[6] % _PHASH_BITS
    for j in range(k):
        bits[(fb + 7 * j) % _PHASH_BITS] ^= 1
    return bits


def _dct_mat(n: int = PHASH_DIM):
    """Orthonormal DCT-II matrix: X = M @ P @ M.T, P = M.T @ X @ M."""
    import numpy as np

    x = np.arange(n)
    u = np.arange(n)[:, None]
    m = np.cos(np.pi * (2 * x + 1) * u / (2 * n)) * np.sqrt(2.0 / n)
    m[0] *= np.sqrt(0.5)
    return m


def phash_payload_for_ref(ref: str) -> bytes:
    """A VALID 32x32 grayscale PPM built by INVERSE DCT of a sparse
    coefficient matrix: DC pins the mean at 128 and each of the 63
    low-frequency AC slots carries +/-A per the ref's sign bits. The
    generator verifies that integer rounding of the pixel plane
    preserves every coefficient sign (margin A=24 vs a rounding
    perturbation of ~0.3) and deterministically widens A if any sign
    would flip — so decode + DCT on the consumer side reconstructs
    the sha-derived bits EXACTLY, which is what lets a SQL oracle
    state the pair set without ever running a DCT."""
    import numpy as np

    bits = phash_coeff_bits(ref)
    m = _dct_mat()
    for amp in (24.0, 28.0, 32.0, 40.0):
        coef = np.zeros((PHASH_DIM, PHASH_DIM))
        coef[0, 0] = 128.0 * PHASH_DIM
        i = 0
        for u in range(PHASH_LOW):
            for v in range(PHASH_LOW):
                if u == 0 and v == 0:
                    continue
                coef[u, v] = amp if bits[i] else -amp
                i += 1
        px = np.clip(np.rint(m.T @ coef @ m), 0, 255).astype(np.uint8)
        back = m @ px.astype(np.float64) @ m.T
        ok = True
        i = 0
        for u in range(PHASH_LOW):
            for v in range(PHASH_LOW):
                if u == 0 and v == 0:
                    continue
                if (back[u, v] > 0) != bool(bits[i]):
                    ok = False
                i += 1
        if ok:
            body = np.repeat(px.reshape(-1), 3).tobytes()
            return (f"P6\n{PHASH_DIM} {PHASH_DIM}\n255\n".encode()
                    + body)
    raise ValueError(f"phash fixture signs did not stabilize: {ref}")


def phash_image_table(docs: DataFrame) -> DataFrame:
    """phash fixtures (media_ref, fmt='ppm', payload) for every
    corpus ref — the DCT-hash near-dup gate's input."""
    return _ref_table(docs, "ppm", phash_payload_for_ref)
