"""EXIF metadata: TIFF/IFD build + parse inside JPEG APP1 (pure bytes).

Training pipelines keep image provenance (camera make/model, capture
time, orientation, pixel dimensions) as typed columns next to the
blob; the reference surfaces image metadata through its get-info and
extract-image endpoints (app/core GetInfoOnPDF.java image blocks,
ExtractImagesController.java) but never parses EXIF because PDFBox
hands it decoded. Here the container is parsed for real: a JPEG
segment walk to APP1, then the public EXIF 2.3 / TIFF 6.0 layout —
byte order II/MM, IFD entry tables, inline-vs-offset values, and the
ExifIFD sub-directory pointer (tag 0x8769).

:func:`build_exif_jpeg` emits a deterministic JPEG (SOI, JFIF APP0,
Exif APP1, EOI) used by the corpus synthesizer; :func:`parse_exif`
walks any baseline JPEG's segments and returns the tag dict. Both
endiannesses are exercised (the synthesizer picks II or MM from the
ref hash).
"""

from __future__ import annotations

import struct

# TIFF tag ids (EXIF 2.3 §4.6.4)
TAG_MAKE = 0x010F
TAG_MODEL = 0x0110
TAG_ORIENTATION = 0x0112
TAG_XRESOLUTION = 0x011A
TAG_EXIF_IFD = 0x8769
TAG_DATETIME_ORIGINAL = 0x9003
TAG_PIXEL_X = 0xA002

_TYPE_BYTE, _TYPE_ASCII, _TYPE_SHORT, _TYPE_LONG, _TYPE_RATIONAL = \
    1, 2, 3, 4, 5
_TYPE_SIZE = {_TYPE_BYTE: 1, _TYPE_ASCII: 1, _TYPE_SHORT: 2,
              _TYPE_LONG: 4, _TYPE_RATIONAL: 8}


def _entry(e: str, tag: int, typ: int, count: int, value: bytes) -> bytes:
    """One 12-byte IFD entry; ``value`` is the already-encoded
    value-or-offset field (4 bytes)."""
    return struct.pack(e + "HHI", tag, typ, count) + value


def build_exif_jpeg(endian: str, make: str, model: str, orientation: int,
                    xres: tuple[int, int], datetime_original: str,
                    pixel_x: int) -> bytes:
    """Deterministic JPEG wrapper: SOI + JFIF APP0 + Exif APP1 + EOI.
    IFD0 holds Make/Model/Orientation/XResolution and the ExifIFD
    pointer; the sub-IFD holds DateTimeOriginal + PixelXDimension."""
    e = "<" if endian == "II" else ">"
    make_b = make.encode("ascii") + b"\x00"
    model_b = model.encode("ascii") + b"\x00"
    dt_b = datetime_original.encode("ascii") + b"\x00"

    # layout: header(8) IFD0(2+5*12+4) ExifIFD(2+2*12+4) data area
    ifd0_off = 8
    exif_off = ifd0_off + 2 + 5 * 12 + 4
    data_off = exif_off + 2 + 2 * 12 + 4
    make_off = data_off
    model_off = make_off + len(make_b)
    xres_off = model_off + len(model_b)
    dt_off = xres_off + 8

    def off(v: int) -> bytes:
        return struct.pack(e + "I", v)

    def short_inline(v: int) -> bytes:
        return struct.pack(e + "HH", v, 0)

    ifd0 = struct.pack(e + "H", 5)
    ifd0 += _entry(e, TAG_MAKE, _TYPE_ASCII, len(make_b), off(make_off))
    ifd0 += _entry(e, TAG_MODEL, _TYPE_ASCII, len(model_b), off(model_off))
    ifd0 += _entry(e, TAG_ORIENTATION, _TYPE_SHORT, 1,
                   short_inline(orientation))
    ifd0 += _entry(e, TAG_XRESOLUTION, _TYPE_RATIONAL, 1, off(xres_off))
    ifd0 += _entry(e, TAG_EXIF_IFD, _TYPE_LONG, 1, off(exif_off))
    ifd0 += struct.pack(e + "I", 0)  # next IFD

    exif_ifd = struct.pack(e + "H", 2)
    exif_ifd += _entry(e, TAG_DATETIME_ORIGINAL, _TYPE_ASCII, len(dt_b),
                       off(dt_off))
    exif_ifd += _entry(e, TAG_PIXEL_X, _TYPE_LONG, 1, off(pixel_x))
    exif_ifd += struct.pack(e + "I", 0)

    data = make_b + model_b + struct.pack(e + "II", *xres) + dt_b
    tiff = (endian.encode("ascii") + struct.pack(e + "HI", 42, ifd0_off)
            + ifd0 + exif_ifd + data)

    app1_body = b"Exif\x00\x00" + tiff
    app0_body = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    return (b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", len(app0_body) + 2)
            + app0_body
            + b"\xff\xe1" + struct.pack(">H", len(app1_body) + 2)
            + app1_body
            + b"\xff\xd9")


def _read_value(e: str, tiff: bytes, typ: int, count: int,
                raw: bytes):
    size = _TYPE_SIZE.get(typ)
    if size is None:
        return None
    total = size * count
    if total <= 4:
        buf = raw[:total]
    else:
        (offset,) = struct.unpack(e + "I", raw)
        buf = tiff[offset:offset + total]
    if typ == _TYPE_ASCII:
        return buf.split(b"\x00")[0].decode("ascii", "replace")
    if typ == _TYPE_SHORT:
        vals = struct.unpack(e + "H" * count, buf)
    elif typ == _TYPE_LONG:
        vals = struct.unpack(e + "I" * count, buf)
    elif typ == _TYPE_RATIONAL:
        vals = [struct.unpack(e + "II", buf[i:i + 8])
                for i in range(0, total, 8)]
    else:
        vals = tuple(buf)
    return vals[0] if count == 1 else list(vals)


def _parse_ifd(e: str, tiff: bytes, offset: int) -> dict[int, object]:
    (n,) = struct.unpack_from(e + "H", tiff, offset)
    out: dict[int, object] = {}
    pos = offset + 2
    for _ in range(n):
        tag, typ, count = struct.unpack_from(e + "HHI", tiff, pos)
        out[tag] = _read_value(e, tiff, typ, count,
                               tiff[pos + 8:pos + 12])
        pos += 12
    return out


def parse_tiff(tiff: bytes) -> dict:
    order = tiff[:2]
    if order == b"II":
        e = "<"
    elif order == b"MM":
        e = ">"
    else:
        raise ValueError("bad TIFF byte order")
    magic, ifd0_off = struct.unpack_from(e + "HI", tiff, 2)
    if magic != 42:
        raise ValueError("bad TIFF magic")
    tags = _parse_ifd(e, tiff, ifd0_off)
    exif_ptr = tags.pop(TAG_EXIF_IFD, None)
    if exif_ptr is not None:
        tags.update(_parse_ifd(e, tiff, int(exif_ptr)))
    xres = tags.get(TAG_XRESOLUTION)
    return {
        "endian": order.decode("ascii"),
        "make": tags.get(TAG_MAKE),
        "model": tags.get(TAG_MODEL),
        "orientation": tags.get(TAG_ORIENTATION),
        "xres_num": xres[0] if xres else None,
        "xres_den": xres[1] if xres else None,
        "datetime_original": tags.get(TAG_DATETIME_ORIGINAL),
        "pixel_x": tags.get(TAG_PIXEL_X),
    }


def parse_exif(jpeg: bytes) -> dict:
    """Segment-walk a JPEG to the Exif APP1 and parse its TIFF block.
    Raises ValueError when no EXIF APP1 is present or a read runs past
    the buffer (callers isolate that to an error row, never a task
    failure)."""
    try:
        return _walk_to_exif(jpeg)
    except struct.error as exc:
        raise ValueError(f"truncated EXIF: {exc}") from exc


def _walk_to_exif(jpeg: bytes) -> dict:
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    n = len(jpeg)
    while pos < n:
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
        # marker code
        while pos < n and jpeg[pos] == 0xFF and \
                pos + 1 < n and jpeg[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= n or jpeg[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = jpeg[pos + 1]
        if marker in (0xD9, 0xDA):  # EOI / SOS: no EXIF ahead
            break
        (seglen,) = struct.unpack_from(">H", jpeg, pos + 2)
        body = jpeg[pos + 4:pos + 2 + seglen]
        if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
            return parse_tiff(body[6:])
        pos += 2 + seglen
    raise ValueError("no Exif APP1 segment")
