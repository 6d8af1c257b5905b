"""[EXT] Real PNG decode for the multimodal column path — pure Python
plus the stdlib ``zlib`` (always present; no external codec library).

PNG's compression is DEFLATE, which Python ships in the standard
library: the builder emits a spec-conformant 8-bit
grayscale PNG (signature, IHDR, one IDAT with zlib-compressed
filtered scanlines, IEND, CRCs via ``zlib.crc32``), and the parser is
a conformant reader of that subset: it validates the signature, walks
chunks verifying EVERY CRC, inflates the concatenated IDAT stream, and
reverses per-scanline filtering — all five standard filter types
(None/Sub/Up/Average/Paeth), not just the one the builder emits, so a
foreign grayscale-8 PNG decodes too.

Pure bytes in, dict out; the Spark side is ``columns.decode_pass``.
Layout reference: the public PNG specification (RFC 2083 / ISO 15948):
signature, chunk layout + CRC, IHDR fields, filter type bytes, DEFLATE
datastream.
"""

from __future__ import annotations

import struct
import zlib

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def png_bytes(payload: bytes, width: int = 16) -> bytes:
    """Build an 8-bit grayscale PNG whose pixels are the payload bytes,
    ``width`` per row, zero-padded to fill the last row (empty payloads
    become one black row). Scanlines use filter type 0 and the image
    datastream is genuinely DEFLATE-compressed."""
    height = max(-(-len(payload) // width), 1)
    pixels = payload + b"\x00" * (width * height - len(payload))
    raw = b"".join(
        b"\x00" + pixels[r * width : (r + 1) * width] for r in range(height)
    )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter(raw: bytes, width: int, height: int) -> bytearray:
    """Reverse PNG scanline filtering for 1-byte pixels — all five
    standard filter types, with the previous reconstructed row as the
    'up' reference (zeros for the first row)."""
    out = bytearray(width * height)
    stride = width + 1
    prev = bytes(width)
    for r in range(height):
        line = raw[r * stride : (r + 1) * stride]
        if len(line) < stride:
            raise ValueError("truncated scanline data")
        ftype, data = line[0], bytearray(line[1:])
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for i in range(1, width):
                data[i] = (data[i] + data[i - 1]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(width):
                data[i] = (data[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(width):
                left = data[i - 1] if i else 0
                data[i] = (data[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(width):
                left = data[i - 1] if i else 0
                upleft = prev[i - 1] if i else 0
                data[i] = (data[i] + _paeth(left, prev[i], upleft)) & 0xFF
        else:
            raise ValueError(f"unknown filter type {ftype}")
        out[r * width : (r + 1) * width] = data
        prev = bytes(data)
    return out


def decode_png(content: bytes) -> dict:
    """Parse an 8-bit grayscale non-interlaced PNG: validate the
    signature, verify every chunk CRC, inflate the IDAT stream, reverse
    scanline filtering, and compute pixel statistics. Raises on
    malformed input (bad CRC, truncation, unsupported color/interlace)
    like any conformant reader."""
    if content[: len(_SIG)] != _SIG:
        raise ValueError("not a PNG file")
    off = len(_SIG)
    width = height = None
    idat = bytearray()
    seen_end = False
    while off < len(content):
        if off + 8 > len(content):
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack_from(">I", content, off)
        tag = content[off + 4 : off + 8]
        body = content[off + 8 : off + 8 + length]
        if len(body) < length or off + 12 + length > len(content):
            raise ValueError("truncated chunk body")
        (crc,) = struct.unpack_from(">I", content, off + 8 + length)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {tag!r} chunk")
        off += 12 + length
        if tag == b"IHDR":
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if (depth, color, comp, filt) != (8, 0, 0, 0):
                raise ValueError(
                    f"unsupported PNG: depth={depth} color={color}"
                )
            if interlace:
                raise ValueError("interlaced PNGs not supported")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            seen_end = True
            break
    if width is None or not seen_end:
        raise ValueError("missing IHDR or IEND")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:  # corrupt DEFLATE stream
        raise ValueError(f"corrupt IDAT datastream: {e}") from e
    if len(raw) != (width + 1) * height:
        raise ValueError("inflated size does not match dimensions")
    pixels = _unfilter(raw, width, height)
    return {
        "width": width,
        "height": height,
        "n_pixels": width * height,
        "sum_rgb": 3 * sum(pixels),  # grayscale: r=g=b
        "head_px": pixels[0] if pixels else -1,
    }
