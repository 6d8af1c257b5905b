"""[EXT] Real image decode for the multimodal column path: a
pure-Python uncompressed 24-bit BMP (BITMAPFILEHEADER +
BITMAPINFOHEADER, BI_RGB) builder + parser — the image twin of
``wav.py``'s RIFF/WAVE pair. The parser is a real decoder: it
validates the magic/offsets/bpp, honors the 4-byte row stride padding
and bottom-up row order, and reconstructs the logical top-down pixel
stream. :func:`dhash_bands` fingerprints the decoded image for
near-duplicate detection.

Pure bytes in, dict out; the Spark side is ``columns.decode_pass``.
"""

from __future__ import annotations

import struct

_FILE_HEADER = 14
_INFO_HEADER = 40


def dib_pixels(payload: bytes, width: int, height: int) -> bytes:
    """A 24-bit DIB pixel array: grayscale pixels from the payload bytes
    (r=g=b=byte, ``width`` per logical top-down row), zero-padded,
    stored bottom-up with 4-byte row stride — the BMP pixel array, and
    what an uncompressed AVI '00db' chunk carries."""
    stride = (width * 3 + 3) & ~3
    rows = []
    for r in range(height - 1, -1, -1):  # bottom-up storage
        row = bytearray(stride)
        for c in range(width):
            i = r * width + c
            v = payload[i] if i < len(payload) else 0
            row[c * 3 : c * 3 + 3] = bytes((v, v, v))  # BGR (equal channels)
        rows.append(bytes(row))
    return b"".join(rows)


def bmp_bytes(payload: bytes, width: int = 16) -> bytes:
    """Build a 24-bit BI_RGB BMP whose grayscale pixels are the payload
    bytes, ``width`` pixels per row, zero-padded to fill the last row;
    empty payloads become one all-black row (:func:`dib_pixels`)."""
    height = max(-(-len(payload) // width), 1)
    pixels = dib_pixels(payload, width, height)
    off = _FILE_HEADER + _INFO_HEADER
    file_header = b"BM" + struct.pack("<IHHI", off + len(pixels), 0, 0, off)
    info_header = struct.pack(
        "<IiiHHIIiiII",
        _INFO_HEADER, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0,
    )
    return file_header + info_header + pixels


def decode_bmp(content: bytes) -> dict:
    """Parse an uncompressed 24-bit BMP: validate headers, walk the
    stride-padded bottom-up pixel array, and compute pixel statistics
    over the logical (top-down) image. Trusts nothing but the bytes and
    raises on malformed input like any conformant reader."""
    if len(content) < _FILE_HEADER + _INFO_HEADER or content[:2] != b"BM":
        raise ValueError("not a BMP file")
    off = struct.unpack_from("<I", content, 10)[0]
    hdr_size, width, height, planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", content, _FILE_HEADER
    )
    if hdr_size < _INFO_HEADER or planes != 1:
        raise ValueError("unsupported BMP header")
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression}")
    if height <= 0 or width <= 0:
        raise ValueError("top-down/degenerate BMPs not supported")
    stride = (width * 3 + 3) & ~3
    if off + stride * height > len(content):
        raise ValueError("truncated pixel array")
    sum_rgb = 0
    head_px = -1
    for r in range(height):
        # logical row r lives at stored row height-1-r (bottom-up)
        base = off + (height - 1 - r) * stride
        row = content[base : base + width * 3]
        sum_rgb += sum(row)
        if r == 0:
            head_px = row[0]
    return {
        "width": width,
        "height": height,
        "n_pixels": width * height,
        "sum_rgb": sum_rgb,
        "head_px": head_px,
    }


def dhash_bands(content: bytes) -> tuple[int, int, int, int]:
    """64-bit difference hash (dHash — the classic perceptual image
    fingerprint) of a decoded BMP, returned as FOUR 16-bit band
    integers so Hamming-ball blocking can pigeonhole on band equality
    (any pair within distance 3 differs in ≤3 bit positions ⇒ at least
    one band matches exactly — the simhash census argument).

    Sampling is pure INTEGER nearest-neighbor (sy = r·h div 8,
    sx = c·w div 9 — no float resize, so any engine that can index
    bytes reproduces the hash bit-for-bit); bit k (row r = k div 8,
    col c = k mod 8) is set iff pixel(sy, sx_c) < pixel(sy, sx_{c+1}).
    Walks the REAL container (stride-padded bottom-up rows) like
    :func:`decode_bmp`."""
    if len(content) < _FILE_HEADER + _INFO_HEADER or content[:2] != b"BM":
        raise ValueError("not a BMP file")
    off = struct.unpack_from("<I", content, 10)[0]
    hdr_size, width, height, planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", content, _FILE_HEADER
    )
    if bpp != 24 or compression != 0 or height <= 0 or width <= 0:
        raise ValueError("unsupported BMP")
    stride = (width * 3 + 3) & ~3

    def px(y: int, x: int) -> int:
        return content[off + (height - 1 - y) * stride + x * 3]

    bands = [0, 0, 0, 0]
    for k in range(64):
        r, c = divmod(k, 8)
        sy = r * height // 8
        xa = c * width // 9
        xb = (c + 1) * width // 9
        if px(sy, xa) < px(sy, xb):
            bands[k // 16] |= 1 << (k % 16)
    return tuple(bands)


DHASH_SCHEMA = "doc_id bigint, b0 int, b1 int, b2 int, b3 int"
