"""[EXT] Real COMPRESSED image decode for the multimodal column path: a
pure-Python GIF87a builder + parser with a full variable-width LZW
codec (BMP/WAV/AVI are real but uncompressed containers; PNG-DEFLATE,
TIFF-PackBits and baseline JPEG are the other compressed codecs).

The decoder is a conformant reader of the subset it targets: it
validates the signature and logical-screen descriptor, reads the global
color table, walks the image descriptor, and LZW-DECOMPRESSES the pixel
index stream — variable code width (9→12 bits, LSB-first packing),
Clear-code table resets, the KwKwK self-reference case, End-of-
Information, and 255-byte sub-block framing — then maps indices through
the color table. The encoder emits the same subset (8-bit min code
size, 256-entry grayscale table) and the pair round-trips losslessly
(property-tested, including payloads long enough to overflow the
12-bit code table and force mid-stream Clear resets).

Pure bytes in, dict out; the Spark side is ``columns.decode_pass``.

Layout references: the public GIF87a specification (CompuServe, 1987)
— signature, logical screen descriptor, color table, image descriptor,
LZW minimum code size, data sub-blocks, trailer.
"""

from __future__ import annotations

import struct

_MAX_CODE_WIDTH = 12
_TABLE_LIMIT = 1 << _MAX_CODE_WIDTH  # 4096


def _lzw_encode(indices: bytes, min_code_size: int = 8) -> bytes:
    """GIF variable-width LZW: codes packed LSB-first; emits Clear up
    front, a Clear whenever the table reaches 4096, and EOI at the end."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh_table() -> tuple[dict[bytes, int], int, int]:
        return (
            {bytes([i]): i for i in range(clear)},
            eoi + 1,
            min_code_size + 1,
        )

    table, next_code, width = fresh_table()
    emit(clear, width)
    w = b""
    for b in indices:
        k = bytes([b])
        if w + k in table:
            w += k
            continue
        emit(table[w], width)
        table[w + k] = next_code
        next_code += 1
        # width grows when the NEXT code would not fit the current width
        if next_code - 1 == (1 << width) and width < _MAX_CODE_WIDTH:
            width += 1
        if next_code == _TABLE_LIMIT:
            emit(clear, width)
            table, next_code, width = fresh_table()
        w = k
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(
    data: bytes, min_code_size: int = 8, max_out: int | None = None
) -> bytes:
    """Inverse of :func:`_lzw_encode` — the real GIF decompressor.

    ``max_out`` bounds the decompressed size DURING decode: LZW expands
    near-quadratically, so a small adversarial stream could otherwise
    balloon to GBs before the caller's post-hoc ``iw*ih`` check fires
    (the decoder deliberately accepts foreign files). Exceeding the
    bound raises ValueError immediately."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    pos = 0  # bit cursor

    def read_code(width: int) -> int:
        nonlocal pos
        byte0 = pos >> 3
        val = int.from_bytes(data[byte0 : byte0 + 3], "little")
        code = (val >> (pos & 7)) & ((1 << width) - 1)
        pos += width
        return code

    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None

    def reset() -> None:
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        prev = None

    reset()
    while pos + width <= len(data) * 8:
        code = read_code(width)
        if code == clear:
            reset()
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= len(table):
                raise ValueError("corrupt LZW stream: code beyond table")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt LZW stream: code beyond table")
        out += entry
        if max_out is not None and len(out) > max_out:
            raise ValueError(
                f"LZW output exceeds expected {max_out} pixels"
            )
        prev = entry
        # mirror the encoder's width growth (and never beyond 12 bits)
        if len(table) == (1 << width) and width < _MAX_CODE_WIDTH:
            width += 1
    raise ValueError("LZW stream ended without End-of-Information")


def gif_bytes(payload: bytes, width: int = 16) -> bytes:
    """Build a real GIF87a whose 8-bit pixels are the payload bytes
    (grayscale global color table: index v → (v,v,v)), ``width`` pixels
    per row, zero-padded to fill the last row; empty payloads become
    one black row. The index stream is genuinely LZW-compressed."""
    height = max(-(-len(payload) // width), 1)
    pixels = payload + b"\x00" * (width * height - len(payload))
    gct = b"".join(bytes((v, v, v)) for v in range(256))
    # logical screen descriptor: GCT present, 8 bits/channel, 256 entries
    lsd = struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    img = struct.pack("<BHHHHB", 0x2C, 0, 0, width, height, 0)
    lzw = _lzw_encode(pixels, 8)
    blocks = bytearray([8])  # LZW minimum code size
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)  # block terminator
    return b"GIF87a" + lsd + gct + img + bytes(blocks) + b"\x3b"


def decode_gif(content: bytes) -> dict:
    """Parse a GIF87a/89a with a global color table and one image:
    validate the signature, read the screen descriptor and color table,
    decompress the LZW index stream, and compute pixel statistics via
    the color table. Raises on malformed input like any conformant
    reader."""
    if len(content) < 13 or content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF file")
    sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", content, 6)
    if not flags & 0x80:
        raise ValueError("no global color table")
    gct_n = 2 << (flags & 0x07)
    off = 13
    gct = content[off : off + gct_n * 3]
    if len(gct) < gct_n * 3:
        raise ValueError("truncated color table")
    off += gct_n * 3
    # skip 89a extension blocks (0x21 ... sub-blocks), with bounds
    # checks so truncation surfaces as ValueError (the documented
    # malformed-input contract), never IndexError
    while off < len(content) and content[off] == 0x21:
        off += 2
        while True:
            if off >= len(content):
                raise ValueError("truncated extension block")
            n = content[off]
            if n == 0:
                off += 1
                break
            off += 1 + n
    if off >= len(content) or content[off] != 0x2C:
        raise ValueError("image descriptor not found")
    if off + 10 > len(content):
        raise ValueError("truncated image descriptor")
    _x, _y, iw, ih, iflags = struct.unpack_from("<HHHHB", content, off + 1)
    if iflags & 0xC0:
        raise ValueError("local color tables / interlace not supported")
    off += 10
    if off >= len(content):
        raise ValueError("truncated before LZW minimum code size")
    min_code_size = content[off]
    off += 1
    lzw = bytearray()
    while True:
        if off >= len(content):
            raise ValueError("truncated inside data sub-blocks")
        n = content[off]
        off += 1
        if n == 0:
            break
        if off + n > len(content):
            raise ValueError("truncated data sub-block")
        lzw += content[off : off + n]
        off += n
    indices = _lzw_decode(bytes(lzw), min_code_size, max_out=iw * ih)
    if len(indices) != iw * ih:
        raise ValueError(
            f"decoded {len(indices)} pixels for a {iw}x{ih} image"
        )
    if indices and max(indices) >= gct_n:
        raise ValueError("pixel index beyond global color table")
    sum_rgb = sum(
        gct[i * 3] + gct[i * 3 + 1] + gct[i * 3 + 2] for i in indices
    )
    return {
        "width": iw,
        "height": ih,
        "n_pixels": iw * ih,
        "sum_rgb": sum_rgb,
        "head_px": gct[indices[0] * 3] if indices else -1,
    }
