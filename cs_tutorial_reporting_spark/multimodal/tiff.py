"""[EXT] Real PackBits-compressed TIFF decode for the multimodal
column path — the third COMPRESSED codec family (after GIF-LZW and
PNG-DEFLATE): a pure-Python baseline TIFF 6.0 builder + parser for
8-bit grayscale striped images with Compression=32773 (PackBits RLE).

The parser is a real TIFF reader: it validates the byte-order magic,
walks the IFD entry table (honoring SHORT/LONG field types and the
inline-vs-offset value rule for multi-strip offset/count arrays),
checks the tag set it supports, PackBits-decompresses every strip,
and reassembles the logical pixel stream. Foreign little-endian
grayscale-8 PackBits TIFFs decode too (pytest-pinned); anything else
raises ValueError like a conformant reader.

Multi-strip layout (RowsPerStrip=4) is deliberate: strips are TIFF's
parallelism unit, the analog of parquet row groups at 100 TB.

Pure bytes in, dict out; the Spark side is ``columns.decode_pass``.
"""

from __future__ import annotations

import struct

_ROWS_PER_STRIP = 4
_PACKBITS = 32773

_T_WIDTH, _T_HEIGHT = 256, 257
_T_BITS, _T_COMPRESSION, _T_PHOTOMETRIC = 258, 259, 262
_T_STRIP_OFFSETS, _T_SAMPLES, _T_ROWS_PER_STRIP = 273, 277, 278
_T_STRIP_COUNTS = 279

_TYPE_SHORT, _TYPE_LONG = 3, 4
_TYPE_SIZE = {_TYPE_SHORT: 2, _TYPE_LONG: 4}


def packbits_encode(data: bytes) -> bytes:
    """Greedy PackBits (TIFF 6.0 §9): runs of >= 3 become repeat
    packets, everything else literal packets of <= 128 bytes."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out.append(257 - run)  # -(run-1) as unsigned
            out.append(data[i])
            i += run
            continue
        lit_start = i
        i += run
        while i < n and i - lit_start < 128:
            run = 1
            while i + run < n and run < 128 and data[i + run] == data[i]:
                run += 1
            if run >= 3:
                break
            i += run
            if i - lit_start >= 128:
                i = lit_start + 128
                break
        out.append(i - lit_start - 1)
        out.extend(data[lit_start:i])
    return bytes(out)


def packbits_decode(data: bytes, expected: int) -> bytes:
    """PackBits decoder with an output bound (the GIF-LZW lesson:
    never decompress unbounded — a malformed stream must not expand
    past the declared strip size)."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        h = data[i]
        i += 1
        if h == 128:  # noop
            continue
        if h < 128:
            if i + h + 1 > len(data):
                raise ValueError("PackBits literal overruns input")
            out.extend(data[i : i + h + 1])
            i += h + 1
        else:
            if i >= len(data):
                raise ValueError("PackBits repeat missing byte")
            out.extend(bytes([data[i]]) * (257 - h))
            i += 1
    if len(out) != expected:
        raise ValueError(
            f"PackBits output {len(out)} != expected {expected}"
        )
    return bytes(out)


def tiff_bytes(payload: bytes, width: int = 16) -> bytes:
    """Build a little-endian grayscale-8 striped PackBits TIFF whose
    pixels are the payload bytes (zero-padded to fill the last row;
    empty payloads become one all-black row)."""
    height = max(-(-len(payload) // width), 1)
    px = payload + b"\x00" * (width * height - len(payload))
    strips = [
        packbits_encode(px[r * width : (r + _ROWS_PER_STRIP) * width])
        for r in range(0, height, _ROWS_PER_STRIP)
    ]
    n_strips = len(strips)

    # layout: header(8) | strip data | [offset/count arrays] | IFD
    pos = 8
    offsets = []
    for s in strips:
        offsets.append(pos)
        pos += len(s)
    arrays = b""
    if n_strips > 1:
        off_array_pos = pos
        arrays += struct.pack(f"<{n_strips}I", *offsets)
        cnt_array_pos = pos + 4 * n_strips
        arrays += struct.pack(f"<{n_strips}I", *(len(s) for s in strips))
        pos += len(arrays)
    ifd_pos = pos

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        return struct.pack("<HHII", tag, typ, count, value)

    entries = [
        entry(_T_WIDTH, _TYPE_LONG, 1, width),
        entry(_T_HEIGHT, _TYPE_LONG, 1, height),
        entry(_T_BITS, _TYPE_SHORT, 1, 8),
        entry(_T_COMPRESSION, _TYPE_SHORT, 1, _PACKBITS),
        entry(_T_PHOTOMETRIC, _TYPE_SHORT, 1, 1),  # BlackIsZero
        entry(
            _T_STRIP_OFFSETS,
            _TYPE_LONG,
            n_strips,
            offsets[0] if n_strips == 1 else off_array_pos,
        ),
        entry(_T_SAMPLES, _TYPE_SHORT, 1, 1),
        entry(_T_ROWS_PER_STRIP, _TYPE_LONG, 1, _ROWS_PER_STRIP),
        entry(
            _T_STRIP_COUNTS,
            _TYPE_LONG,
            n_strips,
            len(strips[0]) if n_strips == 1 else cnt_array_pos,
        ),
    ]
    ifd = (
        struct.pack("<H", len(entries))
        + b"".join(entries)
        + struct.pack("<I", 0)
    )
    return (
        struct.pack("<2sHI", b"II", 42, ifd_pos)
        + b"".join(strips)
        + arrays
        + ifd
    )


def _read_values(content: bytes, typ: int, count: int, raw: bytes) -> list[int]:
    """IFD value rule: values fit inline in the 4-byte field when
    size*count <= 4, else the field holds an offset to the array."""
    size = _TYPE_SIZE.get(typ)
    if size is None:
        raise ValueError(f"unsupported TIFF field type {typ}")
    fmt = "<H" if typ == _TYPE_SHORT else "<I"
    if size * count <= 4:
        return [
            struct.unpack_from(fmt, raw, i * size)[0] for i in range(count)
        ]
    off = struct.unpack_from("<I", raw, 0)[0]
    if off + size * count > len(content):
        raise ValueError("TIFF value array out of bounds")
    return [
        struct.unpack_from(fmt, content, off + i * size)[0]
        for i in range(count)
    ]


def decode_tiff(content: bytes) -> dict:
    """Parse a little-endian grayscale-8 PackBits TIFF: IFD walk,
    per-strip PackBits inflate (output-bounded), logical pixel stats."""
    if len(content) < 8 or content[:4] != b"II\x2a\x00":
        raise ValueError("not a little-endian TIFF")
    ifd_pos = struct.unpack_from("<I", content, 4)[0]
    if ifd_pos + 2 > len(content):
        raise ValueError("IFD out of bounds")
    n_entries = struct.unpack_from("<H", content, ifd_pos)[0]
    if ifd_pos + 2 + n_entries * 12 + 4 > len(content):
        raise ValueError("IFD entries out of bounds")
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        base = ifd_pos + 2 + i * 12
        tag, typ, count = struct.unpack_from("<HHI", content, base)
        tags[tag] = _read_values(content, typ, count, content[base + 8 : base + 12])
    width = tags.get(_T_WIDTH, [0])[0]
    height = tags.get(_T_HEIGHT, [0])[0]
    if width <= 0 or height <= 0:
        raise ValueError("degenerate TIFF dimensions")
    if tags.get(_T_BITS, [8])[0] != 8 or tags.get(_T_SAMPLES, [1])[0] != 1:
        raise ValueError("only grayscale-8 supported")
    if tags.get(_T_COMPRESSION, [1])[0] != _PACKBITS:
        raise ValueError("only PackBits compression supported")
    rows_per_strip = tags.get(_T_ROWS_PER_STRIP, [height])[0]
    offsets = tags.get(_T_STRIP_OFFSETS)
    counts = tags.get(_T_STRIP_COUNTS)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("missing/mismatched strip tables")
    expected_strips = -(-height // rows_per_strip)
    if len(offsets) != expected_strips:
        raise ValueError("strip count does not match dimensions")
    px = bytearray()
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        if off + cnt > len(content):
            raise ValueError("strip out of bounds")
        strip_rows = min(rows_per_strip, height - si * rows_per_strip)
        px += packbits_decode(
            content[off : off + cnt], strip_rows * width
        )
    if len(px) != width * height:
        raise ValueError("pixel count mismatch")
    return {
        "width": width,
        "height": height,
        "n_pixels": width * height,
        "n_strips": len(offsets),
        "sum_gray": sum(px),
        "head_px": px[0],
    }


TIFF_FEATURE_SCHEMA = (
    "doc_id bigint, width int, height int, n_pixels bigint, "
    "n_strips int, sum_gray bigint, head_px int"
)
