"""[EXT] Real baseline JPEG codec — DCT + Huffman, pure Python/NumPy.

The third COMPRESSED format in the multimodal family (after GIF-LZW and
PNG-DEFLATE): nothing in baseline JPEG needs a codec library — the DCT
is an 8×8 matrix multiply, the entropy layer is canonical Huffman over
(run, size) symbols, both fully specified in the public standard
(ITU-T T.81 / ISO 10918-1; Annex K gives the example Huffman tables
used here for encoding).

Encoder: 8-bit single-component (grayscale) JFIF — level shift, 2D
DCT-II per 8×8 block, quantization (all-ones table: "quality 100"; the
table still ships in DQT like any real file), zig-zag, DC differential
+ AC run-length coding, Annex-K Huffman tables, byte stuffing, proper
marker segments (SOI/APP0/DQT/SOF0/DHT/SOS/EOI).

Decoder: a conformant reader of the baseline grayscale subset — walks
marker segments, builds Huffman tables FROM the DHT segments (so
foreign baseline files with different tables decode too), reads the
quantization table from DQT, entropy-decodes the scan (byte-unstuffing,
restart-marker handling with DC-predictor reset, EOB/ZRL, magnitude
``extend``), dequantizes, de-zigzags, and IDCTs. Progressive (SOF2),
multi-component, and 16-bit tables raise ValueError like any reader
that doesn't support them.

Determinism note (cross-engine oracle parity): JPEG is LOSSY, so
decoded PIXELS are not an exact function of the payload — but the
dequantized DC coefficients ARE: with the all-ones table, block b's DC
is exactly ``floor((blocksum_b - 8192)/8 + 0.5)`` (the DCT's F(0,0) is
mathematically Σf/8; the encoder snaps it to that exact rational so a
float ULP can never flip a .5-boundary rounding — the float path would
be wrong only in the last ULP, but 1/8 of all block sums land exactly
on the boundary). The Spark query therefore returns DC-level stats
(which a SQL oracle replicates from raw bytes) — and those stats are a
STRONG end-to-end check of the entropy layer: one mis-decoded AC
symbol desynchronizes the bitstream and corrupts every later DC.
Pixel-level IDCT correctness is property-tested in pytest instead
(round-trip error bounds; exact DCT/IDCT inversion pre-quantization).

Pure bytes in, dict out; the Spark side is ``columns.decode_pass``
(fanned out: the decode is compute-bound pure Python, ~ms per blob).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- DCT

def _dct_matrix() -> np.ndarray:
    """Orthonormal 8×8 DCT-II matrix M: F = M @ f @ M.T (float64)."""
    M = np.zeros((8, 8), dtype="float64")
    for u in range(8):
        c = (1.0 / np.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            M[u, x] = 0.5 * c * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return M


_M = _dct_matrix()

#: zig-zag scan order: _ZIGZAG[k] = (row, col) of the k-th coefficient
_ZIGZAG: list[tuple[int, int]] = sorted(
    [(r, c) for r in range(8) for c in range(8)],
    key=lambda rc: (rc[0] + rc[1], rc[1] if (rc[0] + rc[1]) % 2 else rc[0]),
)

# Annex K example Huffman tables (public spec constants).
#: luminance DC: BITS (codes per length 1..16) then HUFFVAL (categories)
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
#: luminance AC
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length): canonical Huffman per T.81 C.2 —
    codes assigned in value order, incrementing, left-shifted at each
    length boundary."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) → symbol, for the decoder's bit-at-a-time walk."""
    return {
        (length, code): sym
        for sym, (code, length) in _canonical_codes(bits, vals).items()
    }


def _mag_category(v: int) -> int:
    """JPEG magnitude category: number of bits in |v| (0 for v == 0)."""
    return int(abs(v)).bit_length()


# ------------------------------------------------------------- encoder

class _BitWriter:
    """MSB-first bit packer with 0xFF byte stuffing; final byte padded
    with 1-bits (T.81 F.1.2.3)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            b = ((self.acc << pad) | ((1 << pad) - 1)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


def _encode_coef(w: _BitWriter, codes, v: int) -> None:
    """Huffman size-category code + magnitude bits (negative values in
    one's-complement of |v|, per the extend() convention)."""
    s = _mag_category(v)
    code, length = codes[s]
    w.write(code, length)
    if s:
        w.write(v if v >= 0 else v + (1 << s) - 1, s)


def jpeg_bytes(payload: bytes, width: int = 16) -> bytes:
    """Build a real baseline JFIF whose 8-bit grayscale pixels are the
    payload bytes, ``width`` px per row, zero-padded to fill the last
    row (empty payloads become one black row); block padding to the 8×8
    grid is also zeros. Real DCT, real quantization (all-ones table),
    real Annex-K Huffman entropy coding with byte stuffing.

    The DC coefficient of each block is snapped to its exact rational
    value floor((blocksum-8192)/8 + .5) — see the module docstring."""
    if width % 8:
        raise ValueError("width must be a multiple of 8")
    height = max(-(-len(payload) // width), 1)
    pix = np.zeros((height * width,), dtype="float64")
    pix[: len(payload)] = np.frombuffer(payload, dtype="uint8")
    img = pix.reshape(height, width)
    h8 = -(-height // 8)
    padded = np.zeros((h8 * 8, width), dtype="float64")
    padded[:height] = img

    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)
    w = _BitWriter()
    prev_dc = 0
    for br in range(h8):
        for bc in range(width // 8):
            block = padded[br * 8 : br * 8 + 8, bc * 8 : bc * 8 + 8]
            bs = int(block.sum())
            coefs = _M @ (block - 128.0) @ _M.T
            q = np.floor(coefs + 0.5).astype("int64")
            q[0, 0] = (bs - 8192 + 4) // 8  # exact DC (module docstring)
            zz = [int(q[r, c]) for r, c in _ZIGZAG]
            _encode_coef(w, dc_codes, zz[0] - prev_dc)
            prev_dc = zz[0]
            run = 0
            last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
            for k in range(1, last_nz + 1):
                if zz[k] == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = ac_codes[0xF0]  # ZRL
                    w.write(code, length)
                    run -= 16
                s = _mag_category(zz[k])
                code, length = ac_codes[(run << 4) | s]
                w.write(code, length)
                w.write(
                    zz[k] if zz[k] >= 0 else zz[k] + (1 << s) - 1, s
                )
                run = 0
            if last_nz < 63:
                code, length = ac_codes[0x00]  # EOB
                w.write(code, length)
    scan = w.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    def dht(cls: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
        return bytes([cls << 4 | tid]) + bytes(bits) + bytes(vals)

    out = b"\xff\xd8"  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + b"\x01" * 64)  # DQT: 8-bit, id 0, all 1
    out += seg(
        0xFFC0,  # SOF0 baseline: 8-bit, true dims, 1 component, no subsampling
        struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0]),
    )
    out += seg(0xFFC4, dht(0, 0, _DC_BITS, _DC_VALS))
    out += seg(0xFFC4, dht(1, 0, _AC_BITS, _AC_VALS))
    out += seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))  # SOS
    out += scan
    out += b"\xff\xd9"  # EOI
    return out


# ------------------------------------------------------------- decoder

class _BitReader:
    """MSB-first bit reader over entropy-coded data: strips 0xFF00
    stuffing, surfaces RSTn as ``'rst'`` sentinels, stops at any other
    marker (EOI ends the scan)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.ended = False

    def _fill(self) -> bool:
        d, p = self.data, self.pos
        if p >= len(d):
            self.ended = True
            return False
        b = d[p]
        if b == 0xFF:
            if p + 1 >= len(d):
                self.ended = True
                return False
            nxt = d[p + 1]
            if nxt == 0x00:
                self.pos = p + 2
            elif 0xD0 <= nxt <= 0xD7:
                # restart markers are consumed by sync_restart(), not here
                self.ended = True
                return False
            else:
                self.ended = True  # EOI or a foreign marker: scan over
                return False
        else:
            self.pos = p + 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8
        return True

    def read(self, n: int) -> int:
        while self.nbits < n:
            if not self._fill():
                raise ValueError("truncated entropy-coded segment")
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in scan")

    def sync_restart(self) -> None:
        """Byte-align and consume the expected RSTn marker."""
        self.acc = 0
        self.nbits = 0
        d, p = self.data, self.pos
        if p + 1 >= len(d) or d[p] != 0xFF or not (0xD0 <= d[p + 1] <= 0xD7):
            raise ValueError("expected restart marker")
        self.pos = p + 2
        self.ended = False


def _extend(r: int, s: int) -> int:
    """T.81 F.12: magnitude bits → signed value."""
    return r if r >= (1 << (s - 1)) else r - (1 << s) + 1


def decode_jpeg(content: bytes, want_pixels: bool = False) -> dict:
    """Parse a baseline single-component JFIF/JPEG: walk the marker
    segments, build Huffman tables from DHT, read DQT, entropy-decode
    every 8×8 block of the scan (DC prediction, EOB/ZRL, restart
    markers), dequantize. Raises ValueError on anything malformed or
    outside the baseline-grayscale subset — like any conformant reader
    that doesn't implement progressive or color.

    Returns dims + DC-level stats (exact payload functions — module
    docstring); ``want_pixels=True`` additionally runs the IDCT and
    returns the clamped pixel array under ``"pixels"``."""
    if len(content) < 4 or content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG file (no SOI)")
    pos = 2
    qt: dict[int, list[int]] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    sof = None
    restart_interval = 0
    scan_start = None
    comp_dc = comp_ac = comp_q = 0
    while pos + 4 <= len(content):
        if content[pos] != 0xFF:
            raise ValueError("expected marker")
        marker = content[pos + 1]
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack_from(">H", content, pos + 2)
        body = content[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated segment")
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quantization tables unsupported")
                if i + 65 > len(body):
                    raise ValueError("truncated DQT")
                qt[tq] = list(body[i + 1 : i + 65])
                i += 65
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(body):
                cls, tid = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                if len(bits) < 16 or len(vals) < n:
                    raise ValueError("truncated DHT")
                (dc_tables if cls == 0 else ac_tables)[tid] = _decode_table(
                    bits, vals
                )
                i += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 (baseline/ext seq)
            prec, h, w_, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            if nc != 1:
                raise ValueError("only single-component (grayscale) supported")
            # per-component triplet: id, sampling factors, q-table id
            if body[7] != 0x11:
                raise ValueError("subsampling unsupported for 1 component")
            sof = (h, w_)
            comp_q = body[8]
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError("progressive/hierarchical JPEG unsupported")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            if body[0] != 1:
                raise ValueError("multi-component scan unsupported")
            comp_dc, comp_ac = body[2] >> 4, body[2] & 0x0F
            scan_start = pos + 2 + seglen
            break
        # APPn/COM/others: skipped
        pos += 2 + seglen
    if sof is None or scan_start is None:
        raise ValueError("missing SOF or SOS")
    if comp_q not in qt:
        raise ValueError("scan references undefined quantization table")
    if comp_dc not in dc_tables or comp_ac not in ac_tables:
        raise ValueError("scan references undefined Huffman table")
    h, w_ = sof
    q = qt[comp_q]
    dct_tbl, act_tbl = dc_tables[comp_dc], ac_tables[comp_ac]
    bw, bh = -(-w_ // 8), -(-h // 8)
    n_blocks = bw * bh
    rd = _BitReader(content, scan_start)
    prev_dc = 0
    dc_sum = 0
    dc_head = None
    pixels = (
        np.zeros((bh * 8, bw * 8), dtype="float64") if want_pixels else None
    )
    for bi in range(n_blocks):
        if restart_interval and bi and bi % restart_interval == 0:
            rd.sync_restart()
            prev_dc = 0
        s = rd.huff(dct_tbl)
        diff = _extend(rd.read(s), s) if s else 0
        prev_dc += diff
        dq_dc = prev_dc * q[0]
        dc_sum += dq_dc
        if dc_head is None:
            dc_head = dq_dc
        zz = [0] * 64
        zz[0] = dq_dc
        k = 1
        while k < 64:
            rs = rd.huff(act_tbl)
            r, s = rs >> 4, rs & 0x0F
            if rs == 0x00:  # EOB
                break
            if rs == 0xF0:  # ZRL
                k += 16
                continue
            k += r
            if k > 63:
                raise ValueError("AC run past end of block")
            zz[k] = _extend(rd.read(s), s) * q[k]
            k += 1
        if want_pixels:
            C = np.zeros((8, 8), dtype="float64")
            for kk, (rr, cc) in enumerate(_ZIGZAG):
                C[rr, cc] = zz[kk]
            blk = _M.T @ C @ _M + 128.0
            br, bc = divmod(bi, bw)
            pixels[br * 8 : br * 8 + 8, bc * 8 : bc * 8 + 8] = blk
    out = {
        "width": w_,
        "height": h,
        "n_pixels": w_ * h,
        "n_blocks": n_blocks,
        "dc_sum": int(dc_sum),
        "dc_head": int(dc_head) if dc_head is not None else 0,
    }
    if want_pixels:
        out["pixels"] = np.clip(np.floor(pixels + 0.5), 0, 255).astype(
            "uint8"
        )[:h, :w_]
    return out


JPEG_FEATURE_SCHEMA = (
    "doc_id bigint, width int, height int, n_pixels bigint, "
    "n_blocks int, dc_sum bigint, dc_head int"
)
