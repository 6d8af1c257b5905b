"""[EXT] Real video decode + frame sampling for the multimodal column
path: a pure-Python uncompressed AVI (RIFF 'AVI ', 'vids'/'DIB '
stream, 24-bit BI_RGB frames) builder + parser — the video member of
the RIFF family alongside ``wav.py`` (RIFF/WAVE) and ``bmp.py`` (the
same DIB pixel layout, file-header-framed). The container writer
(:func:`avi_container`) and the RIFF walk (:func:`parse_avi`) are
shared with the Motion-JPEG codec in ``mjpeg.py``, which differs only
in its frame codec and chunk id. The parser walks real RIFF chunks
(hdrl → avih/strh/strf, movi → '00db' frame chunks), validates magics
and sizes, honors the DIB bottom-up row order and 4-byte stride, and
samples frames on an every-N-milliseconds grid — what an
ffmpeg-backed sampler would do, minus compressed codecs.

Pure bytes in, dict out; the Spark side is ``columns.decode_pass``.
"""

from __future__ import annotations

import struct

from .bmp import dib_pixels

_AVIH_SIZE = 56
_STRH_SIZE = 56
_BMIH_SIZE = 40


def avi_container(
    frames: list[bytes], width: int, height: int, fps: int,
    codec: bytes | None = None,
) -> bytes:
    """Wrap encoded frames in an AVI RIFF container, per the public AVI
    spec: RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf))
    LIST('movi' chunk*n)). ``codec`` None means uncompressed 24-bit
    DIB frames (stream handler 'DIB ', BI_RGB, '00db' chunks); otherwise
    it is the fourcc of a compressed codec, used as both the stream
    handler and ``biCompression``, with '00dc' chunks. Odd-sized chunks
    get one pad byte (RIFF chunks are word-aligned)."""
    if codec is None:
        handler, compression, chunk_id = b"DIB ", 0, b"00db"
    else:
        handler, compression, chunk_id = codec, struct.unpack("<I", codec)[0], b"00dc"
    n_frames = len(frames)
    bufsz = max(len(f) for f in frames)
    avih = b"avih" + struct.pack(
        "<I14I",
        _AVIH_SIZE,
        1_000_000 // fps,   # dwMicroSecPerFrame
        bufsz * fps,        # dwMaxBytesPerSec
        0,                  # dwPaddingGranularity
        0,                  # dwFlags
        n_frames,           # dwTotalFrames
        0,                  # dwInitialFrames
        1,                  # dwStreams
        bufsz,              # dwSuggestedBufferSize
        width,
        height,
        0, 0, 0, 0,         # dwReserved[4]
    )
    strh = b"strh" + struct.pack(
        "<I4s4sIHHIIIIIIiI4H",
        _STRH_SIZE,
        b"vids", handler,
        0, 0, 0, 0,          # flags, priority+language, initial frames
        1, fps,              # scale, rate → fps frames/sec
        0, n_frames,         # start, length (in frames)
        bufsz, -1, 0,        # bufsize, quality (-1 = default), samplesize
        0, 0, width, height,  # rcFrame
    )
    strf = b"strf" + struct.pack(
        "<IIiiHHIIiiII",
        _BMIH_SIZE,
        _BMIH_SIZE, width, height, 1, 24, compression,
        ((width * 3 + 3) & ~3) * height,  # biSizeImage of a 24-bit DIB
        2835, 2835, 0, 0,
    )

    def riff_list(kind: bytes, body: bytes) -> bytes:
        return b"LIST" + struct.pack("<I", 4 + len(body)) + kind + body

    movi = riff_list(b"movi", b"".join(
        chunk_id + struct.pack("<I", len(f)) + f + b"\x00" * (len(f) & 1)
        for f in frames
    ))
    hdrl = riff_list(b"hdrl", avih + riff_list(b"strl", strh + strf))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def avi_bytes(
    payload: bytes, width: int = 8, height: int = 8, fps: int = 10
) -> bytes:
    """Build an uncompressed AVI whose frames carry the payload bytes as
    grayscale DIBs, ``width*height`` payload bytes per frame (empty
    payloads become one all-black frame)."""
    frame_sz = width * height
    n_frames = max(-(-len(payload) // frame_sz), 1)
    frames = [
        dib_pixels(payload[i * frame_sz : (i + 1) * frame_sz], width, height)
        for i in range(n_frames)
    ]
    return avi_container(frames, width, height, fps)


def parse_avi(
    content: bytes, suffix: bytes
) -> tuple[int, int, int, int, list[tuple[int, int]]]:
    """The RIFF walk every AVI consumer shares: validates the RIFF/'AVI '
    magic and every chunk size, reads avih for timing/dimensions, and
    collects the movi frame chunks whose id ends in ``suffix`` (b"db"
    uncompressed, b"dc" compressed), checking their count against avih.
    Returns (usec_per_frame, width, height, n_frames,
    [(frame_offset, frame_size)]); raises ValueError on malformed
    input like any conformant reader."""
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        raise ValueError("not an AVI file")
    riff_size = struct.unpack_from("<I", content, 4)[0]
    if 8 + riff_size > len(content):
        raise ValueError("truncated RIFF")

    usec_per_frame = width = height = n_frames = None
    frames: list[tuple[int, int]] = []

    def walk(pos: int, end: int) -> None:
        nonlocal usec_per_frame, width, height, n_frames
        while pos + 8 <= end:
            fourcc = content[pos : pos + 4]
            size = struct.unpack_from("<I", content, pos + 4)[0]
            body, nxt = pos + 8, pos + 8 + size + (size & 1)  # word-aligned
            if body + size > end:
                raise ValueError(f"chunk {fourcc!r} overruns its parent")
            if fourcc == b"LIST":
                walk(body + 4, body + size)  # skip the list-type fourcc
            elif fourcc == b"avih":
                if size < _AVIH_SIZE:
                    raise ValueError("short avih")
                (usec_per_frame, _, _, _, n_frames, _, _, _, width, height) = (
                    struct.unpack_from("<10I", content, body)
                )
            elif fourcc[2:] == suffix:
                frames.append((body, size))
            pos = nxt

    walk(12, 8 + riff_size)
    if not usec_per_frame:
        raise ValueError("missing avih header")
    if len(frames) != n_frames:
        raise ValueError(f"frame count mismatch: avih={n_frames} movi={len(frames)}")
    return usec_per_frame, width, height, n_frames, frames


def decode_avi(content: bytes, every_ms: int = 200) -> dict:
    """Parse an uncompressed AVI and sample one frame every ``every_ms``
    of media time (frame 0 always sampled): the :func:`parse_avi` walk
    over '00db' frames, then stride-aware pixel statistics over the
    sampled frames. Raises on malformed input like any conformant
    reader."""
    usec_per_frame, width, height, n_frames, frames = parse_avi(content, b"db")

    stride = (width * 3 + 3) & ~3
    step = max(every_ms * 1000 // usec_per_frame, 1)
    sampled = range(0, n_frames, step)
    sum_rgb = 0
    head_px = -1
    for k, idx in enumerate(sampled):
        off, size = frames[idx]
        if size < stride * height:
            raise ValueError("truncated frame")
        for r in range(height):
            base = off + (height - 1 - r) * stride  # bottom-up storage
            row = content[base : base + width * 3]
            sum_rgb += sum(row)
            if k == 0 and r == 0:
                head_px = row[0]
    return {
        "width": width,
        "height": height,
        "n_frames": n_frames,
        "duration_ms": n_frames * usec_per_frame // 1000,
        "n_sampled": len(sampled),
        "sum_rgb_sampled": sum_rgb,
        "head_px": head_px,
    }


AVI_FEATURE_SCHEMA = (
    "doc_id bigint, width int, height int, n_frames int, duration_ms bigint, "
    "n_sampled int, sum_rgb_sampled bigint, head_px int"
)
