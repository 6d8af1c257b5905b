"""[EXT] Real COMPRESSED video decode — Motion-JPEG in AVI.

The round-6 baseline JPEG codec (``jpeg.py``) composed with the RIFF
container walker (``avi.py``) yields a genuinely real compressed-video
path: an MJPEG AVI is a standard AVI whose ``00dc`` chunks each carry a
complete standalone baseline JPEG (stream handler ``MJPG``,
``biCompression = 'MJPG'``) — exactly the format security cameras and
capture cards emit. Inter-frame codecs (h264) stay out of scope: they
need motion compensation.

Builder: frames of ``width×height`` grayscale pixels from the payload
bytes (zero-padded per frame), each encoded through the real DCT +
Huffman encoder, in the AVI container writer ``avi.avi_container``
with MJPG fourccs.

Decoder: the conformant RIFF walk ``avi.parse_avi`` (magics, sizes,
header/movi frame-count cross-check), then every SAMPLED frame
is run through the full baseline JPEG decoder — marker walk, per-frame
DHT table build (MJPEG frames are self-contained by spec), entropy
decode. Per-frame DC statistics are EXACT payload functions (the
``jpeg.py`` determinism note), so the Spark query's sampled-DC sums are
SQL-oracle-checkable even though the codec is lossy: a single
mis-decoded AC symbol in any sampled frame corrupts that frame's later
DCs and fails the hash gate.

Pure bytes in, dict out; the Spark side is ``columns.decode_pass``
(fanned out: per-frame DCT+Huffman decode is compute-bound).
"""

from __future__ import annotations

from .avi import avi_container, parse_avi
from .jpeg import decode_jpeg, jpeg_bytes


def mjpeg_bytes(
    payload: bytes, width: int = 16, height: int = 8, fps: int = 10
) -> bytes:
    """Build an MJPEG AVI whose frames carry the payload bytes as
    grayscale, ``width*height`` payload bytes per frame (zero-padded;
    empty payloads become one black frame), every frame a complete
    baseline JPEG in a ``00dc`` chunk."""
    frame_sz = width * height
    n_frames = max(-(-len(payload) // frame_sz), 1)
    jpegs = [
        jpeg_bytes(
            payload[i * frame_sz : (i + 1) * frame_sz].ljust(frame_sz, b"\x00"),
            width=width,
        )
        for i in range(n_frames)
    ]
    return avi_container(jpegs, width, height, fps, codec=b"MJPG")


def decode_mjpeg(content: bytes, every_ms: int = 200) -> dict:
    """Parse an MJPEG AVI and fully JPEG-decode one frame every
    ``every_ms`` of media time (frame 0 always sampled). The RIFF walk
    is ``avi.parse_avi``; each sampled ``00dc`` chunk goes through
    the complete baseline decoder and contributes its dequantized-DC
    stats. Raises ValueError on malformed containers or frames."""
    usec_per_frame, width, height, n_frames, frames = parse_avi(content, b"dc")

    step = max(every_ms * 1000 // usec_per_frame, 1)
    sampled = range(0, n_frames, step)
    dc_sum = 0
    dc_head = None
    for idx in sampled:
        off, size = frames[idx]
        f = decode_jpeg(content[off : off + size])
        if (f["width"], f["height"]) != (width, height):
            raise ValueError("frame dimensions disagree with avih")
        dc_sum += f["dc_sum"]
        if dc_head is None:
            dc_head = f["dc_head"]
    return {
        "width": width,
        "height": height,
        "n_frames": n_frames,
        "duration_ms": n_frames * usec_per_frame // 1000,
        "n_sampled": len(sampled),
        "dc_sum_sampled": int(dc_sum),
        "dc_head": int(dc_head) if dc_head is not None else 0,
    }


MJPEG_FEATURE_SCHEMA = (
    "doc_id bigint, width int, height int, n_frames int, duration_ms bigint, "
    "n_sampled int, dc_sum_sampled bigint, dc_head int"
)


def decode_mjpeg_scenes(content: bytes, threshold: int = 200) -> dict:
    """Shot-boundary (scene-change) detection over an MJPEG AVI: decode
    EVERY frame through the full baseline-JPEG path, take each frame's
    dequantized-DC sum as its brightness signature (the DC coefficient
    IS the 8×8 block mean — the classic compressed-domain shot-change
    feature, computable without inverse-DCT of the AC terms), and mark
    a boundary wherever consecutive frames' signatures jump by more
    than ``threshold``. Integer end-to-end.

    The per-video frame walk is SEQUENTIAL ON PURPOSE: one video is
    one unit of parallelism (frames within a shot are causally
    ordered); the corpus scales across videos via the Arrow batch
    axis, not within one.
    """
    _, width, height, n_frames, frames = parse_avi(content, b"dc")
    dcs: list[int] = []
    for off, size in frames:
        f = decode_jpeg(content[off : off + size])
        if (f["width"], f["height"]) != (width, height):
            raise ValueError("frame dimensions disagree with avih")
        dcs.append(int(f["dc_sum"]))
    n_changes = 0
    max_jump = 0
    for prev, cur in zip(dcs, dcs[1:]):
        jump = abs(cur - prev)
        max_jump = max(max_jump, jump)
        if jump > threshold:
            n_changes += 1
    return {
        "n_frames": n_frames,
        "n_scene_changes": n_changes,
        "max_jump": max_jump,
    }


SCENES_SCHEMA = (
    "doc_id bigint, n_frames int, n_scene_changes int, max_jump bigint"
)
