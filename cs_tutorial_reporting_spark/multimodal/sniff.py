"""Container sniffing + dispatch — the front door of a mixed-media
ingest: a crawl dump column holds SOME binary per row; the engine must
identify the container from its magic bytes and route it to the right
decoder (never trust an extension or an upstream content-type). One
row function per blob: sniff → dispatch → REAL decode (every branch is
one of the engine's full codec implementations) → normalized (format,
units) features, where units = pixels for images, samples for audio,
frame-pixels for video.

Unknown magic raises — a mixed-ingest front door that silently guesses
is how corrupt shards poison a corpus (the DLQ pattern in
sources/evolution.py is the quarantine half of this story).

Pure bytes in, tuple out; the Spark side is ``columns.decode_pass``
(fanned out: every row runs a full decode).
"""

from __future__ import annotations

from .avi import avi_bytes, decode_avi
from .bmp import bmp_bytes, decode_bmp
from .gif import decode_gif, gif_bytes
from .png import decode_png, png_bytes
from .tiff import decode_tiff, tiff_bytes
from .wav import decode_wav, wav_bytes

#: doc_id % 6 → container family for the synthetic mixed corpus
SYNTHS = [
    ("bmp", bmp_bytes),
    ("gif", gif_bytes),
    ("png", png_bytes),
    ("tiff", tiff_bytes),
    ("wav", wav_bytes),
    ("avi", avi_bytes),
]


def sniff_format(content: bytes) -> str:
    """Identify the container from magic bytes alone."""
    if content[:2] == b"BM":
        return "bmp"
    if content[:4] == b"GIF8":
        return "gif"
    if content[:4] == b"\x89PNG":
        return "png"
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        return "wav"
    if content[:4] == b"RIFF" and content[8:12] == b"AVI ":
        return "avi"
    raise ValueError(f"unknown container magic: {content[:12]!r}")


def sniff_and_units(content: bytes) -> tuple[str, int]:
    """Sniff, run the REAL decoder for that family, return the
    normalized content size (pixels / samples / frame-pixels)."""
    fmt = sniff_format(content)
    if fmt == "bmp":
        return fmt, decode_bmp(content)["n_pixels"]
    if fmt == "gif":
        return fmt, decode_gif(content)["n_pixels"]
    if fmt == "png":
        return fmt, decode_png(content)["n_pixels"]
    if fmt == "tiff":
        return fmt, decode_tiff(content)["n_pixels"]
    if fmt == "wav":
        return fmt, decode_wav(content)["n_samples"]
    d = decode_avi(content)
    return fmt, d["n_frames"] * d["width"] * d["height"]


def synth_mixed_and_sniff(doc_id: int, payload: bytes) -> tuple[str, int]:
    """Build the container ``doc_id % 6`` picks (the synthetic MIXED
    corpus), then sniff-and-dispatch it WITHOUT using the branch that
    built it — the round-trip proves sniffing, not bookkeeping."""
    _, synth = SYNTHS[int(doc_id) % len(SYNTHS)]
    return sniff_and_units(synth(payload))


SNIFF_SCHEMA = "doc_id bigint, fmt string, units bigint"
