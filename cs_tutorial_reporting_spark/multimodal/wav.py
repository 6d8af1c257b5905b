"""[EXT] Real audio decode for the multimodal column path: a
pure-Python RIFF/WAVE container builder + parser (no codec library
needed), plus the integer-exact DSP features and voice-activity
segmentation computed over the decoded PCM.

Pure bytes in, dict out; the Spark side is ``columns.decode_pass``.
Swapping the parser for libsndfile/ffmpeg is a one-function change.
"""

from __future__ import annotations

import struct

import numpy as np


def wav_bytes(
    pcm: bytes, sample_rate: int = 8000, channels: int = 1, sampwidth: int = 1
) -> bytes:
    """Build a canonical RIFF/WAVE container (PCM format chunk + data
    chunk) around raw PCM bytes. Layout per the public WAVE spec:
    RIFF size / 'WAVE' / 'fmt ' (16-byte PCM header) / 'data'."""
    byte_rate = sample_rate * channels * sampwidth
    block_align = channels * sampwidth
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, byte_rate, block_align, sampwidth * 8
    )
    data_size = len(pcm)
    # RIFF chunks are word-aligned: odd-length data gets a zero pad byte
    # that counts toward the enclosing RIFF size but NOT the data chunk's
    # own size field — required for external readers (libsndfile/ffmpeg)
    # to parse any chunk that might follow
    pad = b"\x00" if data_size % 2 else b""
    riff_size = 4 + (8 + len(fmt)) + (8 + data_size + len(pad))
    return (
        b"RIFF"
        + struct.pack("<I", riff_size)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", data_size)
        + pcm
        + pad
    )


def decode_wav(content: bytes, want_data: bool = False) -> dict:
    """Parse a RIFF/WAVE container: walk the chunk list, read the PCM
    ``fmt `` header, locate ``data``. This is a REAL decoder (not a
    fake): it trusts nothing but the bytes, raises on malformed input,
    and skips unknown chunks like any conformant reader."""
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(content):
        cid, size = content[pos : pos + 4], struct.unpack_from("<I", content, pos + 4)[0]
        body = content[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, channels, sample_rate, _, _, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if audio_fmt != 1:
                raise ValueError(f"non-PCM format {audio_fmt}")
            fmt = (channels, sample_rate, bits)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    channels, sample_rate, bits = fmt
    n_samples = len(data) // (channels * (bits // 8))
    out = {
        "sample_rate": sample_rate,
        "n_channels": channels,
        "bits": bits,
        "n_samples": n_samples,
        "duration_ms": n_samples * 1000 // sample_rate,
        "first_sample": data[0] if data else -1,
    }
    if want_data:
        out["data"] = data
    return out


def wav_dsp_features(content: bytes, frame_len: int = 160) -> dict:
    """Signal-level audio features over the DECODED PCM — the
    feature-extraction stage after decode (VAD energy gating, silence
    trimming, clipping detection all start here): total energy (Σ s²),
    zero-crossing count, peak amplitude, and max per-frame energy over
    ``frame_len``-sample windows (20 ms at 8 kHz). 16-bit mono only.

    Everything is INTEGER arithmetic over int16 samples — no floats —
    so the features are exact payload functions and a SQL oracle
    replicates them bit-for-bit from the raw bytes (little-endian
    16-bit sign convention included). NumPy int64 vector math inside
    the Arrow batch; a short trailing byte (odd data length) is ignored
    exactly as ``n_samples`` floor division implies."""
    meta = decode_wav(content, want_data=True)
    data = meta["data"]
    if meta["bits"] != 16 or meta["n_channels"] != 1:
        raise ValueError("dsp features support 16-bit mono PCM only")
    n = meta["n_samples"]
    s = np.frombuffer(data[: n * 2], dtype="<i2").astype("int64")
    if n:
        nf = -(-n // frame_len)
        padded = np.zeros(nf * frame_len, dtype="int64")
        padded[:n] = s
        max_fe = int(
            (padded * padded).reshape(nf, frame_len).sum(axis=1).max()
        )
    else:
        nf, max_fe = 0, 0
    return {
        "n_samples": n,
        "n_frames": nf,
        "sum_energy": int((s * s).sum()),
        "n_zero_cross": int(((s[:-1] < 0) != (s[1:] < 0)).sum()) if n > 1 else 0,
        "peak_abs": int(np.abs(s).max()) if n else 0,
        "max_frame_energy": max_fe,
    }


WAV_FEATURE_SCHEMA = (
    "doc_id bigint, sample_rate int, n_channels int, bits int, "
    "n_samples bigint, duration_ms bigint, first_sample int"
)


WAV_DSP_SCHEMA = (
    "doc_id bigint, n_samples bigint, n_frames int, sum_energy bigint, "
    "n_zero_cross bigint, peak_abs int, max_frame_energy bigint"
)


def wav_vad_segments(content: bytes, frame_len: int = 160) -> dict:
    """Energy-based voice-activity segmentation after real decode: a
    20 ms frame is ACTIVE iff 4·energy ≥ the clip's max frame energy
    (a scale-free integer rule — no tuned absolute threshold, no
    floats), and consecutive active frames chain into utterance
    segments. Returns frame/active/segment counts and the longest
    segment — the trim/split statistics a speech-data pipeline cuts
    on. Integer end-to-end, so a SQL oracle replicates decode + VAD
    bit-for-bit from the raw bytes.
    """
    meta = decode_wav(content, want_data=True)
    if meta["bits"] != 16 or meta["n_channels"] != 1:
        raise ValueError("vad supports 16-bit mono PCM only")
    n = meta["n_samples"]
    s = np.frombuffer(meta["data"][: n * 2], dtype="<i2").astype("int64")
    if not n:
        return {
            "n_frames": 0,
            "n_active": 0,
            "n_segments": 0,
            "longest_run": 0,
        }
    nf = -(-n // frame_len)
    padded = np.zeros(nf * frame_len, dtype="int64")
    padded[:n] = s
    e = (padded * padded).reshape(nf, frame_len).sum(axis=1)
    max_e = int(e.max())
    active = (e * 4 >= max_e).tolist()
    n_segments = longest = run = 0
    for a in active:
        if a:
            run += 1
            if run == 1:
                n_segments += 1
            longest = max(longest, run)
        else:
            run = 0
    return {
        "n_frames": int(nf),
        "n_active": int(sum(active)),
        "n_segments": n_segments,
        "longest_run": longest,
    }


VAD_SCHEMA = (
    "doc_id bigint, n_frames int, n_active int, n_segments int, "
    "longest_run int"
)
