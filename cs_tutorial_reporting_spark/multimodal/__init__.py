from .columns import attach_media, decode_pass
from .wav import decode_wav, wav_bytes

__all__ = [
    "attach_media",
    "decode_pass",
    "decode_wav",
    "wav_bytes",
]
