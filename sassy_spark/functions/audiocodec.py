"""Pure-python WAV (RIFF PCM) codec — REAL audio decode without ffmpeg.

Companion to ``imagecodec.py``: canonical WAV is decodable with nothing
beyond ``struct`` + numpy; the q46 driver query decodes audio with it
inside executors.

Coverage (documented, errors are loud not silent):
  WAV: RIFF/WAVE container, ``fmt `` chunk with audio format 1
       (integer PCM), 8-bit unsigned or 16-bit signed little-endian
       samples, any channel count / sample rate. The chunk walk skips
       unknown chunks (LIST, fact, ...) and honours the odd-size pad
       byte. IEEE float (format 3), WAVE_FORMAT_EXTENSIBLE (0xFFFE),
       and compressed formats raise ``UnsupportedAudioError``.

Decoded samples are returned in their NATIVE storage dtype — ``uint8``
(0..255, silence at 128) for 8-bit, ``int16`` for 16-bit — shaped
(n_frames, n_channels); callers who want a symmetric signal centre the
8-bit case themselves. This keeps round-trips exact (encode(decode(x))
is byte-identical for supported inputs).

No reference code involved: layout per the public RIFF/WAVE format
(Microsoft/IBM multimedia programming interface spec, 1991).
"""

from __future__ import annotations

import struct

import numpy as np


class UnsupportedAudioError(ValueError):
    """Format feature outside this codec's documented coverage."""


def sniff_wav(data: bytes) -> bool:
    """True iff ``data`` carries the RIFF/WAVE magic."""
    return len(data) >= 12 and data[:4] == b"RIFF" and data[8:12] == b"WAVE"


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode PCM samples to a canonical WAV byte string.

    ``samples``: (n_frames,) or (n_frames, n_channels), dtype ``uint8``
    (8-bit unsigned convention) or ``int16`` (little-endian on disk).
    """
    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr[:, None]
    if arr.ndim != 2:
        raise ValueError(f"samples must be 1-D or 2-D, got shape {arr.shape}")
    if arr.dtype == np.uint8:
        bits = 8
        raw = arr.tobytes()
    elif arr.dtype == np.int16:
        bits = 16
        raw = arr.astype("<i2").tobytes()
    else:
        raise UnsupportedAudioError(
            f"encode_wav supports uint8/int16 samples, got {arr.dtype}"
        )
    n_ch = arr.shape[1]
    block_align = n_ch * bits // 8
    byte_rate = sample_rate * block_align
    fmt = struct.pack(
        "<HHIIHH", 1, n_ch, sample_rate, byte_rate, block_align, bits
    )
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(raw)) + raw
        + (b"\x00" if len(raw) % 2 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a PCM WAV byte string -> (samples, sample_rate).

    ``samples`` is (n_frames, n_channels) in the native storage dtype
    (uint8 for 8-bit, int16 for 16-bit).
    """
    if not sniff_wav(data):
        raise UnsupportedAudioError("not a RIFF/WAVE payload")
    pos, end = 12, min(len(data), 8 + struct.unpack("<I", data[4:8])[0])
    fmt_info = None
    pcm = None
    while pos + 8 <= end:
        cid = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise UnsupportedAudioError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            if size < 16:
                raise UnsupportedAudioError("fmt chunk too short")
            audio_fmt, n_ch, rate, _, _, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if audio_fmt != 1:
                raise UnsupportedAudioError(
                    f"audio format {audio_fmt} (only integer PCM = 1)"
                )
            if bits not in (8, 16):
                raise UnsupportedAudioError(f"{bits}-bit PCM (only 8/16)")
            if n_ch < 1:
                raise UnsupportedAudioError("zero channels")
            fmt_info = (n_ch, rate, bits)
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size % 2)  # odd chunk sizes carry a pad byte
    if fmt_info is None or pcm is None:
        raise UnsupportedAudioError("missing fmt or data chunk")
    n_ch, rate, bits = fmt_info
    dtype = np.uint8 if bits == 8 else np.dtype("<i2")
    frame_bytes = n_ch * bits // 8
    n_frames = len(pcm) // frame_bytes
    arr = np.frombuffer(pcm[: n_frames * frame_bytes], dtype=dtype)
    return arr.reshape(n_frames, n_ch).astype(
        np.uint8 if bits == 8 else np.int16
    ), rate
