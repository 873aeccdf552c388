"""Pure-python PCM WAV codec (struct + numpy) behind the q46 driver
query."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from sassy_spark.functions.audiocodec import (
    UnsupportedAudioError,
    decode_wav,
    encode_wav,
    sniff_wav,
)


def test_wav_round_trip_16bit_stereo():
    rng = np.random.default_rng(0)
    arr = rng.integers(-32768, 32768, (1237, 2)).astype(np.int16)
    samples, rate = decode_wav(encode_wav(arr, 44100))
    assert rate == 44100
    assert samples.dtype == np.int16
    assert np.array_equal(samples, arr)


def test_wav_round_trip_8bit_mono_odd_length():
    """Odd data size exercises the RIFF pad byte on encode and the
    pad-skip in the chunk walk on decode."""
    rng = np.random.default_rng(1)
    arr = rng.integers(0, 256, (333,)).astype(np.uint8)
    samples, rate = decode_wav(encode_wav(arr, 8000))
    assert rate == 8000
    assert samples.dtype == np.uint8
    assert samples.shape == (333, 1)
    assert np.array_equal(samples[:, 0], arr)


def test_wav_decode_skips_unknown_chunks():
    """A LIST chunk between fmt and data (common in real files) must be
    walked over, not treated as corruption."""
    arr = np.arange(100, dtype=np.int16)
    raw = encode_wav(arr, 16000)
    # splice an odd-sized LIST chunk after fmt (ends at offset 36)
    junk = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    spliced = raw[:36] + junk + raw[36:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    samples, rate = decode_wav(spliced)
    assert rate == 16000
    assert np.array_equal(samples[:, 0], arr)


def test_wav_unsupported_loud():
    assert not sniff_wav(b"\x89PNG1234WAVE")
    with pytest.raises(UnsupportedAudioError):
        decode_wav(b"not a wav at all")
    # IEEE float format (3) is outside documented coverage
    raw = bytearray(encode_wav(np.zeros(10, dtype=np.int16), 8000))
    raw[20:22] = struct.pack("<H", 3)
    with pytest.raises(UnsupportedAudioError, match="audio format 3"):
        decode_wav(bytes(raw))
    # 24-bit PCM is outside documented coverage
    raw = bytearray(encode_wav(np.zeros(10, dtype=np.int16), 8000))
    raw[34:36] = struct.pack("<H", 24)
    with pytest.raises(UnsupportedAudioError, match="24-bit"):
        decode_wav(bytes(raw))
    with pytest.raises(UnsupportedAudioError):
        encode_wav(np.zeros(10, dtype=np.float32), 8000)
