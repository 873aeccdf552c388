"""Pure-python PNG codec (zlib + struct) behind the q45 driver query."""

from __future__ import annotations

import numpy as np
import pytest

from sassy_spark.functions.imagecodec import (
    UnsupportedImageError,
    decode_png,
    encode_png,
)


def test_png_round_trip_all_filters_and_channels():
    """Every PNG unfilter branch (None/Sub/Up/Average/Paeth) x every
    supported channel count round-trips bit-exactly."""
    rng = np.random.default_rng(0)
    for ch in (1, 2, 3, 4):
        for ft in (0, 1, 2, 3, 4):
            arr = rng.integers(0, 256, (13, 7, ch), dtype=np.uint8)
            back = decode_png(encode_png(arr, filter_type=ft))
            assert np.array_equal(back, arr), (ch, ft)


def test_sniff_and_unsupported():
    arr = np.zeros((4, 4, 3), dtype=np.uint8)
    # 16-bit depth is outside documented coverage -> loud error
    png = bytearray(encode_png(arr))
    ihdr_at = png.index(b"IHDR")
    png[ihdr_at + 12] = 16  # bit depth byte
    with pytest.raises(UnsupportedImageError):
        decode_png(bytes(png))
