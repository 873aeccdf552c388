"""Pure-python PNG codec — REAL image decode without PIL.

PNG is decodable with nothing beyond ``zlib`` + ``struct`` (both
stdlib); the q45 driver query decodes images with it inside executors.

Coverage (documented, errors are loud not silent):
  PNG: 8-bit depth, color types 0 (gray), 2 (RGB), 4 (gray+alpha),
       6 (RGBA); all five scanline filters (None/Sub/Up/Average/Paeth);
       non-interlaced only. 16-bit, palette, and Adam7 raise
       ``UnsupportedImageError``.

Arrays are (H, W, C) uint8 throughout.

No reference code involved: PNG per ISO/IEC 15948 (the public spec).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # PNG color type -> samples/pixel


class UnsupportedImageError(ValueError):
    """Format feature outside this codec's documented coverage."""


# -------------------------------------------------------------------- PNG


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> (H, W, C) uint8."""
    if data[:8] != PNG_SIGNATURE:
        raise UnsupportedImageError("not a PNG (bad signature)")
    pos = 8
    width = height = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + body + crc
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
    if width is None:
        raise UnsupportedImageError("PNG missing IHDR")
    if bit_depth != 8:
        raise UnsupportedImageError(f"PNG bit depth {bit_depth} (only 8)")
    if color_type not in _CHANNELS:
        raise UnsupportedImageError(
            f"PNG color type {color_type} (palette not supported)"
        )
    if interlace != 0:
        raise UnsupportedImageError("Adam7 interlace not supported")
    ch = _CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = width * ch
    if len(raw) != height * (stride + 1):
        raise UnsupportedImageError("PNG IDAT size mismatch")
    out = np.zeros((height, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.intp)
    for y in range(height):
        row0 = y * (stride + 1)
        ft = raw[row0]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=row0 + 1
        ).astype(np.intp)
        if ft == 0:
            recon = line
        elif ft == 2:  # Up — vectorizable
            recon = (line + prior) & 0xFF
        elif ft in (1, 3, 4):  # Sub/Average/Paeth — sequential in x
            recon = np.zeros(stride, dtype=np.intp)
            for x in range(stride):
                a = recon[x - ch] if x >= ch else 0
                b = prior[x]
                c = prior[x - ch] if x >= ch else 0
                if ft == 1:
                    recon[x] = (line[x] + a) & 0xFF
                elif ft == 3:
                    recon[x] = (line[x] + ((a + b) >> 1)) & 0xFF
                else:
                    recon[x] = (line[x] + _paeth(int(a), int(b), int(c))) & 0xFF
        else:
            raise UnsupportedImageError(f"PNG filter type {ft}")
        out[y] = recon.astype(np.uint8)
        prior = recon
    return out.reshape(height, width, ch)


def _filter_row(
    ft: int, line: np.ndarray, prev: np.ndarray, ch: int
) -> np.ndarray:
    """Forward-apply a PNG filter (encoder side; also exercises the
    decoder's unfilter inverses in tests)."""
    line = line.astype(np.intp)
    prev = prev.astype(np.intp)
    out = np.zeros_like(line)
    for x in range(len(line)):
        a = line[x - ch] if x >= ch else 0
        b = prev[x]
        c = prev[x - ch] if x >= ch else 0
        if ft == 0:
            out[x] = line[x]
        elif ft == 1:
            out[x] = line[x] - a
        elif ft == 2:
            out[x] = line[x] - b
        elif ft == 3:
            out[x] = line[x] - ((a + b) >> 1)
        elif ft == 4:
            out[x] = line[x] - _paeth(int(a), int(b), int(c))
        else:
            raise ValueError(f"filter {ft}")
    return (out & 0xFF).astype(np.uint8)


def encode_png(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """(H, W[, C]) uint8 -> PNG bytes. ``filter_type`` applies one filter
    to every scanline (0 is the fast path; 1-4 exist so tests can
    round-trip every unfilter branch)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}.get(ch)
    if color_type is None:
        raise ValueError(f"unsupported channel count {ch}")
    flat = arr.reshape(h, w * ch)
    lines = bytearray()
    prev = np.zeros(w * ch, dtype=np.uint8)
    for y in range(h):
        if filter_type == 0:
            lines += b"\x00" + flat[y].tobytes()
        else:
            lines += bytes([filter_type]) + _filter_row(
                filter_type, flat[y], prev, ch
            ).tobytes()
        prev = flat[y]

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(lines), 6))
        + chunk(b"IEND", b"")
    )

