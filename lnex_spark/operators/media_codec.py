"""Binary PPM (netpbm P6) codec in pure numpy/stdlib.

This is what is left of the former media library: the BMP, PGM, PNG,
WAV and VID0 codecs, their Spark decode operators and the multimodal
module are gone, because LNEx reads text and no KG path decodes media.
Nothing in the KG path calls this module either; it is the next cut
(ROADMAP, library cuts).

``decode_ppm`` honours whitespace runs and ``#`` comment lines in the
header, as the netpbm format allows.
"""

from __future__ import annotations

import numpy as np


def _pnm_header(b: bytes):
    """Parse a netpbm header (magic, width, height, maxval) honoring
    whitespace runs and ``#`` comment lines; returns (magic, w, h,
    maxval, body_offset)."""
    fields, i, n = [], 2, len(b)
    magic = b[:2]
    while len(fields) < 3 and i < n:
        while i < n and b[i : i + 1].isspace():
            i += 1
        if b[i : i + 1] == b"#":
            while i < n and b[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < n and not b[j : j + 1].isspace():
            j += 1
        fields.append(int(b[i:j]))
        i = j
    i += 1  # single whitespace byte after maxval, then raster
    w, h, maxval = fields
    return magic, w, h, maxval, i


def encode_ppm(px: np.ndarray) -> bytes:
    """Encode (H, W, 3) uint8 RGB as binary P6 PPM."""
    px = np.ascontiguousarray(px, dtype=np.uint8)
    h, w, _ = px.shape
    return b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()


def decode_ppm(b: bytes) -> np.ndarray:
    magic, w, h, maxval, off = _pnm_header(b)
    if magic != b"P6" or maxval != 255:
        raise NotImplementedError("only 8-bit P6 PPM")
    return np.frombuffer(b, dtype=np.uint8, count=h * w * 3, offset=off).reshape(h, w, 3).copy()
