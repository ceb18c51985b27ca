"""Pure-stdlib PNG/WAV codec tests (no Spark) — the decode side must
handle output from ANY encoder, so all five PNG scanline filters are
exercised, not just the filter-0 rows our own encoder emits."""

from __future__ import annotations

import struct
import sys
import zlib
from pathlib import Path

import numpy as np

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from rust_html2text_spark.functions.multimodal import (  # noqa: E402
    _audio_samples,
    _image_array,
    _png_chunk,
    _PNG_SIG,
    png_decode,
    png_encode,
    wav_decode,
    wav_encode,
)


def test_png_roundtrip():
    for d in (0, 3, 6, 33, 123, 4998):
        arr = _image_array(d)
        assert (png_decode(png_encode(arr)) == arr).all()


def test_wav_roundtrip():
    for d in (1, 4, 97, 1234):
        s = _audio_samples(d)
        rate, back = wav_decode(wav_encode(s, 8000))
        assert rate == 8000
        assert (back == s).all()


def _encode_with_filters(rgb: np.ndarray, filters: list[int]) -> bytes:
    """Reference-style PNG encoder applying a chosen filter per row, to
    prove png_decode handles Sub/Up/Average/Paeth (spec §9)."""
    h, w, _ = rgb.shape
    stride = w * 3
    flat = rgb.reshape(h, stride).astype(np.int64)
    out = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        f = filters[y % len(filters)]
        cur = flat[y]
        line = np.zeros(stride, dtype=np.int64)
        for i in range(stride):
            a = cur[i - 3] if i >= 3 else 0
            b = prev[i]
            c = prev[i - 3] if i >= 3 else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            line[i] = (cur[i] - pred) & 0xFF
        out.append(f)
        out.extend(int(v) for v in line)
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def test_png_decode_all_filters():
    arr = _image_array(42)
    for filters in ([1], [2], [3], [4], [0, 1, 2, 3, 4]):
        data = _encode_with_filters(arr, filters)
        assert (png_decode(data) == arr).all(), filters


def test_png_decode_rejects_garbage():
    import pytest

    with pytest.raises(ValueError):
        png_decode(b"not a png at all")
