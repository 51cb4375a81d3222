"""codec/png.py: real PNG parsing, golden-gated.

Independence strategy: no PIL exists in this environment, so the
goldens are HAND-ASSEMBLED in the tests directly from the public spec
— including an in-test encoder that FORWARD-applies every scanline
filter type (Sub/Up/Average/Paeth), a code path build_png never has
(it always emits filter 0). parse_png must invert filters it was
never encoded with, which is a genuine differential check of the
filter algebra, like the 24-bit WAV and hand-BMP goldens.
"""

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from go_triton_spark.codec.png import build_png, parse_png

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(ctype: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF))


def _hand_png(w, h, color_type, scanlines, extra=b"") -> bytes:
    """Assemble a PNG by hand: IHDR + extra chunks + one IDAT holding
    the given pre-filtered scanlines — independent of build_png."""
    out = bytearray(_SIG)
    out += _chunk(b"IHDR",
                  struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0))
    out += extra
    out += _chunk(b"IDAT", zlib.compress(b"".join(scanlines)))
    out += _chunk(b"IEND", b"")
    return bytes(out)


def _paeth(a, b, c):
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if pa <= pb and pa <= pc else (b if pb <= pc else c)


def _filter_forward(ftype, row, prev, bpp):
    """FORWARD-apply a spec filter (encoder side, spec section 6) —
    the inverse of what parse_png implements."""
    out = bytearray([ftype])
    for i, x in enumerate(row):
        a = row[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ftype == 0:
            out.append(x)
        elif ftype == 1:
            out.append((x - a) & 0xFF)
        elif ftype == 2:
            out.append((x - b) & 0xFF)
        elif ftype == 3:
            out.append((x - ((a + b) >> 1)) & 0xFF)
        else:
            out.append((x - _paeth(a, b, c)) & 0xFF)
    return bytes(out)


def test_all_five_filters_inverted_rgb():
    """5 rows, one per filter type; parse_png must reconstruct the
    exact pixel matrix."""
    w, h = 4, 5
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    scans, prev = [], bytes(w * 3)
    for r in range(h):
        row = px[r].tobytes()
        scans.append(_filter_forward(r % 5, row, prev, 3))
        prev = row
    m = parse_png(_hand_png(w, h, 2, scans))
    assert (m["width"], m["height"], m["color_type"]) == (w, h, 2)
    assert np.array_equal(m["pixels"], px)


def test_grayscale_replicated_to_rgb():
    w, h = 3, 2
    gray = np.array([[10, 20, 30], [200, 0, 255]], dtype=np.uint8)
    scans = [b"\x00" + gray[r].tobytes() for r in range(h)]
    m = parse_png(_hand_png(w, h, 0, scans))
    assert np.array_equal(m["pixels"], np.repeat(gray[..., None], 3, axis=2))


def test_palette_expansion_and_oob_index():
    pal = b"\xff\x00\x00" + b"\x00\xff\x00" + b"\x00\x00\xff"
    scans = [b"\x00\x00\x01", b"\x00\x02\x00"]
    m = parse_png(_hand_png(2, 2, 3, scans, extra=_chunk(b"PLTE", pal)))
    want = np.array([[[255, 0, 0], [0, 255, 0]],
                     [[0, 0, 255], [255, 0, 0]]], dtype=np.uint8)
    assert np.array_equal(m["pixels"], want)
    bad = [b"\x00\x00\x05", b"\x00\x00\x00"]  # index 5 > 2
    with pytest.raises(ValueError, match="palette index"):
        parse_png(_hand_png(2, 2, 3, bad, extra=_chunk(b"PLTE", pal)))
    with pytest.raises(ValueError, match="missing PLTE"):
        parse_png(_hand_png(2, 2, 3, scans))


def test_rgba_alpha_dropped():
    w, h = 2, 1
    rgba = np.array([[[1, 2, 3, 9], [4, 5, 6, 0]]], dtype=np.uint8)
    scans = [b"\x00" + rgba[0].tobytes()]
    m = parse_png(_hand_png(w, h, 6, scans))
    assert np.array_equal(m["pixels"], rgba[:, :, :3])


def test_crc_flip_detected():
    good = build_png(np.zeros((3, 3, 3), dtype=np.uint8))
    # flip one byte inside the IDAT payload (CRC must catch it)
    idat_at = good.index(b"IDAT")
    bad = bytearray(good)
    bad[idat_at + 6] ^= 0xFF
    with pytest.raises(ValueError, match="CRC|corrupt"):
        parse_png(bytes(bad))


@pytest.mark.parametrize("mutant", [
    b"",                                   # empty
    b"\x89PNG\r\n\x1a\n",                  # signature only
    b"GIF89a" + b"\x00" * 40,              # wrong magic
    _SIG + b"\x00\x00\x00\x0d",            # truncated chunk header
])
def test_garbage_rejected(mutant):
    with pytest.raises(ValueError):
        parse_png(mutant)


@pytest.mark.parametrize("cut", [1, 9, 11, 12, 13])
def test_truncated_iend_rejected(cut):
    """A file whose trailing IEND chunk is cut short is rejected, not
    decoded (libpng's simplified API decodes it); the cross-format
    dedup gates' corrupt rows are cut this way."""
    data = build_png(np.zeros((12, 7, 3), dtype=np.uint8))
    with pytest.raises(ValueError):
        parse_png(data[:-cut])


def test_exotic_depth_and_bad_interlace_rejected():
    ihdr16 = _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
    with pytest.raises(ValueError, match="bit depth"):
        parse_png(_SIG + ihdr16 + _chunk(b"IEND", b""))
    bad = _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 2))
    with pytest.raises(ValueError, match="interlace"):
        parse_png(_SIG + bad + _chunk(b"IEND", b""))


def test_adam7_hand_assembled_golden():
    """9x9 image: pass 1 holds pixels (0,0)/(8,0)/(0,8)/(8,8) — build
    the seven passes' scanlines BY HAND (filter 0) and verify the
    decoder places every pass on the spec's 8x8 grid."""
    w = h = 9
    val = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    passes = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    parts = []
    for x0, y0, dx, dy in passes:
        sub = val[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        parts.extend(b"\x00" + sub[r].tobytes() for r in range(sub.shape[0]))
    data = (_SIG
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1))
            + _chunk(b"IDAT", zlib.compress(b"".join(parts)))
            + _chunk(b"IEND", b""))
    m = parse_png(data)
    assert np.array_equal(m["pixels"], val)


@settings(max_examples=30, deadline=None)
@given(w=st.integers(1, 17), h=st.integers(1, 13), seed=st.integers(0, 99))
def test_adam7_roundtrip_matches_progressive(w, h, seed):
    """build_png(interlace=True) must decode to the SAME pixels as the
    sequential encoding of the same image — including sizes < 8 where
    some passes are empty."""
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    inter = build_png(px, interlace=True)
    plain = build_png(px)
    assert inter != plain                      # genuinely different bytes
    assert np.array_equal(parse_png(inter)["pixels"], px)
    assert np.array_equal(parse_png(plain)["pixels"], px)


def test_adam7_truncated_pass_rejected():
    """A valid zlib stream whose LAST Adam7 pass is short must fail
    the length check, not decode partial pixels."""
    px = np.arange(10 * 10 * 3, dtype=np.uint8).reshape(10, 10, 3)
    passes = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    parts = []
    for x0, y0, dx, dy in passes:
        sub = px[y0::dy, x0::dx]
        parts.extend(b"\x00" + sub[r].tobytes() for r in range(sub.shape[0]))
    scan = b"".join(parts)
    for cut in (7, 1, len(scan) - 3):       # short and nearly-empty
        data = (_SIG
                + _chunk(b"IHDR", struct.pack(">IIBBBBB", 10, 10, 8, 2,
                                              0, 0, 1))
                + _chunk(b"IDAT", zlib.compress(scan[:-cut]))
                + _chunk(b"IEND", b""))
        with pytest.raises(ValueError, match="length mismatch"):
            parse_png(data)


def test_bad_filter_type_rejected():
    scans = [b"\x07" + b"\x00" * 6]  # filter 7 does not exist
    with pytest.raises(ValueError, match="filter type"):
        parse_png(_hand_png(2, 1, 2, scans))


def test_length_mismatch_rejected():
    scans = [b"\x00" + b"\x00" * 5]  # one byte short for 2x1 RGB
    with pytest.raises(ValueError, match="length mismatch"):
        parse_png(_hand_png(2, 1, 2, scans))


@settings(max_examples=25, deadline=None)
@given(w=st.integers(1, 9), h=st.integers(1, 7), seed=st.integers(0, 99))
def test_png_roundtrip_property(w, h, seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    m = parse_png(build_png(px))
    assert np.array_equal(m["pixels"], px)
    assert m["n_pixels"] == w * h


@settings(max_examples=40, deadline=None)
@given(flip_at=st.integers(0, 120), flip_to=st.integers(0, 255))
def test_png_mutation_fuzz(flip_at, flip_to):
    """Single-byte mutations either still parse or raise ValueError —
    never crash with anything else. (Almost all mutations are caught
    by the per-chunk CRC, the strongest guarantee in the codec
    family.)"""
    base = bytearray(build_png(
        np.arange(36, dtype=np.uint8).reshape(3, 4, 3)))
    if flip_at >= len(base):
        flip_at = flip_at % len(base)
    base[flip_at] = flip_to
    try:
        m = parse_png(bytes(base))
        assert m["pixels"].shape[2] == 3
    except ValueError:
        pass
