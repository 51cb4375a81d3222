"""codec/tiff.py: real TIFF 6.0 decode, golden-gated.

Independence strategy (same as the other codec suites): goldens are
HAND-ASSEMBLED from the public spec — the IFD built entry by entry in
the test and a hand-BIT-PACKED TIFF-LZW stream (MSB-first, early
change) the encoder never produced. Both byte orders, gray/palette
photometrics (decoder-only paths), PackBits boundary cases, and the
early-change width boundary are pinned; the encoder is then held to
the same decoder by roundtrip + mutation properties.
"""

import struct

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from go_triton_spark.codec.tiff import (build_tiff, packbits_decode,
                                        packbits_encode, parse_tiff,
                                        tiff_lzw_decode, tiff_lzw_encode)

# the pure decoders, as on a host without the native libraries
pytestmark = pytest.mark.usefixtures("pure_decoders")


def _pack_msb(codes, widths):
    """MSB-first bit packing — the TIFF figure, by hand."""
    acc = nbits = 0
    out = bytearray()
    for code, width in zip(codes, widths):
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def test_hand_packed_tiff_lzw_golden():
    """Clear, literals 7 8, dictionary code 258 (the entry created
    while decoding the '8': b'\\x07\\x08'), literal 7, EOI — all at
    width 9; then a literal-only stream."""
    codes = [256, 7, 8, 258, 7, 257]
    out = tiff_lzw_decode(_pack_msb(codes, [9] * 6), 5)
    # 258 = entry created when decoding '8' after '7' = b'\x07\x08'
    assert list(out) == [7, 8, 7, 8, 7]
    codes = [256, 7, 8, 8, 7, 257]
    out = tiff_lzw_decode(_pack_msb(codes, [9] * 6), 4)
    assert list(out) == [7, 8, 8, 7]


def test_tiff_lzw_kwkwk_and_early_change():
    """KwKwK: code names the entry being defined. Early change: after
    253 table entries (258 + 253 = 511 = 2^9 - 1) the decoder reads
    width-10 codes — one code EARLIER than GIF's LZW."""
    codes = [256, 65, 258, 257]
    out = tiff_lzw_decode(_pack_msb(codes, [9] * 4), 3)
    assert list(out) == [65, 65, 65]
    # width check via the encoder (property): a stream long enough to
    # cross 511 entries must still roundtrip
    raw = bytes((i * 7 + (i // 3)) % 251 for i in range(9000))
    assert bytes(tiff_lzw_decode(tiff_lzw_encode(raw), len(raw))) == raw


@given(st.integers(0, 10**6), st.integers(1, 40), st.integers(1, 30))
@example(125, 8, 30)     # the GIF round-7 EOI-width counterexample shape
@settings(max_examples=60, deadline=None)
def test_tiff_roundtrip_property(seed, w, h):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    comp = ("none", "lzw", "deflate", "packbits")[seed % 4]
    pred = bool(seed % 2) and comp in ("lzw", "deflate")
    be = bool(seed % 3 == 0)
    data = build_tiff(px, compression=comp, predictor=pred, big_endian=be)
    m = parse_tiff(data)
    assert np.array_equal(m["pixels"], px)


def _hand_ifd(bo, tags, tail=b""):
    """Minimal hand-rolled single-IFD TIFF: header + IFD + tail data.
    ``tags`` = [(tag, type, count, value_or_offset)] — values must be
    inline-size."""
    out = bytearray(struct.pack(bo + "2sHI",
                                b"II" if bo == "<" else b"MM", 42, 8))
    out += struct.pack(bo + "H", len(tags))
    for tag, typ, cnt, val in tags:
        if typ == 3 and cnt == 1:
            out += struct.pack(bo + "HHIHH", tag, typ, cnt, val, 0)
        else:
            out += struct.pack(bo + "HHII", tag, typ, cnt, val)
    out += struct.pack(bo + "I", 0)
    out += tail
    return bytes(out)


def test_hand_assembled_grayscale_both_polarities():
    """photometric 1 (BlackIsZero) keeps values; 0 (WhiteIsZero)
    inverts — decoder-only paths built entirely by hand."""
    for photo, expect in ((1, [5, 250]), (0, [250, 5])):
        data_off = 8 + 2 + 12 * 7 + 4
        data = _hand_ifd("<", [
            (256, 3, 1, 2), (257, 3, 1, 1),
            (259, 3, 1, 1), (262, 3, 1, photo),
            (273, 4, 1, data_off), (277, 3, 1, 1),
            (279, 4, 1, 2),
        ], bytes([5, 250]))
        m = parse_tiff(data)
        assert m["pixels"][0, 0].tolist() == [expect[0]] * 3
        assert m["pixels"][0, 1].tolist() == [expect[1]] * 3


def test_hand_assembled_palette():
    """photometric 3: ColorMap holds 16-bit channel planes (all reds,
    all greens, all blues); indices expand through the high byte."""
    n = 4
    cmap_off = 8 + 2 + 12 * 8 + 4
    data_off = cmap_off + 3 * n * 2
    cmap = struct.pack("<12H",
                       0x1100, 0x2200, 0x3300, 0x4400,   # reds
                       0x5500, 0x6600, 0x7700, 0x8800,   # greens
                       0x9900, 0xAA00, 0xBB00, 0xCC00)   # blues
    data = _hand_ifd("<", [
        (256, 3, 1, 2), (257, 3, 1, 2),
        (259, 3, 1, 1), (262, 3, 1, 3),
        (273, 4, 1, data_off), (277, 3, 1, 1),
        (279, 4, 1, 4), (320, 3, 12, cmap_off),
    ], cmap + bytes([0, 1, 2, 3]))
    m = parse_tiff(data)
    assert m["pixels"].tolist() == [[[0x11, 0x55, 0x99], [0x22, 0x66, 0xAA]],
                                    [[0x33, 0x77, 0xBB], [0x44, 0x88, 0xCC]]]
    # out-of-range index rejected
    bad = data[:-4] + bytes([0, 1, 2, 7])
    with pytest.raises(ValueError, match="palette index"):
        parse_tiff(bad)


def test_multi_strip_and_big_endian_golden():
    px = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    data = build_tiff(px, rows_per_strip=1, big_endian=True)
    assert data[:2] == b"MM"
    m = parse_tiff(data)
    assert np.array_equal(m["pixels"], px)


def test_packbits_noop_and_boundaries():
    assert list(packbits_decode(b"\x80\x00A", 1)) == [ord("A")]  # 128 no-op
    assert list(packbits_decode(b"\xfeB", 3)) == [66, 66, 66]
    assert list(packbits_decode(b"\x02ABC", 3)) == [65, 66, 67]
    raw = b"A" * 300 + b"XYZ" + b"B" * 2
    assert bytes(packbits_decode(packbits_encode(raw), len(raw))) == raw
    with pytest.raises(ValueError, match="truncated"):
        packbits_decode(b"\x05AB", 6)


def test_corrupt_rejected():
    px = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    data = build_tiff(px, compression="lzw")
    for cut in range(1, len(data)):
        with pytest.raises(ValueError):
            parse_tiff(data[:cut])
    with pytest.raises(ValueError, match="magic"):
        parse_tiff(b"XX\x00*" + data[4:])
    # unsupported compression named (JPEG-in-TIFF = 7)
    bad = bytearray(build_tiff(px))
    i = bad.index(struct.pack("<HHI", 259, 3, 1))
    bad[i + 8] = 7
    with pytest.raises(ValueError, match="swap point"):
        parse_tiff(bytes(bad))


@given(st.integers(0, 500), st.integers(0, 255))
@settings(max_examples=80, deadline=None)
def test_byte_flip_fuzz_never_crashes(pos, val):
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (9, 13, 3)).astype(np.uint8)
    data = bytearray(build_tiff(px, compression="lzw", predictor=True))
    data[pos % len(data)] = val
    try:
        m = parse_tiff(bytes(data))
        assert m["pixels"].shape[2] == 3
    except ValueError:
        pass


def test_gate_corpus_corrupt_always_rejected_and_decodes_exact():
    """The mm_tiff_decode gate contract: every corrupted doc_id shape
    in the 113-period (cycling compressions, predictor, endianness)
    must REJECT its truncated payload; clean payloads decode to the
    closed form."""
    from go_triton_spark.operators.multimodal import _tiff_gate_pixels

    comps = ("none", "lzw", "deflate", "packbits")
    for doc_id in range(29, 29 + 113 * 30, 113):
        comp = comps[doc_id % 4]
        payload = build_tiff(_tiff_gate_pixels(doc_id),
                             compression=comp,
                             predictor=bool(doc_id % 2)
                             and comp in ("lzw", "deflate"),
                             big_endian=doc_id % 3 == 0)
        with pytest.raises(ValueError):
            parse_tiff(payload[:-7])
    for doc_id in range(0, 120):
        px = _tiff_gate_pixels(doc_id)
        comp = comps[doc_id % 4]
        payload = build_tiff(px, compression=comp,
                             predictor=bool(doc_id % 2)
                             and comp in ("lzw", "deflate"),
                             big_endian=doc_id % 3 == 0)
        assert np.array_equal(parse_tiff(payload)["pixels"], px), doc_id


def test_magic_dispatch_routes_tiff():
    from go_triton_spark.codec.image import parse_image, sniff_image_format
    px = np.arange(36, dtype=np.uint8).reshape(3, 4, 3)
    for be in (False, True):
        data = build_tiff(px, compression="packbits", big_endian=be)
        assert sniff_image_format(data) == "tiff"
        assert np.array_equal(parse_image(data)["pixels"], px)
