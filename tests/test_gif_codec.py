"""codec/gif.py: real GIF/LZW decode, golden-gated.

Independence strategy (same as the PNG/JPEG suites): no PIL exists
here, so the goldens are HAND-ASSEMBLED from the public GIF89a spec —
including a hand-BIT-PACKED LZW stream written out code by code in the
test, a byte sequence build_gif never produced. parse_gif must decode
codes it was never encoded with; the encoder is then pinned against
the same decoder by roundtrip + mutation properties.
"""

import struct

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from go_triton_spark.codec.gif import (build_gif, lzw_decode, lzw_encode,
                                       parse_gif)

# the pure decoders, as on a host without the native libraries
pytestmark = pytest.mark.usefixtures("pure_decoders")


def _screen(w, h, pal_bytes, kbits):
    return (b"GIF89a"
            + struct.pack("<HHBBB", w, h, 0x80 | ((kbits - 1) & 7), 0, 0)
            + pal_bytes)


def _pack_codes(codes, widths):
    """LSB-first bit packing, exactly the spec's figure."""
    acc = nbits = 0
    out = bytearray()
    for code, width in zip(codes, widths):
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def test_hand_packed_lzw_golden():
    """2x2 image, 4-color palette, min code size 2: codes are packed
    by hand (Clear=4, EOI=5, literals at width 3). Indices 0,1,2,3."""
    payload = _pack_codes([4, 0, 1, 2, 3, 5], [3, 3, 3, 3, 4, 4])
    out = lzw_decode(payload, 2, 4)
    assert list(out) == [0, 1, 2, 3]


def test_hand_assembled_gif_golden():
    """Full file: header + GCT(4) + image descriptor + hand LZW."""
    pal = bytes([255, 0, 0,  0, 255, 0,  0, 0, 255,  9, 9, 9])
    payload = _pack_codes([4, 0, 1, 2, 3, 5], [3, 3, 3, 3, 4, 4])
    data = (_screen(2, 2, pal, 2)
            + b"\x2C" + struct.pack("<HHHHB", 0, 0, 2, 2, 0)
            + bytes([2])                      # min code size
            + bytes([len(payload)]) + payload + b"\x00"
            + b"\x3B")
    m = parse_gif(data)
    assert m["width"] == 2 and m["height"] == 2 and m["n_frames"] == 1
    assert m["pixels"].tolist() == [[[255, 0, 0], [0, 255, 0]],
                                    [[0, 0, 255], [9, 9, 9]]]


def test_dictionary_and_kwkwk_decode():
    """'aaaa' exercises the KwKwK case: after Clear and literal 0
    ('a'), code 6 names the table slot being defined — the decoder
    must synthesize prev+prev[0] = 'aa' — then literal 0 again:
    a + aa + a = four a's."""
    payload = _pack_codes([4, 0, 6, 0, 5], [3, 3, 3, 3, 4])
    out = lzw_decode(payload, 2, 4)
    assert list(out) == [0, 0, 0, 0]


def test_extensions_skipped_and_animation_frames():
    pal = np.array([[i, 2 * i, 3 * i] for i in range(4)], np.uint8)
    f0 = np.zeros((2, 2), np.uint8)
    f1 = np.full((2, 2), 3, np.uint8)
    base0 = build_gif(f0, pal)
    base1 = build_gif(f1, pal)
    img0 = base0[base0.index(b"\x2C"):-1]       # image block, no trailer
    img1 = base1[base1.index(b"\x2C"):-1]
    gce = b"\x21\xF9\x04\x00\x0A\x00\x00\x00"   # graphic control ext
    comment = b"\x21\xFE\x05hello\x00"
    data = base0[:base0.index(b"\x2C")] + gce + img0 + comment + img1 + b"\x3B"
    m = parse_gif(data)
    assert m["n_frames"] == 2
    assert np.array_equal(m["frames"][0], pal[f0])
    assert np.array_equal(m["frames"][1], pal[f1])
    assert np.array_equal(m["pixels"], pal[f0])  # first frame composited


def test_transparency_golden():
    """GCE transparency: index 1 is declared transparent; those pixels
    must NOT take palette color 1 — composite shows background (0) and
    alpha 0 there, while the raw frame still carries per-pixel data."""
    pal = np.array([[10, 20, 30], [99, 99, 99], [1, 2, 3], [4, 5, 6]],
                   np.uint8)
    idx = np.array([[0, 1], [1, 3]], np.uint8)
    data = build_gif(idx, pal, transparency_index=1)
    m = parse_gif(data)
    assert m["frame_meta"][0]["transparency_index"] == 1
    # opaque pixels composite; transparent ones stay background zeros
    assert m["pixels"].tolist() == [[[10, 20, 30], [0, 0, 0]],
                                    [[0, 0, 0], [4, 5, 6]]]
    assert m["alpha"].tolist() == [[255, 0], [0, 255]]
    # without the GCE the same indices DO take palette color 1
    plain = parse_gif(build_gif(idx, pal))
    assert plain["pixels"][0, 1].tolist() == [99, 99, 99]
    assert plain["alpha"].tolist() == [[255, 255], [255, 255]]


def test_transparency_gce_mutation():
    """Flip the GCE transparency flag bit off in the raw bytes: the
    same file must then decode index 1 as its opaque palette color —
    proves the flag (not just the index byte) is honored."""
    pal = np.array([[10, 20, 30], [99, 99, 99], [1, 2, 3], [4, 5, 6]],
                   np.uint8)
    idx = np.array([[0, 1], [1, 3]], np.uint8)
    data = bytearray(build_gif(idx, pal, transparency_index=1))
    gce_at = bytes(data).index(b"\x21\xF9\x04")
    assert data[gce_at + 3] & 0x01
    data[gce_at + 3] &= ~0x01          # clear the transparency flag
    m = parse_gif(bytes(data))
    assert m["frame_meta"][0]["transparency_index"] is None
    assert m["pixels"][0, 1].tolist() == [99, 99, 99]


def test_disposal_restore_background_and_previous():
    """Two-frame animation: frame 0 disposal=2 (restore background)
    must leave the screen cleared for frame 1's composite; disposal=3
    (restore previous) must bring frame 0's pixels back."""
    pal = np.array([[i, i, i] for i in range(4)], np.uint8)
    f0 = np.full((2, 2), 3, np.uint8)
    f1 = np.array([[2, 1], [1, 2]], np.uint8)   # 1 transparent below

    def _one(disposal):
        base0 = build_gif(f0, pal, disposal=disposal, delay_cs=10)
        head0 = base0.index(b"\x21\xF9")
        base1 = build_gif(f1, pal, transparency_index=1)
        head1 = base1.index(b"\x21\xF9")
        return parse_gif(base0[:head0] + base0[head0:-1]
                         + base1[head1:-1] + b"\x3B")

    m = _one(2)                         # restore background after f0
    assert m["frame_meta"][0]["disposal"] == 2
    assert m["frame_meta"][0]["delay_cs"] == 10
    # frame-1 composite: transparent pixels show CLEARED screen (0)
    assert m["composited"][1].tolist() == [[[2, 2, 2], [0, 0, 0]],
                                           [[0, 0, 0], [2, 2, 2]]]
    m = _one(3)                         # restore previous after f0:
    # "previous" is the PRE-frame-0 screen (zeros), same visual as 2
    assert m["composited"][1].tolist() == [[[2, 2, 2], [0, 0, 0]],
                                           [[0, 0, 0], [2, 2, 2]]]


def test_disposal_restore_previous_three_frames():
    """disposal=3 genuinely restores earlier CONTENT (not background):
    f0 (keep) paints 3s, f1 (disposal=3) paints 2s then reverts, f2's
    transparent pixels must show f0's 3s — not f1's 2s, not zeros."""
    pal = np.array([[i, i, i] for i in range(4)], np.uint8)
    parts = []
    for arr, kw in [(np.full((2, 2), 3, np.uint8), dict()),
                    (np.full((2, 2), 2, np.uint8), dict(disposal=3,
                                                        delay_cs=5)),
                    (np.array([[1, 0], [0, 1]], np.uint8),
                     dict(transparency_index=1))]:
        b = build_gif(arr, pal, **kw)
        cut = b.index(b"\x21\xF9") if b"\x21\xF9" in b else b.index(b"\x2C")
        parts.append((b[:cut], b[cut:-1]))
    data = parts[0][0] + parts[0][1] + parts[1][1] + parts[2][1] + b"\x3B"
    m = parse_gif(data)
    assert m["n_frames"] == 3
    assert m["composited"][1].tolist() == [[[2, 2, 2]] * 2] * 2
    assert m["composited"][2].tolist() == [[[3, 3, 3], [0, 0, 0]],
                                           [[0, 0, 0], [3, 3, 3]]]


def test_truncated_gce_rejected():
    pal = np.array([[i, i, i] for i in range(4)], np.uint8)
    data = bytearray(build_gif(np.zeros((2, 2), np.uint8), pal,
                               transparency_index=1))
    gce_at = bytes(data).index(b"\x21\xF9\x04")
    # shrink the GCE payload to 2 bytes (declared and actual)
    bad = (bytes(data[:gce_at]) + b"\x21\xF9\x02" + b"\x00\x00" + b"\x00"
           + bytes(data[gce_at + 8:]))
    with pytest.raises(ValueError, match="truncated GCE"):
        parse_gif(bad)


def test_local_color_table_overrides_global():
    """Image block carries its own LOCAL color table (0x80 in the
    image packed byte); the zeroed GLOBAL table must not be used."""
    gpal = np.zeros((4, 3), np.uint8)
    lpal = np.array([[1, 2, 3], [4, 5, 6], [7, 8, 9], [10, 11, 12]],
                    np.uint8)
    payload = _pack_codes([4, 0, 1, 2, 3, 5], [3, 3, 3, 3, 4, 4])
    data = (_screen(2, 2, gpal.tobytes(), 2)
            + b"\x2C" + struct.pack("<HHHHB", 0, 0, 2, 2, 0x81)
            + lpal.tobytes()
            + bytes([2]) + bytes([len(payload)]) + payload + b"\x00\x3B")
    m = parse_gif(data)
    assert m["pixels"].tolist() == [[[1, 2, 3], [4, 5, 6]],
                                    [[7, 8, 9], [10, 11, 12]]]


def test_interlace_golden():
    """5 rows interlaced: file row order is 0,4 (pass1) 2 (pass3)
    1,3 (pass4); the decoder must restore 0..4."""
    pal = np.array([[i, i, i] for i in range(8)], np.uint8)
    idx = np.array([[r] * 2 for r in range(5)], np.uint8)   # row r = value r
    data = build_gif(idx, pal, interlace=True)
    m = parse_gif(data)
    assert np.array_equal(m["pixels"], pal[idx])
    # and the stored order genuinely differs from scan order
    plain = build_gif(idx, pal, interlace=False)
    assert data != plain


def test_corrupt_rejected():
    pal = np.array([[i, i, i] for i in range(4)], np.uint8)
    data = build_gif(np.array([[0, 1], [2, 3]], np.uint8), pal)
    for cut in range(1, len(data)):
        with pytest.raises(ValueError):
            parse_gif(data[:cut])
    with pytest.raises(ValueError, match="magic"):
        parse_gif(b"NOTGIF" + data[6:])
    with pytest.raises(ValueError, match="no image block"):
        parse_gif(_screen(2, 2, pal.tobytes(), 2) + b"\x3B")


def test_palette_index_overflow_rejected():
    # 4-entry palette but an index of 7 smuggled via raw LZW
    pal = bytes(12)
    payload = _pack_codes([4, 3, 3, 3, 3, 5], [3, 3, 3, 3, 4, 4])
    data = (_screen(2, 2, pal, 2)
            + b"\x2C" + struct.pack("<HHHHB", 0, 0, 2, 2, 0)
            + bytes([2]) + bytes([len(payload)]) + payload + b"\x00\x3B")
    parse_gif(data)  # 3 < 4: fine
    # image larger than screen must be rejected
    bad = (_screen(1, 1, pal, 2)
           + b"\x2C" + struct.pack("<HHHHB", 0, 0, 2, 2, 0)
           + bytes([2]) + bytes([len(payload)]) + payload + b"\x00\x3B")
    with pytest.raises(ValueError, match="outside screen"):
        parse_gif(bad)


@given(st.integers(0, 10**6), st.integers(2, 8),
       st.integers(1, 40), st.integers(1, 30), st.booleans())
# round-7 counterexample, pinned: the final flushed data code lands the
# DECODER's table exactly on a power of two, so the decoder widens
# before reading EOI — the encoder must emit EOI at width+1 here.
@example(seed=125, kbits=5, w=8, h=30, interlace=False)
@settings(max_examples=60, deadline=None)
def test_roundtrip_property(seed, kbits, w, h, interlace):
    rng = np.random.default_rng(seed)
    n = 1 << kbits
    pal = rng.integers(0, 256, (n, 3)).astype(np.uint8)
    idx = rng.integers(0, n, (h, w)).astype(np.uint8)
    m = parse_gif(build_gif(idx, pal, interlace=interlace))
    assert np.array_equal(m["pixels"], pal[idx])


@given(st.integers(0, 400), st.integers(0, 255))
@settings(max_examples=80, deadline=None)
def test_byte_flip_fuzz_never_crashes(pos, val):
    rng = np.random.default_rng(7)
    pal = rng.integers(0, 256, (16, 3)).astype(np.uint8)
    idx = rng.integers(0, 16, (9, 13)).astype(np.uint8)
    data = bytearray(build_gif(idx, pal))
    data[pos % len(data)] = val
    try:
        m = parse_gif(bytes(data))
        assert m["pixels"].shape[2] == 3
    except ValueError:
        pass


def test_deferred_clear_full_table_tolerated():
    """giflib routinely defers the Clear: the table fills to all 4096
    entries and the encoder keeps emitting 12-bit codes with no Clear.
    A full table is legal — only a code PAST it is corrupt. Construct a
    stream that provably fills the decoder table (min_code=2: literals
    0..3, so each non-first data code adds one entry; 4095 data codes
    reach len 4096) and then keeps decoding literals."""
    min_code = 2
    codes, widths = [4], [3]          # Clear
    width, tlen = 3, 6                # decoder table after Clear
    n_data = 4200                     # 4095 fills the table; rest deferred
    for i in range(n_data):
        codes.append(i % 4)           # literals only: always in-table
        widths.append(width)
        if i > 0 and tlen < 4096:     # decoder appends after 2nd code on
            tlen += 1
        if tlen == (1 << width) and width < 12:
            width += 1
    codes.append(5)                   # EOI, no Clear ever re-emitted
    widths.append(width)
    assert tlen == 4096               # the deferred-clear regime reached
    out = lzw_decode(_pack_codes(codes, widths), min_code, n_data)
    assert list(out) == [i % 4 for i in range(n_data)]


def test_full_table_dictionary_code_decodes():
    """After the table fills, a DICTIONARY code (not just literals) into
    the full table must decode; every 12-bit code is then in-table, so
    the old 'overflow without Clear' raise had no legal trigger left."""
    min_code = 2
    codes, widths = [4], [3]
    width, tlen = 3, 6
    n_data = 4091                     # 4090 appends: 6 -> exactly 4096
    for i in range(n_data):
        codes.append(i % 4)
        widths.append(width)
        if i > 0 and tlen < 4096:
            tlen += 1
        if tlen == (1 << width) and width < 12:
            width += 1
    assert tlen == 4096 and width == 12
    codes.append(4095)                # highest dictionary entry
    codes.append(5)                   # EOI
    widths.extend([12, 12])
    # entry 4095 was appended on data code i=4090: prev entry (literal
    # L_4089) + first byte of L_4090
    expected_tail = [4089 % 4, 4090 % 4]
    out = lzw_decode(_pack_codes(codes, widths), min_code,
                     n_data + len(expected_tail))
    assert list(out[-2:]) == expected_tail


def test_lzw_encode_decode_inverse_property():
    rng = np.random.default_rng(3)
    for min_code in (2, 4, 8):
        raw = bytes(rng.integers(0, 1 << min_code, 6000, dtype=np.uint8))
        assert bytes(lzw_decode(lzw_encode(raw, min_code),
                                min_code, len(raw))) == raw


def test_magic_dispatch_routes_gif():
    from go_triton_spark.codec.image import parse_image, sniff_image_format
    pal = np.array([[9, 8, 7], [1, 2, 3], [0, 0, 0], [5, 5, 5]], np.uint8)
    idx = np.array([[0, 1], [2, 3]], np.uint8)
    data = build_gif(idx, pal)
    assert sniff_image_format(data) == "gif"
    assert np.array_equal(parse_image(data)["pixels"], pal[idx])


def test_gate_corpus_transparency_and_corruption_contract():
    """The mm_gif_decode gate contract after r8: doc_id%3==1 payloads
    carry a real GCE (palette index 15 transparent — composited pixels
    zero with alpha 0), every truncated shape in the 103-period
    rejects, and clean payloads decode to the closed form."""
    from go_triton_spark.operators.multimodal import _gif_gate_parts

    for doc_id in range(59, 59 + 103 * 30, 103):
        idx, pal = _gif_gate_parts(doc_id)
        tidx = 15 if doc_id % 3 == 1 else None
        payload = build_gif(idx, pal, interlace=bool(doc_id % 2),
                            transparency_index=tidx)
        with pytest.raises(ValueError):
            parse_gif(payload[:-5])
    for doc_id in range(0, 60):
        idx, pal = _gif_gate_parts(doc_id)
        tidx = 15 if doc_id % 3 == 1 else None
        m = parse_gif(build_gif(idx, pal, interlace=bool(doc_id % 2),
                                transparency_index=tidx))
        expect = pal[idx].astype("int64")
        mask = idx == 15
        if tidx is not None:
            expect[mask] = 0
            assert (m["alpha"] == 0).sum() == mask.sum(), doc_id
        else:
            assert (m["alpha"] == 255).all(), doc_id
        assert np.array_equal(m["pixels"].astype("int64"), expect), doc_id
