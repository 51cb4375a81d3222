"""codec/vp8l.py: real WebP-lossless decode, golden-gated.

Independence strategy (same as the PNG/JPEG/GIF suites): no
libwebp/PIL exists here, so the goldens are HAND-ASSEMBLED from the
public WebP Lossless Bitstream Specification — LSB-first bit sequences
written field by field in the test, byte streams build_vp8l never
produced (simple prefix codes, the code-length-coded form with 16/17/18
repeats, LZ77 plane-code distances). The encoder is then pinned against
the same decoder by roundtrip + mutation properties across every
transform and the color cache.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from go_triton_spark.codec.vp8l import (_DIST_MAP, build_vp8l, build_webp,
                                        parse_vp8l, parse_webp)

# the pure decoders, as on a host without the native libraries
pytestmark = pytest.mark.usefixtures("pure_decoders")


class _W:
    """LSB-first bit writer, independent of the codec's _BitWriter."""

    def __init__(self):
        self.bits = []

    def w(self, value, n):
        for i in range(n):
            self.bits.append((value >> i) & 1)
        return self

    def msb(self, value, n):
        """Write a prefix CODE (MSB descends from the tree root)."""
        for i in range(n - 1, -1, -1):
            self.bits.append((value >> i) & 1)
        return self

    def bytes(self):
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for j, bit in enumerate(self.bits[i:i + 8]):
                b |= bit << j
            out.append(b)
        return bytes(out)


def _header(w, h):
    wr = _W()
    wr.w(0x2F, 8).w(w - 1, 14).w(h - 1, 14).w(0, 1).w(0, 3)
    return wr


def _simple_two(wr, s0, s1):
    """Simple prefix code with two 8-bit symbols."""
    wr.w(1, 1).w(1, 1).w(1, 1).w(s0, 8).w(s1, 8)


def _simple_one(wr, s):
    wr.w(1, 1).w(0, 1).w(1, 1).w(s, 8)


def test_hand_packed_literal_golden():
    """2x1 image, all five trees simple, pixels written bit by bit."""
    wr = _header(2, 1)
    wr.w(0, 1)                         # no transforms
    wr.w(0, 1)                         # no meta
    wr.w(0, 1)                         # no cache
    _simple_two(wr, 2, 7)              # green: symbols 2, 7 (1 bit each)
    _simple_one(wr, 1)                 # red = 1 always
    _simple_one(wr, 3)                 # blue = 3
    _simple_one(wr, 255)               # alpha = 255
    wr.w(1, 1).w(0, 1).w(0, 1).w(0, 1)  # dist: simple, 1 sym, 1-bit, 0
    wr.w(0, 1)                         # pixel 0: green sym 2 (code 0)
    wr.w(1, 1)                         # pixel 1: green sym 7 (code 1)
    m = parse_vp8l(wr.bytes())
    assert (m["width"], m["height"]) == (2, 1)
    assert m["pixels"].tolist() == [[[1, 2, 3], [1, 7, 3]]]
    assert not m["has_alpha"]


def test_hand_packed_code_length_coded_lz77_golden():
    """2x2 image: two literals then an LZ77 backref copying the first
    row (plane code 1 = distance xsize). The green tree carries symbol
    257 (length code 1), which only the CODE-LENGTH-CODED form can
    express — written by hand including 17/18 zero-repeats."""
    wr = _header(2, 2)
    wr.w(0, 1).w(0, 1).w(0, 1)         # no transforms / meta / cache
    # green tree, complex: lengths[4] = 1, lengths[257] = 1, rest 0.
    wr.w(0, 1)                         # code-length coded
    wr.w(0, 4)                         # 4 code-length lengths follow
    # order 17, 18, 0, 1 -> cl lengths: 17->2, 18->2, 1->1
    wr.w(2, 3).w(2, 3).w(0, 3).w(1, 3)
    wr.w(0, 1)                         # no max-symbol bound
    # canonical cl codes: 1 -> 0 ; 17 -> 10 ; 18 -> 11
    wr.msb(0b10, 2).w(1, 3)            # 17: 3+1 = 4 zeros (syms 0-3)
    wr.msb(0b0, 1)                     # 1: lengths[4] = 1
    wr.msb(0b11, 2).w(127, 7)          # 18: 138 zeros (syms 5..142)
    wr.msb(0b11, 2).w(103, 7)          # 18: 114 zeros (syms 143..256)
    wr.msb(0b0, 1)                     # 1: lengths[257] = 1
    wr.msb(0b11, 2).w(11, 7)           # 18: 22 zeros (258..279)
    _simple_one(wr, 9)                 # red = 9
    _simple_one(wr, 8)                 # blue = 8
    _simple_one(wr, 255)               # alpha
    wr.w(1, 1).w(0, 1).w(1, 1).w(0, 8)  # dist: simple one sym: code 0
    # canonical green: sym 4 -> code 0, sym 257 -> code 1
    wr.w(0, 1)                         # pixel (0,0): literal green 4
    wr.w(0, 1)                         # pixel (1,0): literal green 4
    wr.w(1, 1)                         # green sym 257: length code 1 -> 2
    # distance: dist tree single symbol (0 bits) -> lz77 value 1 ->
    # plane code 1 -> _DIST_MAP[0] = (0, 1) -> distance = xsize = 2
    m = parse_vp8l(wr.bytes())
    assert m["pixels"].tolist() == [[[9, 4, 8], [9, 4, 8]],
                                    [[9, 4, 8], [9, 4, 8]]]


def test_distance_map_matches_spec_listing():
    """Pin the generated plane-code table against the specification's
    listing, transcribed here VERBATIM (all 120 codes), and its global
    invariants: every half-plane cell of the dy 0..7, dx -7..8 window,
    sorted by squared distance. Codes 97-120 were once generated as
    the 120 nearest neighbors instead ((0, 8) first), which decoded
    libwebp streams that use those codes to wrong pixels."""
    spec = (
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
        (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
        (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
        (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
        (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
        (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
        (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
        (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
        (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
        (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
        (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
        (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
        (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
        (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
        (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
    )
    assert _DIST_MAP == spec
    assert len(set(_DIST_MAP)) == 120
    for x, y in _DIST_MAP:
        assert 0 <= y <= 7 and -7 <= x <= 8
        if y == 0:
            assert x > 0
    d2 = [x * x + y * y for x, y in _DIST_MAP]
    assert d2 == sorted(d2)


def test_corrupt_rejected_everywhere():
    px = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    data = build_webp(px)
    for cut in range(1, len(data)):
        with pytest.raises(ValueError):
            parse_webp(data[:cut])
    with pytest.raises(ValueError, match="RIFF"):
        parse_webp(b"JUNK" + data[4:])
    with pytest.raises(ValueError, match="signature"):
        parse_vp8l(b"\x30" + b"\x00" * 8)


def test_lossy_vp8_routes_to_real_decoder():
    """Since round 9, 'VP8 ' chunks dispatch to codec/vp8.py (RFC 6386
    key-frame decode); a 4-byte garbage body is a corrupt-skip
    rejection from THAT decoder, not a swap-point error."""
    lossy = (b"RIFF" + (16).to_bytes(4, "little") + b"WEBP"
             + b"VP8 " + (4).to_bytes(4, "little") + b"\x00" * 4)
    with pytest.raises(ValueError, match="frame header"):
        parse_webp(lossy)
    # VP8X decodes for real since r9; a container with no image chunk
    # is a corrupt-skip rejection from the shared frame-chunk walk
    vp8x = (b"RIFF" + (22).to_bytes(4, "little") + b"WEBP"
            + b"VP8X" + (10).to_bytes(4, "little") + b"\x00" * 10)
    with pytest.raises(ValueError, match="missing image chunk"):
        parse_webp(vp8x)


def test_vp8x_after_leading_metadata_chunk():
    """The VP8X resume offset must come from WHERE the walk found the
    chunk, not a hardcoded header position (review-found bug: a
    leading unknown chunk shifted the whole container walk)."""
    px = np.arange(27, dtype=np.uint8).reshape(3, 3, 3)
    inner = build_webp(px)
    vp8l_chunk = inner[12:]                     # "VP8L" + size + body
    vp8x = (b"VP8X" + (10).to_bytes(4, "little")
            + bytes([0]) + b"\x00" * 3
            + (2).to_bytes(3, "little") + (2).to_bytes(3, "little"))
    junk = b"JUNK" + (6).to_bytes(4, "little") + b"\x00" * 6
    body = junk + vp8x + vp8l_chunk
    data = b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WEBP" + body
    m = parse_webp(data)
    assert (m["width"], m["height"]) == (3, 3)
    assert np.array_equal(m["pixels"], px)


def test_repeated_transform_rejected():
    wr = _header(2, 2)
    wr.w(1, 1).w(2, 2)                 # subtract green
    wr.w(1, 1).w(2, 2)                 # subtract green AGAIN
    with pytest.raises(ValueError, match="repeated"):
        parse_vp8l(wr.bytes() + b"\x00" * 8)


def test_backref_before_start_rejected():
    """First token is a backref — there is nothing to copy from."""
    # green simple codes can't reach symbol 256+, so the length code
    # is introduced via the complex form: lengths[0]=1, lengths[256]=1
    wr2 = _header(2, 2)
    wr2.w(0, 1).w(0, 1).w(0, 1)
    wr2.w(0, 1).w(0, 4)
    wr2.w(2, 3).w(2, 3).w(0, 3).w(1, 3)
    wr2.w(0, 1)
    wr2.msb(0b0, 1)                    # lengths[0] = 1
    wr2.msb(0b11, 2).w(116, 7)         # 18: 11+116 = 127 zeros (1..127)
    wr2.msb(0b11, 2).w(117, 7)         # 18: 128 zeros (128..255)
    wr2.msb(0b0, 1)                    # lengths[256] = 1
    wr2.msb(0b11, 2).w(12, 7)          # 18: 23 zeros (257..279)
    _simple_one(wr2, 0)
    _simple_one(wr2, 0)
    _simple_one(wr2, 255)
    wr2.w(1, 1).w(0, 1).w(1, 1).w(0, 8)
    wr2.w(1, 1)                        # green sym 256 = length code 0
    with pytest.raises(ValueError, match="before image start"):
        parse_vp8l(wr2.bytes() + b"\x00" * 4)


@settings(max_examples=40, deadline=None)
@given(w=st.integers(1, 21), h=st.integers(1, 17), seed=st.integers(0, 99),
       transform=st.sampled_from(["none", "sub_green", "predictor",
                                  "color"]),
       mode=st.integers(0, 13), cache=st.sampled_from([0, 3, 8]))
def test_roundtrip_property(w, h, seed, transform, mode, cache):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    data = build_webp(px, transform=transform, predictor_mode=mode,
                      cache_bits=cache)
    m = parse_webp(data)
    assert np.array_equal(m["pixels"], px)


@settings(max_examples=25, deadline=None)
@given(seed=st.integers(0, 99), n_colors=st.integers(1, 40))
def test_palette_roundtrip_including_bundling(seed, n_colors):
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (n_colors, 3)).astype(np.uint8)
    idx = rng.integers(0, n_colors, (7, 11))
    px = pal[idx]
    m = parse_webp(build_webp(px, transform="palette"))
    assert np.array_equal(m["pixels"], px)


def test_alpha_and_meta_paths():
    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, (6, 9, 3)).astype(np.uint8)
    al = rng.integers(0, 255, (6, 9)).astype(np.uint8)
    m = parse_webp(build_webp(px, alpha=al))
    assert np.array_equal(m["alpha"], al) and m["has_alpha"]
    m = parse_webp(build_webp(px, use_meta=True))
    assert np.array_equal(m["pixels"], px)


def test_lz77_run_compression_is_real():
    """A constant image must compress far below 4 bytes/pixel (the
    LZ77 path, not an uncompressed dump) and still roundtrip."""
    px = np.full((64, 64, 3), 123, np.uint8)
    data = build_webp(px)
    assert len(data) < 64 * 64          # < 1 byte/pixel
    assert np.array_equal(parse_webp(data)["pixels"], px)


@settings(max_examples=80, deadline=None)
@given(pos=st.integers(0, 600), val=st.integers(0, 255))
def test_byte_flip_fuzz_never_crashes(pos, val):
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (9, 13, 3)).astype(np.uint8)
    data = bytearray(build_webp(px, transform="sub_green", cache_bits=4))
    data[pos % len(data)] = val
    try:
        m = parse_webp(bytes(data))
        assert m["pixels"].shape[2] == 3
    except ValueError:
        pass


def test_gate_corpus_corrupt_always_rejected_and_decodes_exact():
    """The mm_webp_decode gate contract: every corrupted doc_id shape
    in the 109-period (cycling all five transforms, predictor modes,
    and cache on/off) must REJECT its truncated payload, and every
    clean payload must decode to the closed-form pixels."""
    from go_triton_spark.operators.multimodal import _webp_gate_pixels

    variants = ("none", "sub_green", "predictor", "color", "palette")
    for doc_id in range(13, 13 + 109 * 30, 109):    # 30 corrupt shapes
        payload = build_webp(_webp_gate_pixels(doc_id),
                             transform=variants[doc_id % 5],
                             predictor_mode=(doc_id // 5) % 14,
                             cache_bits=4 if doc_id % 3 == 0 else 0)
        with pytest.raises(ValueError):
            parse_webp(payload[:-5])
    for doc_id in range(0, 120):                    # every variant combo
        px = _webp_gate_pixels(doc_id)
        payload = build_webp(px, transform=variants[doc_id % 5],
                             predictor_mode=(doc_id // 5) % 14,
                             cache_bits=4 if doc_id % 3 == 0 else 0)
        assert np.array_equal(parse_webp(payload)["pixels"], px), doc_id
