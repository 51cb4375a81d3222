"""codec/jpeg.py: real baseline JPEG codec, golden-gated.

Independence strategy: no PIL/libjpeg exists in this environment, so
correctness rests on three independent legs —

1. a NAIVE reference transform in this file (direct double-sum DCT-II
   and IDCT, no shared code with codec/jpeg.py's matrix form) run
   through the same quant/zigzag contract: any Huffman/marker bug and
   any transform bug diverge from it;
2. closed-form exactness: DC-only images (constant 8x8 blocks, ones
   quant) must round-trip BIT-EXACTLY — a property of the real JPEG
   algebra, not of this implementation;
3. adversarial bytes: hand-built marker streams, truncation at every
   cut point, and byte-flip fuzz (which already found a real bug: a
   corrupted DHT smuggling DC categories > 11 overflowed the
   coefficient array before the guard existed).
"""

import struct

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from go_triton_spark.codec.jpeg import (QUANT_LUMA_K1, ZIGZAG, build_jpeg,
                                        build_jpeg_ycbcr, parse_jpeg)

# the pure decoders, as on a host without the native libraries
pytestmark = pytest.mark.usefixtures("pure_decoders")


# --- naive reference transform (independent of the codec's matrix) ---

def _naive_dct(block):
    out = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            s = 0.0
            for x in range(8):
                for y in range(8):
                    s += (block[x, y]
                          * np.cos((2 * x + 1) * u * np.pi / 16)
                          * np.cos((2 * y + 1) * v * np.pi / 16))
            cu = 1 / np.sqrt(2) if u == 0 else 1.0
            cv = 1 / np.sqrt(2) if v == 0 else 1.0
            out[u, v] = 0.25 * cu * cv * s
    return out


def _naive_idct(coef):
    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    s += (cu * cv * coef[u, v]
                          * np.cos((2 * x + 1) * u * np.pi / 16)
                          * np.cos((2 * y + 1) * v * np.pi / 16))
            out[x, y] = 0.25 * s
    return out


def _reference_roundtrip_plane(plane, q):
    """What a correct codec must produce for one already-MCU-aligned
    plane: DCT -> quant-round -> dequant -> IDCT, all via the naive
    transforms. Returns the float plane before uint8 conversion."""
    h, w = plane.shape
    out = np.zeros((h, w))
    for by in range(h // 8):
        for bx in range(w // 8):
            blk = plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0
            coef = np.round(_naive_dct(blk) / q) * q
            out[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                _naive_idct(coef) + 128.0
    return out


def test_zigzag_matches_spec_prefix():
    assert ZIGZAG[:16] == [(0, 0), (0, 1), (1, 0), (2, 0), (1, 1),
                           (0, 2), (0, 3), (1, 2), (2, 1), (3, 0),
                           (4, 0), (3, 1), (2, 2), (1, 3), (0, 4),
                           (0, 5)]
    assert sorted(ZIGZAG) == [(r, c) for r in range(8) for c in range(8)]


def test_dc_only_images_roundtrip_exactly():
    """Constant 16x16 tiles + ones quant -> bit-exact through the full
    encode/decode, including edge MCUs on non-multiple dims."""
    rng = np.random.default_rng(11)
    for w, h in [(16, 16), (22, 12), (8, 8), (5, 21), (33, 17)]:
        img = np.zeros((h, w, 3), np.uint8)
        for by in range(0, h, 16):
            for bx in range(0, w, 16):
                img[by:by + 16, bx:bx + 16] = rng.integers(0, 256)
        for sub in ("4:4:4", "4:2:2", "4:2:0"):
            m = parse_jpeg(build_jpeg(img, sub))
            assert m["width"] == w and m["height"] == h
            assert m["subsampling"] == sub
            assert np.array_equal(m["pixels"], img), (w, h, sub)


def test_lossy_444_matches_naive_reference_exactly():
    """Random image, standard luma quant, 4:4:4: the decoded luma-only
    gray image must equal the NAIVE reference pipeline bit-for-bit —
    this pins the Huffman layer (any coefficient bit error diverges)
    and the matrix DCT/IDCT against the double-sum definition."""
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (16, 24), np.uint8)
    rgb = np.repeat(img[:, :, None], 3, axis=2)  # gray: Y == pixel
    data = build_jpeg(rgb, "4:4:4", quality=50)
    got = parse_jpeg(data)["pixels"]

    from go_triton_spark.codec.jpeg import _scaled_quant
    q = _scaled_quant(QUANT_LUMA_K1, 50)
    ref_y = _reference_roundtrip_plane(img.astype(np.float64), q)
    ref_y8 = np.clip(np.round(ref_y), 0, 255)
    # chroma is exactly 128 for gray input and survives quant (DC 0),
    # so R=G=B=Y after conversion
    ref = np.repeat(np.clip(np.round(ref_y8), 0, 255)
                    .astype(np.uint8)[:, :, None], 3, axis=2)
    assert np.array_equal(got, ref)


def test_lossy_quality_sweep_error_bounded():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (24, 40, 3)).astype(np.uint8)
    prev_err = None
    for quality in (95, 75, 50):
        m = parse_jpeg(build_jpeg(img, "4:4:4", quality=quality))
        err = np.abs(m["pixels"].astype(int) - img.astype(int)).mean()
        if prev_err is not None:
            assert err >= prev_err - 0.5  # lower quality -> more error
        prev_err = err
    assert prev_err < 40


def test_restart_markers_do_not_change_pixels():
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (40, 56, 3)).astype(np.uint8)
    base = parse_jpeg(build_jpeg(img, "4:2:0", quality=80))["pixels"]
    for interval in (1, 2, 5):
        d = build_jpeg(img, "4:2:0", quality=80,
                       restart_interval=interval)
        assert d.count(b"\xFF\xDD") >= 1
        assert np.array_equal(parse_jpeg(d)["pixels"], base)


def test_byte_stuffing_roundtrip():
    """Hunt a seed whose scan contains a stuffed 0xFF00 to prove the
    unstuffing path runs, then require exact DC-only roundtrip."""
    for seed in range(200):
        rng = np.random.default_rng(seed)
        img = np.zeros((16, 32, 3), np.uint8)
        for bx in range(0, 32, 16):
            img[:, bx:bx + 16] = rng.integers(0, 256)
        data = build_jpeg(img, "4:2:0")
        scan = data[data.index(b"\xFF\xDA"):]
        if b"\xFF\x00" in scan:
            assert np.array_equal(parse_jpeg(data)["pixels"], img)
            return
    pytest.fail("no seed produced a stuffed byte")


def test_grayscale_single_component():
    """Real nc=1 streams (build_jpeg_gray): DC-only grays round-trip
    exactly with the luma replicated to 3 channels, restart markers
    included, and the lossy path stays bounded."""
    from go_triton_spark.codec.jpeg import build_jpeg_gray

    rng = np.random.default_rng(13)
    for w, h in [(8, 8), (22, 12), (5, 17)]:
        img = np.zeros((h, w), np.uint8)
        for by in range(0, h, 8):
            for bx in range(0, w, 8):
                img[by:by + 8, bx:bx + 8] = rng.integers(0, 256)
        for ri in (0, 1):
            m = parse_jpeg(build_jpeg_gray(img, restart_interval=ri))
            assert m["n_components"] == 1
            assert m["subsampling"] == "4:4:4"
            assert np.array_equal(
                m["pixels"], np.repeat(img[:, :, None], 3, axis=2))
    noisy = rng.integers(0, 256, (24, 40)).astype(np.uint8)
    m = parse_jpeg(build_jpeg_gray(noisy, quality=80))
    err = np.abs(m["pixels"][:, :, 0].astype(int) - noisy.astype(int))
    assert err.mean() < 15


def test_truncation_always_rejected():
    img = np.full((12, 12, 3), 130, np.uint8)
    data = build_jpeg(img, "4:2:0")
    for cut in range(2, len(data)):
        with pytest.raises(ValueError):
            parse_jpeg(data[:cut])


def test_unsupported_modes_named():
    img = np.full((8, 8, 3), 10, np.uint8)
    data = bytearray(build_jpeg(img, "4:4:4"))
    sof = data.index(b"\xFF\xC0")
    data[sof + 1] = 0xC2  # SOF0 -> SOF2 progressive
    with pytest.raises(ValueError, match="progressive"):
        parse_jpeg(bytes(data))
    with pytest.raises(ValueError, match="SOI"):
        parse_jpeg(b"\x89PNG\r\n\x1a\n")
    with pytest.raises(ValueError, match="SOI"):
        parse_jpeg(b"")


def test_16bit_quant_rejected():
    img = np.full((8, 8, 3), 10, np.uint8)
    data = bytearray(build_jpeg(img, "4:4:4"))
    dqt = data.index(b"\xFF\xDB")
    data[dqt + 4] |= 0x10  # Pq=1
    with pytest.raises(ValueError, match="16-bit"):
        parse_jpeg(bytes(data))


def test_missing_huffman_table_rejected():
    img = np.full((8, 8, 3), 10, np.uint8)
    data = build_jpeg(img, "4:4:4")
    # drop the first DHT segment entirely
    dht = data.index(b"\xFF\xC4")
    seg_len = struct.unpack_from(">H", data, dht + 2)[0]
    mutated = data[:dht] + data[dht + 2 + seg_len:]
    with pytest.raises(ValueError, match="Huffman|truncated|marker"):
        parse_jpeg(mutated)


@given(st.integers(0, 5000))
@settings(max_examples=60, deadline=None)
def test_dc_only_gate_shape_property(doc_id):
    """Property form of the mm_jpeg_decode gate contract: for any
    doc_id, the decoded pixels equal the closed-form YCbCr->RGB
    formulas (round-half-even, no clamp needed)."""
    w, h = 4 + doc_id % 19, 4 + doc_id % 9
    yy, xx = np.mgrid[0:h, 0:w]
    y = (32 + (5 * (xx // 8) + 3 * (yy // 8) + 7 * doc_id) % 192) \
        .astype(np.uint8)
    cb = np.full((h, w), 124 + doc_id % 9, np.uint8)
    cr = np.full((h, w), 125 + doc_id % 7, np.uint8)
    m = parse_jpeg(build_jpeg_ycbcr(y, cb, cr, "4:2:0"))
    yf, cbf, crf = (a.astype(np.float64) for a in (y, cb, cr))
    exp = np.dstack([
        np.round(yf + 1.402 * (crf - 128.0)),
        np.round(yf - 0.344136 * (cbf - 128.0)
                 - 0.714136 * (crf - 128.0)),
        np.round(yf + 1.772 * (cbf - 128.0))]).astype(np.uint8)
    assert np.array_equal(m["pixels"], exp)
    # and the corruption gate always rejects
    with pytest.raises(ValueError):
        parse_jpeg(build_jpeg_ycbcr(y, cb, cr, "4:2:0")[:-6])


@given(st.integers(2, 400), st.integers(0, 255))
@settings(max_examples=80, deadline=None)
def test_byte_flip_fuzz_never_crashes(pos, val):
    img = np.full((12, 20, 3), 99, np.uint8)
    img[:, 10:] = 180
    data = bytearray(build_jpeg(img, "4:2:0", quality=70))
    data[pos % len(data)] = val
    try:
        m = parse_jpeg(bytes(data))
        assert m["pixels"].shape[2] == 3  # decoded something sane
    except ValueError:
        pass  # rejection is the other legal outcome


def test_magic_dispatch_routes_jpeg():
    from go_triton_spark.codec.image import parse_image, sniff_image_format
    img = np.full((8, 8, 3), 42, np.uint8)
    data = build_jpeg(img, "4:4:4")
    assert sniff_image_format(data) == "jpeg"
    assert np.array_equal(parse_image(data)["pixels"], img)


# --- progressive (SOF2) ------------------------------------------------

def test_progressive_decodes_identically_to_baseline():
    """The strongest progressive check: same image, same quant ->
    baseline and progressive streams carry the SAME coefficients, so
    the decoded pixels must be BIT-IDENTICAL. Covers DC first, AC
    first (EOBRUN/ZRL, two spectral bands), and with successive=True
    the DC refinement (raw bits) and AC refinement (correction bits)
    scan kinds."""
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (24, 40, 3)).astype(np.uint8)
    for sub in ("4:4:4", "4:2:0", "4:2:2"):
        for quality in (None, 75):
            base = parse_jpeg(build_jpeg(img, sub, quality=quality))
            assert base["progressive"] is False
            for successive in (False, True):
                m = parse_jpeg(build_jpeg(img, sub, quality=quality,
                                          progressive=True,
                                          successive=successive))
                assert m["progressive"] is True
                assert np.array_equal(m["pixels"], base["pixels"]), (
                    sub, quality, successive)


def test_progressive_grayscale_and_truncation():
    rng = np.random.default_rng(9)
    y = rng.integers(0, 256, (20, 28)).astype(np.uint8)
    base = parse_jpeg(build_jpeg_ycbcr(y, None, None, quality=60))
    for successive in (False, True):
        m = parse_jpeg(build_jpeg_ycbcr(y, None, None, quality=60,
                                        progressive=True,
                                        successive=successive))
        assert m["n_components"] == 1
        assert np.array_equal(m["pixels"], base["pixels"])
    img = rng.integers(0, 256, (12, 20, 3)).astype(np.uint8)
    data = build_jpeg(img, "4:2:0", quality=70,
                      progressive=True, successive=True)
    for cut in range(2, len(data), 7):   # stride: full sweep is slow
        with pytest.raises(ValueError):
            parse_jpeg(data[:cut])


@given(st.integers(0, 2000), st.integers(0, 255))
@settings(max_examples=60, deadline=None)
@example(pos=633, val=2)  # r10 find: flip empties the SOS body ->
# IndexError instead of the contract ValueError (fixed in parse_jpeg)
def test_progressive_byte_flip_fuzz(pos, val):
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (12, 20, 3)).astype(np.uint8)
    data = bytearray(build_jpeg(img, "4:2:0", quality=70,
                                progressive=True, successive=True))
    data[pos % len(data)] = val
    try:
        m = parse_jpeg(bytes(data))
        assert m["pixels"].shape[2] == 3
    except ValueError:
        pass


def test_progressive_restart_markers_hand_built():
    """The progressive encoder never emits restarts, so pin the
    decoder's per-scan restart handling (predictor + EOB-run reset at
    RSTn) with a hand-assembled DC-only SOF2 stream: DRI=1, two MCUs,
    RST0 between them, second MCU's DC diff coded against a RESET
    predictor."""
    from go_triton_spark.codec.jpeg import (DC_LUMA, _BitWriter,
                                            _canonical_codes)

    dc = _canonical_codes(*DC_LUMA)

    def dc_bits(bw, diff):
        cat = abs(diff).bit_length()
        ln, code = dc[cat]
        bw.write(code, ln)
        if cat:
            bw.write(diff if diff > 0 else diff + (1 << cat) - 1, cat)

    # gray 8x16, quant=1: DC coef of constant block v is 8*(v-128)
    v1, v2 = 200, 90
    b1 = _BitWriter(); dc_bits(b1, 8 * (v1 - 128)); b1.flush()
    b2 = _BitWriter(); dc_bits(b2, 8 * (v2 - 128)); b2.flush()  # pred reset

    out = bytearray(b"\xFF\xD8")
    out += b"\xFF\xDB" + struct.pack(">H", 67) + bytes([0]) + bytes([1] * 64)
    out += b"\xFF\xC2" + struct.pack(">H", 11) + bytes([8]) \
        + struct.pack(">HH", 8, 16) + bytes([1, 1, 0x11, 0])
    bits, vals = DC_LUMA
    out += b"\xFF\xC4" + struct.pack(">H", 19 + len(vals)) \
        + bytes([0]) + bytes(bits) + bytes(vals)
    out += b"\xFF\xDD" + struct.pack(">HH", 4, 1)          # DRI = 1
    out += b"\xFF\xDA" + struct.pack(">H", 8) + bytes([1, 1, 0, 0, 0, 0])
    out += bytes(b1.out) + b"\xFF\xD0" + bytes(b2.out)
    out += b"\xFF\xD9"
    m = parse_jpeg(bytes(out))
    assert m["progressive"] is True
    exp = np.zeros((8, 16), np.uint8)
    exp[:, :8] = v1
    exp[:, 8:] = v2
    assert np.array_equal(m["pixels"][:, :, 0], exp)


def test_remaining_unsupported_sofs_still_named():
    img = np.full((8, 8, 3), 10, np.uint8)
    data = bytearray(build_jpeg(img, "4:4:4"))
    sof = data.index(b"\xFF\xC0")
    for code, name in ((0xC3, "lossless"), (0xC9, "arithmetic")):
        mut = bytearray(data)
        mut[sof + 1] = code
        with pytest.raises(ValueError, match=name):
            parse_jpeg(bytes(mut))
