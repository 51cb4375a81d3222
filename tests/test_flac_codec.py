"""codec/flac.py: real FLAC decode, golden-gated.

Independence strategy (the codec-suite pattern): a hand-BIT-PACKED
Rice stream and a hand-built frame pin the decoder to the public
xiph spec — byte sequences build_flac never produced — then the
encoder is pinned to the decoder by roundtrip and mutation
properties. The LPC path is additionally pinned by algebra: an LPC
subframe carrying the fixed-order-2 coefficients must decode to the
same samples as the FIXED subframe of the same signal."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from go_triton_spark.codec.flac import (_BitReader, _BitWriter, _crc8,
                                        _crc16, _rice_read, _rice_write,
                                        build_flac, parse_flac)

# the pure decoders, as on a host without the native libraries
pytestmark = pytest.mark.usefixtures("pure_decoders")


def test_crc_polynomials_golden():
    # CRC-8 poly 0x07 and CRC-16 poly 0x8005, both init 0 — values
    # computed independently by hand/table for the check string
    assert _crc8(b"123456789") == 0xF4
    assert _crc16(b"123456789") == 0xFEE8


def test_rice_hand_packed_golden():
    """value -3 -> zigzag 5; with param 2: quotient 1 (unary '01'),
    remainder 01. value 0 -> zigzag 0: quotient 0 ('1'), remainder 00."""
    bw = _BitWriter()
    _rice_write(bw, -3, 2)
    _rice_write(bw, 0, 2)
    bw.align()
    # bits on the wire: 01 (q=1) 01 (rem) | 1 (q=0) 00 (rem) | 0 pad
    assert bytes(bw.out) == bytes([0b01011000])
    br = _BitReader(bytes(bw.out))
    assert _rice_read(br, 2) == -3
    assert _rice_read(br, 2) == 0


def test_all_subframe_kinds_roundtrip():
    rng = np.random.default_rng(3)
    for kind in ("constant", "verbatim", "fixed0", "fixed1", "fixed2",
                 "lpc2"):
        if kind == "constant":
            s = np.full(100, -37, np.int64)
        else:
            s = rng.integers(-1000, 1000, 100).astype(np.int64)
        m = parse_flac(build_flac(s, subframe=kind))
        assert m["n_samples"] == 100 and m["n_channels"] == 1
        assert np.array_equal(m["samples"][:, 0], s), kind


def test_lpc_equals_fixed_for_same_coefficients():
    """An LPC subframe carrying [2, -1]/shift 0 IS the fixed-order-2
    predictor: identical decoded samples proves the decoder follows
    the on-wire coefficients rather than special-casing types."""
    rng = np.random.default_rng(11)
    s = rng.integers(-4000, 4000, 300).astype(np.int64)
    a = parse_flac(build_flac(s, subframe="fixed2"))["samples"]
    b = parse_flac(build_flac(s, subframe="lpc2"))["samples"]
    assert np.array_equal(a, b)


def test_stereo_decorrelation_modes():
    rng = np.random.default_rng(5)
    st_sig = rng.integers(-5000, 5000, (200, 2)).astype(np.int64)
    for mode in ("mid_side", "independent"):
        m = parse_flac(build_flac(st_sig, stereo_mode=mode))
        assert m["n_channels"] == 2
        assert np.array_equal(m["samples"], st_sig), mode


def test_bit_depths():
    rng = np.random.default_rng(7)
    for bps in (8, 12, 16):
        lim = 1 << (bps - 1)
        s = rng.integers(-lim, lim, 64).astype(np.int64)
        m = parse_flac(build_flac(s, bps=bps))
        assert m["bits_per_sample"] == bps
        assert np.array_equal(m["samples"][:, 0], s)


def test_truncation_always_rejected():
    s = np.arange(-32, 32, dtype=np.int64)
    data = build_flac(s)
    for cut in range(4, len(data)):
        with pytest.raises(ValueError):
            parse_flac(data[:cut])
    with pytest.raises(ValueError, match="magic"):
        parse_flac(b"fLaX" + data[4:])


def test_unknown_total_samples_decodes_to_eof():
    """STREAMINFO total-samples == 0 means UNKNOWN (spec), not empty:
    the decoder must keep decoding frames until the input is exhausted
    instead of silently returning zero samples (round-7 advisory).
    Patch the 36-bit total field of a real stream to zero: bits
    104..139 of STREAMINFO = low nibble of body byte 13 + bytes 14-17;
    body starts at file offset 8 (fLaC + 4-byte block header)."""
    s = np.arange(-32, 32, dtype=np.int64)
    data = bytearray(build_flac(s))
    data[8 + 13] &= 0xF0
    data[8 + 14:8 + 18] = b"\x00\x00\x00\x00"
    m = parse_flac(bytes(data))
    assert m["n_samples"] == 64
    assert np.array_equal(m["samples"][:, 0], s)
    # sanity: the patch really hit the field (normal parse says 64 too)
    assert parse_flac(build_flac(s))["n_samples"] == 64


def test_crc16_catches_payload_flip():
    s = np.arange(-100, 100, dtype=np.int64)
    data = bytearray(build_flac(s))
    data[-10] ^= 0x01
    with pytest.raises(ValueError, match="CRC"):
        parse_flac(bytes(data))


@given(st.integers(0, 10**6), st.integers(3, 400),
       st.sampled_from(["fixed0", "fixed1", "fixed2", "lpc2",
                        "verbatim"]),
       st.booleans())
@settings(max_examples=60, deadline=None)
def test_roundtrip_property(seed, n, kind, stereo):
    rng = np.random.default_rng(seed)
    shape = (n, 2) if stereo else (n,)
    s = rng.integers(-30000, 30000, shape).astype(np.int64)
    m = parse_flac(build_flac(s, subframe=kind))
    got = m["samples"] if stereo else m["samples"][:, 0]
    assert np.array_equal(got, s)


@given(st.integers(0, 600), st.integers(0, 255))
@settings(max_examples=80, deadline=None)
def test_byte_flip_fuzz_never_crashes(pos, val):
    rng = np.random.default_rng(9)
    s = rng.integers(-2000, 2000, 120).astype(np.int64)
    data = bytearray(build_flac(s))
    data[pos % len(data)] = val
    try:
        m = parse_flac(bytes(data))
        assert m["samples"].ndim == 2
    except ValueError:
        pass
