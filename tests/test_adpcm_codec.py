"""codec/adpcm.py: IMA ADPCM state machine, container, round trip."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from go_triton_spark.codec import native as _native
from go_triton_spark.codec.adpcm import (STEP_TABLE, build_ima_wav,
                                         decode_ima, decode_ima_blocks,
                                         encode_ima)
from go_triton_spark.codec.wav import parse_wav

# the pure decoders, as on a host without the native libraries
pytestmark = pytest.mark.usefixtures("pure_decoders")


def test_step_table_shape():
    assert len(STEP_TABLE) == 89
    assert STEP_TABLE[0] == 7 and STEP_TABLE[88] == 32767
    assert all(a < b for a, b in zip(STEP_TABLE, STEP_TABLE[1:]))


def test_decode_hand_trace():
    """First transitions from (pred=0, idx=0), step=7, hand-computed:
    nibble 0 -> +0? no: diff = 7>>3 = 0... IMA's minimum diff is
    step>>3 = 0 for step 7, so sample stays 0; nibble 7 -> diff =
    0+1+3+7 = 11; nibble 8 (sign only) subtracts the base diff."""
    assert decode_ima([0], 0, 0).tolist() == [0]
    assert decode_ima([7], 0, 0).tolist() == [11]
    assert decode_ima([0, 7, 8, 15], 0, 0).tolist() == [0, 11, 9, -16]


def test_clamping():
    # drive predictor far positive: nibble 7 repeatedly grows step
    out = decode_ima([7] * 60, 30000, 88)
    assert out.max() <= 32767 and out.min() >= -32768
    assert out[0] == 32767  # immediate clamp at max step


def test_container_round_trip_multiblock():
    nib = np.arange(32, dtype=np.uint8) % 16
    one = build_ima_wav(nib, 100, 5)
    m = parse_wav(one)
    assert m["codec"] == "ima_adpcm" and m["n_frames"] == 33
    expect = np.concatenate([[100], decode_ima(nib, 100, 5)])
    assert np.array_equal(m["samples"][:, 0], expect)
    # two concatenated blocks decode independently
    import struct
    data_off = one.index(b"data")
    block = one[data_off + 8:]
    two = bytearray(one)
    two[data_off + 4:data_off + 8] = struct.pack("<I", 2 * len(block))
    two += block
    two[4:8] = struct.pack("<I", len(two) - 8)
    dec = decode_ima_blocks(bytes(two[data_off + 8:]), len(block))
    assert np.array_equal(dec, np.concatenate([expect, expect]))


def test_corrupt_rejected():
    nib = np.zeros(32, dtype=np.uint8)
    good = build_ima_wav(nib, 0, 0)
    with pytest.raises(ValueError):
        parse_wav(good[:-3])           # truncated chunk
    bad_idx = bytearray(good)
    data_off = good.index(b"data")
    bad_idx[data_off + 8 + 2] = 120    # step index 120 > 88
    with pytest.raises(ValueError):
        parse_wav(bytes(bad_idx))


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2 ** 31 - 1), st.integers(0, 60))
def test_encode_decode_tracks_input(seed, idx0):
    """The adaptive quantizer must TRACK any smooth signal: decode of
    encode stays within a few adapted steps of the input (lossy, but
    bounded — the property that makes ADPCM audio usable)."""
    rng = np.random.default_rng(seed)
    t = np.arange(200)
    sig = (3000 * np.sin(t / (4 + rng.integers(10)))
           + rng.integers(-50, 50, size=200)).astype(np.int64)
    nibbles, pred0, i0 = encode_ima(sig, index=int(idx0))
    dec = np.concatenate([[pred0],
                          decode_ima(np.frombuffer(nibbles, np.uint8),
                                     pred0, i0)])
    # worst tracked error stays under the biggest step the encoder
    # visited plus slack for the attack transient
    assert np.abs(dec - sig).max() < 4000


# the real shim loader, captured before the pure_decoders fixture
# replaces it for each test
_SHIM_LOADER = _native._crc_shim_lib


def test_decode_ima_use_native_arg_parity(monkeypatch):
    """decode_ima has no use_native argument any more: it takes the
    compiled shim when it loads and the pure loop otherwise. Both legs
    must give the same samples bit-for-bit."""
    rng = np.random.default_rng(7)
    nibbles = rng.integers(0, 16, size=257, dtype=np.uint8)
    pure = decode_ima(nibbles, 100, 30)
    assert _native.ima_decode_native(nibbles, 100, 30) is None
    monkeypatch.setattr(_native, "_crc_shim_lib", _SHIM_LOADER)
    shim = _native.ima_decode_native(nibbles, 100, 30)
    # the shim may be absent on this host; then only the pure leg runs
    if shim is not None:
        assert np.array_equal(pure, shim)
    assert np.array_equal(pure, decode_ima(nibbles, 100, 30))
