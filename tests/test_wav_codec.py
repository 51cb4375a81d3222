"""codec/wav.py: real RIFF/PCM parsing, golden-gated.

The checked-in fixture (tests/fixtures/tone441.wav) was written by the
STDLIB ``wave`` module — an independent producer — so these goldens
gate our parser against bytes we did not assemble ourselves.
"""

import os
import struct

import numpy as np
import pytest

from go_triton_spark.codec.wav import build_wav, parse_wav

# the pure decoders, as on a host without the native libraries
pytestmark = pytest.mark.usefixtures("pure_decoders")

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "tone441.wav")


def test_fixture_golden():
    """Golden metadata for the checked-in stdlib-written stereo file
    (values computed independently with numpy at fixture-creation
    time, not by parse_wav)."""
    with open(FIXTURE, "rb") as fh:
        m = parse_wav(fh.read())
    samples = m.pop("samples")
    assert m == {
        "n_channels": 2, "sample_rate": 44100, "bit_depth": 16,
        "codec": "pcm",
        "n_frames": 441, "duration_ms": 10, "peak": 1000, "rms_u": 584,
    }
    # decoded PCM contract (round 8): (n_frames, n_channels), and the
    # stats above must be recomputable from it
    assert samples.shape == (441, 2)
    assert int(np.abs(samples).max()) == 1000


def test_round_trip_matches_stdlib_wave(tmp_path):
    """build_wav output must be readable by the stdlib wave module and
    parse_wav must agree with it on every header field."""
    import wave

    samples = ((np.arange(800) * 97) % 4001) - 2000
    data = build_wav(samples, sample_rate=16000, n_channels=1, bit_depth=16)
    p = tmp_path / "rt.wav"
    p.write_bytes(data)
    w = wave.open(str(p), "rb")
    assert (w.getnchannels(), w.getframerate(), w.getsampwidth() * 8,
            w.getnframes()) == (1, 16000, 16, 800)
    assert np.array_equal(
        np.frombuffer(w.readframes(800), dtype="<i2"),
        samples.astype("<i2"))
    w.close()
    m = parse_wav(data)
    assert (m["n_channels"], m["sample_rate"], m["bit_depth"],
            m["n_frames"]) == (1, 16000, 16, 800)
    assert m["peak"] == 2000


def test_unknown_chunks_and_odd_padding_skipped():
    """A LIST metadata chunk with an ODD size (RIFF pad byte) between
    fmt and data must not derail the chunk walk."""
    body = build_wav([100, -100, 100, -100], sample_rate=8000)
    fmt_end = 12 + 8 + 16
    listc = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd + pad
    patched = body[:fmt_end] + listc + body[fmt_end:]
    riff_size = len(patched) - 8
    patched = patched[:4] + struct.pack("<I", riff_size) + patched[8:]
    m = parse_wav(patched)
    assert m["n_frames"] == 4 and m["peak"] == 100 and m["rms_u"] == 100


def test_bit_depths():
    m8 = parse_wav(build_wav([50, -50] * 10, bit_depth=8))
    assert m8["bit_depth"] == 8 and m8["peak"] == 50 and m8["rms_u"] == 50
    m32 = parse_wav(build_wav([70000, -70000] * 5, bit_depth=32))
    assert m32["bit_depth"] == 32 and m32["peak"] == 70000


def test_24_bit_sign_extension():
    """24-bit PCM has no numpy dtype — bytes are assembled by hand and
    negative samples must sign-extend."""
    vals = [8388607, -8388608, -1, 1]  # int24 extremes
    pcm = b"".join(v.to_bytes(3, "little", signed=True) for v in vals)
    hdr = b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
    hdr += b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000 * 3, 3, 24)
    hdr += b"data" + struct.pack("<I", len(pcm))
    m = parse_wav(hdr + pcm)
    assert m["bit_depth"] == 24 and m["n_frames"] == 4
    assert m["peak"] == 8388608


@pytest.mark.parametrize("mutant", [
    b"",                                   # empty
    b"RIFF\x00\x00\x00\x00WAVE",           # headers only, no chunks
    b"JUNK" + b"\x00" * 40,                # wrong magic
])
def test_corrupt_rejected(mutant):
    with pytest.raises(ValueError):
        parse_wav(mutant)


def test_truncated_and_non_pcm_rejected():
    good = build_wav([1, -1] * 100)
    with pytest.raises(ValueError):
        parse_wav(good[:30])               # cut mid-fmt
    # flip format tag to 3 (IEEE float) — explicit unsupported error
    bad = bytearray(good)
    struct.pack_into("<H", bad, 20, 3)
    with pytest.raises(ValueError, match="format tag"):
        parse_wav(bytes(bad))


def test_32bit_full_scale_rms_exact():
    """Sum-of-squares must not wrap int64: one full-scale 32-bit sample
    squared is ~2^62, so a handful of them silently overflowed the old
    int64 accumulator. Exact accumulation gives rms == |sample| for a
    constant full-scale signal."""
    from go_triton_spark.codec.wav import build_wav, parse_wav

    full = 2**31 - 1
    meta = parse_wav(build_wav([full, -full, full, -full] * 4,
                               bit_depth=32))
    assert meta["bit_depth"] == 32
    assert meta["peak"] == full
    assert meta["rms_u"] == full  # int64 wrap produced garbage here


# ---- property tests (round 5) ----------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.integers(-(2**15), 2**15 - 1), min_size=1, max_size=64),
    st.sampled_from([8, 16, 32]),
    st.integers(1, 4),
    st.integers(1, 96000),
)
def test_wav_roundtrip_property(samples, depth, n_channels, rate):
    """build_wav -> parse_wav returns exact integer stats for any
    sample run, depth, channel count, and rate (frames floor-divide
    by channels; 8-bit clamps to its domain)."""
    from go_triton_spark.codec.wav import build_wav, parse_wav

    if depth == 8:
        samples = [max(-128, min(127, s)) for s in samples]
    meta = parse_wav(build_wav(samples, sample_rate=rate,
                               n_channels=n_channels, bit_depth=depth))
    assert meta["bit_depth"] == depth
    assert meta["sample_rate"] == rate
    assert meta["n_channels"] == n_channels
    assert meta["n_frames"] == len(samples) // n_channels
    assert meta["peak"] == max(abs(s) for s in samples)
    import math
    exact = int(round(math.sqrt(
        sum(s * s for s in samples) / len(samples))))
    assert meta["rms_u"] == exact


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=4096))
def test_wav_fuzz_rejects_or_parses(payload):
    """parse_wav on arbitrary bytes either raises ValueError (the
    corrupt-skip contract) or returns a well-formed stats dict — never
    any other exception type."""
    from go_triton_spark.codec.wav import parse_wav

    try:
        meta = parse_wav(payload)
    except ValueError:
        return
    assert set(meta) == {"n_channels", "sample_rate", "bit_depth",
                         "n_frames", "duration_ms", "peak", "rms_u"}
    assert all(isinstance(v, int) for v in meta.values())


@settings(max_examples=150, deadline=None)
@given(st.integers(0, 511), st.integers(0, 255))
def test_wav_mutation_fuzz(flip_at, flip_to):
    """Mutate a VALID wav at one byte: parse either still succeeds or
    raises ValueError — mirrors the reference's skip-corrupt-record
    semantics (stream_reader.go:174-194)."""
    from go_triton_spark.codec.wav import build_wav, parse_wav

    base = bytearray(build_wav(list(range(-50, 50)), bit_depth=16))
    base[flip_at % len(base)] = flip_to
    try:
        meta = parse_wav(bytes(base))
        assert meta["bit_depth"] in (8, 16, 24, 32)
    except ValueError:
        pass
