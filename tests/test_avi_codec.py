"""codec/avi.py: real RIFF/AVI container parsing, golden-gated.

Like the BMP suite, goldens are HAND-ASSEMBLED from the public RIFF
grammar (RIFF('AVI ' LIST hdrl LIST movi)) so the parser is gated
against bytes build_avi never produced.
"""

import struct

import numpy as np
import pytest

from go_triton_spark.codec.avi import build_avi, parse_avi

# the pure decoders, as on a host without the native libraries
pytestmark = pytest.mark.usefixtures("pure_decoders")


def _hand_avi(frames_bgr_rows: list[bytes], w: int, h: int,
              n_frames: int | None = None, handler: bytes = b"DIB ",
              chunk_id: bytes = b"00db") -> bytes:
    """Assemble an AVI by hand: avih + strl(strh 'vids') + movi with
    raw padded-BGR frame chunks, bottom row first — independent of
    build_avi."""
    stride = (w * 3 + 3) & ~3
    n = len(frames_bgr_rows) if n_frames is None else n_frames
    avih = b"avih" + struct.pack("<I", 56) + struct.pack(
        "<10I16x", 40000, 0, 0, 0x10, n, 0, 1, stride * h, w, h)
    strh = b"strh" + struct.pack("<I", 56) + (
        b"vids" + handler + b"\x00" * 48)
    strf = b"strf" + struct.pack("<I", 40) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0)
    strl = b"LIST" + struct.pack("<I", 4 + len(strh) + len(strf)) + \
        b"strl" + strh + strf
    hdrl = b"LIST" + struct.pack("<I", 4 + len(avih) + len(strl)) + \
        b"hdrl" + avih + strl
    movi_body = b"".join(
        chunk_id + struct.pack("<I", len(fb)) + fb
        for fb in frames_bgr_rows)
    movi = b"LIST" + struct.pack("<I", 4 + len(movi_body)) + b"movi" + movi_body
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_hand_assembled_golden_two_frames():
    """1x2 24-bit frames: frame 0 = red over blue, frame 1 = green
    over white (storage: bottom row first, BGR, padded 3 -> 4)."""
    f0 = b"\xff\x00\x00\x00" + b"\x00\x00\xff\x00"  # blue row, red row
    f1 = b"\xff\xff\xff\x00" + b"\x00\xff\x00\x00"  # white row, green row
    m = parse_avi(_hand_avi([f0, f1], 1, 2))
    assert (m["width"], m["height"], m["n_frames"],
            m["us_per_frame"], m["duration_ms"]) == (1, 2, 2, 40000, 80)
    assert m["frames"][0].tolist() == [[[255, 0, 0]], [[0, 0, 255]]]
    assert m["frames"][1].tolist() == [[[0, 255, 0]], [[255, 255, 255]]]


def test_multiple_movi_lists_accumulate():
    """OpenDML muxers split frames across several movi LISTs (1 GiB
    segments); frames must ACCUMULATE across lists, not rebind per
    LIST — regression for the round-7 advisory."""
    f0 = b"\xff\x00\x00\x00" + b"\x00\x00\xff\x00"
    f1 = b"\xff\xff\xff\x00" + b"\x00\xff\x00\x00"
    one = _hand_avi([f0], 1, 2, n_frames=2)
    # splice a second movi LIST (holding f1) before RIFF end
    movi2_body = b"00db" + struct.pack("<I", len(f1)) + f1
    movi2 = (b"LIST" + struct.pack("<I", 4 + len(movi2_body))
             + b"movi" + movi2_body)
    body = one[8:] + movi2
    data = b"RIFF" + struct.pack("<I", len(body)) + body
    m = parse_avi(data)
    assert m["n_frames"] == 2
    assert m["frames"][0].tolist() == [[[255, 0, 0]], [[0, 0, 255]]]
    assert m["frames"][1].tolist() == [[[0, 255, 0]], [[255, 255, 255]]]


def test_roundtrip_matches_hand_layout():
    rng = np.random.default_rng(5)
    frames = [rng.integers(0, 256, size=(4, 5, 3), dtype=np.uint8)
              for _ in range(4)]
    m = parse_avi(build_avi(frames, fps=25))
    assert m["n_frames"] == 4 and m["us_per_frame"] == 40000
    for a, b in zip(m["frames"], frames):
        assert np.array_equal(a, b)


def test_unknown_chunks_and_audio_interleave_skipped():
    """JUNK at top level and interleaved audio ('01wb') chunks in movi
    must not derail the walk or count as frames."""
    f0 = bytes(range(12)) + b"\x00" * 0  # 1x3? use 1x1: 3 bytes + pad
    f0 = b"\x01\x02\x03\x00"
    base = _hand_avi([f0], 1, 1)
    # splice an audio chunk into movi: rebuild with audio between frames
    stride_chunk = b"01wb" + struct.pack("<I", 4) + b"AUDI"
    movi_at = base.find(b"movi")
    insert_at = movi_at + 4
    patched = base[:insert_at] + stride_chunk + base[insert_at:]
    # fix movi LIST size and RIFF size
    movi_size_at = movi_at - 4
    old = struct.unpack_from("<I", patched, movi_size_at)[0]
    patched = bytearray(patched)
    struct.pack_into("<I", patched, movi_size_at, old + len(stride_chunk))
    struct.pack_into("<I", patched, 4, len(patched) - 8)
    junk = b"JUNK" + struct.pack("<I", 6) + b"junkda"
    final = bytes(patched[:12]) + junk + bytes(patched[12:])
    final = bytearray(final)
    struct.pack_into("<I", final, 4, len(final) - 8)
    m = parse_avi(bytes(final))
    assert m["n_frames"] == 1
    assert m["frames"][0].tolist() == [[[3, 2, 1]]]


def test_compressed_codec_rejected():
    f0 = b"\x01\x02\x03\x00"
    # MJPG is a SUPPORTED handler since round 7 — garbage frame bytes
    # now fail inside the per-frame JPEG parse, not at the fourcc
    with pytest.raises(ValueError, match="SOI"):
        parse_avi(_hand_avi([f0], 1, 1, handler=b"MJPG"))
    with pytest.raises(ValueError, match="codec"):
        parse_avi(_hand_avi([f0], 1, 1, handler=b"H264"))
    with pytest.raises(ValueError, match="MJPG"):
        parse_avi(_hand_avi([f0], 1, 1, chunk_id=b"00dc"))


def test_frame_count_drift_rejected():
    f0 = b"\x01\x02\x03\x00"
    with pytest.raises(ValueError, match="drift"):
        parse_avi(_hand_avi([f0], 1, 1, n_frames=3))


@pytest.mark.parametrize("mutant", [
    b"",
    b"RIFF\x00\x00\x00\x00AVI ",             # headers only
    b"RIFF\x04\x00\x00\x00WAVE",             # wrong form type
])
def test_corrupt_rejected(mutant):
    with pytest.raises(ValueError):
        parse_avi(mutant)


def test_truncation_rejected_everywhere():
    data = build_avi([np.zeros((2, 2, 3), dtype=np.uint8)] * 2)
    for cut in (20, 48, 100, len(data) - 3):
        with pytest.raises(ValueError):
            parse_avi(data[:cut])


# ---- property tests ---------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(st.integers(1, 10), st.integers(1, 8), st.integers(1, 6),
       st.integers(0, 2**32 - 1))
def test_avi_roundtrip_property(n, w, h, seed):
    rng = np.random.default_rng(seed)
    frames = [rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
              for _ in range(n)]
    m = parse_avi(build_avi(frames))
    assert (m["width"], m["height"], m["n_frames"]) == (w, h, n)
    assert all(np.array_equal(a, b) for a, b in zip(m["frames"], frames))


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=4096))
def test_avi_fuzz_rejects_or_parses(payload):
    try:
        m = parse_avi(payload)
    except ValueError:
        return
    assert set(m) == {"width", "height", "n_frames", "us_per_frame",
                      "duration_ms", "frames"}


@settings(max_examples=150, deadline=None)
@given(st.integers(0, 1023), st.integers(0, 255))
def test_avi_mutation_fuzz(flip_at, flip_to):
    base = bytearray(build_avi(
        [np.arange(48, dtype=np.uint8).reshape(4, 4, 3)] * 3))
    base[flip_at % len(base)] = flip_to
    try:
        m = parse_avi(bytes(base))
        assert m["n_frames"] >= 0
    except ValueError:
        pass


# --- MJPG (round 7, riding codec/jpeg.py) -------------------------------

def test_mjpg_exact_roundtrip_and_metadata():
    """MCU-constant frames + ones quant -> Motion-JPEG round-trips
    BIT-EXACTLY (each '00dc' chunk is a complete baseline JPEG)."""
    rng = np.random.default_rng(4)
    frames = []
    for _ in range(5):
        fr = np.zeros((16, 32, 3), np.uint8)
        fr[:, :16] = rng.integers(0, 256)
        fr[:, 16:] = rng.integers(0, 256)
        frames.append(fr)
    from go_triton_spark.codec.avi import build_avi, parse_avi
    data = build_avi(frames, fps=25, codec="MJPG")
    assert b"vidsMJPG" in data and b"00dc" in data
    m = parse_avi(data)
    assert m["n_frames"] == 5 and m["us_per_frame"] == 40000
    for got, want in zip(m["frames"], frames):
        assert np.array_equal(got, want)


def test_mjpg_lossy_and_frame_dim_guard():
    rng = np.random.default_rng(7)
    frames = [rng.integers(0, 256, (24, 40, 3)).astype(np.uint8)
              for _ in range(3)]
    from go_triton_spark.codec.avi import build_avi, parse_avi
    m = parse_avi(build_avi(frames, codec="MJPG", quality=85))
    for got, want in zip(m["frames"], frames):
        assert got.shape == want.shape
        assert np.abs(got.astype(int) - want.astype(int)).mean() < 60
    # a stream header that disagrees with the frames' JPEG dims is
    # loud: patch the avih width/height, leave the JPEGs intact
    data = bytearray(build_avi(frames, codec="MJPG", quality=85))
    import struct as _s
    avih = data.index(b"avih") + 8
    _s.pack_into("<II", data, avih + 32, 64, 64)
    with pytest.raises(ValueError, match="!= stream"):
        parse_avi(bytes(data))


def test_mjpg_corrupt_frame_rejected_other_codecs_still_named():
    rng = np.random.default_rng(9)
    frames = [np.full((16, 16, 3), 80, np.uint8) for _ in range(2)]
    from go_triton_spark.codec.avi import build_avi, parse_avi
    data = build_avi(frames, codec="MJPG")
    # truncate inside the last frame's JPEG scan
    with pytest.raises(ValueError):
        parse_avi(data[:-10] + data[-8:])
    mut = bytearray(data)
    hdr = mut.index(b"vidsMJPG")
    mut[hdr + 4:hdr + 8] = b"XVID"
    with pytest.raises(ValueError, match="XVID"):
        parse_avi(bytes(mut))
