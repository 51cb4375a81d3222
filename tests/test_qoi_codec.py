"""codec/qoi.py: spec goldens, lossless round trip, corrupt gates."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from go_triton_spark.codec.image import parse_image, sniff_image_format
from go_triton_spark.codec.qoi import build_qoi, parse_qoi

# the pure decoders, as on a host without the native libraries
pytestmark = pytest.mark.usefixtures("pure_decoders")


def test_header_golden():
    img = np.zeros((2, 3, 3), dtype=np.uint8)
    data = build_qoi(img)
    assert data[:4] == b"qoif"
    assert data[4:12] == (3).to_bytes(4, "big") + (2).to_bytes(4, "big")
    assert data[-8:] == b"\x00" * 7 + b"\x01"


def test_op_goldens():
    """Hand-derived spec arithmetic: first pixel (255,0,0) from the
    implicit (0,0,0) start is dr=-1 wraparound -> QOI_OP_DIFF byte
    0x5A; six equal pixels after it collapse to QOI_OP_RUN(6)."""
    img = np.tile(np.array([255, 0, 0], np.uint8), (1, 7, 1))
    body = build_qoi(img)[14:-8]
    assert body == bytes([0x5A, 0xC0 | 5])


def test_index_recall():
    """A color seen before, after an intervening far color, comes back
    as a 1-byte QOI_OP_INDEX instead of a literal."""
    a, b = [10, 200, 30], [200, 10, 250]
    img = np.array([[a, b, a]], dtype=np.uint8)
    body = build_qoi(img)[14:-8]
    # literal RGB, literal RGB, then 1-byte index recall of `a`
    assert body[0] == 0xFE and body[4] == 0xFE and len(body) == 9


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 2 ** 31 - 1), st.integers(1, 24),
       st.integers(1, 24))
def test_round_trip_property(seed, w, h):
    rng = np.random.default_rng(seed)
    # mixture: smooth gradients (DIFF/LUMA), flat runs, random literals
    kind = seed % 3
    if kind == 0:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    elif kind == 1:
        base = rng.integers(0, 256, size=3, dtype=np.uint8)
        img = np.tile(base, (h, w, 1))
    else:
        y, x = np.mgrid[0:h, 0:w]
        x = x + int(rng.integers(5))
        img = np.dstack([(x + y) % 256, (2 * x) % 256,
                         (3 * y) % 256]).astype(np.uint8)
    m = parse_qoi(build_qoi(img))
    assert m["width"] == w and m["height"] == h
    assert np.array_equal(m["pixels"], img)


def test_dispatch():
    img = np.full((2, 2, 3), 7, dtype=np.uint8)
    data = build_qoi(img)
    assert sniff_image_format(data) == "qoi"
    assert np.array_equal(parse_image(data)["pixels"], img)


@pytest.mark.parametrize("mutate", [
    lambda d: d[:10],                                  # truncated header
    lambda d: d[:-1],                                  # truncated marker
    lambda d: d[:-8] + b"\x00" * 8,                    # blanked marker
    lambda d: d[:-9] + b"\xfe" + d[-8:],               # truncated OP_RGB
    lambda d: b"qoig" + d[4:],                         # bad magic
    lambda d: d[:12] + b"\x07" + d[13:],               # channels=7
])
def test_corrupt_rejected(mutate):
    img = np.full((3, 3, 3), 9, dtype=np.uint8)
    with pytest.raises(ValueError):
        parse_qoi(mutate(build_qoi(img)))


def test_run_overflow_rejected():
    """A run op that would write past w*h pixels is corrupt."""
    img = np.full((1, 2, 3), 50, dtype=np.uint8)
    data = bytearray(build_qoi(img))
    body_start = 14
    # replace body with: literal RGB + RUN(62) on a 2-pixel canvas
    body = bytes((0xFE, 50, 50, 50, 0xC0 | 61))
    data = (bytes(data[:body_start]) + body + b"\x00" * 7 + b"\x01")
    with pytest.raises(ValueError):
        parse_qoi(data)
