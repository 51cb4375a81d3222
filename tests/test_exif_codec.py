"""codec/exif.py: APP1 walk, IFD reuse, orientation semantics."""

import numpy as np
import pytest

from go_triton_spark.codec.exif import (build_exif_jpeg, display_size,
                                        parse_exif_jpeg)
from go_triton_spark.codec.image import parse_image
from go_triton_spark.codec.jpeg import build_jpeg_gray

# the pure decoders, as on a host without the native libraries
pytestmark = pytest.mark.usefixtures("pure_decoders")

BASE = build_jpeg_gray(np.full((8, 16), 77, np.uint8))


def test_round_trip_full():
    t = build_exif_jpeg(BASE, orientation=6, make="CamCo Model X",
                        pixel_x=16, pixel_y=8)
    m = parse_exif_jpeg(t)
    assert m == {"orientation": 6, "make": "CamCo Model X",
                 "model": None, "pixel_x": 16, "pixel_y": 8}


def test_short_make_inline_slot():
    """ASCII values <= 4 bytes live inline in the IFD entry."""
    m = parse_exif_jpeg(build_exif_jpeg(BASE, orientation=2, make="abc"))
    assert m["make"] == "abc" and m["orientation"] == 2
    assert m["pixel_x"] is None  # no sub-IFD written


def test_absent_vs_corrupt():
    assert parse_exif_jpeg(BASE) is None  # stripped file: absent, not error
    t = bytearray(build_exif_jpeg(BASE, orientation=3))
    t[t.index(b"II*\x00")] = 0x58
    with pytest.raises(ValueError):
        parse_exif_jpeg(bytes(t))


def test_orientation_out_of_range_rejected():
    t = build_exif_jpeg(BASE, orientation=9)
    with pytest.raises(ValueError):
        parse_exif_jpeg(t)


def test_display_size():
    assert display_size(16, 8, 1) == (16, 8)
    assert display_size(16, 8, 4) == (16, 8)   # 180/flip family
    for o in (5, 6, 7, 8):                     # 90-degree family
        assert display_size(16, 8, o) == (8, 16)


def test_pixels_unaffected_by_app1():
    """The JPEG decoder must skip the inserted APP1 transparently."""
    t = build_exif_jpeg(BASE, orientation=6, make="CamCo")
    assert np.array_equal(parse_image(t)["pixels"],
                          parse_image(BASE)["pixels"])


def test_not_a_jpeg():
    with pytest.raises(ValueError):
        parse_exif_jpeg(b"II*\x00 raw tiff is not a jpeg")
