"""codec/image.py: magic-sniffing dispatch over the real parsers."""

import numpy as np
import pytest

from go_triton_spark.codec.bmp import build_bmp
from go_triton_spark.codec.image import parse_image, sniff_image_format
from go_triton_spark.codec.png import build_png

# the pure decoders, as on a host without the native libraries
pytestmark = pytest.mark.usefixtures("pure_decoders")


def test_mixed_column_dispatch_shared_contract():
    px = np.arange(90, dtype=np.uint8).reshape(5, 6, 3)
    for payload in (build_bmp(px), build_png(px)):
        m = parse_image(payload)
        assert (m["width"], m["height"]) == (6, 5)
        assert np.array_equal(m["pixels"], px)


def test_known_compressed_formats_named_in_error():
    # JPEG routes to the REAL decoder since round 7: garbage after the
    # magic is a corrupt-skip ValueError from parse_jpeg, not a
    # swap-point rejection; a valid payload decodes
    with pytest.raises(ValueError):
        parse_image(b"\xff\xd8\xff\xe0" + b"\x00" * 32)
    import numpy as np

    from go_triton_spark.codec.jpeg import build_jpeg
    img = np.full((8, 8, 3), 9, np.uint8)
    assert np.array_equal(parse_image(build_jpeg(img))["pixels"], img)
    # GIF routes to the real LZW decoder too: garbage after the magic
    # is a corrupt-skip rejection, a valid payload decodes
    with pytest.raises(ValueError):
        parse_image(b"GIF89a" + b"\x00" * 32)
    from go_triton_spark.codec.gif import build_gif
    pal = np.array([[1, 2, 3], [4, 5, 6], [7, 8, 9], [0, 0, 0]], np.uint8)
    idx = np.zeros((3, 3), np.uint8)
    assert np.array_equal(parse_image(build_gif(idx, pal))["pixels"],
                          pal[idx])
    # WebP routes to the real VP8L decoder since round 8 (and the real
    # VP8 lossy decoder since round 9): a header-only RIFF is a
    # corrupt-skip rejection, a lossless payload decodes, and a
    # garbage lossy body is a corrupt-skip rejection from codec/vp8.py
    with pytest.raises(ValueError, match="missing VP8"):
        parse_image(b"RIFF" + (20).to_bytes(4, "little") + b"WEBP"
                    + b"JUNK" + (8).to_bytes(4, "little") + b"\x00" * 8)
    from go_triton_spark.codec.vp8l import build_webp
    wpx = np.arange(36, dtype=np.uint8).reshape(3, 4, 3)
    assert sniff_image_format(build_webp(wpx)) == "webp"
    assert np.array_equal(parse_image(build_webp(wpx))["pixels"], wpx)
    lossy = (b"RIFF" + (16).to_bytes(4, "little") + b"WEBP"
             + b"VP8 " + (4).to_bytes(4, "little") + b"\x00" * 4)
    with pytest.raises(ValueError, match="frame header"):
        parse_image(lossy)


def test_unknown_bytes_corrupt_skip_contract():
    with pytest.raises(ValueError, match="unknown image format"):
        sniff_image_format(b"\x00\x01\x02\x03" * 8)
    with pytest.raises(ValueError):
        parse_image(b"")
