"""Format-sniffing image decode: one entry point for heterogeneous
binary image columns.

A real pipeline's image column holds mixed formats; the per-row
decode must dispatch on the BYTES, not on a metadata column someone
promised was accurate. ``parse_image`` sniffs the magic and routes to
the real parser (BMP -> codec/bmp.py, PNG -> codec/png.py, baseline or
progressive JPEG -> codec/jpeg.py, GIF -> codec/gif.py, lossless WebP
-> codec/vp8l.py, LOSSY WebP -> codec/vp8.py since round 9), returning
the shared contract all emit: ``pixels`` as (height, width, 3) RGB
uint8 with row 0 = top, plus width/height metadata — so downstream
pixel math is format-agnostic.  VP8X extended containers (incl.
ALPH alpha over lossy frames, and ANIM/ANMF animation composited per
the container spec) decode too — every WebP feature the pipeline can
meet now parses; unknown bytes fail with the generic corrupt-skip
ValueError, same contract as every parser in the codec family.
"""

from __future__ import annotations

_JPEG = b"\xff\xd8\xff"
_GIF = (b"GIF87a", b"GIF89a")
_WEBP_RIFF = b"RIFF"


def sniff_image_format(data: bytes) -> str:
    """Return 'bmp' | 'png' | 'jpeg' | 'gif' | 'webp' | 'tiff' |
    'qoi', or raise ValueError for bytes matching no known magic."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if data[:2] == b"BM":
        return "bmp"
    if data[:3] == _JPEG:
        return "jpeg"
    if data[:6] in _GIF:
        return "gif"
    if data[:4] == _WEBP_RIFF and data[8:12] == b"WEBP":
        return "webp"
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if data[:4] == b"qoif":
        return "qoi"
    raise ValueError("unknown image format (no recognized magic)")


def parse_image(data: bytes) -> dict:
    """Decode one image payload of any supported format.

    Dispatches on sniffed magic; the returned dict always carries
    width / height / n_pixels and ``pixels`` (h, w, 3) RGB uint8 —
    parse_bmp, parse_png, parse_jpeg, parse_gif, and parse_webp share
    that contract (baseline + progressive JPEG and LZW GIF decode for
    real since round 7; VP8L lossless WebP since round 8; lossy VP8
    key frames since round 9, bit-exact against libwebp). VP8X extended containers decode since round 9 too
    (ALPH alpha composited over the lossy frame, ANIM/ANMF animation
    with parse_gif's frames contract).

    JPEG, WebP, compressed TIFF, GIF and QOI decode through the
    system-library / compiled-shim fast path (codec/native.py) when
    the library loads and its gate accepts the bytes; PNG, BMP and
    uncompressed TIFF have no native leg. Hosts without a library and
    every native miss use the clean-room decoders, which own the loud
    corrupt-skip ValueError contract."""
    fmt = sniff_image_format(data)
    if fmt == "png":
        from go_triton_spark.codec.png import parse_png
        return parse_png(data)
    if fmt == "bmp":
        from go_triton_spark.codec.bmp import parse_bmp
        return parse_bmp(data)
    if fmt == "jpeg":
        from go_triton_spark.codec.jpeg import parse_jpeg
        return parse_jpeg(data)
    if fmt == "gif":
        from go_triton_spark.codec.gif import parse_gif
        return parse_gif(data)
    if fmt == "tiff":
        from go_triton_spark.codec.tiff import parse_tiff
        return parse_tiff(data)
    if fmt == "qoi":
        from go_triton_spark.codec.qoi import parse_qoi
        return parse_qoi(data)
    from go_triton_spark.codec.vp8l import parse_webp
    return parse_webp(data)
