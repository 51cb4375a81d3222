"""Native fast-path equality suite (codec/native.py, r9 verdict #2).

Each parser picks its path from what the host offers: the native leg
when its library or shim loads and the format's gate accepts the
bytes, the pure decoder otherwise. The native leg must be INVISIBLE
except for speed: bit-identical output for WebP (lossy via
WebPDecodeYUV + the engine's own yuv_to_rgb; lossless via
WebPDecodeRGBA), compressed TIFF and every compiled-shim loop. JPEG is
the documented exception — ITU-T T.81 leaves IDCT precision
implementation-defined, so the pure float-IDCT decoder and libjpeg's
islow integer IDCT legitimately differ; the bound here (+-2 per
channel, metadata exact) is measured and pinned. Corrupt bytes must
raise the SAME loud ValueError on both paths (a native rejection falls
back to the pure decoder, which owns the verdict).

Every test compares the unpatched path (native where the library
loads) against the same call under ``without_native_libs`` (conftest),
which is how a host without the libraries runs. Each test skips when
its library is absent, so the suite stays green on a minimal host
while pinning the contract wherever the fast path can engage.
"""

from __future__ import annotations

import numpy as np
import pytest

from conftest import without_native_libs
from go_triton_spark.codec import native
from go_triton_spark.codec.jpeg import build_jpeg_ycbcr, parse_jpeg
from go_triton_spark.codec.tiff import build_tiff, parse_tiff
from go_triton_spark.codec.vp8l import build_webp, build_webp_anim, \
    parse_webp

_ST = native.native_status()

_webp = pytest.mark.skipif(not _ST["webp"], reason="libwebp absent")
_tiff = pytest.mark.skipif(not _ST["tiff"], reason="libtiff absent")
_jpeg = pytest.mark.skipif(not _ST["jpeg_shim"],
                           reason="jpeg shim unavailable (no gcc?)")


def _img(kind: str, h: int, w: int, seed: int = 0) -> np.ndarray:
    rng = np.random.default_rng(seed)
    if kind == "noise":
        return rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    if kind == "flat":
        return np.full((h, w, 3), 130, np.uint8)
    base = np.add.outer(np.arange(h) * 3, np.arange(w) * 5) % 256
    return np.dstack([base, (base + 40) % 256,
                      (base + 90) % 256]).astype(np.uint8)


def _pure(parse, *args):
    """``parse(*args)`` as a host without the native libraries runs it."""
    with without_native_libs():
        return parse(*args)


def _outcome(parse, data: bytes):
    """The decoded dict, or the ValueError message on rejection."""
    try:
        return parse(data)
    except ValueError as e:
        return str(e)


def _same_dict(a: dict, b: dict) -> None:
    assert set(a) == set(b), (sorted(a), sorted(b))
    for k in a:
        va, vb = a[k], b[k]
        if isinstance(va, np.ndarray):
            assert np.array_equal(va, vb), k
        else:
            assert va == vb, (k, va, vb)


# ------------------------------------------------------------- webp

@_webp
@pytest.mark.parametrize("transform", ["none", "predictor", "color",
                                       "palette"])
def test_webp_lossless_bit_identical(transform):
    for trial, (h, w) in enumerate(((1, 1), (7, 31), (40, 40), (33, 17))):
        if transform == "palette":
            rng = np.random.default_rng(trial)
            pal = rng.integers(0, 256, (6, 3), dtype=np.uint8)
            img = pal[rng.integers(0, 6, (h, w))]
        else:
            img = _img(("noise", "grad")[trial % 2], h, w, seed=trial)
        data = build_webp(img, transform=transform)
        _same_dict(_pure(parse_webp, data), parse_webp(data))


@_webp
def test_webp_lossless_alpha_bit_identical():
    rng = np.random.default_rng(5)
    img = _img("grad", 22, 18)
    alpha = rng.integers(0, 256, (22, 18), dtype=np.uint8)
    data = build_webp(img, alpha=alpha)
    _same_dict(_pure(parse_webp, data), parse_webp(data))


@_webp
def test_webp_lossy_bit_identical():
    """The hot claim: native lossy = WebPDecodeYUV planes (proven
    bit-exact vs the pure decoder elsewhere) + the ENGINE'S integer
    YUV->RGB — so pixels AND the y/u/v plane keys match exactly."""
    from tests.test_vp8_codec import _encode_simple

    for trial, (h, w, q) in enumerate(((16, 16, 20), (33, 17, 60),
                                       (64, 48, 85), (5, 3, 50))):
        img = _img(("noise", "grad", "flat")[trial % 3], h, w, seed=trial)
        data = _encode_simple(img, float(q))
        _same_dict(_pure(parse_webp, data), parse_webp(data))


@_webp
def test_webp_vp8x_falls_back_to_pure():
    """Extended containers (here: animation) have no native path —
    a host with libwebp must decode them exactly like one without."""
    base = np.full((8, 8, 3), 50, np.uint8)
    data = build_webp_anim([dict(rgb=base, no_blend=True)], 8, 8)
    assert native.decode_webp_native(data) is None
    a = _pure(parse_webp, data)
    b = parse_webp(data)
    assert a["n_frames"] == b["n_frames"] == 1
    assert np.array_equal(a["pixels"], b["pixels"])


@_webp
def test_webp_corrupt_still_raises_with_flag_on():
    # truncation is the corruption BOTH paths reject (VP8L carries no
    # payload checksum, so a mid-stream byte flip is a different-but-
    # valid stream — both decode it, identically, covered above)
    img = _img("grad", 12, 12)
    data = build_webp(img)
    with pytest.raises(ValueError):
        parse_webp(data[:-6])
    with pytest.raises(ValueError):
        parse_webp(b"RIFF\x04\x00\x00\x00WEBP")


# ------------------------------------------------------------- tiff

@_tiff
@pytest.mark.parametrize("comp", ["none", "lzw", "deflate", "packbits"])
@pytest.mark.parametrize("big_endian", [False, True])
def test_tiff_bit_identical(comp, big_endian):
    """Compressed strips decode natively, bit-identical to the pure
    decoder; uncompressed strips are declined by the gate (the pure
    numpy reshape beats libtiff 7-14x) and decode pure."""
    img = _img("noise", 29, 41, seed=7)
    data = build_tiff(img, compression=comp, big_endian=big_endian,
                      predictor=(comp == "lzw"))
    if comp == "none":
        assert not native._tiff_pure_compatible(data)
        assert native.decode_tiff_native(data) is None
    else:
        assert native.decode_tiff_native(data) is not None
    _same_dict(_pure(parse_tiff, data), parse_tiff(data))


@_tiff
def test_tiff_corrupt_still_raises_with_flag_on():
    data = build_tiff(_img("grad", 8, 8), compression="lzw")
    with pytest.raises(ValueError):
        parse_tiff(data[:30])


# ------------------------------------------------------------- jpeg

@_jpeg
@pytest.mark.parametrize("sub", ["4:4:4", "4:2:2", "4:2:0"])
@pytest.mark.parametrize("progressive", [False, True])
def test_jpeg_within_bound_and_metadata_exact(sub, progressive):
    """T.81 IDCT variance: +-2 per channel vs the pure float-IDCT
    decoder (measured over the generator corpus); every metadata key
    (width/height/n_components/progressive/subsampling) exact."""
    rng = np.random.default_rng(13)
    h, w = 40, 56
    y = (np.add.outer(np.arange(h) * 3, np.arange(w) * 5) % 256) \
        .astype(np.uint8)
    cb = ((np.add.outer(np.arange(h), np.arange(w) * 2) + 30) % 256) \
        .astype(np.uint8)
    cr = rng.integers(0, 256, (h, w)).astype(np.uint8)
    data = build_jpeg_ycbcr(y, cb, cr, subsampling=sub,
                            progressive=progressive)
    a = _pure(parse_jpeg, data)
    b = parse_jpeg(data)
    for k in ("width", "height", "n_pixels", "n_components",
              "progressive", "subsampling"):
        assert a[k] == b[k], k
    d = np.abs(a["pixels"].astype(int) - b["pixels"].astype(int)).max()
    assert d <= 2, f"IDCT delta {d} exceeds the measured bound"


@_jpeg
def test_jpeg_grayscale_and_corrupt():
    y = (np.add.outer(np.arange(24) * 7, np.arange(24) * 3) % 256) \
        .astype(np.uint8)
    data = build_jpeg_ycbcr(y, None, None, subsampling="4:4:4")
    a = _pure(parse_jpeg, data)
    b = parse_jpeg(data)
    assert a["n_components"] == b["n_components"] == 1
    assert np.abs(a["pixels"].astype(int)
                  - b["pixels"].astype(int)).max() <= 2
    with pytest.raises(ValueError):
        parse_jpeg(data[:40])


# -------------------------------------------------------- routing

def test_native_status_shape():
    st = native.native_status()
    assert set(st) == {"webp", "tiff", "jpeg_shim", "crc32c_shim"}


def _corpus():
    """One input per native leg, each within that leg's gate."""
    from go_triton_spark.codec.adpcm import build_ima_wav
    from go_triton_spark.codec.flac import build_flac, parse_flac
    from go_triton_spark.codec.gif import build_gif, parse_gif
    from go_triton_spark.codec.jpeg import build_jpeg
    from go_triton_spark.codec.qoi import build_qoi, parse_qoi
    from go_triton_spark.codec.snappy_codec import frame_compress, \
        frame_decompress
    from go_triton_spark.codec.wav import parse_wav

    rng = np.random.default_rng(1)
    img = _img("grad", 16, 16)
    nib = rng.integers(0, 16, 64, dtype=np.uint8)
    pal = rng.integers(0, 256, (4, 3), dtype=np.uint8)
    pcm = rng.integers(-2000, 2000, (4096, 1)).astype(np.int32)
    return [
        (parse_webp, build_webp(img)),
        (parse_tiff, build_tiff(img, compression="lzw")),
        (parse_jpeg, build_jpeg(img)),
        (parse_gif, build_gif(rng.integers(0, 4, (9, 9)).astype(np.uint8),
                              pal)),
        (parse_qoi, build_qoi(img)),
        (parse_flac, build_flac(pcm, subframe="lpc2")),
        (parse_wav, build_ima_wav(nib, 0, 0)),
        (frame_decompress, frame_compress(b"fox " * 100)),
    ]


_NATIVE_DECODERS = ("decode_webp_native", "decode_tiff_native",
                    "decode_jpeg_native", "gif_lzw_decode_native",
                    "qoi_decode_native", "flac_predicted_native",
                    "crc16_8005_native", "ima_decode_native",
                    "crc32c_native")


def _native_hits(monkeypatch) -> set:
    """Decode the corpus; return the native decoders that produced a
    result (rather than declining with None)."""
    hits = set()
    for name in _NATIVE_DECODERS:
        def rec(*a, _name=name, _fn=getattr(native, name)):
            got = _fn(*a)
            if got is not None:
                hits.add(_name)
            return got
        monkeypatch.setattr(native, name, rec)
    for parse, data in _corpus():
        parse(data)
    return hits


@pytest.mark.skipif(not all(_ST.values()),
                    reason="needs every native library and shim")
def test_pure_decoders_fixture_routes_every_parser_pure(monkeypatch):
    """Under without_native_libs (the pure_decoders fixture of the
    codec unit tests) no native decoder decodes anything, while the
    same corpus engages every one of them on this host — so the
    fixture's loader list covers every native leg."""
    assert _native_hits(monkeypatch) == set(_NATIVE_DECODERS)
    with without_native_libs():
        assert _native_hits(monkeypatch) == set()


# ------------------------------------------------------------ crc32c

_crc = pytest.mark.skipif(not _ST.get("crc32c_shim"),
                          reason="crc shim unavailable (no gcc?)")


@_crc
def test_crc32c_shim_bit_identical():
    """The compiled slice-by-8 CRC32C (the .tri framing hot loop —
    measured ~99% of frame_decompress wall in pure Python) must match
    the table-driven pure implementation on every size class,
    including the unaligned-head and sub-8-byte tails."""
    from go_triton_spark.codec.snappy_codec import crc32c

    rng = np.random.default_rng(3)
    for n in (0, 1, 2, 7, 8, 9, 15, 63, 255, 4096, 99991):
        d = bytes(rng.integers(0, 256, n, dtype=np.uint8))
        assert native.crc32c_native(d) == crc32c(d), n
        # and on a misaligned view of the same buffer
        assert native.crc32c_native(d[1:]) == crc32c(d[1:]), n


@_crc
def test_tri_snappy_framing_native_crc_equal():
    """frame_decompress output (and its loud checksum rejection) is
    identical with and without the native CRC."""
    from go_triton_spark.codec.snappy_codec import SnappyError, \
        frame_compress, frame_decompress

    raw = b'{"doc": 1, "text": "quick brown fox"}\n' * 5000
    fr = frame_compress(raw)
    assert frame_decompress(fr) == _pure(frame_decompress, fr) == raw
    bad = bytearray(fr)
    bad[-10] ^= 0xFF                       # flip inside the last chunk
    with pytest.raises(SnappyError):
        frame_decompress(bytes(bad))
    with pytest.raises(SnappyError):
        _pure(frame_decompress, bytes(bad))


# ------------------------------------------------ property fuzz

from hypothesis import given, settings
from hypothesis import strategies as st


@_webp
@_tiff
@given(st.integers(1, 48), st.integers(1, 48), st.integers(0, 2**32 - 1))
@settings(max_examples=40, deadline=None)
def test_fuzz_image_native_equality(h, w, seed):
    """Random planes through every bit-identical format: the native
    path must agree with the pure decoders on pixels AND metadata for
    arbitrary content/dimensions, not just the fixture shapes."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    for data, parse in ((build_webp(img), parse_webp),
                        (build_tiff(img, compression="lzw"), parse_tiff)):
        _same_dict(_pure(parse, data), parse(data))


@given(st.binary(max_size=2000))
@settings(max_examples=60, deadline=None)
def test_fuzz_crc32c_native_equality(data):
    from go_triton_spark.codec.snappy_codec import crc32c
    if native.crc32c_native(b"") is None:
        pytest.skip("crc shim unavailable")
    assert native.crc32c_native(data) == crc32c(data)


# -------------------------------------------------------------- gif

_gifshim = pytest.mark.skipif(not _ST.get("crc32c_shim"),
                              reason="util shim unavailable (no gcc?)")


@_gifshim
def test_gif_native_lzw_bit_identical():
    """The compiled-shim GIF LZW (parse_gif's one hot loop — 24x on
    random planes) must agree with the pure decoder across palette
    sizes, interlace, KwKwK-heavy planes and table growth to 4096."""
    from go_triton_spark.codec.gif import build_gif, parse_gif

    rng = np.random.default_rng(9)
    for trial in range(12):
        h, w = int(rng.integers(1, 70)), int(rng.integers(1, 70))
        kbits = int(rng.integers(2, 9))
        ncol = 1 << kbits
        pal = rng.integers(0, 256, (ncol, 3), dtype=np.uint8)
        idx = (rng.integers(0, ncol, (h, w)).astype(np.uint8)
               if trial % 2 else
               (np.add.outer(np.arange(h), np.arange(w)) % ncol)
               .astype(np.uint8))
        g = build_gif(idx, pal, interlace=bool(trial % 3 == 0))
        a = _pure(parse_gif, g)
        b = parse_gif(g)
        for k in ("pixels", "alpha"):
            assert np.array_equal(a[k], b[k]), (trial, k)
    # table growth through every width up to 4096 entries
    big = (np.arange(200 * 300) % 251).astype(np.uint8).reshape(200, 300)
    pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    g = build_gif(big, pal)
    assert np.array_equal(_pure(parse_gif, g)["pixels"],
                          parse_gif(g)["pixels"])


@_gifshim
@given(st.binary(min_size=1, max_size=3000), st.integers(2, 8))
@settings(max_examples=50, deadline=None)
def test_fuzz_gif_lzw_native_equality(raw, mcs):
    """Round-trip fuzz on the raw LZW layer: shim decode of every
    encoder output equals the pure decode AND the source bytes."""
    from go_triton_spark.codec.gif import lzw_decode, lzw_encode

    data = bytes(b & ((1 << mcs) - 1) for b in raw)
    enc = lzw_encode(data, mcs)
    assert native.gif_lzw_decode_native(enc, mcs, len(data)) \
        == bytes(lzw_decode(enc, mcs, len(data))) == data


@_gifshim
def test_gif_corrupt_still_raises_with_flag_on():
    from go_triton_spark.codec.gif import build_gif, parse_gif

    rng = np.random.default_rng(2)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (20, 20)).astype(np.uint8)
    g = build_gif(idx, pal)
    err = _outcome(parse_gif, g[:-8])              # truncated LZW/trailer
    assert isinstance(err, str) and err == _pure(_outcome, parse_gif, g[:-8])


# ------------------------------------- accept-set parity guards (r11)
#
# The native legs must never WIDEN the accept set: libtiff/libjpeg
# decode configurations the pure decoders loudly reject (orientation,
# tiles, planar, JPEG-in-TIFF, SOF1, arithmetic coding), so native
# row/skip counts could diverge on wild inputs without these gates.

def _mini_tiff(extra_tags=()):
    """Header + one IFD with the baseline LZW tag set (no pixel data —
    the gate reads only the IFD)."""
    import struct as s
    base = [(256, 3, 1, 4), (257, 3, 1, 4), (258, 3, 1, 8),
            (259, 3, 1, 5), (262, 3, 1, 1), (273, 4, 1, 8),
            (277, 3, 1, 1), (279, 4, 1, 16)]
    tags = {t[0]: t for t in base}
    for t in extra_tags:
        tags[t[0]] = t
    entries = sorted(tags.values())
    out = s.pack("<4sI", b"II*\x00", 8)
    out += s.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        out += s.pack("<HHII", tag, typ, cnt, val)
    out += s.pack("<I", 0)
    return out


def test_tiff_gate_accepts_pure_set_only():
    gate = native._tiff_pure_compatible
    assert gate(_mini_tiff())                          # LZW
    assert gate(_mini_tiff([(259, 3, 1, 8)]))          # Deflate
    assert gate(_mini_tiff([(259, 3, 1, 32773)]))      # PackBits
    assert not gate(_mini_tiff([(259, 3, 1, 1)]))      # none: pure wins
    assert not gate(_mini_tiff([(259, 3, 1, 7)]))      # JPEG-in-TIFF
    assert not gate(_mini_tiff([(274, 3, 1, 6)]))      # Orientation
    assert not gate(_mini_tiff([(284, 3, 1, 2)]))      # planar
    assert not gate(_mini_tiff([(258, 3, 1, 16)]))     # 16-bit
    assert not gate(_mini_tiff([(266, 3, 1, 2)]))      # FillOrder lsb
    assert not gate(_mini_tiff([(339, 3, 1, 3)]))      # float samples
    # RGB with an extra (alpha) sample: pure ignores it, libtiff may
    # premultiply — must route pure
    assert not gate(_mini_tiff([(262, 3, 1, 2), (277, 3, 1, 4)]))
    assert gate(_mini_tiff([(262, 3, 1, 2), (277, 3, 1, 3),
                            (279, 4, 1, 48)]))   # 4x4 RGB strip size
    # strip-geometry twins of parse_tiff's loud checks (review find)
    assert not gate(_mini_tiff([(273, 4, 1, 1 << 20)])), "strip OOB"
    assert not gate(_mini_tiff([(257, 3, 1, 1),
                                (273, 3, 2, 8 | (16 << 16)),
                                (279, 3, 2, 4 | (4 << 16))])), \
        "more strips than rows"
    # strip COUNT must cover the image (r11 advice): 4 rows at
    # rows_per_strip=1 needs 4 strips — one strip of the right SIZE
    # passes the per-strip loop but parse_tiff's reshape raises, so
    # the gate must reject without leaning on libtiff's stopOnError
    assert not gate(_mini_tiff([(278, 3, 1, 1), (279, 4, 1, 4)])), \
        "too few strips"
    assert not gate(_mini_tiff([(278, 3, 1, 0)])), "rows_per_strip 0"
    # tiled (no strip offsets): drop tag 273
    import struct as s
    tiled = _mini_tiff()
    assert not gate(tiled.replace(
        s.pack("<HHII", 273, 4, 1, 8), s.pack("<HHII", 322, 3, 1, 16)))
    assert not gate(b"II*\x00")                        # truncated


def _sof_stream(sof_marker, precision=8, comps=((1, 0x11, 0),)):
    import struct as s
    cbytes = b"".join(bytes(c) for c in comps)
    seg = (bytes([0xFF, sof_marker])
           + s.pack(">H", 2 + 6 + len(cbytes)) + bytes([precision])
           + s.pack(">HH", 4, 4) + bytes([len(comps)]) + cbytes)
    return (b"\xff\xd8" + b"\xff\xe0" + b"\x00\x04\x00\x00"  # APP0
            + seg + b"\xff\xd9")


def test_jpeg_gate_accepts_pure_set_only():
    gate = native._jpeg_pure_compatible
    assert gate(_sof_stream(0xC0))
    assert gate(_sof_stream(0xC2))
    assert not gate(_sof_stream(0xC1)), "SOF1: libjpeg-only"
    assert not gate(_sof_stream(0xC9)), "arithmetic sequential"
    assert not gate(_sof_stream(0xCA)), "arithmetic progressive"
    assert not gate(_sof_stream(0xC3)), "lossless"
    assert not gate(_sof_stream(0xC0, precision=12)), "12-bit"
    assert not gate(b"\xff\xd8\xff\xd9"), "no SOF at all"
    # component-level divergences (review find): libjpeg decodes
    # these; parse_jpeg rejects them loudly
    four = ((1, 0x11, 0), (2, 0x11, 0), (3, 0x11, 0), (4, 0x11, 0))
    assert not gate(_sof_stream(0xC0, comps=four)), "4-component CMYK"
    assert not gate(_sof_stream(0xC0, comps=((1, 0x41, 0), (2, 0x11, 0),
                                             (3, 0x11, 0)))), "4x1"
    assert not gate(_sof_stream(0xC0, comps=((1, 0x13, 0), (2, 0x11, 0),
                                             (3, 0x11, 0)))), "1x3"
    assert gate(_sof_stream(0xC0, comps=((1, 0x22, 0), (2, 0x11, 0),
                                         (3, 0x11, 0)))), "4:2:0 ok"
    # real encoder output (baseline + progressive) passes the gate
    from go_triton_spark.codec.jpeg import build_jpeg
    assert gate(build_jpeg(_img("grad", 16, 16)))
    assert gate(build_jpeg(_img("grad", 16, 16), progressive=True))


def test_tiff_gate_declines_uncompressed_accepts_lzw():
    """Uncompressed strips are the pure decoder's (a numpy reshape,
    7-14x faster than libtiff); LZW strips are libtiff's (100-1000x
    faster than the pure LZW loop)."""
    img = _img("noise", 12, 10, seed=2)
    assert not native._tiff_pure_compatible(build_tiff(img))
    assert native._tiff_pure_compatible(build_tiff(img, compression="lzw"))


@_tiff
def test_tiff_gate_no_regression_on_builder_output():
    for comp in ("lzw", "deflate", "packbits"):
        data = build_tiff(_img("grad", 9, 7), compression=comp)
        assert native._tiff_pure_compatible(data)
        assert native.decode_tiff_native(data) is not None


@_jpeg
def test_jpeg_native_declines_what_pure_rejects():
    # gate-rejected stream: native returns None (pure path owns the
    # loud rejection) even though libjpeg could decode some of these
    assert native.decode_jpeg_native(_sof_stream(0xC1)) is None
    with pytest.raises(ValueError):
        parse_jpeg(_sof_stream(0xC1))


# ------------------------------------------------------- flac (r11)

_flacsh = pytest.mark.skipif(not _ST.get("crc32c_shim"),
                             reason="compiled shim unavailable (no gcc?)")


@_flacsh
@pytest.mark.parametrize("sub", ["constant", "verbatim", "fixed1",
                                 "fixed2", "lpc2"])
def test_flac_bit_identical(sub):
    from go_triton_spark.codec.flac import build_flac, parse_flac
    rng = np.random.default_rng(11)
    s = (np.full((4099, 2), 7, np.int32) if sub == "constant" else
         rng.integers(-2000, 2000, (4099, 2)).astype(np.int32))
    data = build_flac(s, subframe=sub)
    pure = _pure(parse_flac, data)
    nat = parse_flac(data)
    assert np.array_equal(pure["samples"], nat["samples"])
    for k in ("sample_rate", "n_channels", "bits_per_sample",
              "n_samples"):
        assert pure[k] == nat[k]


@_flacsh
def test_flac_corrupt_parity_and_crc16_twin():
    from go_triton_spark.codec import flac as fl
    rng = np.random.default_rng(7)
    data = fl.build_flac(
        rng.integers(-500, 500, (1024, 1)).astype(np.int32),
        subframe="lpc2")
    for cut in (40, len(data) // 2, len(data) - 2):
        errs = [_outcome(fl.parse_flac, data[:cut]),
                _pure(_outcome, fl.parse_flac, data[:cut])]
        assert all(isinstance(e, str) for e in errs), cut
        assert errs[0] == errs[1], (cut, errs)
    # crc16 shim twin over random buffers
    for n in (0, 1, 7, 4096, 70000):
        buf = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        want = 0
        for b in buf:
            want = ((want << 8) & 0xFFFF) ^ fl._CRC16_TABLE[(want >> 8) ^ b]
        assert native.crc16_8005_native(buf) == want


@_flacsh
def test_flac_bitflip_fuzz_parity():
    """Random single-byte corruptions: native and pure must agree on
    accept/reject AND on the decoded samples when both accept."""
    from go_triton_spark.codec.flac import build_flac, parse_flac
    rng = np.random.default_rng(3)
    base = build_flac(rng.integers(-800, 800, (2048, 2)).astype(np.int32),
                      subframe="fixed2")
    for _ in range(40):
        b = bytearray(base)
        i = int(rng.integers(42, len(b)))   # past fLaC+STREAMINFO magic
        b[i] ^= int(rng.integers(1, 256))
        outcomes = [_outcome(parse_flac, bytes(b)),
                    _pure(_outcome, parse_flac, bytes(b))]
        if isinstance(outcomes[0], str) or isinstance(outcomes[1], str):
            assert outcomes[0] == outcomes[1], i
        else:
            assert np.array_equal(outcomes[0]["samples"],
                                  outcomes[1]["samples"]), i


# ------------------------------------------------------ adpcm (r11)

@_flacsh
def test_ima_adpcm_bit_identical_and_fuzz():
    from go_triton_spark.codec.adpcm import decode_ima
    rng = np.random.default_rng(4)
    for trial in range(20):
        n = int(rng.integers(0, 4000))
        nib = rng.integers(0, 16, n, dtype=np.uint8)
        pred = int(rng.integers(-32768, 32768))
        idx = int(rng.integers(0, 89))
        pure = _pure(decode_ima, nib, pred, idx)
        got = native.ima_decode_native(nib, pred, idx)
        assert got is not None and np.array_equal(pure, got), trial
        assert np.array_equal(pure, decode_ima(nib, pred, idx)), trial
    # out-of-range index: native declines, the block parser's pure
    # check still raises its typed error
    assert native.ima_decode_native(np.zeros(4, np.uint8), 0, 89) is None


# -------------------------------------------------------- qoi (r11)

@_flacsh
def test_qoi_bit_identical_and_corrupt_parity():
    from go_triton_spark.codec.qoi import build_qoi, parse_qoi
    rng = np.random.default_rng(9)
    for kind, h, w in (("noise", 31, 17), ("grad", 40, 40),
                       ("flat", 8, 64), ("noise", 1, 1)):
        img = _img(kind, h, w, seed=h)
        data = build_qoi(img)
        _same_dict(_pure(parse_qoi, data), parse_qoi(data))
    # palette-ish content exercises INDEX/RUN ops heavily
    pal = rng.integers(0, 256, (4, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 4, (33, 29))]
    data = build_qoi(img)
    _same_dict(_pure(parse_qoi, data), parse_qoi(data))
    # corruption: truncation + byte flips must raise identically
    for cut in (20, len(data) // 2, len(data) - 9):
        bad = data[:cut] + data[-8:]                   # keep end marker
        errs = [_outcome(parse_qoi, bad), _pure(_outcome, parse_qoi, bad)]
        assert all(isinstance(e, str) for e in errs), cut
        assert errs[0] == errs[1], (cut, errs)


@_flacsh
def test_qoi_bitflip_fuzz_parity():
    from go_triton_spark.codec.qoi import build_qoi, parse_qoi
    rng = np.random.default_rng(12)
    base = build_qoi(_img("noise", 24, 24, seed=3))
    for _ in range(60):
        buf = bytearray(base)
        i = int(rng.integers(14, len(buf) - 8))
        buf[i] ^= int(rng.integers(1, 256))
        outcomes = [_outcome(parse_qoi, bytes(buf)),
                    _pure(_outcome, parse_qoi, bytes(buf))]
        if isinstance(outcomes[0], str) or isinstance(outcomes[1], str):
            assert outcomes[0] == outcomes[1], i
        else:
            assert np.array_equal(outcomes[0]["pixels"],
                                  outcomes[1]["pixels"]), i
